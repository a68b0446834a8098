"""Golden test for the CLI entry point (python -m tvbigdataproject_spark),
mirroring reference main.py:24-70: same flags, same output layout, but
each artifact lands as ONE real CSV file instead of a repartition(1)
one-part directory."""

from __future__ import annotations

import csv
import os

from tvbigdataproject_spark.__main__ import build_parser, main
from tvbigdataproject_spark.operators.materialize import persistent_ids


def _read_csv(path, sep=","):
    with open(path, newline="") as fh:
        return list(csv.reader(fh, delimiter=sep))


def test_cli_produces_all_artifacts(spark, tweets_json, tmp_path):
    out = str(tmp_path / "outputs")
    before = persistent_ids(spark.sparkContext)
    main(
        [
            tweets_json,
            "--output_path", out,
            "--save_full_graph",
            "--save_pbi_report",
            "--save_word_cloud",
            "--id_neighbours", "1",
        ],
        spark=spark,
    )
    # the caller's session gets back every block the pipeline made
    assert persistent_ids(spark.sparkContext) - before == set()

    # full graph: single files, reference naming (gFull/g.edges.csv)
    edges = _read_csv(os.path.join(out, "gFull", "g.edges.csv"))
    assert edges[0] == ["src", "dst", "w", "type"]
    assert len(edges) == 1 + 20  # header + 4 RT + 15 HT + 1 JC
    verts = _read_csv(os.path.join(out, "gFull", "g.vertices.csv"))
    assert verts[0] == ["id"]

    # Power BI report: ';'-separated, the reference's exact column names
    # (RetweetTagsJaccardGraph.py:237-243)
    rep = _read_csv(os.path.join(out, "exportPowerBI.csv"), sep=";")
    assert rep[0] == ["user", "hashTags", "retweetUsers", "beRetweetUsers", "jaccardUsers"]
    by_user = {r[0]: r for r in rep[1:]}
    assert by_user["1"][1:] == ["[cafe,spark]", "[2,6]", "[]", "[]"]
    assert by_user["8"][4] == "[7]"

    # word cloud: one row per tweet (empty-text rows kept)
    wc = _read_csv(os.path.join(out, "wordCloud.csv"))
    assert wc[0] == ["txt_plus_rt"]
    assert ["spark is great"] in wc
    assert len(wc) == 1 + 12

    # neighborhood subgraph of node 1
    ne = _read_csv(os.path.join(out, "id_neighbours_1", "id.edges.csv"))
    assert len(ne) == 1 + 6


def test_cli_artifacts_launch_no_python_worker(spark, tweets_json, tmp_path, monkeypatch):
    # a classic createDataFrame over a Python list goes through
    # SparkContext.parallelize and runs its rows through Python workers;
    # the four artifacts must build every frame in the JVM
    from pyspark import SparkContext

    calls = []
    real = SparkContext.parallelize

    def spy(self, *args, **kwargs):
        calls.append(args[:1])
        return real(self, *args, **kwargs)

    monkeypatch.setattr(SparkContext, "parallelize", spy)
    main(
        [
            tweets_json,
            "--output_path", str(tmp_path / "outputs"),
            "--save_full_graph",
            "--save_pbi_report",
            "--save_word_cloud",
            "--id_neighbours", "1",
        ],
        spark=spark,
    )
    assert os.path.exists(tmp_path / "outputs" / "id_neighbours_1" / "id.edges.csv")
    assert calls == []


def test_cli_flag_spelling_matches_reference():
    # drop-in compatibility includes the reference's misspelled flag
    # (main.py:39) and its BooleanOptionalAction negative form
    args = build_parser().parse_args(
        ["in.json", "--only_tags_from_not_retweetted_posts"]
    )
    assert args.only_tags_from_not_retweetted_posts is True
    args = build_parser().parse_args(["in.json"])
    assert args.only_tags_from_not_retweetted_posts is False
    assert args.save_full_graph is False and args.id_neighbours is None
