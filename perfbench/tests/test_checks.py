"""The output checker passes right results and fails a wrong one."""

import csv
import os
from types import SimpleNamespace

import duckdb

from checks import check_query, check_tweet_outputs, compare_rows, neighborhood_edges, tweet_reference
from datagen import tweet_records


def test_compare_rows_is_order_free_and_catches_a_wrong_value():
    want = [(1, "a", 0.5), (2, "b", 1.5)]
    assert compare_rows([(2, "b", 1.5), (1, "a", 0.5)], ["k", "s", "v"], want, ["k", "s", "v"]) is None
    assert compare_rows([(1, "a", 0.5), (2, "b", 1.25)], ["k", "s", "v"], want, ["k", "s", "v"]) == "values differ"
    assert compare_rows(want[:1], ["k", "s", "v"], want, ["k", "s", "v"]) == "1 rows != 2"


def test_check_query_uses_oracle_sql_or_the_query_checker():
    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT * FROM (VALUES (1, 10), (2, 20)) v(k, x)")
    rq = SimpleNamespace(sql="SELECT k, x * 2 AS y FROM t", check=None)
    assert check_query(con, rq, None, "", [(1, 20), (2, 40)], ["k", "y"]) is None
    assert check_query(con, rq, None, "", [(1, 20), (2, 41)], ["k", "y"]) == "values differ"
    bounded = SimpleNamespace(sql=None, check=lambda spark, sf, rows, cols: None if len(rows) == 2 else "too few")
    assert check_query(con, bounded, None, "", [(1,)], ["k"]) == "too few"


def _write(path, header, rows, sep):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", newline="", encoding="utf-8") as fh:
        w = csv.writer(fh, delimiter=sep)
        w.writerow(header)
        w.writerows(rows)


def _export(out, ref, records, seed_id, edges=None):
    """Artifacts laid out as the CLI writes them, from ``ref``."""
    edges = ref["edges"] if edges is None else edges
    rows = [(s, d, repr(w), t) for (s, d, t), w in edges.items()]
    _write(os.path.join(out, "gFull", "g.edges.csv"), ["src", "dst", "w", "type"], rows, ",")
    hood = [(s, d, repr(edges[(s, d, t)]), t) for (s, d, t) in neighborhood_edges(ref["edges"], seed_id)]
    _write(os.path.join(out, f"id_neighbours_{seed_id}", "id.edges.csv"), ["src", "dst", "w", "type"], hood, ",")
    report = [(u, "[]", "[]", "[]", "[]") for u in sorted(ref["report_users"])]
    _write(
        os.path.join(out, "exportPowerBI.csv"),
        ["user", "hashTags", "retweetUsers", "beRetweetUsers", "jaccardUsers"],
        report,
        ";",
    )
    _write(os.path.join(out, "wordCloud.csv"), ["txt_plus_rt"], [("x",)] * len(records), ",")


def test_tweet_checker_flags_only_the_wrong_artifact(tmp_path):
    records = tweet_records(5, n_tweets=300, n_users=60)
    ref = tweet_reference(records)
    seed_id = str(next(r["retweeted_status"]["user"]["id"] for r in records if r["retweeted_status"]))
    _export(str(tmp_path), ref, records, seed_id)
    assert check_tweet_outputs(str(tmp_path), ref, seed_id) == {}

    jc = next(e for e in ref["edges"] if e[2] == "JC")
    wrong = dict(ref["edges"])
    wrong[jc] += 0.125
    _export(str(tmp_path / "bad"), ref, records, seed_id, edges=wrong)
    problems = check_tweet_outputs(str(tmp_path / "bad"), ref, seed_id)
    assert "full_graph" in problems and "wrong weights" in problems["full_graph"]
    assert "bi_report" not in problems and "word_cloud" not in problems

    os.remove(tmp_path / "wordCloud.csv")
    assert set(check_tweet_outputs(str(tmp_path), ref, seed_id)) == {"word_cloud"}
