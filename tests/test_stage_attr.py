"""tools/stage_attr.py — event-log stage attribution for flagged bench
queries (pure JSON parsing, no Spark). The fixture is a hand-written
event log in the public SparkListener line-JSON format: two queries,
each with a cold rep0 and a warm rep1, stage wall times chosen so the
warm rep is the fastest and the per-stage ordering is unambiguous."""

from __future__ import annotations

import json

import pytest

from tools.stage_attr import attribute, parse_groups, stage_scopes


def _write_log(tmp_path, events):
    p = tmp_path / "local-1700000000000"
    p.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    return str(tmp_path)


def _job_start(group, stage_ids):
    return {
        "Event": "SparkListenerJobStart",
        "Properties": {"spark.jobGroup.id": group},
        "Stage IDs": stage_ids,
    }


def _rdd(rid, scope=None):
    rdd = {"RDD ID": rid, "Name": "MapPartitionsRDD"}
    if scope is not None:
        rdd["Scope"] = json.dumps({"id": str(rid), "name": scope})
    return rdd


def _stage_done(sid, name, sub_ms, comp_ms, tasks=32, rdds=()):
    return {
        "Event": "SparkListenerStageCompleted",
        "Stage Info": {
            "Stage ID": sid,
            "Stage Name": name,
            "Submission Time": sub_ms,
            "Completion Time": comp_ms,
            "Number of Tasks": tasks,
            "RDD Info": list(rdds),
        },
    }


# a classic createDataFrame over a Python list, as Spark logs it: RDD
# Info in no particular order, the PythonRDD without a scope, and one
# scope shared by two RDDs
PYTHON_WORKER_RDDS = [
    _rdd(6, "WriteFiles"),
    _rdd(0, "parallelize"),
    _rdd(2, "mapPartitions"),
    _rdd(5, "WholeStageCodegen (1)"),
    _rdd(4, "mapPartitions"),
    _rdd(1),
    _rdd(3, "map"),
]


@pytest.fixture()
def log_dir(tmp_path):
    events = [
        # q1 rep0 (cold): two stages, 2.0s + 1.0s
        _job_start("q1#rep0", [0, 1]),
        _stage_done(0, "scan parquet", 1000, 3000),
        _stage_done(1, "exchange hashpartitioning", 3000, 4000),
        # q1 rep1 (warm): 0.5s + 0.25s
        _job_start("q1#rep1", [2, 3]),
        _stage_done(2, "scan parquet", 5000, 5500),
        _stage_done(3, "exchange hashpartitioning", 5500, 5750),
        # q2 rep0 only (no warm rep recorded), one Python-worker stage
        _job_start("q2#rep0", [4]),
        _stage_done(4, "$anonfun$withThreadLocalCaptured$2", 6000, 6400, rdds=PYTHON_WORKER_RDDS),
        # a stage with no group (driver-side job) must be ignored
        _stage_done(9, "orphan", 0, 99999),
        # torn tail line of an .inprogress log must be skipped
    ]
    d = _write_log(tmp_path, events)
    with open(tmp_path / "local-1700000000000", "a") as fh:
        fh.write('{"Event": "SparkListenerJobSt')
    return d


def test_parse_groups_links_stages_to_job_groups(log_dir):
    groups = parse_groups(log_dir)
    assert set(groups) == {"q1#rep0", "q1#rep1", "q2#rep0"}
    # sorted by wall time, worst first
    rows = groups["q1#rep0"]
    assert [r["sec"] for r in rows] == [2.0, 1.0]
    assert rows[0]["stage"] == "scan parquet" and rows[0]["tasks"] == 32


def test_stage_rows_name_the_rdd_scopes_they_run(log_dir):
    groups = parse_groups(log_dir)
    # creation order, each name once, scopeless RDDs skipped
    assert groups["q2#rep0"][0]["scopes"] == [
        "parallelize", "mapPartitions", "map", "WholeStageCodegen (1)", "WriteFiles",
    ]
    # empty or missing RDD Info: no scopes
    assert groups["q1#rep0"][0]["scopes"] == []
    assert stage_scopes({}) == []
    torn = {"RDD Info": [{"RDD ID": 1, "Scope": '{"id":'}, {"RDD ID": 2, "Scope": '"x"'}]}
    assert stage_scopes(torn) == []


def test_attribute_picks_fastest_warm_rep(log_dir):
    out = attribute(log_dir, ["q1", "q2", "missing"])
    assert out["q1"]["rep"] == "q1#rep1"
    assert out["q1"]["total_stage_sec"] == pytest.approx(0.75)
    assert [s["sec"] for s in out["q1"]["stages"]] == [0.5, 0.25]
    # q2 has only the cold rep: fall back to it rather than dropping
    assert out["q2"]["rep"] == "q2#rep0"
    assert "missing" not in out


def test_parse_groups_empty_dir_raises(tmp_path):
    with pytest.raises(FileNotFoundError):
        parse_groups(str(tmp_path))


def test_parse_groups_spark4_v2_dir_layout(tmp_path):
    # Spark 4 writes eventlog_v2_<appid>/events_1_<appid> + appstatus
    app = tmp_path / "eventlog_v2_local-1700000000001"
    app.mkdir()
    (app / "appstatus_local-1700000000001").write_text("")
    events = [
        _job_start("q1#rep1", [0]),
        _stage_done(0, "scan parquet", 1000, 1500),
    ]
    (app / "events_1_local-1700000000001").write_text(
        "\n".join(json.dumps(e) for e in events) + "\n"
    )
    groups = parse_groups(str(tmp_path))
    assert groups["q1#rep1"][0]["sec"] == 0.5


def test_parse_groups_compressed_only_raises(tmp_path):
    app = tmp_path / "eventlog_v2_local-1700000000002"
    app.mkdir()
    (app / "events_1_local-1700000000002.zstd").write_bytes(b"\x28\xb5\x2f\xfd")
    with pytest.raises(FileNotFoundError):
        parse_groups(str(tmp_path))


def test_parse_groups_replays_rolled_logs_in_roll_order(tmp_path):
    # 11 roll files: lexicographic order would visit events_10 before
    # events_2, delivering stage completions ahead of the JobStart that
    # registers them — they'd be silently dropped. Numeric roll order
    # must keep the attribution intact.
    app = tmp_path / "eventlog_v2_local-1700000000003"
    app.mkdir()
    (app / "appstatus_local-1700000000003").write_text("")
    for i in range(1, 11):
        # rolls 1..10: each JobStart registers the stage completed in
        # the NEXT roll file
        lines = [_job_start(f"q{i}#rep1", [i])]
        if i > 1:
            lines.insert(0, _stage_done(i - 1, "scan parquet", 1000, 1500 + (i - 1)))
        (app / f"events_{i}_local-1700000000003").write_text(
            "\n".join(json.dumps(e) for e in lines) + "\n"
        )
    (app / "events_11_local-1700000000003").write_text(
        json.dumps(_stage_done(10, "scan parquet", 1000, 1510)) + "\n"
    )
    groups = parse_groups(str(tmp_path))
    assert set(groups) == {f"q{i}#rep1" for i in range(1, 11)}
    assert groups["q10#rep1"][0]["sec"] == pytest.approx(0.51)
