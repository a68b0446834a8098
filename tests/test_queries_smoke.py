"""Smoke over the full registered query suite at sf0.001: every query
plans, executes, and keeps a stable column set. (Value-level parity vs
DuckDB is tools/check_parity.py / the driver's gate — not re-run here.)
Interval coalescing, Mann-Whitney U and U-shaped attribution are also
checked against a pure-Python model or a structural invariant the
oracle comparison cannot see."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from _querycache import registry_df

from tvbigdataproject_spark.queries import REGISTRY

SF_DIR = "/root/testdata/sf0.001"


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_runs(spark, name):
    # shared with the plan audits via the session memo — an iterative
    # query's fn() executes real jobs at call time, so each duplicate
    # build costs a full loop replay (tests/_querycache.py)
    df = registry_df(spark, name, SF_DIR)
    assert df.columns, f"{name} has no columns"
    assert df.count() >= 0


def test_event_window_queries_are_oracle_checked():
    # the event-window queries are part of the oracle suite
    for name in ("tumbling_window_agg", "sliding_window_agg", "sessionize_events"):
        assert REGISTRY[name].sql is not None


def test_entry_contract(spark):
    import __spark_entry__ as E

    df = E.entry(spark)
    assert df.count() > 0
    qs, sqls = E.queries(), E.oracle_sql()
    assert set(sqls) <= set(qs)
    assert len(qs) == len(REGISTRY)


def test_literal_tables_launch_no_python_worker(spark, monkeypatch):
    # a classic createDataFrame over a Python list goes through
    # SparkContext.parallelize and runs through Python workers; these
    # queries build their few-row reference tables as VALUES literals
    from pyspark import SparkContext

    calls = []
    real = SparkContext.parallelize

    def spy(self, *args, **kwargs):
        calls.append(args[:1])
        return real(self, *args, **kwargs)

    monkeypatch.setattr(SparkContext, "parallelize", spy)
    for name in (
        "null_safe_join_segments",
        "range_join_bands",
        "benford_price_audit",
        "query_likelihood_dirichlet",
        "blocklist_hits",
        "rich_club_coefficient",
        "ridge_path_qty_discount",
    ):
        # built fresh, not from the session memo, so the build is spied on
        assert REGISTRY[name].fn(spark, SF_DIR).count() > 0, name
    assert calls == []


# -------------------------------------------------- interval coalesce


def test_interval_coalesce_hand_intervals(spark):
    # overlapping [0,10],[5,20] merge; touching [20,30] also merges
    # (start == running max end); [31,40] opens a new span; user 2
    # independent
    from pyspark.sql import Window

    rows = [
        (1, 100, 0, 10),
        (1, 101, 5, 20),
        (1, 102, 20, 30),
        (1, 103, 31, 40),
        (2, 200, 0, 5),
    ]
    iv = spark.createDataFrame(
        rows, "user_id long, event_id long, s_us long, e_us long"
    )
    order = [F.col("s_us"), F.col("e_us"), F.col("event_id")]
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    opener = F.when(
        F.col("prev_max").isNull() | (F.col("s_us") > F.col("prev_max")), 1
    ).otherwise(0)
    g = (
        iv.withColumn("prev_max", F.max("e_us").over(w_prev))
        .select(
            "user_id",
            "s_us",
            "e_us",
            F.sum(opener).over(w_run).cast("long").alias("grp"),
        )
        .groupBy("user_id", "grp")
        .agg(
            F.min("s_us").alias("lo"),
            F.max("e_us").alias("hi"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    got = {
        (r.user_id, r.grp): (r.lo, r.hi, r.n) for r in g.collect()
    }
    assert got == {
        (1, 1): (0, 30, 3),
        (1, 2): (31, 40, 1),
        (2, 1): (0, 5, 1),
    }


def test_interval_coalesce_spans_cover_and_disjoint(spark):
    from tvbigdataproject_spark.queries.registry import REGISTRY

    out = REGISTRY["interval_coalesce_user"].fn(spark, SF_DIR).collect()
    by_user: dict = {}
    for r in out:
        by_user.setdefault(r.user_id, []).append(
            (r.span_start_us, r.span_end_us)
        )
    assert out, "no spans"
    for user, spans in by_user.items():
        spans.sort()
        for (s1, e1), (s2, e2) in zip(spans, spans[1:]):
            assert e1 < s2, (user, (s1, e1), (s2, e2))  # strictly disjoint
            assert s1 <= e1 and s2 <= e2


# --------------------------------------------------- Mann-Whitney U


def test_mann_whitney_matches_python_ranks(spark):
    from tvbigdataproject_spark.queries.registry import REGISTRY

    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet").collect()
    a = sorted(
        int(round(r.c_acctbal * 100))
        for r in cust
        if r.c_mktsegment == "BUILDING"
    )
    b = sorted(
        int(round(r.c_acctbal * 100))
        for r in cust
        if r.c_mktsegment == "MACHINERY"
    )
    pooled = sorted([(v, 0) for v in a] + [(v, 1) for v in b])
    # doubled average ranks, grouped by value
    r1_doubled = 0
    i = 0
    while i < len(pooled):
        j = i
        while j < len(pooled) and pooled[j][0] == pooled[i][0]:
            j += 1
        dbl = (i + 1) + j  # 2 * avg of ranks i+1..j
        r1_doubled += sum(dbl for k in range(i, j) if pooled[k][1] == 0)
        i = j
    u1_doubled = r1_doubled - len(a) * (len(a) + 1)
    row = REGISTRY["mann_whitney_u"].fn(spark, SF_DIR).collect()[0]
    assert (row.n1, row.n2) == (len(a), len(b))
    assert row.r1_doubled == r1_doubled
    assert row.u1_doubled == u1_doubled
    assert abs(row.u1 - u1_doubled / 2.0) < 1e-9


# ----------------------------------------------- U-shaped attribution


def test_u_shaped_weights_sum_to_1000_per_purchase(spark):
    from tvbigdataproject_spark.queries.registry import REGISTRY

    out = REGISTRY["attribution_u_shaped"].fn(spark, SF_DIR).collect()
    assert out, "no attributed clicks"
    by_p: dict = {}
    for r in out:
        by_p.setdefault(r.purchase_id, []).append(r)
    for pid, rows in by_p.items():
        total = sum(r.weight_permille for r in rows)
        assert total == 1000, (pid, total)
        n = rows[0].n_clicks
        assert len(rows) == n
        w_by_pos = {r.pos: r.weight_permille for r in rows}
        if n >= 3:
            assert w_by_pos[1] == 400 and w_by_pos[n] == 400
            mids = [w_by_pos[p] for p in range(2, n)]
            # middles differ by at most 1 permille, earliest get extras
            assert max(mids) - min(mids) <= 1
            assert sorted(mids, reverse=True) == mids
