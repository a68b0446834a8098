"""Session-scoped shared trade edge tables (operators/trade_edges.py),
entries of the session registry in operators/materialize.py:
materialize-once reuse, deterministic release, and the
applicationId-keyed registry (RDD ids are context-scoped ints, so
entries from a dead context must be dropped, never released against
the live one)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tvbigdataproject_spark.operators import materialize
from tvbigdataproject_spark.operators import trade_edges as te
from tvbigdataproject_spark.operators.materialize import persistent_ids, release
from tvbigdataproject_spark.session import release_session_caches

SF = "/root/testdata/sf0.001"


@pytest.fixture(autouse=True)
def _clean_cache(spark):
    release_session_caches(spark)
    yield
    release_session_caches(spark)


def test_pairs_match_direct_build(spark):
    got = {
        (r["o_custkey"], r["l_suppkey"])
        for r in te.trade_pairs(spark, SF).collect()
    }
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    want = {
        (r["o_custkey"], r["l_suppkey"])
        for r in li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select("o_custkey", "l_suppkey")
        .distinct()
        .collect()
    }
    assert got == want and len(want) > 0


def test_counts_sum_to_join_cardinality(spark):
    counts = te.trade_pair_counts(spark, SF)
    total = counts.agg(F.sum("n")).collect()[0][0]
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    joined = li.join(orders, li.l_orderkey == orders.o_orderkey).count()
    assert total == joined
    # and the distinct view is exactly the count table's key set
    assert counts.count() == te.trade_pairs(spark, SF).count()


def test_materialize_once_same_object(spark):
    a = te.trade_pairs(spark, SF)
    b = te.trade_pairs(spark, SF)
    assert a is b  # cache hit returns the SAME checkpointed frame
    # distinct/counts variants cache independently
    c = te.trade_pair_counts(spark, SF)
    assert c is te.trade_pair_counts(spark, SF) and c is not a


def test_release_frees_blocks_and_rebuilds(spark):
    sc = spark.sparkContext
    before = persistent_ids(sc)
    a = te.trade_pairs(spark, SF)
    created = persistent_ids(sc) - before
    assert created  # the build persisted checkpoint blocks
    n = a.count()
    release_session_caches(spark)
    assert not (persistent_ids(sc) & created)  # all released
    b = te.trade_pairs(spark, SF)  # a fresh build, not the dead frame
    assert b is not a and b.count() == n


def test_dead_context_entries_dropped_not_unpersisted(spark):
    sc = spark.sparkContext
    before = persistent_ids(sc)
    live = te.trade_pairs(spark, SF)
    blocks = persistent_ids(sc) - before
    # plant an entry from a "previous" context whose release would free
    # the live blocks — the bug class the applicationId key prevents
    stale = ("app-from-a-previous-life", "trade_pairs", "/x")
    materialize._SESSION[stale] = (live, lambda: release(live))
    te.trade_pairs(spark, SF)  # any registry call sweeps stale entries
    assert stale not in materialize._SESSION
    # the LIVE context's blocks survived the sweep (no cross-context
    # release) — the cached frame still answers without recompute
    assert blocks and blocks <= persistent_ids(sc)
    assert live.count() > 0


def test_bi_edges_double_and_negate(spark):
    pairs = te.trade_pairs(spark, SF)
    bi = te.trade_edges_bi(spark, SF).df
    n = pairs.count()
    assert bi.count() == 2 * n
    # exact multiset check (sign tests don't work here: the synthetic
    # testdata has BOTH custkey 0 and suppkey 0, so node 0 belongs to
    # both id spaces — the engine-wide negation convention the oracles
    # share, tolerable because every query applies it identically)
    from collections import Counter

    fwd = [(r["o_custkey"], -r["l_suppkey"]) for r in pairs.collect()]
    want = Counter(fwd) + Counter((d, s) for s, d in fwd)
    got = Counter((r["src"], r["dst"]) for r in bi.collect())
    assert got == want
