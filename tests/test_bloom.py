"""operators/bloom.py — build/probe correctness, the no-false-negative
guarantee, mergeability-by-OR, and dense-layout determinism; and the
registered bloom_contamination_probe on an empty benchmark."""

from __future__ import annotations

from pyspark.sql import functions as F

from tvbigdataproject_spark.operators.bloom import (
    bloom_build,
    bloom_might_contain,
    bloom_summary,
)
from tvbigdataproject_spark.queries.registry import REGISTRY
from tvbigdataproject_spark.sources import read_table

SF_DIR = "/root/testdata/sf0.001"


def _build(spark, groups):
    rows = [(g, k) for g, keys in groups.items() for k in keys]
    df = spark.createDataFrame(rows, "source string, s string")
    return bloom_build(df, group_col="source", key_col="s")


def test_no_false_negatives(spark):
    keys = [f"key-{i}" for i in range(300)]
    filt = _build(spark, {"a": keys})
    probe = spark.createDataFrame([(k,) for k in keys], "s string")
    hits = probe.crossJoin(F.broadcast(filt.select("filter"))).where(
        bloom_might_contain(F.col("filter"), F.col("s"))
    )
    assert hits.count() == 300  # every inserted key must test positive


def test_false_positive_rate_is_small(spark):
    filt = _build(spark, {"a": [f"in-{i}" for i in range(500)]})
    absent = spark.createDataFrame(
        [(f"out-{i}",) for i in range(2000)], "s string"
    )
    fp = (
        absent.crossJoin(F.broadcast(filt.select("filter")))
        .where(bloom_might_contain(F.col("filter"), F.col("s")))
        .count()
    )
    # 500 keys * 4 hashes in 8192 bits -> theoretical fp ~ (1-e^-0.244)^4
    # ~ 0.2%; allow 10x headroom for hash clumping
    assert fp <= 0.02 * 2000


def test_duplicate_keys_change_nothing(spark):
    once = _build(spark, {"a": ["x", "y", "z"]})
    thrice = _build(spark, {"a": ["x", "y", "z"] * 3})
    a = once.collect()[0]["filter"]
    b = thrice.collect()[0]["filter"]
    assert a == b  # OR is idempotent: no distinct needed anywhere


def test_filters_merge_by_elementwise_or(spark):
    left = _build(spark, {"a": ["p", "q"]})
    right = _build(spark, {"a": ["r", "s"]})
    both = _build(spark, {"a": ["p", "q", "r", "s"]})
    lv = left.collect()[0]["filter"]
    rv = right.collect()[0]["filter"]
    bv = both.collect()[0]["filter"]
    assert [x | y for x, y in zip(lv, rv)] == bv


def test_summary_popcount_and_dense_layout(spark):
    filt = _build(spark, {"a": ["only-key"]})
    vec = filt.collect()[0]["filter"]
    assert len(vec) == 128  # dense, zero-filled
    s = bloom_summary(filt).collect()[0]
    # one key sets at most 4 bits (fewer on position collisions)
    assert 1 <= s["n_set_bits"] <= 4
    assert s["n_set_bits"] == sum(bin(x & (2**64 - 1)).count("1") for x in vec)


def test_groups_build_independent_filters(spark):
    filt = _build(spark, {"a": ["shared", "a-only"], "b": ["shared"]})
    by_grp = {r["source"]: r["filter"] for r in filt.collect()}
    probe = spark.createDataFrame([("a-only",)], "s string")
    for grp, expect in (("a", 1), ("b", 0)):
        one = spark.createDataFrame([(by_grp[grp],)], "filter array<long>")
        got = (
            probe.crossJoin(F.broadcast(one))
            .where(bloom_might_contain(F.col("filter"), F.col("s")))
            .count()
        )
        # group b never saw "a-only"; fp chance over a 2-key filter is
        # negligible (8/8192 bits set)
        assert got == expect


def test_batch_probe_empty_benchmark_keeps_all_docs(spark, tmp_path):
    # the registered BATCH query on a corpus where NO doc_id % 97 == 0:
    # the unconditional-filter-row fix must keep every doc (previously
    # the empty build emptied the cross join while the oracle kept all)
    sf = str(tmp_path / "sf_nobench")
    docs = read_table(spark, SF_DIR, "documents").where(
        F.col("doc_id") % 97 != 0
    )
    n = docs.count()
    docs.write.parquet(f"{sf}/documents.parquet")
    rows = REGISTRY["bloom_contamination_probe"].fn(spark, sf).collect()
    assert len(rows) == n
    assert all(r.n_hits == 0 for r in rows)
