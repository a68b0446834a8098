"""global_row_numbers: exact vs sorted enumeration, invariant to
partitioning AND bucket width, and never plans a single-partition
global sort."""

from __future__ import annotations

from pyspark.sql import functions as F

from tvbigdataproject_spark.operators import sequence
from tvbigdataproject_spark.operators.sequence import global_row_numbers

SF_DIR = "/root/testdata/sf0.001"


def _expected(spark):
    rows = (
        spark.read.parquet(f"{SF_DIR}/orders.parquet")
        .select("o_orderkey")
        .collect()
    )
    keys = sorted(r.o_orderkey for r in rows)
    return {k: i + 1 for i, k in enumerate(keys)}


def test_matches_global_rank(spark):
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        "o_orderkey"
    )
    got = {
        r.o_orderkey: r.seq
        for r in global_row_numbers(orders, "o_orderkey").collect()
    }
    assert got == _expected(spark)


def test_invariant_to_partitioning_and_bucket_width(spark, monkeypatch):
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        "o_orderkey"
    )
    a = sorted(
        map(tuple, global_row_numbers(orders, "o_orderkey").collect())
    )
    # 13 buckets over the 1500-key domain derive width 116, which does
    # not divide it evenly — uneven buckets must not perturb the
    # numbering (the within-bucket rank repairs them)
    monkeypatch.setattr(sequence, "_TARGET_BUCKETS", 13)
    b = sorted(
        map(
            tuple,
            global_row_numbers(orders.repartition(13), "o_orderkey").collect(),
        )
    )
    assert a == b


def test_no_single_partition_global_sort(spark):
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        "o_orderkey"
    )
    plan = (
        global_row_numbers(orders, "o_orderkey")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the corpus-side window partitions by bucket; the only
    # SinglePartition exchange allowed is the bounded bucket-count
    # offsets table (one row per bucket)
    assert "hashpartitioning(_b" in plan
    corpus_single = [
        ln
        for ln in plan.splitlines()
        if "Exchange SinglePartition" in ln and "ENSURE_REQUIREMENTS" in ln
    ]
    # at most the offsets-side exchange; never a full-table sort into one
    # partition (that plan shows Sort after Exchange SinglePartition on
    # the scan branch — absent here because row_number partitions by _b)
    assert len(corpus_single) <= 1


def test_sparse_keys_stay_contiguous(spark):
    # gaps in the key domain (empty buckets) must not create gaps in seq
    df = spark.createDataFrame(
        [(5,), (100_000,), (7,), (999_999,)], "k long"
    )
    got = sorted(
        (r.k, r.seq)
        for r in global_row_numbers(df, "k").collect()
    )
    assert got == [(5, 1), (7, 2), (100_000, 3), (999_999, 4)]


def test_auto_bucket_width_bounds_bucket_count(spark, monkeypatch):
    from pyspark.sql import functions as F

    # sparse wide domain: 1000 keys spread over [0, 4e9) — a fixed
    # width-1024 bucketing would make ~4M buckets; the derived width
    # must cap the bucket table near _TARGET_BUCKETS while numbering
    # stays exact
    df = spark.range(1000).select(
        (F.col("id") * 4_000_000).alias("k")
    )
    monkeypatch.setattr(sequence, "_TARGET_BUCKETS", 64)
    out = global_row_numbers(df, "k")
    rows = sorted((r.k, r.seq) for r in out.collect())
    assert [s for _, s in rows] == list(range(1, 1001))
    # the derived width puts all 1000 present keys into <= ~64 buckets
    width = -(-(999 * 4_000_000 + 1) // 64)
    n_buckets = df.select(
        F.floor(F.col("k") / F.lit(width)).alias("b")
    ).distinct().count()
    assert n_buckets <= 65
