"""operators/quality.py::with_quality_observation — the observed
metrics must equal a direct recomputation, and attaching them must not
change the frame's results (the zero-cost-accounting contract)."""

from __future__ import annotations

from pyspark.sql import functions as F

from tvbigdataproject_spark.operators.quality import with_quality_observation
from tvbigdataproject_spark.sources import read_table

SF_DIR = "/root/testdata/sf0.001"


def test_observation_matches_direct_computation(spark):
    docs = read_table(spark, SF_DIR, "documents")
    observed, obs = with_quality_observation(docs, null_cols=["lang", "source"])
    rows = observed.collect()  # any action on the observed frame
    direct = docs.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.col("lang").isNull().cast("long")).alias("nl"),
        F.sum(F.col("source").isNull().cast("long")).alias("ns"),
    ).collect()[0]
    got = obs.get
    assert got["rows"] == direct["rows"] == len(rows)
    assert got["nulls_lang"] == direct["nl"]
    assert got["nulls_source"] == direct["ns"]


def test_observation_rides_downstream_transformations(spark):
    # metrics describe the observed POINT of the plan, not the final
    # output: a downstream filter doesn't change them — the pattern for
    # auditing how many rows a gate dropped without a second scan
    docs = read_table(spark, SF_DIR, "documents")
    observed, obs = with_quality_observation(docs)
    kept = observed.where(F.col("n_chars") > 400)
    n_kept = kept.count()
    assert obs.get["rows"] == docs.count()  # pre-filter accounting
    assert n_kept < obs.get["rows"]


def test_observation_does_not_perturb_results(spark):
    docs = read_table(spark, SF_DIR, "documents")
    observed, _ = with_quality_observation(docs, null_cols=["lang"])
    a = sorted(r.doc_id for r in observed.select("doc_id").collect())
    b = sorted(r.doc_id for r in docs.select("doc_id").collect())
    assert a == b


def test_audited_sinks_return_metrics(spark, tmp_path):
    # the product wiring: the CSV sinks ride the observation on their
    # own write and hand back the metrics dict (rows + null counts)
    from tvbigdataproject_spark.sources.io import write_csv, write_single_csv

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "c")], "id long, name string"
    )
    m1 = write_single_csv(
        df, str(tmp_path / "one.csv"), audit_null_cols=["name"]
    )
    assert m1 == {"rows": 3, "nulls_name": 1}
    m2 = write_csv(df, str(tmp_path / "many"), audit_null_cols=["name"])
    assert m2 == {"rows": 3, "nulls_name": 1}
    # audit off -> sinks stay None-returning
    assert write_single_csv(df, str(tmp_path / "plain.csv")) is None
