"""SparkSession factory.

The reference boots Spark 3.5 + the GraphFrames package via
PYSPARK_SUBMIT_ARGS (reference: main.py:10-12, main.py:45). This engine
needs no external packages — graph ops are plain DataFrame joins — so the
factory is a vanilla builder with scale-minded defaults:

- AQE on (runtime partition coalescing, skew-join splitting, dynamic
  join-strategy switch) — the knob that makes one static plan survive
  local[32] *and* a 1000-executor cluster.
- session timezone pinned to UTC so timestamp semantics are stable across
  environments (and match the DuckDB oracle).
- shuffle partitions default small for local runs; on a real cluster pass
  shuffle_partitions≈2-3× total cores (AQE coalesces the excess).
- ``spark.sql.icu.caseMappings.enabled=false``: ``lower``/``upper`` use
  the JVM's case mapping, as the reference's Spark 3.5 did, instead of
  loading ICU, whose first use costs about 1.5 s per JVM. On Spark 4.1
  with Java 17 the two differ in ``lower()`` on exactly 67 code points:
  letters added in Unicode 14-16 (U+1C89, U+2C2F, U+A7C0-U+A7DC,
  U+10570-U+10595, U+10D50-U+10D65), which Java 17 leaves unchanged. None is
  ASCII or in ``normalize_tags``' translate table, and the context cases
  (final sigma, İ, ẞ, ǅ) agree; ``tests/test_session.py`` pins the set.
  It is a runtime SQL conf, so ``tune_for_session`` sets it on the
  driver harness's session too: the suite, the parity check and the
  harness all run one case mapping.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "tvbigdataproject-spark"


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession with the engine's defaults."""
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))

    # In local mode the driver JVM IS the executor; Spark's 1g default
    # heap causes GC thrash on 32-way shuffles long before real data
    # sizes. Only effective at JVM launch — the env var lets deployments
    # size it to the box.
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.driver.memory", driver_mem)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # events.parquet stores TIMESTAMP(NANOS) — only readable as long
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Arrow for the few pandas-UDF paths (multimodal, optional NLP).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        # JVM case mapping: no ICU load on the first lower() (docstring)
        .config("spark.sql.icu.caseMappings.enabled", "false")
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    return builder.getOrCreate()


def release_session_caches(spark: SparkSession) -> None:
    """Release every table the session registry in
    ``operators/materialize.py`` holds (shared trade edges, the IVF
    index, session-owned persists) and forget the memoized IVF
    centroids. A deployment amortizes those builds across queries, but
    a BENCHMARK rep must compute from the parquet inputs, so bench.py
    calls this before every timed rep. Cheap when nothing is cached.
    """
    from tvbigdataproject_spark.operators import similarity
    from tvbigdataproject_spark.operators.materialize import release_session

    release_session(spark)
    similarity._CENTER_CACHE.clear()


def tune_for_session(spark: SparkSession, shuffle_partitions: int | None = None) -> SparkSession:
    """Apply engine runtime confs to an externally-provided session.

    The driver harness owns its own SparkSession; this applies the confs
    that are safe to set post-startup.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.icu.caseMappings.enabled", "false")
    if shuffle_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    return spark
