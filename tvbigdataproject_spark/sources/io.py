"""Sources and sinks.

Reference sinks force a single output file via ``repartition(1)`` before
every CSV write (reference: RetweetTagsJaccardGraph.py:242,
bigdata/__init__.py:91,107,111) — a one-task stage that serializes the
whole dataset through one core. At scale that is the single worst plan
node in the reference, so sinks here write at the natural output
parallelism; the one-file sink (``write_single_csv``) runs the plan at
full parallelism and applies ``coalesce(1)`` (no extra shuffle) to the
final write only, never ``repartition(1)``. Every CSV sink writes a
header row.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tvbigdataproject_spark.schemas import TESTDATA_SCHEMAS, TWEET_SCHEMA


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one TESTDATA parquet table with its registered schema."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    reader = spark.read
    schema = TESTDATA_SCHEMAS.get(name)
    if schema is not None:
        # Binding the schema skips footer-merge surprises; column pruning
        # and predicate pushdown still reach the parquet scan.
        reader = reader.schema(schema)
    df = reader.parquet(path)
    if name == "events":
        # The generated events.ts has shipped as both TIMESTAMP(NANOS)
        # and TIMESTAMP(MICROS) across testdata generations. Spark has no
        # nanos decoding (the scan reads raw nanos as long via
        # legacy.parquet.nanosAsLong, set by the session factory /
        # tune_for_session), and the declared LongType schema makes a
        # micros column surface as raw micros — so sniff the footer once
        # per file and scale accordingly. Integer `div` for nanos — a
        # double division would lose precision (nanos exceed 2^53) and
        # round the last microsecond. The unit map is explicit and
        # closed: an unrecognized unit must fail loudly here, not be
        # silently read 1000x off by a catch-all branch.
        unit = _ts_unit(path)
        if unit == "ns":
            micros = F.expr("ts div 1000")
        elif unit == "us":
            micros = F.col("ts")
        elif unit == "ms":
            micros = F.col("ts") * 1000
        else:
            raise ValueError(
                f"events.ts at {path} has unsupported parquet time unit "
                f"{unit!r} (expected ns/us/ms)"
            )
        df = df.withColumn(
            "ts", F.timestamp_micros(micros).cast("timestamp_ntz")
        )
    return df


_TS_UNITS: dict[str, str] = {}


def _ts_unit(path: str) -> str:
    """Time unit ('ns' | 'us' | 'ms') of events.ts, sniffed from the
    parquet footer (driver-side, one footer read per path, cached)."""
    unit = _TS_UNITS.get(path)
    if unit is None:
        import pyarrow.parquet as pq

        field = pq.read_schema(
            _first_parquet_file(path)
        ).field("ts")
        unit = getattr(field.type, "unit", "us")
        _TS_UNITS[path] = unit
    return unit


def _first_parquet_file(path: str) -> str:
    """`path` may be a single parquet file or a directory of part files
    (one level of partition subdirectories is searched too). Raises a
    clear FileNotFoundError when the directory holds no parquet file —
    an empty stream-source dir or a _SUCCESS-only dir would otherwise
    surface as an obscure pyarrow error far from the cause."""
    if not os.path.isdir(path):
        return path
    entries = sorted(os.listdir(path))
    for entry in entries:
        if entry.endswith(".parquet"):
            return os.path.join(path, entry)
    for entry in entries:
        sub = os.path.join(path, entry)
        if os.path.isdir(sub):
            for inner in sorted(os.listdir(sub)):
                if inner.endswith(".parquet"):
                    return os.path.join(sub, inner)
    raise FileNotFoundError(f"no *.parquet file under {path}")


def read_table_spread(
    spark: SparkSession, sf_dir: str, name: str, *keys: str
) -> DataFrame:
    """read_table + scan_spread: the reader for queries whose per-row
    scan-side work (tokenize/explode/hash fan-outs) dominates — restores
    row parallelism over the single-row-group TESTDATA files, no-op when
    the scan is already parallel (see scan_spread)."""
    return scan_spread(read_table(spark, sf_dir, name), *keys)


def scan_spread(df: DataFrame, *keys: str) -> DataFrame:
    """Scale-adaptive remedy for under-parallel scans (optimization
    guide §2.5 "input skew: one huge unsplittable file ... repartition
    immediately after the read").

    The TESTDATA tables are single parquet files with a SINGLE row
    group, so every scan stage runs as ONE task no matter what
    maxPartitionBytes / minPartitionNum say — and any heavy scan-side
    work (hash fan-outs, shingle explodes, per-vector distance sweeps)
    is single-threaded until the first exchange. Measured r12: the x39
    Poisson-bootstrap fan-out spent ~5 s in one scan task on a 32-core
    session.

    This helper restores row parallelism ONLY when the scan is actually
    under-parallel: if the plan already yields >= half the session's
    default parallelism it returns ``df`` unchanged (no added Exchange)
    — at production scale, many files / row groups make that the common
    case, so the repartition is strictly a small-input adaptation, not
    a local[32] constant. Callers project to the needed columns BEFORE
    calling (the exchange then carries only those bytes, guide §2.3).

    Pass ``keys`` (a unique or near-unique column set) to spread by
    hash — deterministic per row, no sort-before-repartition pass.
    Without keys, round-robin repartition is used (pays the local
    sort-for-retry-determinism of SPARK-23207 on the scan task).
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= max(2, target // 2):
        return df
    if keys:
        return df.repartition(target, *[F.col(k) for k in keys])
    return df.repartition(target)


def read_tweets(spark: SparkSession, path: str) -> DataFrame:
    """Tweet JSON-lines scan with the explicit schema (no inference job).

    Reference: ``spark.read.json(path)`` with inference at
    RetweetTagsJaccardGraph.py:33 and bigdata/__init__.py:85.
    """
    return spark.read.schema(TWEET_SCHEMA).json(path)


def write_csv(
    df: DataFrame,
    path: str,
    sep: str = ";",
    audit_null_cols: list[str] | None = None,
) -> dict | None:
    """CSV sink, one part file per task (reference S2/S3:
    RetweetTagsJaccardGraph.py:242-243).

    ``audit_null_cols`` (may be ``[]``) attaches inline quality
    accounting (operators/quality.py): row count + per-column null
    counts ride the write's own scan via ``df.observe`` — no second
    pass — and come back as a dict."""
    metrics = None
    if audit_null_cols is not None:
        from tvbigdataproject_spark.operators.quality import (
            with_quality_observation,
        )

        df, metrics = with_quality_observation(df, null_cols=audit_null_cols)
    df.write.mode("overwrite").option("header", "true").option("sep", sep).csv(path)
    return dict(metrics.get) if metrics is not None else None


def write_single_csv(
    df: DataFrame,
    file_path: str,
    sep: str = ";",
    audit_null_cols: list[str] | None = None,
) -> dict | None:
    """Write ``df`` as ONE real CSV file at ``file_path``.

    The reference's Gephi / Power BI workflow expects a single
    ``prefix.edges.csv`` file (bigdata/__init__.py:107-113 forces it with
    repartition(1), leaving a one-part directory). This helper closes
    that compat gap without the one-task-stage plan node: the plan runs
    at full parallelism and only the final write is coalesce(1), then the
    part file is renamed over ``file_path``.

    Single-file output is inherently driver-adjacent — use it only for
    small final artifacts (reports, subgraphs); large datasets belong in
    the parallel sinks above. Local filesystem only (the rename is an
    os-level move); on an object store, write parallel and compose
    downstream instead.

    ``audit_null_cols`` (may be ``[]``) rides quality accounting on the
    write itself (see write_csv) and returns the metrics dict.
    """
    import glob
    import shutil
    import tempfile

    metrics = None
    if audit_null_cols is not None:
        from tvbigdataproject_spark.operators.quality import (
            with_quality_observation,
        )

        df, metrics = with_quality_observation(df, null_cols=audit_null_cols)
    parent = os.path.dirname(os.path.abspath(file_path)) or "."
    os.makedirs(parent, exist_ok=True)
    tmp = tempfile.mkdtemp(dir=parent)
    try:
        out_dir = os.path.join(tmp, "out")
        df.coalesce(1).write.mode("overwrite").option("header", "true").option(
            "sep", sep
        ).csv(out_dir)
        (part,) = glob.glob(os.path.join(out_dir, "part-*.csv"))
        os.makedirs(os.path.dirname(os.path.abspath(file_path)), exist_ok=True)
        if os.path.isdir(file_path):
            shutil.rmtree(file_path)
        os.replace(part, file_path)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return dict(metrics.get) if metrics is not None else None


def save_graph(
    vertices: DataFrame,
    edges: DataFrame,
    path: str,
    prefix: str = "g",
    single_file: bool = False,
    sep: str = ";",
    audit: bool = False,
) -> dict | None:
    """Graph sink: edges + vertices as two CSV datasets, kept for Gephi
    compatibility (reference S4: bigdata/__init__.py:96-114 writes
    ``prefix.edges.csv`` / ``prefix.vertices.csv`` via repartition(1);
    here both stay parallel by default, and ``single_file=True``
    produces the reference's exact one-file layout via write_single_csv
    for small final graphs). ``audit=True`` rides row accounting on both
    writes and returns ``{"edges": {...}, "vertices": {...}}``."""
    null_cols: list[str] | None = [] if audit else None
    out = {}
    for name, df in (("edges", edges), ("vertices", vertices)):
        file_path = os.path.join(path, f"{prefix}.{name}.csv")
        if single_file:
            out[name] = write_single_csv(df, file_path, sep=sep, audit_null_cols=null_cols)
        else:
            out[name] = write_csv(df, file_path, sep=sep, audit_null_cols=null_cols)
    return out if audit else None
