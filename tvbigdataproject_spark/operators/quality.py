"""Inline data-quality accounting via ``df.observe`` — metrics that
ride the existing scan instead of paying a second pass.

At 100 TB a separate ``df.count()`` / null-audit query re-reads the
corpus; ``observe`` attaches aggregate expressions to a plan node and
folds them on the executors WHILE the action runs — the accounting is
free (same tasks, same scan), which is why production pipelines hang
row-count/null-count/domain counters on every materialization step.

Batch only: for streams, the same expressions go through
``df.observe(name, ...)`` + a StreamingQueryListener. Wired into the
engine's CSV sinks (sources/io.py ``audit_null_cols`` / ``audit``
hooks) and every CLI materialization (__main__.py reports rows written
per artifact through it).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def with_quality_observation(
    df: DataFrame, null_cols: list[str] | None = None
) -> tuple[DataFrame, Observation]:
    """Attach standard quality counters to ``df``: total rows and
    per-column null counts (``nulls_<col>``). Returns (observed_df, observation); run ANY action on the
    returned frame, then read ``observation.get`` — a dict — at zero
    extra scan cost.

    The expressions are plain aggregates, so they partial-aggregate
    map-side like any agg; the driver folds one tiny row per task.
    """
    obs = Observation()
    metrics = [F.count(F.lit(1)).alias("rows")]
    for c in null_cols or []:
        metrics.append(
            F.sum(F.col(c).isNull().cast("long")).alias(f"nulls_{c}")
        )
    return df.observe(obs, *metrics), obs
