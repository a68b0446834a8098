"""Manual salted equi-join for skewed keys.

AQE's skew-join splitting (spark.sql.adaptive.skewJoin) is the first
line of defense and needs no code — but it only kicks in for sort-merge
joins whose partition-size stats cross the skew thresholds at runtime,
and it cannot help when the same hot key also dominates a downstream
aggregation. This operator is the explicit fallback: replicate the
build side SALT_N ways, scatter the probe side's hot keys across the
replicas with a deterministic row-derived salt, and join on
(key, salt). Logical result is identical to the plain join (the oracle
for salted_join_revenue proves it); only the physical distribution
changes — the hot key's rows spread over SALT_N tasks instead of one
straggler.

Cost model: the build side is shuffled SALT_N times its size, so this
pays off only when the probe side's skew dwarfs build×SALT_N — the same
arithmetic as broadcast vs shuffle. Keep SALT_N small (8-32) and prefer
AQE when it applies.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def shuffle_partition_count(df: DataFrame) -> int:
    """The session's shuffle partition count, for explicit
    repartition-by-number on fan-out-quadratic joins.

    AQE's partition coalescing keys off shuffle input BYTES and is
    blind to join fan-out: a few MB of keys that explode into millions
    of pairs coalesce to one task (observed twice at sf1 — the
    embedding pair join in round 3, the shared-part pair join in round
    4, each stuck 15+ minutes on one core). A REPARTITION_BY_NUM-origin
    exchange is exempt from coalescing and already satisfies a
    shuffle-hash join's distribution, so pre-partitioning both sides by
    the join key pins the parallelism without adding an exchange.

    spark.sql.shuffle.partitions may be non-numeric on managed
    platforms (e.g. "auto" under adaptive auto-optimized shuffle) —
    fall back to the cluster's default parallelism.
    """
    try:
        return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        return df.sparkSession.sparkContext.defaultParallelism


def salted_join(
    probe: DataFrame,
    build: DataFrame,
    probe_key: str,
    build_key: str,
    n_salt: int = 16,
    salt_cols: list[str] | None = None,
) -> DataFrame:
    """Inner equi-join `probe` (skewed side) with `build` on
    probe_key == build_key, distributing each probe key over `n_salt`
    shuffle partitionings.

    The probe salt is a deterministic row hash (xxhash64) so it is
    stable under re-partitioning, re-runs, and task retries —
    monotonically_increasing_id or rand() would not be. Pass
    `salt_cols` (ideally the table's natural key, e.g. (l_orderkey,
    l_linenumber)) to hash: it must vary WITHIN a join key to spread
    the hot key's rows. Defaulting to all columns is correct but
    defeats column pruning — the scan would read every column just to
    compute the salt, which at 100 TB is the difference between a
    2-column and an 11-column scan. The build side is replicated once
    per salt via an exploded literal range: a narrow transform, no
    driver loop, no union-of-N plans.
    """
    cols = salt_cols if salt_cols is not None else probe.columns
    salted_probe = probe.withColumn(
        "_salt", F.pmod(F.xxhash64(*[F.col(c) for c in cols]), F.lit(n_salt))
    )
    replicated_build = build.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
    )
    joined = salted_probe.join(
        replicated_build,
        (F.col(probe_key) == F.col(build_key)) & (salted_probe._salt == replicated_build._salt),
    )
    return joined.drop("_salt")
