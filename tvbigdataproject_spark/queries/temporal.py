"""Temporal operators over the events table: tumbling windows,
sessionization, as-of joins (SURVEY.md §2.10 batch-equivalents + J8).

The windows are built with F.window / F.session_window, the same
functions Structured Streaming uses, so a pipeline can move between
batch and streaming without rewriting its aggregations.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from tvbigdataproject_spark.queries.registry import query
from tvbigdataproject_spark.queries._stable import sql_stable_sum, stable_sum
from tvbigdataproject_spark.sources import read_table


@query(
    "tumbling_window_agg",
    sql=f"""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           {sql_stable_sum('value', 4)} AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    tags=("temporal", "window"),
)
def tumbling_window_agg(spark, sf_dir):
    """Tumbling 1-hour window aggregation via F.window — the same
    expression would run under readStream with a watermark."""
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            stable_sum(F.col("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@query(
    "sliding_window_agg",
    sql="""
    WITH offsets(off_min) AS (VALUES (0), (30))
    SELECT time_bucket(INTERVAL '1 hour', ts - to_minutes(off_min)) + to_minutes(off_min)
               AS window_start,
           COUNT(*) AS n_events
    FROM events, offsets
    WHERE ts >= time_bucket(INTERVAL '1 hour', ts - to_minutes(off_min)) + to_minutes(off_min)
    GROUP BY 1
    """,
    tags=("temporal", "window"),
)
def sliding_window_agg(spark, sf_dir):
    """Sliding window (1 h length, 30 min slide): each event lands in two
    overlapping windows. Spark's F.window generates the replication
    natively; the oracle replicates via a 2-row offsets dim."""
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("win"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("win.start").alias("window_start"), "n_events")
    )


@query(
    "sessionize_events",
    sql="""
    WITH flagged AS (
        SELECT user_id, ts,
               CASE WHEN ts - LAG(ts) OVER w > INTERVAL '30 minutes'
                    OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
        SELECT user_id, ts,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS session_no
        FROM flagged
    )
    SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
    FROM numbered GROUP BY user_id, session_no
    """,
    tags=("temporal", "session"),
)
def sessionize_events(spark, sf_dir):
    """Sessionization with a 30-minute inactivity gap via
    F.session_window, the function streaming session windows use. The
    oracle derives the same sessions with gaps-and-islands SQL."""
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("win"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("win.start").alias("session_start"),
            "n_events",
        )
    )


@query(
    "asof_join_latest_order",
    sql="""
    SELECT e.event_id, e.user_id, e.ts, o.o_orderkey AS last_orderkey
    FROM events e
    ASOF LEFT JOIN (
        SELECT o_custkey,
               -- collapse orderdate ties deterministically to the max key
               MAX(o_orderkey) AS o_orderkey, o_orderdate
        FROM orders GROUP BY o_custkey, o_orderdate
    ) o
    ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
    """,
    tags=("temporal", "asof"),
)
def asof_join_latest_order(spark, sf_dir):
    """As-of join (J8): for each event, the most recent order of the same
    user at or before the event time.

    Scalable implementation: union both tables tagged, one window pass
    per user ordered by time carrying the last non-null order key
    forward, keep event rows. One shuffle on user — no per-row subquery,
    no range explosion; this is the standard distributed as-of plan.
    Ties on (user, time) resolve to the max order key on both sides.
    """
    ev = read_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("uid"),
        F.col("ts").alias("t"),
        "event_id",
        F.lit(None).cast("long").alias("orderkey"),
        F.lit(1).alias("is_event"),
    )
    # Collapse same-instant orders to max key first so the carried value
    # is deterministic regardless of input order.
    orders = (
        read_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("uid"), F.col("o_orderdate").alias("t"))
        .agg(F.max("o_orderkey").alias("orderkey"))
        .select("uid", "t", F.lit(None).cast("long").alias("event_id"), "orderkey",
                F.lit(0).alias("is_event"))
    )
    unioned = orders.unionByName(ev)
    w = (
        Window.partitionBy("uid")
        .orderBy("t", "is_event")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.select(
        "event_id",
        F.col("uid").alias("user_id"),
        F.col("t").alias("ts"),
        "is_event",
        F.last("orderkey", ignorenulls=True).over(w).alias("last_orderkey"),
    )
    return carried.where(F.col("is_event") == 1).select(
        "event_id", "user_id", "ts", "last_orderkey"
    )


@query(
    "interval_join_view_click",
    sql="""
    SELECT v.user_id, v.ts AS view_ts, c.ts AS click_ts
    FROM events v JOIN events c
      ON v.user_id = c.user_id
     AND v.event_type = 'view' AND c.event_type = 'click'
     AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 30 MINUTE
    """,
    tags=("temporal", "join"),
)
def interval_join_view_click(spark, sf_dir):
    """Equi + interval join (attribution shape): each view matched to
    the same user's clicks within the following 30 minutes. The equi
    key keeps it a hash join with a residual time predicate — unlike
    the pure range join (range_join_bands) no nested loop is needed."""
    ev = read_table(spark, sf_dir, "events")
    views = ev.where(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("view_ts")
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user_id"), F.col("ts").alias("click_ts")
    )
    return (
        views.join(
            clicks,
            (F.col("user_id") == F.col("c_user_id"))
            & (F.col("click_ts") >= F.col("view_ts"))
            & (F.col("click_ts") <= F.col("view_ts") + F.expr("INTERVAL 30 MINUTES")),
        )
        .select("user_id", "view_ts", "click_ts")
    )
