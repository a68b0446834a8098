"""Round-4 sequential-state analytics: capped/clamped running balances
(the classic "not expressible as a plain window" pair), rolling
distinct reach, and exact dyadic time-decay scoring.

Reference parity: the reference engine exposes running aggregates and
per-entity stateful scans over its event log (reference main.py's
sessionized aggregation loop); these queries re-express that tier's
semantics in Spark's execution model and extend it with the
training-data-pipeline shapes the north star asks for.

Exactness discipline: every accumulated quantity is integer cents
(ROUND(value*100) — both engines round the same because the underlying
data is 2-decimal, never at a .5 boundary) and every clamp is integer
LEAST/GREATEST, so recursion, closed form, and pandas loop all produce
bit-identical BIGINTs.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Window
from pyspark.sql import functions as F

from tvbigdataproject_spark.queries.registry import query
from tvbigdataproject_spark.sources import read_table

# drain per event, in cents: balance loses 50.00 and gains the event
# value, so the walk crosses both clamps at the observed value mix
_DRAIN_CENTS = 5000
_INVENTORY_CAP_CENTS = 10000


@query(
    "capped_running_balance",
    sql=f"""
    WITH RECURSIVE ordered AS (
        SELECT user_id,
               CAST(ROUND(value * 100) AS BIGINT) - {_DRAIN_CENTS} AS d,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ),
    walk(user_id, rn, bal) AS (
        SELECT user_id, rn, GREATEST(0, d) FROM ordered WHERE rn = 1
        UNION ALL
        SELECT o.user_id, o.rn, GREATEST(0, w.bal + o.d)
        FROM walk w
        JOIN ordered o ON o.user_id = w.user_id AND o.rn = w.rn + 1
    )
    SELECT user_id, rn, bal AS bal_cents FROM walk
    """,
    tags=("analytics", "stateful", "window"),
)
def capped_running_balance(spark, sf_dir):
    """Per-user running balance with a floor at zero: bal_n =
    max(0, bal_{n-1} + delta_n), deltas in integer cents. The naive
    semantics are sequential (each row depends on the previous), but
    the one-sided clamp has a closed form:

        bal_n = S_n - LEAST(0, MIN(S_k) for k <= n)

    where S is the plain running sum — so the whole walk collapses to
    two stacked window expressions over ONE sort. The oracle is the
    recursive definition itself (a recursive CTE walking rn -> rn+1),
    making this query a machine-checked proof of the identity on real
    data.

    Scale shape: one hash exchange on user_id, one sort, two window
    functions sharing the frame — no self-join, no recursion, no
    Python. This is why the closed form matters at 100 TB: the
    recursive formulation is O(rounds) jobs, the window form is one.
    """
    ev = read_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ord_w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    d = F.round(F.col("value") * 100).cast("long") - _DRAIN_CENTS
    stepped = ev.select(
        "user_id",
        F.row_number().over(ord_w).alias("rn"),
        F.sum(d).over(w).alias("s"),
    )
    return stepped.select(
        "user_id",
        "rn",
        (F.col("s") - F.least(F.lit(0).cast("long"), F.min("s").over(
            Window.partitionBy("user_id").orderBy("rn")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ))).alias("bal_cents"),
    )


def _clamped_walk(pdf: pd.DataFrame) -> pd.DataFrame:
    """Sequential two-sided clamp per user. Runs once per group inside
    applyInPandas; group sizes are events-per-user (bounded by user
    activity, not by SF), so the Python loop is over a short array."""
    pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
    deltas = (
        (pdf["value"] * 100).round().astype("int64") - _DRAIN_CENTS
    ).to_numpy()
    bal = 0
    out = []
    for d in deltas:
        bal = min(_INVENTORY_CAP_CENTS, max(0, bal + int(d)))
        out.append(bal)
    return pd.DataFrame(
        {
            "user_id": pdf["user_id"].to_numpy(),
            "rn": range(1, len(out) + 1),
            "bal_cents": out,
        }
    )


@query(
    "clamped_inventory_balance",
    sql=f"""
    WITH RECURSIVE ordered AS (
        SELECT user_id,
               CAST(ROUND(value * 100) AS BIGINT) - {_DRAIN_CENTS} AS d,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ),
    walk(user_id, rn, bal) AS (
        SELECT user_id, rn,
               LEAST({_INVENTORY_CAP_CENTS}, GREATEST(0, d))
        FROM ordered WHERE rn = 1
        UNION ALL
        SELECT o.user_id, o.rn,
               LEAST({_INVENTORY_CAP_CENTS}, GREATEST(0, w.bal + o.d))
        FROM walk w
        JOIN ordered o ON o.user_id = w.user_id AND o.rn = w.rn + 1
    )
    SELECT user_id, rn, bal AS bal_cents FROM walk
    """,
    tags=("analytics", "stateful", "pandas-udf"),
)
def clamped_inventory_balance(spark, sf_dir):
    """Per-user running balance clamped to [0, cap] — the TWO-sided
    clamp genuinely has no window closed form (each clamp event erases
    state, and unlike the one-sided case the erasures interact), so
    this is the canonical "drop to applyInPandas" operator: grouped by
    user, Arrow-shipped, sequential inside the group only.

    Scale shape: one hash exchange on user_id, then embarrassingly
    parallel across users; per-group work is events-per-user, which is
    bounded by entity activity, not by corpus size. This is the shape
    applyInPandasWithState uses in streaming — same state, same keying
    — run here as a batch operator with a recursive-CTE oracle proving
    the sequential semantics.
    """
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.select("user_id", "ts", "event_id", "value")
        .groupBy("user_id")
        .applyInPandas(_clamped_walk, schema="user_id long, rn int, bal_cents long")
    )


@query(
    "rolling_7d_distinct_users",
    sql="""
    SELECT d.day, COUNT(DISTINCT g.user_id) AS users_7d
    FROM (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events) d
    JOIN (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
          FROM events) g
      ON g.day BETWEEN d.day - 6 AND d.day
    GROUP BY d.day
    """,
    tags=("analytics", "temporal", "distinct-window"),
)
def rolling_7d_distinct_users(spark, sf_dir):
    """Trailing-7-day distinct active users per day — the windowed
    COUNT(DISTINCT) that plain window functions cannot express (Spark
    rejects DISTINCT aggregates over frames, and a collect_set frame
    holds the whole window's users in one buffer).

    Scale shape: dedup to (user, day) grain first (digest-only
    shuffle), then each grain row fans out to the <=7 target days it
    contributes to via an exploded date sequence — an EQUI-join shape,
    not a range join — and one exact count-distinct per day closes it.
    The per-day distinct agg is two-phase (partial sets are day-local).
    The phantom trailing days (grain day + k past the calendar end)
    are dropped by an inner join against the distinct-days list, which
    is bounded by the calendar, not the corpus.

    The oracle states the semantics directly as the range self-join.
    """
    ev = read_table(spark, sf_dir, "events")
    grain = ev.select(
        F.col("user_id"), F.col("ts").cast("date").alias("day")
    ).distinct()
    days = grain.select("day").distinct()
    fanned = grain.select(
        "user_id",
        F.explode(F.sequence("day", F.date_add("day", 6))).alias("day"),
    )
    return (
        fanned.join(days, "day")  # calendar-bounded; drops phantom days
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("users_7d"))
    )


# decay horizon: events older than this many days contribute zero
# (weight 2^-age underflows relevance long before; 40 keeps the scaled
# integer term within BIGINT for per-row values and DECIMAL(38,0) for
# per-user sums)
_DECAY_WINDOW_DAYS = 40
_DECAY_SHIFT = 1 << _DECAY_WINDOW_DAYS  # 2^40


@query(
    "decayed_event_score",
    sql=f"""
    WITH anchor AS (
        SELECT MAX(CAST(ts AS DATE)) AS horizon FROM events
    ),
    terms AS (
        SELECT e.user_id,
               CASE WHEN date_diff('day', CAST(e.ts AS DATE), a.horizon)
                         <= {_DECAY_WINDOW_DAYS}
                    THEN CAST(ROUND(e.value * 100) AS BIGINT)
                         * (CAST(1 AS BIGINT) <<
                            ({_DECAY_WINDOW_DAYS} -
                             date_diff('day', CAST(e.ts AS DATE), a.horizon)))
                    ELSE 0 END AS term
        FROM events e CROSS JOIN anchor a
    )
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(CAST(SUM(term) AS DECIMAL(38,0)) AS DOUBLE)
               / {float(_DECAY_SHIFT)} / 100.0 AS decay_score
    FROM terms
    GROUP BY user_id
    """,
    tags=("analytics", "decay", "scoring"),
)
def decayed_event_score(spark, sf_dir):
    """Exponential time-decay engagement score per user with half-life
    = 1 day: score = sum(value * 2^-age_days), ages measured against
    the global max event date. Recency scoring is how training-data
    pipelines and rankers weight fresh documents/engagement.

    Exactness: the weight 2^-age is DYADIC, so each term is computed
    as integer cents left-shifted by (W - age) — exact 64-bit integer
    arithmetic, summed into DECIMAL(38,0) (no float until the very
    end). The single final division by 2^40 (exactly representable)
    then 100.0 performs the identical two IEEE roundings on both
    engines. No order-dependence anywhere.

    Scale shape: the anchor is a ONE-ROW max attached by broadcast
    cross join (the tfidf_top_terms pattern); the score is one keyed
    agg with map-side partials. Weights are computed in the scan
    stage — no window, no sort.
    """
    ev = read_table(spark, sf_dir, "events")
    anchor = ev.agg(F.max(F.col("ts").cast("date")).alias("horizon"))
    age = F.datediff(F.col("horizon"), F.col("ts").cast("date"))
    term = F.when(
        age <= _DECAY_WINDOW_DAYS,
        F.round(F.col("value") * 100).cast("long")
        * F.expr(f"shiftleft(CAST(1 AS BIGINT), {_DECAY_WINDOW_DAYS} - "
                 f"datediff(horizon, CAST(ts AS DATE)))"),
    ).otherwise(F.lit(0).cast("long"))
    return (
        ev.crossJoin(F.broadcast(anchor))  # one-row anchor: bounded
        .select("user_id", term.alias("term"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (
                F.sum(F.col("term").cast("decimal(38,0)")).cast("double")
                / float(_DECAY_SHIFT)
                / 100.0
            ).alias("decay_score"),
        )
    )


@query(
    "conversion_time_by_cohort",
    sql="""
    WITH su AS (
        SELECT user_id, MIN(ts) AS ts_signup
        FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    conv AS (
        SELECT e.user_id, MIN(e.ts) AS ts_conv
        FROM events e JOIN su ON e.user_id = su.user_id
        WHERE e.event_type = 'purchase' AND e.ts > su.ts_signup
        GROUP BY e.user_id
    ),
    pu AS (
        SELECT su.user_id,
               CAST(date_trunc('week', su.ts_signup) AS DATE) AS cohort_week,
               CAST(date_diff('day', CAST(su.ts_signup AS DATE),
                              CAST(c.ts_conv AS DATE)) AS BIGINT) AS days
        FROM su LEFT JOIN conv c ON su.user_id = c.user_id
    ),
    ranked AS (
        SELECT cohort_week, days, user_id,
               ROW_NUMBER() OVER (PARTITION BY cohort_week
                                  ORDER BY days, user_id) AS rn,
               COUNT(*) OVER (PARTITION BY cohort_week) AS m
        FROM pu WHERE days IS NOT NULL
    ),
    med AS (
        SELECT cohort_week, days AS median_days FROM ranked
        WHERE rn = (m + 1) // 2
    ),
    stats AS (
        SELECT cohort_week, COUNT(*) AS n_users, COUNT(days) AS n_converted
        FROM pu GROUP BY cohort_week
    )
    SELECT s.cohort_week, s.n_users, s.n_converted, m.median_days,
           100 * s.n_converted // s.n_users AS pct_converted
    FROM stats s LEFT JOIN med m ON s.cohort_week = m.cohort_week
    """,
    tags=("analytics", "survival", "cohort"),
)
def conversion_time_by_cohort(spark, sf_dir):
    """Time-to-convert survival summary per signup-week cohort: users,
    converters (first purchase strictly after first signup), the
    discrete median days-to-convert, and an integer conversion rate —
    the retention/activation readout every product pipeline computes.

    Exactness: the median is SELECTED, not interpolated — rank the
    converters by (days, user_id) and take the (m+1) DIV 2-th row, so
    no float percentile math exists to diverge; the rate is integer
    DIV (Spark DIV == DuckDB //). DuckDB's date_trunc('week') returns
    DATE while Spark returns timestamp — cast on the Spark side (the
    repo-wide convention).

    Scale shape: two user-keyed aggs + one user equi-join build the
    per-user row; the median is one window pass over CONVERTERS only,
    partitioned by cohort (bounded weeks x converters, not the event
    stream); nothing global sorts.
    """
    ev = read_table(spark, sf_dir, "events")
    su = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("ts_signup"))
    )
    conv = (
        ev.where(F.col("event_type") == "purchase")
        .join(su, "user_id")
        .where(F.col("ts") > F.col("ts_signup"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("ts_conv"))
    )
    pu = su.join(conv, "user_id", "left").select(
        "user_id",
        F.date_trunc("week", "ts_signup").cast("date").alias("cohort_week"),
        F.datediff(
            F.col("ts_conv").cast("date"), F.col("ts_signup").cast("date")
        )
        .cast("long")
        .alias("days"),
    )
    ranked = pu.where(F.col("days").isNotNull()).select(
        "cohort_week",
        "days",
        F.row_number()
        .over(Window.partitionBy("cohort_week").orderBy("days", "user_id"))
        .alias("rn"),
        F.count(F.lit(1))
        .over(Window.partitionBy("cohort_week"))
        .alias("m"),
    )
    med = ranked.where(
        F.col("rn") == F.expr("(m + 1) DIV 2")
    ).select("cohort_week", F.col("days").alias("median_days"))
    stats = pu.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("days").alias("n_converted"),
    )
    return stats.join(med, "cohort_week", "left").select(
        "cohort_week",
        "n_users",
        "n_converted",
        "median_days",
        F.expr("100 * n_converted DIV n_users").alias("pct_converted"),
    )


@query(
    "incremental_join_view",
    sql="""
    SELECT c.c_mktsegment AS segment,
           COUNT(*) AS n_orders,
           SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) / 100.0
               AS total_price
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
    tags=("analytics", "incremental", "ivm", "join"),
)
def incremental_join_view(spark, sf_dir):
    """Incremental maintenance of a JOIN view: the per-segment revenue
    view orders⋈customer, computed as MERGE(stored state over the
    historical order slice, delta-join of the NEW orders against the
    dimension) — the delta rule dV = dFact ⋈ Dim for a view whose fact
    side appends and whose dimension is stable. The oracle is the full
    recompute, proving the join commutes with the delta split and the
    partial aggregates merge algebraically (the rollup-merge twin,
    incremental_rollup_merge, does this for a single table; this one
    adds the join commutation a materialized-view engine relies on).

    Scale shape: only the delta slice joins at refresh time (the
    historical partials are a stored state table at 100 TB — here both
    derive from the same scan with prunable date predicates); both
    joins shuffle on custkey, the merge is a keyed agg over 2x
    segments rows. Cents accumulate as exact integers and the single
    finalizing division happens after the merge — re-merging never
    re-rounds.
    """
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    cutoff = F.lit("1997-01-01").cast("timestamp_ntz")

    def partial(df):
        return (
            df.join(cust, df.o_custkey == cust.c_custkey)
            .groupBy("c_mktsegment")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(
                    F.round(F.col("o_totalprice") * 100).cast("long")
                ).alias("cents"),
            )
        )

    hist = partial(orders.where(F.col("o_orderdate") < cutoff))
    delta = partial(orders.where(F.col("o_orderdate") >= cutoff))
    return (
        hist.unionByName(delta)
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.sum("n").alias("n_orders"),
            (F.sum("cents") / 100.0).alias("total_price"),
        )
    )


@query(
    "daily_corr_matrix",
    sql="""
    WITH daily AS (
        SELECT event_type,
               date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS x,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS y
        FROM events
        GROUP BY event_type, CAST(ts AS DATE)
    ),
    pairs AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               a.y AS ya, b.y AS yb
        FROM daily a JOIN daily b
          ON a.x = b.x AND a.event_type < b.event_type
    ),
    moments AS (
        SELECT type_a, type_b, COUNT(*) AS n,
               CAST(SUM(ya) AS DECIMAL(38,0)) AS sa,
               CAST(SUM(yb) AS DECIMAL(38,0)) AS sb,
               CAST(SUM(ya * yb) AS DECIMAL(38,0)) AS sab,
               CAST(SUM(ya * ya) AS DECIMAL(38,0)) AS saa,
               CAST(SUM(yb * yb) AS DECIMAL(38,0)) AS sbb
        FROM pairs GROUP BY type_a, type_b
    )
    SELECT type_a, type_b, n,
           CAST(n * sab - sa * sb AS DOUBLE)
               / sqrt(CAST(n * saa - sa * sa AS DOUBLE)
                      * CAST(n * sbb - sb * sb AS DOUBLE)) AS corr
    FROM moments
    """,
    tags=("analytics", "correlation", "matrix"),
)
def daily_corr_matrix(spark, sf_dir):
    """Pairwise Pearson correlation of daily revenue between every
    event-type pair over aligned days — the co-movement matrix behind
    metric dashboards and anomaly triage ("did errors and purchases
    spike together?").

    Exactness: all five moments are integer sums over integer cents,
    accumulated in DECIMAL(38,0); the combination casts to double and
    then performs multiply, IEEE-correctly-rounded sqrt, and one
    division — the identical op sequence on both engines (sqrt is
    exactly rounded per IEEE-754, so determinism survives it).

    Scale shape: the event stream collapses to (type, day) grain
    first; the pair join runs on that bounded grain (types x days,
    calendar-bounded) — never on raw events. Output is the C(k,2)
    matrix, tiny at any SF.
    """
    ev = read_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("y"))
        .select(
            "event_type",
            F.datediff("day", F.lit("2024-01-01").cast("date")).alias("x"),
            "y",
        )
    )
    a = daily.select(
        F.col("event_type").alias("type_a"), "x", F.col("y").alias("ya")
    )
    b = daily.select(
        F.col("event_type").alias("type_b"), "x", F.col("y").alias("yb")
    )
    pairs = a.join(b, "x").where(F.col("type_a") < F.col("type_b"))
    m = pairs.groupBy("type_a", "type_b").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("ya").cast("decimal(38,0)")).alias("sa"),
        F.sum(F.col("yb").cast("decimal(38,0)")).alias("sb"),
        F.sum((F.col("ya") * F.col("yb")).cast("decimal(38,0)")).alias("sab"),
        F.sum((F.col("ya") * F.col("ya")).cast("decimal(38,0)")).alias("saa"),
        F.sum((F.col("yb") * F.col("yb")).cast("decimal(38,0)")).alias("sbb"),
    )
    num = (F.col("n") * F.col("sab") - F.col("sa") * F.col("sb")).cast("double")
    dena = (F.col("n") * F.col("saa") - F.col("sa") * F.col("sa")).cast("double")
    denb = (F.col("n") * F.col("sbb") - F.col("sb") * F.col("sb")).cast("double")
    return m.select(
        "type_a", "type_b", "n", (num / F.sqrt(dena * denb)).alias("corr")
    )


@query(
    "session_path_topk",
    sql="""
    WITH ordered AS (
        SELECT user_id, event_type, ts, event_id,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR date_diff('second', LAG(ts) OVER w, ts) > 1800
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
        SELECT user_id, event_type, ts, event_id,
               SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS session_id
        FROM ordered
    ),
    steps AS (
        SELECT user_id, session_id, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id, session_id
                                  ORDER BY ts, event_id) AS rn
        FROM sessions
    ),
    paths AS (
        SELECT user_id, session_id,
               concat_ws('>',
                   MAX(CASE WHEN rn = 1 THEN event_type END),
                   MAX(CASE WHEN rn = 2 THEN event_type END),
                   MAX(CASE WHEN rn = 3 THEN event_type END)) AS path
        FROM steps WHERE rn <= 3 GROUP BY user_id, session_id
    )
    SELECT path, COUNT(*) AS n_sessions FROM paths
    GROUP BY path ORDER BY n_sessions DESC, path LIMIT 10
    """,
    tags=("analytics", "session", "sequence", "topk"),
)
def session_path_topk(spark, sf_dir):
    """Top-10 session-opening paths: the first three event types of
    each user session (30-minute inactivity gap), ranked by frequency
    — the path-mining readout behind onboarding/funnel redesign
    ("what do sessions actually start with?").

    Determinism: sessionization is the standard lag-gap + running-sum
    window over the (ts, event_id) total order; the first three steps
    are pivoted by rank (MAX(CASE rn=k)) instead of an ordered string
    agg, because collect_list/string_agg ordering is not contractual
    in either engine; concat_ws skips the NULLs of 1- and 2-step
    sessions identically on both.

    Scale shape: two window passes over the user partition (the
    sessionize_events shape), one keyed count, TakeOrdered(10) — no
    global sort of the event stream.
    """
    ev = read_table(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(wu))
    new_s = F.when(
        F.lag("ts").over(wu).isNull() | (gap > 1800), F.lit(1)
    ).otherwise(F.lit(0))
    sessions = ev.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.sum(new_s)
        .over(wu.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("session_id"),
    )
    steps = sessions.select(
        "user_id",
        "session_id",
        "event_type",
        F.row_number()
        .over(
            Window.partitionBy("user_id", "session_id").orderBy("ts", "event_id")
        )
        .alias("rn"),
    ).where(F.col("rn") <= 3)
    paths = steps.groupBy("user_id", "session_id").agg(
        F.concat_ws(
            ">",
            F.max(F.when(F.col("rn") == 1, F.col("event_type"))),
            F.max(F.when(F.col("rn") == 2, F.col("event_type"))),
            F.max(F.when(F.col("rn") == 3, F.col("event_type"))),
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), "path")
        .limit(10)
    )


@query(
    "nearest_click_join",
    sql="""
    WITH p AS (
        SELECT event_id, user_id, epoch_us(ts) AS us FROM events
        WHERE event_type = 'purchase'
    ),
    c AS (
        SELECT event_id, user_id, epoch_us(ts) AS us FROM events
        WHERE event_type = 'click'
    ),
    cand AS (
        SELECT p.event_id AS purchase_id, p.user_id,
               c.event_id AS click_id,
               c.us - p.us AS gap_us,
               ROW_NUMBER() OVER (
                   PARTITION BY p.event_id
                   ORDER BY ABS(c.us - p.us), c.us, c.event_id
               ) AS rn
        FROM p JOIN c ON p.user_id = c.user_id
        WHERE ABS(c.us - p.us) <= 3600000000
    )
    SELECT purchase_id, user_id, click_id, gap_us // 1000000 AS gap_seconds
    FROM cand WHERE rn = 1
    """,
    tags=("temporal", "asof", "nearest"),
)
def nearest_click_join(spark, sf_dir):
    """Nearest-event join: each purchase matched to the same user's
    CLOSEST click within +/-1 hour, in either direction — the
    bidirectional generalization of the as-of join (asof_join /
    attribution look only backward). Ties at equal distance resolve to
    the earlier click, then event id — fully deterministic.

    Exactness: gaps are exact integer microseconds (epoch_us /
    unix_micros — second-granularity diffs would disagree on negative
    gaps' truncation direction); the ntz->ltz cast unix_micros needs
    shifts both sides by the same session-zone offset, so gaps,
    the band filter, and the tie-break order are all zone-invariant.
    The reported gap is integer DIV to seconds.

    Scale shape: an EQUI hash join on user_id with the +/-1h band as a
    post-filter — never a time-range nested loop; the per-purchase
    candidate set is bounded by the user's clicks in a 2-hour window,
    and one partitioned window pass picks the winner.
    """
    ev = read_table(spark, sf_dir, "events")
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("p_us"),
    )
    c = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("c_us"),
    )
    gap = F.col("c_us") - F.col("p_us")
    cand = (
        p.join(c, p.user_id == c.c_user)
        .where(F.abs(gap) <= 3_600_000_000)
        .select(
            "purchase_id",
            "user_id",
            "click_id",
            gap.alias("gap_us"),
            F.row_number()
            .over(
                Window.partitionBy("purchase_id").orderBy(
                    F.abs(gap), "c_us", "click_id"
                )
            )
            .alias("rn"),
        )
    )
    return cand.where(F.col("rn") == 1).select(
        "purchase_id",
        "user_id",
        "click_id",
        F.expr("gap_us DIV 1000000").alias("gap_seconds"),
    )


def _holt_walk(pdf: pd.DataFrame) -> pd.DataFrame:
    """Sequential Holt recursion per priority series. One group = one
    daily series (n_days rows, SF-independent grid), so the Python loop
    is short no matter the corpus size."""
    pdf = pdf.sort_values("rn", kind="mergesort")
    level = trend = None
    levels, trends = [], []
    for x in pdf["x_cents"].tolist():
        x = int(x)
        if level is None:
            level, trend = x, 0
        else:
            new_level = (x + level + trend) // 2
            trend = (new_level - level + 3 * trend) // 4
            level = new_level
        levels.append(level)
        trends.append(trend)
    out = pdf[["pri", "rn", "day", "x_cents"]].copy()
    out["level_cents"] = levels
    out["trend_cents"] = trends
    out["forecast_cents"] = [l + t for l, t in zip(levels, trends)]
    return out


@query(
    "holt_trend_revenue",
    sql="""
    WITH RECURSIVE daily AS (
        SELECT o_orderpriority AS pri, CAST(o_orderdate AS DATE) AS day,
               SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS x_cents
        FROM orders GROUP BY 1, 2
    ),
    ordered AS (
        SELECT pri, day, x_cents,
               ROW_NUMBER() OVER (PARTITION BY pri ORDER BY day) AS rn
        FROM daily
    ),
    h(pri, rn, day, x_cents, l, b) AS (
        SELECT pri, rn, day, x_cents, x_cents, CAST(0 AS BIGINT)
        FROM ordered WHERE rn = 1
        UNION ALL
        SELECT o.pri, o.rn, o.day, o.x_cents,
               CAST(FLOOR((o.x_cents + h.l + h.b) / 2.0) AS BIGINT),
               CAST(FLOOR((CAST(FLOOR((o.x_cents + h.l + h.b) / 2.0) AS BIGINT)
                           - h.l + 3 * h.b) / 4.0) AS BIGINT)
        FROM h JOIN ordered o ON o.pri = h.pri AND o.rn = h.rn + 1
    )
    SELECT pri, rn, day, x_cents, l AS level_cents, b AS trend_cents,
           l + b AS forecast_cents
    FROM h
    """,
    tags=("analytics", "stateful", "timeseries"),
)
def holt_trend_revenue(spark, sf_dir):
    """Holt double-exponential smoothing (level + trend) of daily order
    revenue per order priority, alpha = 1/2 and beta = 1/4:

        l_t = floor((x_t + l_{t-1} + b_{t-1}) / 2)
        b_t = floor((l_t - l_{t-1} + 3 b_{t-1}) / 4)

    The dyadic coefficients keep every state transition in integer
    cents with an explicit floor, so the recursion is bit-identical
    across Python floor-div, DuckDB FLOOR(a/2.0), and any partitioning
    (the capped_running_balance exactness discipline extended to
    two-state recursion; the floor division is exact because the daily
    sums stay far below 2^52).

    Scale shape: the corpus-sized orders scan collapses map-side into
    the (priority, day) grid; the inherently sequential recursion runs
    in applyInPandas with one group per series over that tiny grid —
    Python touches n_priorities x n_days rows, never the raw orders.
    forecast_cents = l_t + b_t is the one-step-ahead forecast.
    """
    orders = read_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderpriority").alias("pri"),
        F.to_date("o_orderdate").alias("day"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "x_cents"
        )
    )
    ordered = daily.select(
        "pri",
        "day",
        "x_cents",
        F.row_number()
        .over(Window.partitionBy("pri").orderBy("day"))
        .alias("rn"),
    )
    out = ordered.groupBy("pri").applyInPandas(
        _holt_walk,
        schema=(
            "pri string, rn int, day date, x_cents long, "
            "level_cents long, trend_cents long, forecast_cents long"
        ),
    )
    return out
