"""Analytics batch 18 (r12): sequential-structure and robust-fit
operators over the daily/weekly revenue series and customer balances —

- pacf_daily_revenue      partial autocorrelation (Durbin-Levinson to
                          lag 3) — the AR-order picker acf alone can't
                          be (acf of an AR(1) decays forever; pacf
                          cuts off at the true order)
- ts_motif_pairs          matrix-profile-lite: the closest pairs of
                          non-overlapping 7-day revenue windows under
                          exact integer squared distance — the motif
                          discovery primitive behind seasonality
                          forensics ("which two weeks looked most
                          alike")
- page_hinkley_drift      Page-Hinkley cumulative drift statistic on
                          daily revenue — the sequential mean-shift
                          alarm (CUSUM's running-mean twin, standard
                          in streaming drift detection)
- isotonic_weekly_trend   L2 isotonic regression of weekly revenue via
                          the exact minimax-of-averages formula — the
                          shape-constrained trend fit (monotone
                          regression is what "is revenue monotonically
                          growing, and where does it flatten" actually
                          asks)
- huber_irls_location     Huber M-estimator of customer balance
                          location, 3 unrolled IRLS rounds — the
                          robust mean the outlier tier (MAD, winsorize)
                          is missing
- vif_lineitem_features   variance inflation factors of the lineitem
                          regressor triple via the closed-form 3x3
                          correlation-matrix inverse — multicollinearity
                          screening before any OLS/ridge fit
- ridge_path_qty_discount ridge coefficient path over a lambda grid,
                          closed-form 2x2 normal equations — the
                          regularized companion of ols_qty_discount
- neyman_allocation_segments  optimal (Neyman) stratified sample
                          allocation by segment: n_h ∝ N_h * sigma_h —
                          the variance-optimal upgrade of
                          quota_sample_allocation

Exactness discipline (the acf/ols precedent): every moment is an
exact n-scaled BIGINT/DECIMAL(38,0) sum; doubles appear only in final
shared-text expressions (and dec_to_double_wide / the SQL twin for
128-bit casts), so the value hash is bitwise.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from tvbigdataproject_spark.queries._stable import (
    dec_to_double_wide,
    sql_huge_to_double_wide,
)
from tvbigdataproject_spark.queries.registry import query
from tvbigdataproject_spark.sources import read_table

# ------------------------------------------------------------- Q384

_PACF_CTE = f"""
    daily AS (
        SELECT date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS x,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
        FROM orders GROUP BY 1
    ),
    tot AS (SELECT COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS s FROM daily),
    dev AS (
        SELECT d.x, CAST(t.n AS BIGINT) * d.y - t.s AS e
        FROM daily d CROSS JOIN tot t
    ),
    den AS (
        SELECT CAST(SUM(CAST(e AS DECIMAL(38,0)) * CAST(e AS DECIMAL(38,0)))
                    AS DECIMAL(38,0)) AS den
        FROM dev
    ),
    lags AS (SELECT UNNEST(range(1, 4)) AS k),
    num AS (
        SELECT l.k,
               CAST(SUM(CAST(a.e AS DECIMAL(38,0)) * CAST(b.e AS DECIMAL(38,0)))
                    AS DECIMAL(38,0)) AS num
        FROM lags l
        JOIN dev a ON TRUE
        JOIN dev b ON b.x = a.x + l.k
        GROUP BY l.k
    ),
    r AS (
        SELECT MAX(CASE WHEN k = 1 THEN {sql_huge_to_double_wide('num')} END)
                   / MAX({sql_huge_to_double_wide('den')}) AS r1,
               MAX(CASE WHEN k = 2 THEN {sql_huge_to_double_wide('num')} END)
                   / MAX({sql_huge_to_double_wide('den')}) AS r2,
               MAX(CASE WHEN k = 3 THEN {sql_huge_to_double_wide('num')} END)
                   / MAX({sql_huge_to_double_wide('den')}) AS r3
        FROM num CROSS JOIN den
    )
"""

# Durbin-Levinson shared-text expressions (levels 2 and 3), written
# once and f-string-included in BOTH engines' final select so the
# double arithmetic is textually identical.
_PACF2 = "(r2 - r1 * r1) / (1.0 - r1 * r1)"
_PACF_P21 = f"(r1 - ({_PACF2}) * r1)"
_PACF3 = (
    f"(r3 - {_PACF_P21} * r2 - ({_PACF2}) * r1)"
    f" / (1.0 - {_PACF_P21} * r1 - ({_PACF2}) * r2)"
)
_PACF_SELECT = (
    "r1, r2, r3, "
    "r1 AS pacf1, "
    f"{_PACF2} AS pacf2, "
    f"{_PACF3} AS pacf3"
)


@query(
    "pacf_daily_revenue",
    sql=f"""
    WITH {_PACF_CTE}
    SELECT {_PACF_SELECT} FROM r
    """,
    tags=("analytics", "stats", "timeseries"),
)
def pacf_daily_revenue(spark, sf_dir):
    """Partial autocorrelation of daily order revenue at lags 1..3 via
    the Durbin-Levinson recursion — the AR-order picker: acf of an
    AR(p) process decays geometrically forever, pacf cuts to ~0 past
    lag p, so (acf, pacf) together identify the model order the
    forecasting tier (holt/ewma/mase) should assume.

    Exactness: r1..r3 reuse acf_daily_revenue's exact machinery
    (n-scaled BIGINT deviations, DECIMAL(38,0) cross-products, one
    wide-cast per number); the Durbin-Levinson levels are pure double
    arithmetic over those three inputs, spelled from ONE shared
    f-string in both engines, so every intermediate rounds
    identically.

    Scale shape: one orders scan pre-aggregates to the calendar-
    bounded day grid; the lag joins and the 1-row recursion are
    dim-bounded. Citation: reference has no statistics tier
    (bigdata/ holds 4 graph pipelines); this extends SURVEY.md §2's
    analytics family.
    """
    orders = read_table(spark, sf_dir, "orders")
    daily = (
        orders.groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "y"
            )
        )
        .select(
            F.datediff("day", F.lit("1992-01-01").cast("date")).alias("x"),
            "y",
        )
    )
    tot = daily.agg(F.count(F.lit(1)).alias("n"), F.sum("y").alias("s"))
    dev = daily.crossJoin(F.broadcast(tot)).select(
        "x", (F.col("n").cast("long") * F.col("y") - F.col("s")).alias("e")
    )
    ed = F.col("e").cast("decimal(38,0)")
    den = dev.agg(F.sum(ed * ed).cast("decimal(38,0)").alias("den"))
    lags = F.broadcast(
        spark.range(1, 4).select(F.col("id").cast("long").alias("k"))
    )
    a = dev.crossJoin(lags).select(
        "k", (F.col("x") + F.col("k")).alias("xk"), F.col("e").alias("ea")
    )
    b = dev.select(F.col("x").alias("xk"), F.col("e").alias("eb"))
    num = (
        a.join(b, "xk")
        .groupBy("k")
        .agg(
            F.sum(
                F.col("ea").cast("decimal(38,0)")
                * F.col("eb").cast("decimal(38,0)")
            )
            .cast("decimal(38,0)")
            .alias("num")
        )
    )
    rk = [
        F.max(
            F.when(F.col("k") == i, dec_to_double_wide(F.col("num")))
        )
        / F.max(dec_to_double_wide(F.col("den")))
        for i in (1, 2, 3)
    ]
    r = num.crossJoin(F.broadcast(den)).agg(
        rk[0].alias("r1"), rk[1].alias("r2"), rk[2].alias("r3")
    )
    return r.selectExpr(*_PACF_SELECT.split(", "))


# ------------------------------------------------------------- Q385

_MOTIF_TOPK = 10
_MOTIF_W = 7  # window length in days


def _motif_sql() -> str:
    leads_y = ", ".join(
        f"LEAD(y, {i}) OVER w AS y{i}" for i in range(1, _MOTIF_W)
    )
    lead_x = f"LEAD(x, {_MOTIF_W - 1}) OVER w AS x_end"
    dist = " + ".join(
        "CAST(a.y{i} - b.y{i} AS DECIMAL(38,0))"
        " * CAST(a.y{i} - b.y{i} AS DECIMAL(38,0))".format(i=i)
        for i in ["0"] + [str(i) for i in range(1, _MOTIF_W)]
    )
    return f"""
    WITH daily AS (
        SELECT date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS x,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
        FROM orders GROUP BY 1
    ),
    win AS (
        SELECT x, y AS y0, {leads_y}, {lead_x}
        FROM daily WINDOW w AS (ORDER BY x)
    ),
    full_win AS (
        SELECT * FROM win WHERE x_end = x + {_MOTIF_W - 1}
    ),
    pairs AS (
        SELECT a.x AS a_start, b.x AS b_start,
               CAST({dist} AS DECIMAL(38,0)) AS dist2
        FROM full_win a JOIN full_win b ON b.x >= a.x + {_MOTIF_W}
    )
    SELECT a_start, b_start,
           {sql_huge_to_double_wide('dist2')} AS dist2_d
    FROM pairs
    ORDER BY dist2, a_start, b_start
    LIMIT {_MOTIF_TOPK}
    """


@query(
    "ts_motif_pairs",
    sql=_motif_sql(),
    tags=("analytics", "timeseries", "motif"),
)
def ts_motif_pairs(spark, sf_dir):
    """Matrix-profile-lite motif discovery: the {k} closest pairs of
    NON-OVERLAPPING {w}-day daily-revenue windows under exact integer
    squared Euclidean distance — "which two disjoint weeks looked most
    alike", the motif primitive behind template mining and seasonality
    forensics (a strong weekly cycle makes aligned weeks near-
    duplicates; the top pairs name them).

    Exactness: window vectors are exact revenue cents; every distance
    is a DECIMAL(38,0) sum of 7 exact squared diffs (cents diffs reach
    ~1e13 at sf1 => squares ~1e26, past int64, inside decimal-128),
    ranked by the EXACT decimal before the one wide-cast to double.
    Complete windows only (the calendar LEAD must land exactly
    {w1} days ahead), so date gaps can't silently misalign vectors.

    Scale shape: the series pre-aggregates to the calendar-bounded day
    grid (one orders scan); windows come from {w1} LEADs over one
    ordered window spec; the pair space is day-grid-bounded (~3M pairs
    at 7 TPC-H years) REGARDLESS of corpus size — the classic trick of
    motif discovery on aggregated series; TakeOrdered returns the
    top-{k}.
    """
    orders = read_table(spark, sf_dir, "orders")
    daily = (
        orders.groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "y"
            )
        )
        .select(
            F.datediff("day", F.lit("1992-01-01").cast("date")).alias("x"),
            "y",
        )
    )
    w = Window.orderBy("x")
    cols = [F.col("x"), F.col("y").alias("y0")]
    for i in range(1, _MOTIF_W):
        cols.append(F.lead("y", i).over(w).alias(f"y{i}"))
    cols.append(F.lead("x", _MOTIF_W - 1).over(w).alias("x_end"))
    win = daily.select(*cols).where(
        F.col("x_end") == F.col("x") + (_MOTIF_W - 1)
    )
    # The global-window LEAD pass necessarily emits ONE partition, so
    # without intervention the ~|days|^2/2 pair sweep (3M decimal128
    # distance sums at 7 TPC-H years) streams through a single task
    # (measured r12: the whole 4.5 s of this query). The day grid is
    # calendar-bounded at ANY scale factor, so: spread the probe side
    # across the session's shuffle partitions (a trivial exchange of
    # <=~2500 rows) and pin the other side as the broadcast build it
    # already was — the quadratic sweep then runs at full parallelism.
    from tvbigdataproject_spark.operators.skew import shuffle_partition_count

    a = win.repartition(shuffle_partition_count(win), "x").alias("a")
    b = F.broadcast(win.alias("b"))
    dist = None
    for i in range(_MOTIF_W):
        d = (
            F.col(f"a.y{i}").cast("decimal(38,0)")
            - F.col(f"b.y{i}").cast("decimal(38,0)")
        )
        term = d * d
        dist = term if dist is None else dist + term
    pairs = (
        a.join(b, F.col("b.x") >= F.col("a.x") + _MOTIF_W)
        .select(
            F.col("a.x").alias("a_start"),
            F.col("b.x").alias("b_start"),
            dist.cast("decimal(38,0)").alias("dist2"),
        )
    )
    return (
        pairs.orderBy("dist2", "a_start", "b_start")
        .limit(_MOTIF_TOPK)
        .select(
            "a_start",
            "b_start",
            dec_to_double_wide(F.col("dist2")).alias("dist2_d"),
        )
    )


ts_motif_pairs.__doc__ = ts_motif_pairs.__doc__.format(
    k=_MOTIF_TOPK, w=_MOTIF_W, w1=_MOTIF_W - 1
)


# ------------------------------------------------------------- Q386

# Page-Hinkley: term_t = (x_t - delta) - mean(x_1..x_t); the running
# statistic m_T = sum of terms, alarm when m_T - min_{t<=T} m_t > lam.
# Each term is rounded ONCE to millicents (stable-sum discipline) so
# the cumulative sums are exact BIGINT and order-free.
_PH_DELTA_CENTS = 0
_PH_TERM = (
    f"CAST(ROUND((CAST(y - {_PH_DELTA_CENTS} AS DOUBLE)"
    " - CAST(s_run AS DOUBLE) / t_run) * 1000) AS BIGINT)"
)


@query(
    "page_hinkley_drift",
    sql=f"""
    WITH daily AS (
        SELECT date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS x,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
        FROM orders GROUP BY 1
    ),
    run AS (
        SELECT x, y,
               CAST(SUM(y) OVER (ORDER BY x) AS BIGINT) AS s_run,
               CAST(COUNT(*) OVER (ORDER BY x) AS BIGINT) AS t_run
        FROM daily
    ),
    terms AS (SELECT x, {_PH_TERM} AS term FROM run),
    ph AS (
        SELECT x,
               CAST(SUM(term) OVER (ORDER BY x) AS BIGINT) AS m
        FROM terms
    ),
    exc AS (
        SELECT x, m,
               m - MIN(m) OVER (ORDER BY x) AS excursion
        FROM ph
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(MAX(excursion) AS BIGINT) AS max_excursion_milli,
           CAST(MIN(CASE WHEN excursion = mx THEN x END) AS BIGINT)
               AS argmax_day
    FROM exc CROSS JOIN (SELECT MAX(excursion) AS mx FROM exc)
    """,
    tags=("analytics", "timeseries", "drift"),
)
def page_hinkley_drift(spark, sf_dir):
    """Page-Hinkley drift statistic over daily revenue: cumulative sum
    of (x_t - running mean), tracked against its own running minimum —
    the classic sequential mean-INCREASE detector (CUSUM watches
    deviation from a FIXED reference; Page-Hinkley re-centers on the
    running mean, which is what streaming drift monitors actually
    deploy). Reports the maximum excursion and the day it peaks.

    Exactness: s_run/t_run are exact BIGINT running sums; each PH term
    is rounded ONCE to millicents (the stable-sum discipline — the
    only double step is the shared-text running-mean subtraction), so
    the cumulative statistic and its running minimum are exact
    integers in both engines.

    Scale shape: one orders scan to the calendar-bounded day grid,
    then three ordered windows over <=2500 rows. The day-grid windows
    are single-partition by construction — bounded, not a skew risk.
    """
    orders = read_table(spark, sf_dir, "orders")
    daily = (
        orders.groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "y"
            )
        )
        .select(
            F.datediff("day", F.lit("1992-01-01").cast("date")).alias("x"),
            "y",
        )
    )
    w = Window.orderBy("x")
    run = daily.select(
        "x",
        "y",
        F.sum("y").over(w).cast("long").alias("s_run"),
        F.count(F.lit(1)).over(w).cast("long").alias("t_run"),
    )
    terms = run.select("x", F.expr(_PH_TERM).alias("term"))
    ph = terms.select(
        "x", F.sum("term").over(w).cast("long").alias("m")
    )
    exc = ph.select(
        "x", "m", (F.col("m") - F.min("m").over(w)).alias("excursion")
    )
    mx = exc.agg(F.max("excursion").alias("mx"))
    return exc.crossJoin(F.broadcast(mx)).agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.max("excursion").cast("long").alias("max_excursion_milli"),
        F.min(F.when(F.col("excursion") == F.col("mx"), F.col("x")))
        .cast("long")
        .alias("argmax_day"),
    )


# ------------------------------------------------------------- Q387


@query(
    "isotonic_weekly_trend",
    sql="""
    WITH weekly AS (
        SELECT date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) // 7 AS wk,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
        FROM orders GROUP BY 1
    ),
    pre AS (
        SELECT wk, y,
               CAST(SUM(y) OVER (ORDER BY wk) AS BIGINT) AS p
        FROM weekly
    ),
    idx AS (
        SELECT wk, ROW_NUMBER() OVER (ORDER BY wk) AS i, p
        FROM pre
    ),
    grid AS (
        SELECT a.i AS i, b.i AS j, a.wk AS wk_i, b.wk AS wk_j,
               CAST(b.p - a.p + (SELECT y FROM pre WHERE wk = a.wk)
                    AS DOUBLE) / (b.i - a.i + 1) AS avg_ij
        FROM idx a JOIN idx b ON b.i >= a.i
    ),
    inner_min AS (
        SELECT g.i, k.i AS k, MIN(g.avg_ij) AS m
        FROM grid g JOIN idx k ON k.i BETWEEN g.i AND g.j
        GROUP BY 1, 2
    ),
    fit AS (
        SELECT k, MAX(m) AS yhat FROM inner_min GROUP BY 1
    )
    SELECT CAST(idx.wk AS BIGINT) AS wk,
           CAST((SELECT y FROM pre WHERE pre.wk = idx.wk) AS BIGINT) AS y,
           fit.yhat AS yhat
    FROM fit JOIN idx ON idx.i = fit.k
    ORDER BY wk
    """,
    tags=("analytics", "stats", "regression"),
)
def isotonic_weekly_trend(spark, sf_dir):
    """L2 isotonic (monotone non-decreasing) regression of weekly
    revenue via the exact minimax characterization: yhat_k =
    max_{i<=k} min_{j>=k} avg(y_i..y_j) — the closed form whose
    sequential PAVA algorithm is just an efficient evaluation. Shape-
    constrained trend fitting answers "is the series monotonically
    growing and where does it flatten" without bandwidth/knot choices.

    Exactness: interval averages divide two exact BIGINTs (prefix-sum
    differences) in one shared-text double division; min/max over
    those doubles is order-free (selection, not accumulation), so the
    fit is bitwise reproducible.

    Scale shape: the series is calendar-bounded (~360 weeks), so the
    O(d^2) interval grid (~65k rows) and the O(d^3) minimax join
    (~8M rows) are CONSTANTS independent of corpus size — one orders
    scan is the only data-sized stage; everything after runs on the
    bounded grid (the ts_motif_pairs argument). The d^3 join shuffles
    on the interval index, partial-aggregating map-side.
    """
    orders = read_table(spark, sf_dir, "orders")
    weekly = (
        orders.groupBy(
            (
                F.datediff(
                    F.col("o_orderdate").cast("date"),
                    F.lit("1992-01-01").cast("date"),
                )
                / 7
            )
            .cast("long")
            .alias("wk")
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "y"
            )
        )
    )
    w = Window.orderBy("wk")
    pre = weekly.select(
        "wk",
        "y",
        F.sum("y").over(w).cast("long").alias("p"),
        F.row_number().over(w).alias("i"),
    )
    a = pre.select(
        F.col("i").alias("ia"),
        F.col("wk").alias("wk_i"),
        (F.col("p") - F.col("y")).alias("p_before"),
    )
    b = pre.select(F.col("i").alias("jb"), F.col("p").alias("p_j"))
    grid = a.join(b, F.col("jb") >= F.col("ia")).select(
        "ia",
        "jb",
        (
            (F.col("p_j") - F.col("p_before")).cast("double")
            / (F.col("jb") - F.col("ia") + 1)
        ).alias("avg_ij"),
    )
    ks = pre.select(F.col("i").alias("k"))
    inner_min = (
        grid.join(
            ks,
            (F.col("k") >= F.col("ia")) & (F.col("k") <= F.col("jb")),
        )
        .groupBy("ia", "k")
        .agg(F.min("avg_ij").alias("m"))
    )
    fit = inner_min.groupBy("k").agg(F.max("m").alias("yhat"))
    return (
        fit.join(pre, fit.k == pre.i)
        .select(
            F.col("wk").cast("long").alias("wk"),
            F.col("y").cast("long").alias("y"),
            "yhat",
        )
        .orderBy("wk")
    )


# ------------------------------------------------------------- Q388

_HUBER_C = 1000.0  # clipping scale in balance units (dollars)
_HUBER_ROUNDS = 3
_HUBER_SCALE = 10**6  # stable-sum rounding scale for weighted moments


def _huber_sql() -> str:
    # round 0 seed: plain mean from the exact cents sum
    ctes = [
        """base AS (
        SELECT CAST(ROUND(c_acctbal * 100) AS BIGINT) AS cents
        FROM customer
    )""",
        """m0 AS (
        SELECT CAST(SUM(cents) AS DOUBLE) / COUNT(*) / 100.0 AS mu
        FROM base
    )""",
    ]
    for r in range(_HUBER_ROUNDS):
        ctes.append(f"""m{r + 1} AS (
        SELECT CAST(SUM(CAST(ROUND(w * x * {_HUBER_SCALE}) AS BIGINT))
                    AS BIGINT) * 1.0
               / CAST(SUM(CAST(ROUND(w * {_HUBER_SCALE}) AS BIGINT))
                    AS BIGINT) AS mu
        FROM (
            SELECT CAST(cents AS DOUBLE) / 100.0 AS x,
                   CASE WHEN abs(CAST(cents AS DOUBLE) / 100.0 - m{r}.mu)
                             <= {_HUBER_C}
                        THEN 1.0
                        ELSE {_HUBER_C}
                             / abs(CAST(cents AS DOUBLE) / 100.0 - m{r}.mu)
                   END AS w
            FROM base CROSS JOIN m{r}
        )
    )""")
    sel = ", ".join(
        f"(SELECT mu FROM m{r}) AS mu{r}" for r in range(_HUBER_ROUNDS + 1)
    )
    return f"""
    WITH {', '.join(ctes)}
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM base) AS n, {sel}
    """


@query(
    "huber_irls_location",
    sql=_huber_sql(),
    tags=("analytics", "stats", "robust"),
)
def huber_irls_location(spark, sf_dir):
    """Huber M-estimator of customer balance location: {r} unrolled
    IRLS rounds, weights w = min(1, c/|x - mu|) with c = {c} — the
    robust mean between the outlier-blind average and the
    information-discarding median (completes the robust tier: MAD
    scales, winsorize clips, Huber DOWNWEIGHTS).

    Exactness: the seed mean divides two exact integers; each round's
    weighted sums round w*x and w ONCE at 1e6 scale and sum as BIGINT
    (the stable-sum discipline), so every mu_r is one shared-text
    division of exact integers and the whole recursion replays
    bit-for-bit in the oracle's unrolled CTE chain.

    Scale shape: {r} full passes over customer, each a scalar
    broadcast join + one partial-aggregated sum — the fixed-round
    iterative pattern (logistic_irls_fit precedent); no driver loop
    decisions, no per-row state.
    """
    cust = read_table(spark, sf_dir, "customer")
    base = cust.select(
        F.round(F.col("c_acctbal") * 100).cast("long").alias("cents")
    )
    n = base.agg(F.count(F.lit(1)).cast("long").alias("n"))
    mu = base.agg(
        (
            F.sum("cents").cast("double")
            / F.count(F.lit(1))
            / F.lit(100.0)
        ).alias("mu")
    )
    mus = [mu]
    for _ in range(_HUBER_ROUNDS):
        prev = mus[-1]
        x = F.col("cents").cast("double") / 100.0
        dev = F.abs(x - F.col("mu"))
        wcol = F.when(dev <= _HUBER_C, F.lit(1.0)).otherwise(
            F.lit(_HUBER_C) / dev
        )
        stepped = base.crossJoin(F.broadcast(prev)).select(
            x.alias("x"), wcol.alias("w")
        )
        nxt = stepped.agg(
            (
                F.sum(
                    F.round(F.col("w") * F.col("x") * _HUBER_SCALE).cast(
                        "long"
                    )
                )
                * F.lit(1.0)
                / F.sum(
                    F.round(F.col("w") * _HUBER_SCALE).cast("long")
                )
            ).alias("mu")
        )
        mus.append(nxt)
    out = n
    for r, m in enumerate(mus):
        out = out.crossJoin(
            F.broadcast(m.select(F.col("mu").alias(f"mu{r}")))
        )
    return out


huber_irls_location.__doc__ = huber_irls_location.__doc__.format(
    r=_HUBER_ROUNDS, c=_HUBER_C
)


# ------------------------------------------------------------- Q389

# correlations from exact n-scaled moments: r_ab = Sab / sqrt(Saa*Sbb)
# with Sab = n*sum(ab) - sum(a)*sum(b) (integer units: quantity as-is,
# discount/tax in hundredths).
_VIF_DET = (
    "1.0 + 2.0 * r12 * r13 * r23 - r12 * r12 - r13 * r13 - r23 * r23"
)
_VIF_SELECT = (
    "r12, r13, r23, "
    f"(1.0 - r23 * r23) / ({_VIF_DET}) AS vif_quantity, "
    f"(1.0 - r13 * r13) / ({_VIF_DET}) AS vif_discount, "
    f"(1.0 - r12 * r12) / ({_VIF_DET}) AS vif_tax"
)


def _vif_corr_sql(sa: str, sb: str, saa: str, sbb: str, sab: str) -> str:
    num = f"(CAST(n AS DECIMAL(38,0)) * {sab} - CAST({sa} AS DECIMAL(38,0)) * {sb})"
    da = f"(CAST(n AS DECIMAL(38,0)) * {saa} - CAST({sa} AS DECIMAL(38,0)) * {sa})"
    db = f"(CAST(n AS DECIMAL(38,0)) * {sbb} - CAST({sb} AS DECIMAL(38,0)) * {sb})"
    return (
        f"{sql_huge_to_double_wide(num)} / sqrt({sql_huge_to_double_wide(da)})"
        f" / sqrt({sql_huge_to_double_wide(db)})"
    )


@query(
    "vif_lineitem_features",
    sql=f"""
    WITH m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s1,
               CAST(SUM(CAST(ROUND(l_discount * 100) AS BIGINT)) AS BIGINT) AS s2,
               CAST(SUM(CAST(ROUND(l_tax * 100) AS BIGINT)) AS BIGINT) AS s3,
               CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS BIGINT) AS s11,
               CAST(SUM(CAST(ROUND(l_discount * 100) AS BIGINT) * CAST(ROUND(l_discount * 100) AS BIGINT)) AS BIGINT) AS s22,
               CAST(SUM(CAST(ROUND(l_tax * 100) AS BIGINT) * CAST(ROUND(l_tax * 100) AS BIGINT)) AS BIGINT) AS s33,
               CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(ROUND(l_discount * 100) AS BIGINT)) AS BIGINT) AS s12,
               CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(ROUND(l_tax * 100) AS BIGINT)) AS BIGINT) AS s13,
               CAST(SUM(CAST(ROUND(l_discount * 100) AS BIGINT) * CAST(ROUND(l_tax * 100) AS BIGINT)) AS BIGINT) AS s23
        FROM lineitem
    ),
    r AS (
        SELECT {_vif_corr_sql('s1', 's2', 's11', 's22', 's12')} AS r12,
               {_vif_corr_sql('s1', 's3', 's11', 's33', 's13')} AS r13,
               {_vif_corr_sql('s2', 's3', 's22', 's33', 's23')} AS r23
        FROM m
    )
    SELECT {_VIF_SELECT} FROM r
    """,
    tags=("analytics", "stats", "regression"),
)
def vif_lineitem_features(spark, sf_dir):
    """Variance inflation factors of the (quantity, discount, tax)
    regressor triple via the closed-form inverse of their 3x3
    correlation matrix — the multicollinearity screen that should
    precede any OLS/ridge fit on these features (VIF_j = [R^-1]_jj;
    VIF > 5-10 means coefficient variances are inflated and the
    fit's signs can flip).

    Exactness: all nine moments are exact integer sums (quantity
    integral; discount/tax in exact hundredths); each correlation is
    the n-scaled decimal formula with one wide-cast per 128-bit value
    and IEEE sqrt (correctly rounded in both engines); the cofactor
    arithmetic is a single shared-text expression.

    Scale shape: ONE lineitem scan producing a 1-row moment vector
    (all nine sums partial-aggregate map-side); everything after is
    constant-size arithmetic.
    """
    li = read_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("long")
    d = F.round(F.col("l_discount") * 100).cast("long")
    t = F.round(F.col("l_tax") * 100).cast("long")
    m = li.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(q).cast("long").alias("s1"),
        F.sum(d).cast("long").alias("s2"),
        F.sum(t).cast("long").alias("s3"),
        F.sum(q * q).cast("long").alias("s11"),
        F.sum(d * d).cast("long").alias("s22"),
        F.sum(t * t).cast("long").alias("s33"),
        F.sum(q * d).cast("long").alias("s12"),
        F.sum(q * t).cast("long").alias("s13"),
        F.sum(d * t).cast("long").alias("s23"),
    )

    def corr(sa, sb, saa, sbb, sab):
        dd = F.lit(None)  # placeholder never used
        num = (
            F.col("n").cast("decimal(38,0)") * F.col(sab)
            - F.col(sa).cast("decimal(38,0)") * F.col(sb)
        ).cast("decimal(38,0)")
        da = (
            F.col("n").cast("decimal(38,0)") * F.col(saa)
            - F.col(sa).cast("decimal(38,0)") * F.col(sa)
        ).cast("decimal(38,0)")
        db = (
            F.col("n").cast("decimal(38,0)") * F.col(sbb)
            - F.col(sb).cast("decimal(38,0)") * F.col(sb)
        ).cast("decimal(38,0)")
        return (
            dec_to_double_wide(num)
            / F.sqrt(dec_to_double_wide(da))
            / F.sqrt(dec_to_double_wide(db))
        )

    r = m.select(
        corr("s1", "s2", "s11", "s22", "s12").alias("r12"),
        corr("s1", "s3", "s11", "s33", "s13").alias("r13"),
        corr("s2", "s3", "s22", "s33", "s23").alias("r23"),
    )
    return r.selectExpr(*_VIF_SELECT.split(", "))


# ------------------------------------------------------------- Q390

_RIDGE_LAMBDAS = (0.0, 0.1, 1.0, 10.0)
# centered 2x2 ridge: beta = (C + lam*I)^-1 c_y where C is the
# covariance matrix (n-scaled moments / n / n) and c_y the covariance
# with the target, all in original units.
_RIDGE_SELECT = (
    "lam, "
    "(c1y * (c22 + lam) - c2y * c12) / ((c11 + lam) * (c22 + lam) - c12 * c12)"
    " AS beta_qty, "
    "(c2y * (c11 + lam) - c1y * c12) / ((c11 + lam) * (c22 + lam) - c12 * c12)"
    " AS beta_disc"
)


def _ridge_cov(sab: str, sa: str, sb: str) -> str:
    num = (
        f"(CAST(n AS DECIMAL(38,0)) * {sab}"
        f" - CAST({sa} AS DECIMAL(38,0)) * {sb})"
    )
    return (
        f"({sql_huge_to_double_wide(num)}"
        " / CAST(n AS DOUBLE) / CAST(n AS DOUBLE))"
    )


@query(
    "ridge_path_qty_discount",
    sql=f"""
    WITH m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s1,
               CAST(SUM(CAST(ROUND(l_discount * 100) AS BIGINT)) AS BIGINT) AS s2,
               CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sy,
               CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS BIGINT) AS s11,
               CAST(SUM(CAST(ROUND(l_discount * 100) AS BIGINT) * CAST(ROUND(l_discount * 100) AS BIGINT)) AS BIGINT) AS s22,
               CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(ROUND(l_discount * 100) AS BIGINT)) AS BIGINT) AS s12,
               CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS s1y,
               CAST(SUM(CAST(ROUND(l_discount * 100) AS BIGINT) * CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS s2y
        FROM lineitem
    ),
    cov AS (
        SELECT {_ridge_cov('s11', 's1', 's1')} AS c11,
               {_ridge_cov('s22', 's2', 's2')} AS c22,
               {_ridge_cov('s12', 's1', 's2')} AS c12,
               {_ridge_cov('s1y', 's1', 'sy')} AS c1y,
               {_ridge_cov('s2y', 's2', 'sy')} AS c2y
        FROM m
    ),
    lams AS (SELECT UNNEST([{', '.join(str(v) for v in _RIDGE_LAMBDAS)}]) AS lam)
    SELECT {_RIDGE_SELECT}
    FROM cov CROSS JOIN lams
    ORDER BY lam
    """,
    tags=("analytics", "stats", "regression"),
)
def ridge_path_qty_discount(spark, sf_dir):
    """Ridge coefficient path for extendedprice ~ (quantity, discount)
    over the lambda grid {lams}: closed-form 2x2 centered normal
    equations (C + lam*I)^-1 c_y — the regularized companion of
    ols_qty_discount, showing how shrinkage moves each coefficient
    (the lam=0 row IS the OLS solution, a built-in cross-check).

    Exactness: the five covariance cells come from exact n-scaled
    decimal moments (quantity integral; discount/price in exact
    hundredths), each wide-cast once; the solve is one shared-text
    expression per coefficient over those doubles, identical per
    lambda row. UNITS ARE PART OF THE SPEC: ridge is not scale-
    invariant, so the fit is defined in the exact-integer moment
    space — price in CENTS, discount in HUNDREDTHS (beta_qty is
    cents-per-unit-quantity; divide by 100 for dollars;
    tests/test_round12.py replays the same scaling through numpy).

    Scale shape: ONE lineitem scan -> 1-row moment vector (map-side
    partial aggregation), then a 4-row lambda grid cross join of
    constant-size arithmetic.
    """
    li = read_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("long")
    d = F.round(F.col("l_discount") * 100).cast("long")
    y = F.round(F.col("l_extendedprice") * 100).cast("long")
    m = li.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(q).cast("long").alias("s1"),
        F.sum(d).cast("long").alias("s2"),
        F.sum(y).cast("long").alias("sy"),
        F.sum(q * q).cast("long").alias("s11"),
        F.sum(d * d).cast("long").alias("s22"),
        F.sum(q * d).cast("long").alias("s12"),
        F.sum(q * y).cast("long").alias("s1y"),
        F.sum(d * y).cast("long").alias("s2y"),
    )

    def cov(sab, sa, sb):
        num = (
            F.col("n").cast("decimal(38,0)") * F.col(sab)
            - F.col(sa).cast("decimal(38,0)") * F.col(sb)
        ).cast("decimal(38,0)")
        return (
            dec_to_double_wide(num)
            / F.col("n").cast("double")
            / F.col("n").cast("double")
        )

    covs = m.select(
        cov("s11", "s1", "s1").alias("c11"),
        cov("s22", "s2", "s2").alias("c22"),
        cov("s12", "s1", "s2").alias("c12"),
        cov("s1y", "s1", "sy").alias("c1y"),
        cov("s2y", "s2", "sy").alias("c2y"),
    )
    # a JVM literal table (createDataFrame would start Python workers)
    rows = ", ".join(f"({v!r}D)" for v in _RIDGE_LAMBDAS)
    lams = F.broadcast(spark.sql(f"SELECT * FROM VALUES {rows} AS lams(lam)"))
    return (
        covs.crossJoin(lams)
        .selectExpr(*_RIDGE_SELECT.split(", "))
        .orderBy("lam")
    )


ridge_path_qty_discount.__doc__ = ridge_path_qty_discount.__doc__.format(
    lams=_RIDGE_LAMBDAS
)


# ------------------------------------------------------------- Q391

_NEYMAN_BUDGET = 10_000


@query(
    "neyman_allocation_segments",
    sql=f"""
    WITH m AS (
        SELECT c_mktsegment AS segment,
               CAST(COUNT(*) AS BIGINT) AS nh,
               CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS s,
               CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)
                        * CAST(ROUND(c_acctbal * 100) AS BIGINT))
                    AS DECIMAL(38,0)) AS ss
        FROM customer GROUP BY 1
    ),
    sig AS (
        SELECT segment, nh,
               sqrt({sql_huge_to_double_wide(
                   '(CAST(nh AS DECIMAL(38,0)) * ss - CAST(s AS DECIMAL(38,0)) * s)'
               )}) / CAST(nh AS DOUBLE) / 100.0 AS sigma
        FROM m
    ),
    tot AS (SELECT SUM(CAST(nh AS DOUBLE) * sigma) AS z FROM sig)
    SELECT segment, nh AS stratum_size, sigma,
           CAST(nh AS DOUBLE) * sigma / z AS share,
           CAST(ROUND({_NEYMAN_BUDGET} * CAST(nh AS DOUBLE) * sigma / z)
                AS BIGINT) AS n_alloc
    FROM sig CROSS JOIN tot
    ORDER BY segment
    """,
    tags=("analytics", "sampling"),
)
def neyman_allocation_segments(spark, sf_dir):
    """Neyman-optimal stratified sample allocation of a {b}-row budget
    across market segments: n_h = budget * N_h*sigma_h / sum(N_g*
    sigma_g) — the variance-minimizing upgrade of proportional/quota
    allocation (quota_sample_allocation): high-variance strata earn
    more than their headcount share. Per-stratum rounding is
    independent (documented: allocations can sum to budget +/- a few;
    largest-remainder reconciliation is a presentation choice).

    Exactness: per-stratum moments are exact integer/decimal sums;
    sigma is one wide-cast + IEEE sqrt; the 5-row share arithmetic is
    shared text. The z total sums 5 doubles — order-free because the
    5-row aggregate is a single partition in both engines at any SF
    (segments are a bounded dimension).

    Scale shape: one customer scan to a 5-row moment table; broadcast
    scalar; bounded output.
    """
    cust = read_table(spark, sf_dir, "customer")
    cents = F.round(F.col("c_acctbal") * 100).cast("long")
    m = cust.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).cast("long").alias("nh"),
        F.sum(cents).cast("long").alias("s"),
        F.sum(cents.cast("decimal(38,0)") * cents)
        .cast("decimal(38,0)")
        .alias("ss"),
    )
    nvar = (
        F.col("nh").cast("decimal(38,0)") * F.col("ss")
        - F.col("s").cast("decimal(38,0)") * F.col("s")
    ).cast("decimal(38,0)")
    sig = m.select(
        "segment",
        "nh",
        (
            F.sqrt(dec_to_double_wide(nvar))
            / F.col("nh").cast("double")
            / F.lit(100.0)
        ).alias("sigma"),
    )
    tot = sig.agg(
        F.sum(F.col("nh").cast("double") * F.col("sigma")).alias("z")
    )
    return (
        sig.crossJoin(F.broadcast(tot))
        .select(
            "segment",
            F.col("nh").alias("stratum_size"),
            "sigma",
            (F.col("nh").cast("double") * F.col("sigma") / F.col("z")).alias(
                "share"
            ),
            F.round(
                _NEYMAN_BUDGET
                * F.col("nh").cast("double")
                * F.col("sigma")
                / F.col("z")
            )
            .cast("long")
            .alias("n_alloc"),
        )
        .orderBy("segment")
    )


neyman_allocation_segments.__doc__ = (
    neyman_allocation_segments.__doc__.format(b=_NEYMAN_BUDGET)
)
