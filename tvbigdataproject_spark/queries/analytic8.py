"""Statistical analytics, batch 8: rank correlation, serial
correlation, and digit-law auditing.

- spearman_rank_corr   Spearman rho between per-customer order
                       frequency and monetary total — Pearson over
                       tie-averaged DOUBLED ranks, both rank
                       transforms computed by the bucket-decomposed
                       cumulative-sum (no global data window)
- kendall_tau_daily    Kendall tau-b concordance between daily event
                       value and daily event count, per event type —
                       pure integer pair sign counts on the
                       calendar-bounded day grain
- acf_daily_revenue    lag-1..7 autocorrelation of daily order revenue
                       with n-scaled integer deviations (no rational
                       mean), DECIMAL(38,0)-exact sums
- benford_price_audit  first-digit distribution of order totals vs
                       Benford's law — integer power-ladder digit
                       extraction, cross-multiplied expected counts

Cross-engine exactness: ranks are doubled integers (the mann_whitney_u
convention); Kendall counts are integer sign buckets; ACF deviations
are n*x - S integers summed in DECIMAL(38,0) (their squares overflow
BIGINT at this grain — the betweenness-promotion precedent); Benford's
expected probabilities are literal parts-per-million integers
(301030..45757, summing to exactly 1e6). Every double is one fixed
expression over already-agreed exact values.

Reference parity: beyond-reference statistics tier (SURVEY.md §2 stops
at grouped aggregates); sits beside mann_whitney_u / theil_sen_slope /
mann_kendall_trend.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from tvbigdataproject_spark.queries._stable import (
    dec_to_double_wide,
    sql_huge_to_double,
    sql_huge_to_double_wide,
)
from tvbigdataproject_spark.queries.registry import query
from tvbigdataproject_spark.sources import read_table

# Spearman monetary ranks: per-customer lifetime spend in cents tops
# out near 6e7, so width 2^22 keeps the offsets table <= ~few dozen
# rows at ANY row count (bucket count is a function of the spend
# DOMAIN, which grows with order COUNT per customer, not corpus size).
_SP_W = 1 << 22


def _doubled_ranks(vals, col: str, bucket_width: int):
    """(value, n_v) -> (value, r2) where r2 = doubled tie-averaged rank
    = 2*(rows before value) + n_v + 1. The global cumulative decomposes
    into range buckets: one bounded window over bucket totals + one
    window partitioned BY bucket — the mann_whitney_u machinery."""
    v = vals.withColumn("_b", F.expr(f"{col} div {bucket_width}"))
    bucket_tot = v.groupBy("_b").agg(F.sum("n_v").alias("_t"))
    w_off = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)
    offsets = bucket_tot.select(
        "_b",
        F.coalesce(F.sum("_t").over(w_off), F.lit(0).cast("long")).alias("_off"),
    )
    w_in = (
        Window.partitionBy("_b")
        .orderBy(col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        v.join(F.broadcast(offsets), "_b")
        .select(
            col,
            "n_v",
            (
                2 * (F.col("_off") + F.coalesce(F.sum("n_v").over(w_in), F.lit(0)))
                + F.col("n_v")
                + 1
            ).alias("r2"),
        )
        .drop("n_v")
    )


_SP_RHO = (
    "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / "
    "(sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * "
    "sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))"
)


@query(
    "spearman_rank_corr",
    sql=f"""
    WITH base AS (
        SELECT o_custkey,
               COUNT(*) AS f,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS m
        FROM orders GROUP BY 1
    ),
    fv AS (SELECT f, COUNT(*) AS n_v FROM base GROUP BY 1),
    fr AS (
        SELECT f,
               2 * CAST(COALESCE(SUM(n_v) OVER (
                   ORDER BY f ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) + n_v + 1 AS r2
        FROM fv
    ),
    mv AS (SELECT m, COUNT(*) AS n_v FROM base GROUP BY 1),
    mr AS (
        SELECT m,
               2 * CAST(COALESCE(SUM(n_v) OVER (
                   ORDER BY m ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) + n_v + 1 AS r2
        FROM mv
    ),
    ranked AS (
        SELECT fr.r2 AS rx, mr.r2 AS ry
        FROM base JOIN fr ON base.f = fr.f JOIN mr ON base.m = mr.m
    ),
    s AS (
        SELECT COUNT(*) AS n,
               CAST(SUM(rx) AS BIGINT) AS sx, CAST(SUM(ry) AS BIGINT) AS sy,
               CAST(SUM(rx * rx) AS BIGINT) AS sxx,
               CAST(SUM(ry * ry) AS BIGINT) AS syy,
               CAST(SUM(rx * ry) AS BIGINT) AS sxy
        FROM ranked
    )
    SELECT n, sx, sy, sxx, syy, sxy, {_SP_RHO} AS rho
    FROM s
    """,
    tags=("analytics", "stats", "ranktest"),
)
def spearman_rank_corr(spark, sf_dir):
    """Spearman rank correlation between order FREQUENCY and MONETARY
    total per customer (are frequent buyers also big spenders, monotone
    version) — Pearson over tie-averaged ranks, ranks carried DOUBLED
    so everything before the final rho stays integer-exact.

    Scale shape: both rank transforms avoid any global data window.
    Frequency values collapse to their (bounded) value domain first;
    monetary cents decompose into range buckets (offsets bounded by
    the spend domain / 2^22), then rank lookup is an equi-join back on
    the value. The six moment sums are one map-side-combined aggregate.
    BIGINT bound: sums are <= 4n^3 — exact to n ~ 1.3e6 customers; at
    larger n promote to DECIMAL(38,0) (the betweenness precedent).
    """
    orders = read_table(spark, sf_dir, "orders")
    base = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("f"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("m"),
    )
    fv = base.groupBy("f").agg(F.count(F.lit(1)).alias("n_v"))
    # frequency domain is tiny (<= ~50 distinct order counts): a single
    # bounded window over the VALUE table is the degenerate one-bucket
    # case of the decomposition
    w_f = Window.orderBy("f").rowsBetween(Window.unboundedPreceding, -1)
    fr = fv.select(
        "f",
        (
            2 * F.coalesce(F.sum("n_v").over(w_f), F.lit(0).cast("long"))
            + F.col("n_v")
            + 1
        ).alias("r2"),
    )
    mv = base.groupBy("m").agg(F.count(F.lit(1)).alias("n_v"))
    mr = _doubled_ranks(mv, "m", _SP_W).withColumnRenamed("r2", "r2_m")
    ranked = (
        base.join(F.broadcast(fr), "f")
        .join(mr, "m")
        .select(F.col("r2").alias("rx"), F.col("r2_m").alias("ry"))
    )
    s = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("rx").alias("sx"),
        F.sum("ry").alias("sy"),
        F.sum(F.col("rx") * F.col("rx")).alias("sxx"),
        F.sum(F.col("ry") * F.col("ry")).alias("syy"),
        F.sum(F.col("rx") * F.col("ry")).alias("sxy"),
    )
    return s.select("n", "sx", "sy", "sxx", "syy", "sxy", F.expr(_SP_RHO).alias("rho"))


_KT_TAU = (
    "CAST(nc - nd AS DOUBLE) / "
    "(sqrt(CAST(nc + nd + tx AS DOUBLE)) * sqrt(CAST(nc + nd + ty AS DOUBLE)))"
)


@query(
    "kendall_tau_daily",
    sql=f"""
    WITH daily AS (
        SELECT event_type,
               date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS x,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS v,
               COUNT(*) AS c
        FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    p AS (
        SELECT a.event_type,
               CASE WHEN (b.v - a.v) * (b.c - a.c) > 0 THEN 1 ELSE 0 END AS conc,
               CASE WHEN (b.v - a.v) * (b.c - a.c) < 0 THEN 1 ELSE 0 END AS disc,
               CASE WHEN b.v = a.v AND b.c <> a.c THEN 1 ELSE 0 END AS tiex,
               CASE WHEN b.c = a.c AND b.v <> a.v THEN 1 ELSE 0 END AS tiey,
               CASE WHEN b.v = a.v AND b.c = a.c THEN 1 ELSE 0 END AS tieb
        FROM daily a JOIN daily b
          ON a.event_type = b.event_type AND a.x < b.x
    ),
    s AS (
        SELECT event_type,
               CAST(SUM(conc) AS BIGINT) AS nc, CAST(SUM(disc) AS BIGINT) AS nd,
               CAST(SUM(tiex) AS BIGINT) AS tx, CAST(SUM(tiey) AS BIGINT) AS ty,
               CAST(SUM(tieb) AS BIGINT) AS tb
        FROM p GROUP BY 1
    )
    SELECT event_type, nc, nd, tx, ty, tb, {_KT_TAU} AS tau_b
    FROM s
    """,
    tags=("analytics", "stats", "ranktest"),
)
def kendall_tau_daily(spark, sf_dir):
    """Kendall tau-b between daily total event value and daily event
    count, per event type — the pairwise-concordance alternative to
    Spearman (no ranks at all: every pair of days contributes one
    integer sign, so ties need no averaging convention).

    Scale shape: the quadratic is over the calendar-bounded (type, day)
    grain — theil_sen_slope's proven join shape (equi on type, residual
    day<day: a shuffle join with residual, never a cartesian) — so at
    100 TB the event stream pays one pre-aggregation scan and the pair
    space is constant. tau-b denominator uses the pair-count form
    sqrt((nc+nd+tx)(nc+nd+ty)) with tx/ty tied-in-one-variable-only.
    """
    ev = read_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("v"),
            F.count(F.lit(1)).alias("c"),
        )
        .select(
            "event_type",
            F.datediff("day", F.lit("2024-01-01").cast("date")).alias("x"),
            "v",
            "c",
        )
    )
    a = daily.select(
        "event_type",
        F.col("x").alias("xa"),
        F.col("v").alias("va"),
        F.col("c").alias("ca"),
    )
    b = daily.select(
        "event_type",
        F.col("x").alias("xb"),
        F.col("v").alias("vb"),
        F.col("c").alias("cb"),
    )
    dv = F.col("vb") - F.col("va")
    dc = F.col("cb") - F.col("ca")
    p = (
        a.join(b, "event_type")
        .where(F.col("xa") < F.col("xb"))
        .select(
            "event_type",
            F.when(dv * dc > 0, 1).otherwise(0).alias("conc"),
            F.when(dv * dc < 0, 1).otherwise(0).alias("disc"),
            F.when((dv == 0) & (dc != 0), 1).otherwise(0).alias("tiex"),
            F.when((dc == 0) & (dv != 0), 1).otherwise(0).alias("tiey"),
            F.when((dv == 0) & (dc == 0), 1).otherwise(0).alias("tieb"),
        )
    )
    s = p.groupBy("event_type").agg(
        F.sum("conc").alias("nc"),
        F.sum("disc").alias("nd"),
        F.sum("tiex").alias("tx"),
        F.sum("tiey").alias("ty"),
        F.sum("tieb").alias("tb"),
    )
    return s.select(
        "event_type", "nc", "nd", "tx", "ty", "tb", F.expr(_KT_TAU).alias("tau_b")
    )


_ACF_MAX_LAG = 7


@query(
    "acf_daily_revenue",
    sql=f"""
    WITH daily AS (
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
    lags AS (SELECT UNNEST(range(1, {_ACF_MAX_LAG + 1})) AS k),
    num AS (
        SELECT l.k,
               CAST(SUM(CAST(a.e AS DECIMAL(38,0)) * CAST(b.e AS DECIMAL(38,0)))
                    AS DECIMAL(38,0)) AS num,
               COUNT(*) AS n_pairs
        FROM lags l
        JOIN dev a ON TRUE
        JOIN dev b ON b.x = a.x + l.k
        GROUP BY l.k
    )
    SELECT CAST(k AS INT) AS k, n_pairs,
           {sql_huge_to_double_wide('num')} AS num_d,
           {sql_huge_to_double_wide('den')} AS den_d,
           {sql_huge_to_double_wide('num')}
               / {sql_huge_to_double_wide('den')} AS acf
    FROM num CROSS JOIN den
    ORDER BY k
    """,
    tags=("analytics", "stats", "timeseries"),
)
def acf_daily_revenue(spark, sf_dir):
    """Lag-1..7 autocorrelation of daily order revenue — the
    seasonality detector behind dow_seasonal_anomaly (a weekly cycle
    shows as an acf peak at k=7).

    Exactness: deviations are n*y_t - S (n-scaled, so the mean never
    becomes a rational); their products overflow BIGINT at this grain
    (~(3.5e12)^2), so the sums run in DECIMAL(38,0) — exact, the
    betweenness-promotion precedent — and each final double is one
    cast of an exact decimal. Lag pairing is an EQUI-join on
    x + k = x' over the calendar-bounded day grain (missing days
    simply contribute no pair at that lag — documented semantics).

    Scale shape: one pre-aggregation scan of orders; everything after
    runs on the bounded day grid. The one-row totals and the one-row
    denominator attach by broadcast.
    """
    orders = read_table(spark, sf_dir, "orders")
    daily = (
        orders.groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("y"))
        .select(
            F.datediff("day", F.lit("1992-01-01").cast("date")).alias("x"),
            "y",
        )
    )
    tot = daily.agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("s")
    )
    dev = daily.crossJoin(F.broadcast(tot)).select(
        "x", (F.col("n").cast("long") * F.col("y") - F.col("s")).alias("e")
    )
    ed = F.col("e").cast("decimal(38,0)")
    den = dev.agg(F.sum(ed * ed).cast("decimal(38,0)").alias("den"))
    lags = F.broadcast(
        dev.sparkSession.range(1, _ACF_MAX_LAG + 1).select(
            F.col("id").cast("long").alias("k")
        )
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
            .alias("num"),
            F.count(F.lit(1)).alias("n_pairs"),
        )
    )
    return (
        num.crossJoin(F.broadcast(den))
        .select(
            F.col("k").cast("int").alias("k"),
            "n_pairs",
            # den ~ 1e32 at sf1 exceeds the narrow split-cast bound, so
            # both engines spell the identical wide 3-limb conversion
            dec_to_double_wide(F.col("num")).alias("num_d"),
            dec_to_double_wide(F.col("den")).alias("den_d"),
            (
                dec_to_double_wide(F.col("num"))
                / dec_to_double_wide(F.col("den"))
            ).alias("acf"),
        )
        .orderBy("k")
    )


# Benford P(d) in exact parts-per-million; sums to exactly 1_000_000.
_BENFORD_PPM = (301030, 176091, 124939, 96910, 79181, 66947, 57992, 51153, 45757)
# o_totalprice cents < 10^9: a 9-step literal power ladder extracts the
# leading digit in pure integer arithmetic (no float log10, no string
# formatting — both engines compare the same integers). Integer
# division spells `//` in DuckDB and `div` in Spark SQL; positive
# operands make the two identical.


def _pow_ladder(idiv: str) -> str:
    return " ".join(
        f"WHEN cents >= {10**p} THEN cents {idiv} {10**p}"
        for p in range(8, 0, -1)
    )


@query(
    "benford_price_audit",
    sql=f"""
    WITH c AS (
        SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents FROM orders
    ),
    d AS (
        SELECT CASE {_pow_ladder('//')} ELSE cents END AS digit
        FROM c WHERE cents >= 1
    ),
    obs AS (SELECT CAST(digit AS INT) AS digit, COUNT(*) AS observed FROM d GROUP BY 1),
    exp AS (
        SELECT UNNEST(range(1, 10)) AS digit,
               UNNEST([{", ".join(str(p) for p in _BENFORD_PPM)}]) AS ppm
    ),
    tot AS (SELECT CAST(SUM(observed) AS BIGINT) AS total FROM obs)
    SELECT CAST(e.digit AS INT) AS digit,
           CAST(COALESCE(o.observed, 0) AS BIGINT) AS observed,
           t.total,
           CAST(e.ppm AS BIGINT) AS expected_ppm,
           CAST(COALESCE(o.observed, 0) * 1000000 - t.total * e.ppm AS BIGINT)
               AS dev_ppm_scaled,
           CAST(COALESCE(o.observed, 0) * 1000000 - t.total * e.ppm AS DOUBLE)
               * CAST(COALESCE(o.observed, 0) * 1000000 - t.total * e.ppm AS DOUBLE)
               / (1000000.0 * CAST(t.total AS DOUBLE) * CAST(e.ppm AS DOUBLE))
               AS chi2_contrib
    FROM exp e
    LEFT JOIN obs o ON e.digit = o.digit
    CROSS JOIN tot t
    ORDER BY digit
    """,
    tags=("analytics", "dq", "stats"),
)
def benford_price_audit(spark, sf_dir):
    """First-digit (Benford's law) audit of order totals — the classic
    fabricated-data / pricing-anomaly screen: observed leading-digit
    counts vs the log10(1+1/d) expectation, with exact integer
    deviations and per-digit chi-square contributions.

    Exactness: the leading digit comes from a literal integer power
    ladder (cents div 10^p), never float log10 or string formatting;
    expected probabilities are literal parts-per-million integers
    summing to exactly 1e6; the deviation observed*1e6 - total*ppm is
    exact BIGINT and the chi-square contribution is one fixed double
    expression over those integers.

    Scale shape: one scan, 9-row output; the digit extraction is
    scan-local codegen and the one-row total attaches by broadcast.
    """
    orders = read_table(spark, sf_dir, "orders")
    c = orders.select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents")
    )
    ladder = "CASE " + _pow_ladder("div") + " ELSE cents END"
    obs = (
        # cents < 1 has no leading digit in 1..9: excluding it here keeps
        # observed and total over the SAME population (round-8 advice —
        # a zero/negative total would otherwise count in `total` but
        # never join the 1..9 expectation, skewing every chi2 term)
        c.filter(F.col("cents") >= 1)
        .select(F.expr(ladder).cast("int").alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("observed"))
    )
    # a JVM literal table (createDataFrame would start Python workers)
    rows = ", ".join(f"({d + 1}, {p}L)" for d, p in enumerate(_BENFORD_PPM))
    exp = obs.sparkSession.sql(f"SELECT * FROM VALUES {rows} AS exp(digit, ppm)")
    tot = obs.agg(F.sum("observed").cast("long").alias("total"))
    dev = F.coalesce(F.col("observed"), F.lit(0)) * 1000000 - F.col(
        "total"
    ) * F.col("ppm")
    return (
        F.broadcast(exp)
        .join(obs, "digit", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("digit").cast("int").alias("digit"),
            F.coalesce(F.col("observed"), F.lit(0)).cast("long").alias("observed"),
            "total",
            F.col("ppm").cast("long").alias("expected_ppm"),
            dev.cast("long").alias("dev_ppm_scaled"),
            (
                dev.cast("double")
                * dev.cast("double")
                / (
                    F.lit(1000000.0)
                    * F.col("total").cast("double")
                    * F.col("ppm").cast("double")
                )
            ).alias("chi2_contrib"),
        )
        .orderBy("digit")
    )


# Two-predictor OLS: the 9 moment sums are exact BIGINTs; the centered
# normal-equation determinants multiply sums of sums (~1e20..1e35), so
# the Cramer arithmetic runs in 128-bit exact integers — HUGEINT in
# DuckDB, DECIMAL(38,0) in Spark (DuckDB binds decimal*decimal at
# p1+p2 > 38 to an error, so the spellings differ; the VALUES are the
# same exact integers). Bound: |num1| <= ~1e35 < 10^38 at sf0.1;
# larger corpora need the sums themselves demoted to per-partition
# partials first (documented).
def _ols_cramer(cast128: str) -> dict[str, str]:
    """The three Cramer combinations as named 128-bit expressions;
    callers bind them to columns FIRST and then apply the wide
    (|v| ~ 1e35) deterministic double conversion to the plain column
    refs — sql_huge_to_double_wide / dec_to_double_wide twins."""
    c = lambda e: f"CAST({e} AS {cast128})"  # noqa: E731
    a11 = f"({c('n')} * {c('s11')} - {c('s1')} * {c('s1')})"
    a12 = f"({c('n')} * {c('s12')} - {c('s1')} * {c('s2')})"
    a22 = f"({c('n')} * {c('s22')} - {c('s2')} * {c('s2')})"
    b1 = f"({c('n')} * {c('s1y')} - {c('s1')} * {c('sy')})"
    b2 = f"({c('n')} * {c('s2y')} - {c('s2')} * {c('sy')})"
    det = f"({a11} * {a22} - {a12} * {a12})"
    num1 = f"({b1} * {a22} - {b2} * {a12})"
    num2 = f"({a11} * {b2} - {a12} * {b1})"
    return {"num1": num1, "num2": num2, "det": det}


_OLS_H = _ols_cramer("HUGEINT")


@query(
    "ols_qty_discount",
    sql=f"""
    WITH b AS (
        SELECT CAST(ROUND(l_quantity) AS BIGINT) AS x1,
               CAST(ROUND(l_discount * 100) AS BIGINT) AS x2,
               CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS y
        FROM lineitem
    ),
    m AS (
        SELECT COUNT(*) AS n,
               CAST(SUM(x1) AS BIGINT) AS s1, CAST(SUM(x2) AS BIGINT) AS s2,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x1 * x1) AS BIGINT) AS s11,
               CAST(SUM(x2 * x2) AS BIGINT) AS s22,
               CAST(SUM(x1 * x2) AS BIGINT) AS s12,
               CAST(SUM(x1 * y) AS BIGINT) AS s1y,
               CAST(SUM(x2 * y) AS BIGINT) AS s2y
        FROM b
    ),
    cr AS (
        SELECT n, s1, s2, sy, s11, s22, s12, s1y, s2y,
               {_OLS_H['num1']} AS num1, {_OLS_H['num2']} AS num2,
               {_OLS_H['det']} AS det
        FROM m
    )
    SELECT n, s1, s2, sy, s11, s22, s12, s1y, s2y,
           {sql_huge_to_double_wide('num1')}
               / {sql_huge_to_double_wide('det')} AS beta_qty,
           {sql_huge_to_double_wide('num2')}
               / {sql_huge_to_double_wide('det')} AS beta_discount
    FROM cr
    """,
    tags=("analytics", "stats", "regression"),
)
def ols_qty_discount(spark, sf_dir):
    """Two-predictor ordinary least squares, closed form: extended
    price (cents) regressed on quantity and discount points over all
    lineitems — beta_qty recovers the average unit price, and
    beta_discount tests whether discounts co-move with price after
    controlling for quantity (trend_slope_by_type is the one-predictor
    sibling; this is the smallest multiple regression, solved by
    Cramer's rule on the centered normal equations).

    Exactness: the 9 moment sums are one map-side-combined aggregate of
    exact BIGINTs; the Cramer determinants run in exact 128-bit
    integers (HUGEINT / DECIMAL(38,0) — same values, per-engine
    spelling); each beta is one division of two exactly-agreed
    integers cast to double. The betas are definitionally exact — no
    iterative solver, no float accumulation anywhere.

    Scale shape: one scan, one 1-row aggregate. Nothing else.
    """
    li = read_table(spark, sf_dir, "lineitem")
    b = li.select(
        F.round(F.col("l_quantity")).cast("long").alias("x1"),
        F.round(F.col("l_discount") * 100).cast("long").alias("x2"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("y"),
    )
    m = b.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x1").alias("s1"),
        F.sum("x2").alias("s2"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).alias("s11"),
        F.sum(F.col("x2") * F.col("x2")).alias("s22"),
        F.sum(F.col("x1") * F.col("x2")).alias("s12"),
        F.sum(F.col("x1") * F.col("y")).alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).alias("s2y"),
    )
    parts = _ols_cramer("DECIMAL(38,0)")
    cr = m.selectExpr(
        "n", "s1", "s2", "sy", "s11", "s22", "s12", "s1y", "s2y",
        f"{parts['num1']} AS num1",
        f"{parts['num2']} AS num2",
        f"{parts['det']} AS det",
    )
    # determinants reach ~1e35: both engines spell the identical wide
    # 3-limb 128-bit -> double conversion (see _stable.py)
    det_d = dec_to_double_wide(F.col("det"))
    return cr.select(
        "n", "s1", "s2", "sy", "s11", "s22", "s12", "s1y", "s2y",
        (dec_to_double_wide(F.col("num1")) / det_d).alias("beta_qty"),
        (dec_to_double_wide(F.col("num2")) / det_d).alias("beta_discount"),
    )


def _kappa_sql() -> str:
    from tvbigdataproject_spark.queries.textstats import _langid_sql

    return f"""
    WITH pred AS ({_langid_sql()}),
    j AS (
        SELECT p.predicted_lang AS pl, d.lang AS gl
        FROM pred p JOIN documents d USING (doc_id)
    ),
    conf AS (SELECT pl, gl, COUNT(*) AS c FROM j GROUP BY 1, 2),
    pc AS (SELECT pl AS cls, CAST(SUM(c) AS BIGINT) AS np FROM conf GROUP BY 1),
    gc AS (SELECT gl AS cls, CAST(SUM(c) AS BIGINT) AS ng FROM conf GROUP BY 1),
    pe AS (
        SELECT CAST(SUM(p.np * g.ng) AS BIGINT) AS spg
        FROM pc p JOIN gc g ON p.cls = g.cls
    ),
    tot AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN pl = gl THEN c ELSE 0 END) AS BIGINT)
                   AS agree
        FROM conf
    )
    SELECT n, agree, spg,
           CAST(agree AS DOUBLE) / n AS po,
           CAST(spg AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS pe,
           CAST(n * agree - spg AS DOUBLE) / CAST(n * n - spg AS DOUBLE)
               AS kappa
    FROM tot CROSS JOIN pe
    """



@query(
    "cohen_kappa_langid",
    sql=_kappa_sql(),
    tags=("analytics", "stats", "evaluation"),
)
def cohen_kappa_langid(spark, sf_dir):
    """Cohen's kappa between the heuristic language-ID prediction
    (text_langid) and the recorded `lang` label — chance-corrected
    agreement, the standard evaluation number for a cheap labeler
    before a pipeline trusts it for routing (raw accuracy rewards the
    majority-class guesser; kappa does not).

    Exactness: kappa = (n*agree - sum_c pred_c*gold_c) /
    (n^2 - sum_c pred_c*gold_c) — every term an exact BIGINT from the
    confusion-table margins; the single double is the final division.

    Scale shape: composes the text_langid scan (one pass), one
    confusion-margin aggregation on the bounded class set, and a
    one-row combine. The join back to documents for the gold label is
    doc_id-keyed (both sides corpus-sized — shuffle join).
    """
    from tvbigdataproject_spark.queries.textstats import text_langid

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "lang")
    pred = text_langid(spark, sf_dir).select("doc_id", "predicted_lang")
    j = pred.join(docs, "doc_id").select(
        F.col("predicted_lang").alias("pl"), F.col("lang").alias("gl")
    )
    conf = j.groupBy("pl", "gl").agg(F.count(F.lit(1)).alias("c"))
    pc = conf.groupBy(F.col("pl").alias("cls")).agg(F.sum("c").alias("np"))
    gc = conf.groupBy(F.col("gl").alias("cls")).agg(F.sum("c").alias("ng"))
    pe = (
        pc.join(gc, "cls")
        .agg(F.sum(F.col("np") * F.col("ng")).cast("long").alias("spg"))
    )
    tot = conf.agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.when(F.col("pl") == F.col("gl"), F.col("c")).otherwise(0))
        .cast("long")
        .alias("agree"),
    )
    return (
        tot.crossJoin(F.broadcast(pe))
        .select(
            "n",
            "agree",
            "spg",
            (F.col("agree").cast("double") / F.col("n")).alias("po"),
            (
                F.col("spg").cast("double")
                / (F.col("n").cast("double") * F.col("n").cast("double"))
            ).alias("pe"),
            (
                (F.col("n") * F.col("agree") - F.col("spg")).cast("double")
                / (F.col("n") * F.col("n") - F.col("spg")).cast("double")
            ).alias("kappa"),
        )
    )




_RC_DAYS = 27  # window = current day + 27 preceding = 28 days

# Second-moment window sums overflow BIGINT (daily-rev^2 ~ 1e18 at
# sf0.1, x28 days), so they run in exact 128-bit integers — HUGEINT in
# DuckDB, DECIMAL(38,0) in Spark (the ols_qty_discount convention) —
# and surface as doubles (one deterministic cast of an exact value).


@query(
    "rolling_corr_28d",
    sql=f"""
    WITH daily AS (
        SELECT date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS x,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev,
               COUNT(*) AS cnt
        FROM orders GROUP BY 1
    ),
    w AS (
        SELECT x,
               CAST(COUNT(*) OVER win AS BIGINT) AS n,
               CAST(SUM(rev) OVER win AS BIGINT) AS sr,
               CAST(SUM(cnt) OVER win AS BIGINT) AS sc,
               SUM(CAST(rev AS HUGEINT) * rev) OVER win AS srr,
               SUM(CAST(cnt AS HUGEINT) * cnt) OVER win AS scc,
               SUM(CAST(rev AS HUGEINT) * cnt) OVER win AS src
        FROM daily
        WINDOW win AS (ORDER BY x RANGE BETWEEN {{_RC_DAYS}} PRECEDING
                       AND CURRENT ROW)
    )
    SELECT x, n, sr, sc,
           {{SRR_D}} AS srr_d,
           {{SCC_D}} AS scc_d,
           {{SRC_D}} AS src_d,
           CASE WHEN n >= 2
                     AND n * srr - CAST(sr AS HUGEINT) * sr > 0
                     AND n * scc - CAST(sc AS HUGEINT) * sc > 0
                THEN (CAST(n AS DOUBLE) * {{SRC_D}}
                      - CAST(sr AS DOUBLE) * CAST(sc AS DOUBLE))
                     / (sqrt(CAST(n AS DOUBLE) * {{SRR_D}}
                             - CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE))
                        * sqrt(CAST(n AS DOUBLE) * {{SCC_D}}
                               - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE)))
                ELSE NULL END AS corr_28d
    FROM w
    """.replace("{_RC_DAYS}", str(_RC_DAYS))
    .replace("{SRR_D}", sql_huge_to_double("srr"))
    .replace("{SCC_D}", sql_huge_to_double("scc"))
    .replace("{SRC_D}", sql_huge_to_double("src")),
    tags=("analytics", "stats", "timeseries", "window"),
)
def rolling_corr_28d(spark, sf_dir):
    """28-day rolling Pearson correlation between daily revenue and
    daily order count — the co-movement monitor a revenue dashboard
    tracks (a correlation break says the order mix shifted, not just
    the volume). RANGE frame over the day index, so calendar gaps
    shorten the window instead of silently stretching it.

    Exactness: first moments are exact BIGINTs; second moments run in
    exact 128-bit integers over the window (HUGEINT / DECIMAL(38,0) —
    daily-rev^2 overflows BIGINT from ~sf0.1) and surface as one
    deterministic double cast each. The correlation and its
    degenerate-window NULL guard (n < 2 or zero variance) are spelled
    identically in both engines; the guard COMPARES in 128-bit.

    Scale shape: one pre-aggregation scan of orders; the window runs
    on the calendar-bounded day grid (a single bounded partition — the
    mann_whitney bounded-window convention).
    """
    orders = read_table(spark, sf_dir, "orders")
    daily = (
        orders.groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "rev"
            ),
            F.count(F.lit(1)).alias("cnt"),
        )
        .select(
            F.datediff("day", F.lit("1992-01-01").cast("date")).alias("x"),
            "rev",
            "cnt",
        )
    )
    win = Window.orderBy("x").rangeBetween(-_RC_DAYS, 0)
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    w = daily.select(
        "x",
        F.count(F.lit(1)).over(win).cast("long").alias("n"),
        F.sum("rev").over(win).cast("long").alias("sr"),
        F.sum("cnt").over(win).cast("long").alias("sc"),
        F.sum(dec("rev") * F.col("rev")).over(win).alias("srr"),
        F.sum(dec("cnt") * F.col("cnt")).over(win).alias("scc"),
        F.sum(dec("rev") * F.col("cnt")).over(win).alias("src"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    corr = (
        (d("n") * d("src") - d("sr") * d("sc"))
        / (
            F.sqrt(d("n") * d("srr") - d("sr") * d("sr"))
            * F.sqrt(d("n") * d("scc") - d("sc") * d("sc"))
        )
    )
    guard = (
        (F.col("n") >= 2)
        & (F.col("n") * F.col("srr") - dec("sr") * F.col("sr") > 0)
        & (F.col("n") * F.col("scc") - dec("sc") * F.col("sc") > 0)
    )
    return w.select(
        "x", "n", "sr", "sc",
        d("srr").alias("srr_d"),
        d("scc").alias("scc_d"),
        d("src").alias("src_d"),
        F.when(guard, corr).alias("corr_28d"),
    )


@query(
    "mase_seasonal_naive",
    sql="""
    WITH daily AS (
        SELECT date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS x,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
        FROM orders GROUP BY 1
    ),
    e AS (
        SELECT a.x,
               ABS(a.y - n1.y) AS ae_naive1,
               ABS(a.y - n7.y) AS ae_naive7
        FROM daily a
        JOIN daily n1 ON n1.x = a.x - 1
        JOIN daily n7 ON n7.x = a.x - 7
    ),
    s AS (
        SELECT COUNT(*) AS n,
               CAST(SUM(ae_naive1) AS BIGINT) AS sae1,
               CAST(SUM(ae_naive7) AS BIGINT) AS sae7
        FROM e
    )
    SELECT n, sae1, sae7,
           CAST(sae7 AS DOUBLE) / CAST(sae1 AS DOUBLE) AS mase_7_vs_1
    FROM s
    """,
    tags=("analytics", "stats", "timeseries", "forecast"),
)
def mase_seasonal_naive(spark, sf_dir):
    """MASE-style scaled error of the WEEKLY seasonal-naive forecast
    (predict today = 7 days ago) against the plain naive (today =
    yesterday) on daily revenue: the standard scale-free test for
    whether a series has exploitable weekly seasonality (ratio < 1
    means lag-7 beats lag-1 — use the seasonal model; > 1 means the
    weekly cycle is noise). Evaluated only on days where BOTH lags
    exist (inner joins on the day grid), so the two error sums cover
    the identical day set.

    Exactness: absolute errors are exact BIGINT cents; the single
    double is the final ratio of two exactly-agreed sums.

    Scale shape: one pre-aggregation scan; two equi self-joins on the
    calendar-bounded day grid.
    """
    orders = read_table(spark, sf_dir, "orders")
    daily = (
        orders.groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("y"))
        .select(
            F.datediff("day", F.lit("1992-01-01").cast("date")).alias("x"),
            "y",
        )
    )
    n1 = daily.select((F.col("x") + 1).alias("x"), F.col("y").alias("y1"))
    n7 = daily.select((F.col("x") + 7).alias("x"), F.col("y").alias("y7"))
    e = (
        daily.join(n1, "x")
        .join(n7, "x")
        .select(
            F.abs(F.col("y") - F.col("y1")).alias("ae1"),
            F.abs(F.col("y") - F.col("y7")).alias("ae7"),
        )
    )
    s = e.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("ae1").cast("long").alias("sae1"),
        F.sum("ae7").cast("long").alias("sae7"),
    )
    return s.select(
        "n",
        "sae1",
        "sae7",
        (F.col("sae7").cast("double") / F.col("sae1").cast("double")).alias(
            "mase_7_vs_1"
        ),
    )


@query(
    "hhi_supplier_concentration",
    sql="""
    WITH sup_rev AS (
        SELECT n.n_name,
               l.l_suppkey,
               CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS rev
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        GROUP BY 1, 2
    ),
    agg AS (
        SELECT n_name,
               COUNT(*) AS n_suppliers,
               CAST(SUM(rev) AS BIGINT) AS total_rev,
               SUM(CAST(rev AS HUGEINT) * rev) AS sum_rev_sq
        FROM sup_rev GROUP BY 1
    )
    SELECT n_name, n_suppliers, total_rev,
           {SQ} AS sum_rev_sq_d,
           10000.0 * {SQ}
               / (CAST(total_rev AS DOUBLE) * CAST(total_rev AS DOUBLE))
               AS hhi
    FROM agg
    """.replace("{SQ}", sql_huge_to_double("sum_rev_sq")),
    tags=("analytics", "stats", "bi"),
)
def hhi_supplier_concentration(spark, sf_dir):
    """Herfindahl-Hirschman concentration index of supplier revenue
    per nation (0..10000, the antitrust convention: sum of squared
    percentage shares) — the market-structure number that says whether
    a nation's supply base is competitive (<1500) or concentrated
    (>2500). HHI = 10000 * sum(rev_s^2) / (sum(rev_s))^2, so the
    shares never materialize as rationals.

    Exactness: per-supplier revenue is exact BIGINT cents; the squared
    sum runs in exact 128-bit integers (HUGEINT / DECIMAL(38,0) — a
    supplier's revenue squares past BIGINT from ~sf1) and surfaces as
    one double cast; hhi is one fixed expression over exactly-agreed
    values.

    Scale shape: one lineitem scan into a (nation, supplier) partial
    aggregate (map-side combine), broadcast dimension joins, then a
    25-row nation rollup.
    """
    li = read_table(spark, sf_dir, "lineitem")
    sup = read_table(spark, sf_dir, "supplier")
    nat = read_table(spark, sf_dir, "nation")
    sup_rev = (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .groupBy("n_name", "l_suppkey")
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias(
                "rev"
            )
        )
    )
    agg = sup_rev.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum("rev").cast("long").alias("total_rev"),
        F.sum(F.col("rev").cast("decimal(38,0)") * F.col("rev")).alias(
            "sum_rev_sq"
        ),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    return agg.select(
        "n_name",
        "n_suppliers",
        "total_rev",
        d("sum_rev_sq").alias("sum_rev_sq_d"),
        (
            F.lit(10000.0) * d("sum_rev_sq") / (d("total_rev") * d("total_rev"))
        ).alias("hhi"),
    )
