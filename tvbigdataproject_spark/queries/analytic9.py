"""Round-9 analytics tier: inequality, rank-based and distribution
tests — Gini concentration, Kruskal-Wallis, two-sample KS, the
Wald-Wolfowitz runs test, Cramér's V, and per-segment interarrival
quartiles.

Shared discipline (the engine's exactness conventions):
- every statistic is assembled from EXACT integers (cents, counts,
  doubled ranks) with at most one final double expression, so the
  DuckDB oracle matches bitwise;
- no corpus-sized global windows: global ranks decompose into
  range-bucket offsets (the histogram_equidepth_value /
  mann_whitney_u shape), and the only unpartitioned windows run over
  bounded grids (value buckets, day grid, n_chars domain) — each
  declared in tests/test_plans_physical.py's allowlist;
- order-sensitive float folds over bounded sets (chi-square cell
  contributions) run as sorted-array sequential folds in BOTH engines
  (collect -> sort -> fold), never as engine SUMs whose addition order
  is unspecified.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from tvbigdataproject_spark.queries._stable import sql_huge_to_double
from tvbigdataproject_spark.queries.registry import query
from tvbigdataproject_spark.sources import read_table

# customer lifetime spend tops out near 6e7 cents independent of SF
# growth direction that matters here (spend domain grows with orders
# per customer, not customer count) — the spearman_rank_corr width
_G_W = 1 << 22

# events.value cents domain (~49_002 at the current generator) — the
# mann_whitney bucket width keeps the offsets table bounded
_KW_W = 1 << 12


@query(
    "gini_customer_spend",
    sql="""
    WITH base AS (
        SELECT o_custkey,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS m
        FROM orders GROUP BY 1
    ),
    r AS (
        SELECT m, ROW_NUMBER() OVER (ORDER BY m, o_custkey) AS rnk
        FROM base
    ),
    t AS (SELECT COUNT(*) AS n, CAST(SUM(m) AS BIGINT) AS sm FROM base),
    s AS (
        SELECT CAST(SUM(CAST(rnk AS HUGEINT) * CAST(m AS HUGEINT)) AS HUGEINT) AS srm
        FROM r
    )
    SELECT t.n, t.sm,
           {GNUM}
           / {GDEN}
               AS gini
    FROM t, s
    """.replace(
        "{GNUM}",
        sql_huge_to_double(
            "2 * s.srm - (CAST(t.n AS HUGEINT) + 1) * CAST(t.sm AS HUGEINT)"
        ),
    ).replace(
        "{GDEN}",
        sql_huge_to_double("CAST(t.n AS HUGEINT) * CAST(t.sm AS HUGEINT)"),
    ),
    tags=("analytics", "inequality", "stats"),
)
def gini_customer_spend(spark, sf_dir):
    """Gini coefficient of customer lifetime spend — the
    revenue-concentration number behind every "top x% of customers"
    claim: G = (2*sum(r_i*x_i) - (n+1)*sum(x)) / (n*sum(x)) over
    spend sorted ascending (ties broken by custkey, so the rank
    assignment is total on both engines).

    Exactness: spend is exact cents; rank*spend products accumulate
    in DECIMAL(38,0) (HUGEINT in the oracle — sum r*m reaches ~1e20 at
    sf1, past int64); the single double is the final division.

    Scale shape: the oracle's global ROW_NUMBER is the spec, not the
    plan — ranks decompose into spend-range buckets: one bounded
    offsets window (~dozens of rows at any SF, width 2^22 over the
    spend DOMAIN) + a within-bucket window partitioned by bucket. One
    corpus shuffle (the per-customer aggregate), two one-row attaches.
    """
    orders = read_table(spark, sf_dir, "orders")
    base = orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("m")
    )
    b = base.withColumn("_b", F.expr(f"m div {_G_W}"))
    counts = b.groupBy("_b").agg(F.count(F.lit(1)).alias("_n"))
    # bounded: one row per occupied spend bucket
    w_off = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "_b",
        F.coalesce(F.sum("_n").over(w_off), F.lit(0).cast("long")).alias(
            "_off"
        ),
    )
    w_in = Window.partitionBy("_b").orderBy("m", "o_custkey")
    ranked = b.join(F.broadcast(offsets), "_b").select(
        "m",
        (F.col("_off") + F.row_number().over(w_in).cast("long")).alias("rnk"),
    )
    srm = ranked.agg(
        F.sum(F.col("rnk").cast("decimal(38,0)") * F.col("m").cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("srm")
    )
    tot = base.agg(
        F.count(F.lit(1)).alias("n"), F.sum("m").cast("long").alias("sm")
    )
    d38 = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    return tot.crossJoin(F.broadcast(srm)).select(
        "n",
        "sm",
        (
            (2 * F.col("srm") - (d38("n") + 1) * d38("sm")).cast("double")
            / (d38("n") * d38("sm")).cast("double")
        ).alias("gini"),
    )


# fixed literal fold order for the <=5 event types: both engines add
# the per-group chi-square/rank contributions in THIS order, making the
# float sum bit-identical (an engine SUM's addition order is not
# specified on either side)
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


@query(
    "kruskal_wallis_value",
    sql=f"""
    WITH obs AS (
        SELECT event_type,
               CAST(ROUND(value * 100) AS BIGINT) AS c
        FROM events
    ),
    vals AS (SELECT c, COUNT(*) AS n_v FROM obs GROUP BY 1),
    r2 AS (
        SELECT c,
               2 * CAST(COALESCE(SUM(n_v) OVER (
                   ORDER BY c ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) + n_v + 1 AS r2
        FROM vals
    ),
    grp AS (
        SELECT o.event_type,
               COUNT(*) AS n_j,
               CAST(SUM(r.r2) AS BIGINT) AS s2_j
        FROM obs o JOIN r2 r ON o.c = r.c
        GROUP BY 1
    ),
    tot AS (
        SELECT CAST(SUM(n_j) AS BIGINT) AS n,
               COUNT(*) AS k
        FROM grp
    ),
    ties AS (
        SELECT CAST(SUM(n_v * n_v * n_v - n_v) AS BIGINT) AS t3t FROM vals
    ),
    folded AS (
        SELECT list_aggregate(
                   list(CAST(s2_j AS DOUBLE) * CAST(s2_j AS DOUBLE)
                        / (4.0 * CAST(n_j AS DOUBLE)) ORDER BY event_type),
                   'sum') AS srr
        FROM grp
    )
    SELECT t.n, t.k, ties.t3t,
           12.0 * f.srr / (CAST(t.n AS DOUBLE) * CAST(t.n + 1 AS DOUBLE))
               - 3.0 * CAST(t.n + 1 AS DOUBLE) AS h,
           (12.0 * f.srr / (CAST(t.n AS DOUBLE) * CAST(t.n + 1 AS DOUBLE))
               - 3.0 * CAST(t.n + 1 AS DOUBLE))
           / (1.0 - CAST(ties.t3t AS DOUBLE)
                    / {{N3N}}) AS h_corrected
    FROM tot t, ties, folded f
    """.replace(
        "{N3N}",
        sql_huge_to_double(
            "CAST(t.n AS HUGEINT) * CAST(t.n AS HUGEINT)"
            " * CAST(t.n AS HUGEINT) - CAST(t.n AS HUGEINT)"
        ),
    ),
    tags=("analytics", "stats", "rank-test"),
)
def kruskal_wallis_value(spark, sf_dir):
    """Kruskal-Wallis H across the event types on events.value — the
    k-group generalization of mann_whitney_u (rank-based ANOVA: does
    ANY event type's value distribution sit apart?), with the standard
    tie correction.

    Exactness: doubled tie-averaged ranks r2 = 2*(rows before) + n_v + 1
    stay integer; per-group rank sums s2_j are exact BIGINTs; the float
    pieces (s2_j^2 / 4n_j) fold over a SORTED per-group list in both
    engines, so even the 5-term float sum is bit-identical. n^3 - n
    lifts to 128-bit (HUGEINT / DECIMAL(38,0)) before the final double.

    Scale shape: one corpus shuffle (the (value, count) aggregate);
    ranks come from the bucket-offset decomposition (bounded offsets
    window over the cents-bucket table, within-bucket window
    partitioned by bucket); groups are the bounded event-type set.
    """
    ev = read_table(spark, sf_dir, "events").select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("c")
    )
    vals = ev.groupBy("c").agg(F.count(F.lit(1)).alias("n_v"))
    v = vals.withColumn("_b", F.expr(f"c div {_KW_W}"))
    bt = v.groupBy("_b").agg(F.sum("n_v").alias("_t"))
    w_off = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)
    offsets = bt.select(
        "_b",
        F.coalesce(F.sum("_t").over(w_off), F.lit(0).cast("long")).alias(
            "_off"
        ),
    )
    w_in = (
        Window.partitionBy("_b")
        .orderBy("c")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    r2 = (
        v.join(F.broadcast(offsets), "_b")
        .select(
            "c",
            "n_v",
            (
                2 * (F.col("_off") + F.coalesce(F.sum("n_v").over(w_in), F.lit(0)))
                + F.col("n_v")
                + 1
            ).cast("long").alias("r2"),
        )
    )
    grp = (
        ev.groupBy("event_type", "c")
        .agg(F.count(F.lit(1)).alias("c_gv"))
        .join(r2.select("c", "r2"), "c")
        .groupBy("event_type")
        .agg(
            F.sum("c_gv").cast("long").alias("n_j"),
            F.sum(F.col("c_gv") * F.col("r2")).cast("long").alias("s2_j"),
        )
    )
    tot = grp.agg(
        F.sum("n_j").cast("long").alias("n"), F.count(F.lit(1)).alias("k")
    )
    ties = vals.agg(
        F.sum(
            F.col("n_v") * F.col("n_v") * F.col("n_v") - F.col("n_v")
        ).cast("long").alias("t3t")
    )
    # sorted-list sequential fold: identical addition order to the
    # oracle's list(... ORDER BY event_type)
    folded = grp.agg(
        F.aggregate(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("event_type").alias("e"),
                        (
                            F.col("s2_j").cast("double")
                            * F.col("s2_j").cast("double")
                            / (4.0 * F.col("n_j").cast("double"))
                        ).alias("x"),
                    )
                )
            ),
            F.lit(0.0),
            lambda acc, s: acc + s["x"],
        ).alias("srr")
    )
    nD = F.col("n").cast("double")
    n128 = F.col("n").cast("decimal(38,0)")
    h = 12.0 * F.col("srr") / (nD * (F.col("n") + 1).cast("double")) - 3.0 * (
        F.col("n") + 1
    ).cast("double")
    corr = 1.0 - F.col("t3t").cast("double") / (
        n128 * n128 * n128 - n128
    ).cast("double")
    return (
        tot.crossJoin(F.broadcast(ties))
        .crossJoin(F.broadcast(folded))
        .select("n", "k", "t3t", h.alias("h"), (h / corr).alias("h_corrected"))
    )


@query(
    "ks_doclen_lang",
    sql="""
    WITH a AS (
        SELECT n_chars AS v, COUNT(*) AS ca FROM documents
        WHERE lang = 'en' GROUP BY 1
    ),
    b AS (
        SELECT n_chars AS v, COUNT(*) AS cb FROM documents
        WHERE lang = 'zh' GROUP BY 1
    ),
    grid AS (
        SELECT v, COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb
        FROM a FULL OUTER JOIN b USING (v)
    ),
    cum AS (
        SELECT v,
               CAST(SUM(ca) OVER (ORDER BY v) AS BIGINT) AS cuma,
               CAST(SUM(cb) OVER (ORDER BY v) AS BIGINT) AS cumb
        FROM grid
    ),
    t AS (
        SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb
        FROM grid
    )
    SELECT t.na, t.nb,
           CAST(MAX(ABS(cum.cuma * t.nb - cum.cumb * t.na)) AS BIGINT)
               AS d_num,
           CAST(MAX(ABS(cum.cuma * t.nb - cum.cumb * t.na)) AS DOUBLE)
               / CAST(t.na * t.nb AS DOUBLE) AS d
    FROM cum, t
    GROUP BY t.na, t.nb
    """,
    tags=("analytics", "stats", "distribution-test"),
)
def ks_doclen_lang(spark, sf_dir):
    """Two-sample Kolmogorov-Smirnov distance between the document
    LENGTH distributions of two languages (en vs zh) — the standard
    "did this corpus slice drift?" test, exact: D = max over the value
    grid of |ECDF_en - ECDF_zh| kept as the cross-multiplied integer
    |cuma*nb - cumb*na| (no per-step float division), one final double.

    Scale shape: two filtered aggregates onto the n_chars VALUE grid
    (bounded by the length domain, not the corpus — 313 distinct
    values at any SF here); the only window is the cumulative over
    that grid.
    """
    docs = read_table(spark, sf_dir, "documents")
    a = (
        docs.where(F.col("lang") == "en")
        .groupBy(F.col("n_chars").alias("v"))
        .agg(F.count(F.lit(1)).alias("ca"))
    )
    b = (
        docs.where(F.col("lang") == "zh")
        .groupBy(F.col("n_chars").alias("v"))
        .agg(F.count(F.lit(1)).alias("cb"))
    )
    grid = (
        a.join(b, "v", "full_outer")
        .select(
            "v",
            F.coalesce("ca", F.lit(0)).alias("ca"),
            F.coalesce("cb", F.lit(0)).alias("cb"),
        )
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = grid.select(
        F.sum("ca").over(w).cast("long").alias("cuma"),
        F.sum("cb").over(w).cast("long").alias("cumb"),
    )
    t = grid.agg(
        F.sum("ca").cast("long").alias("na"),
        F.sum("cb").cast("long").alias("nb"),
    )
    return (
        cum.crossJoin(F.broadcast(t))
        .groupBy("na", "nb")
        .agg(
            F.max(
                F.abs(F.col("cuma") * F.col("nb") - F.col("cumb") * F.col("na"))
            ).cast("long").alias("d_num")
        )
        .select(
            "na",
            "nb",
            "d_num",
            (
                F.col("d_num").cast("double")
                / (F.col("na") * F.col("nb")).cast("double")
            ).alias("d"),
        )
    )


@query(
    "runs_test_daily_revenue",
    sql="""
    WITH daily AS (
        SELECT CAST(l_shipdate AS DATE) AS day,
               CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
                        AS BIGINT)) AS BIGINT) AS rc
        FROM lineitem GROUP BY 1
    ),
    med AS (
        SELECT rc AS med_rc FROM (
            SELECT rc, ROW_NUMBER() OVER (ORDER BY rc, day) AS rn,
                   COUNT(*) OVER () AS n
            FROM daily
        ) WHERE rn = (n + 1) // 2
    ),
    signs AS (
        SELECT day, CASE WHEN rc > med_rc THEN 1 ELSE 0 END AS s
        FROM daily, med WHERE rc <> med_rc
    ),
    runs AS (
        SELECT s, CASE WHEN LAG(s) OVER (ORDER BY day) IS DISTINCT FROM s
                       THEN 1 ELSE 0 END AS brk
        FROM signs
    ),
    agg AS (
        SELECT CAST(SUM(s) AS BIGINT) AS n1,
               CAST(SUM(1 - s) AS BIGINT) AS n2,
               CAST(SUM(brk) AS BIGINT) AS n_runs
        FROM runs
    )
    SELECT n1, n2, n_runs,
           1.0 + 2.0 * CAST(n1 * n2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE)
               AS e_runs,
           (CAST(n_runs AS DOUBLE)
            - (1.0 + 2.0 * CAST(n1 * n2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE)))
           / sqrt(CAST(2 * n1 * n2 * (2 * n1 * n2 - n1 - n2) AS DOUBLE)
                  / (CAST((n1 + n2) * (n1 + n2) AS DOUBLE)
                     * CAST(n1 + n2 - 1 AS DOUBLE))) AS z
    FROM agg
    """,
    tags=("analytics", "stats", "randomness"),
)
def runs_test_daily_revenue(spark, sf_dir):
    """Wald-Wolfowitz runs test on daily revenue vs its median: too few
    runs of above/below-median days means the series is trending or
    regime-switching, too many means oscillation — the standard
    pre-check before fitting any i.i.d.-assuming model to a daily KPI.

    Exactness: revenue is exact cents; the median is the TYPE-1 lower
    median of the (rc, day)-ordered daily table (a deterministic row
    pick, not an interpolation); median-equal days are excluded per
    the classical definition; n1/n2/runs are exact integers and the
    z-score is one fixed double expression (sqrt is IEEE
    correctly-rounded, so it ports bitwise).

    Scale shape: one corpus shuffle to the daily grid; every window
    (rank for the median pick, lag for run breaks) runs over the
    bounded day grid. The first run has no predecessor: LAG IS
    DISTINCT FROM counts it as a break, so n_runs needs no +1.
    """
    li = read_table(spark, sf_dir, "lineitem")
    daily = li.groupBy(
        F.to_date("l_shipdate").alias("day")
    ).agg(
        F.sum(
            F.round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
            ).cast("long")
        ).cast("long").alias("rc")
    )
    w_rank = Window.orderBy("rc", "day")
    ranked = daily.select(
        "rc", F.row_number().over(w_rank).alias("rn")
    ).crossJoin(
        F.broadcast(daily.agg(F.count(F.lit(1)).alias("n")))
    )
    med = ranked.where(
        F.col("rn") == F.expr("(n + 1) div 2")
    ).select(F.col("rc").alias("med_rc"))
    signs = (
        daily.crossJoin(F.broadcast(med))
        .where(F.col("rc") != F.col("med_rc"))
        .select(
            "day", F.when(F.col("rc") > F.col("med_rc"), 1).otherwise(0).alias("s")
        )
    )
    w_day = Window.orderBy("day")
    runs = signs.select(
        "s",
        F.when(
            ~F.lag("s").over(w_day).eqNullSafe(F.col("s")), 1
        ).otherwise(0).alias("brk"),
    )
    agg = runs.agg(
        F.sum("s").cast("long").alias("n1"),
        F.sum(1 - F.col("s")).cast("long").alias("n2"),
        F.sum("brk").cast("long").alias("n_runs"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    prod = (n1 * n2).cast("double")
    tot = (n1 + n2).cast("double")
    e_runs = 1.0 + 2.0 * prod / tot
    var = (2 * n1 * n2 * (2 * n1 * n2 - n1 - n2)).cast("double") / (
        ((n1 + n2) * (n1 + n2)).cast("double") * (n1 + n2 - 1).cast("double")
    )
    return agg.select(
        "n1",
        "n2",
        "n_runs",
        e_runs.alias("e_runs"),
        ((F.col("n_runs").cast("double") - e_runs) / F.sqrt(var)).alias("z"),
    )


@query(
    "cramers_v_lang_source",
    sql="""
    WITH cell AS (
        SELECT lang, source, COUNT(*) AS o FROM documents GROUP BY 1, 2
    ),
    rt AS (SELECT lang, CAST(SUM(o) AS BIGINT) AS r FROM cell GROUP BY 1),
    ct AS (SELECT source, CAST(SUM(o) AS BIGINT) AS c FROM cell GROUP BY 1),
    t AS (
        SELECT CAST(SUM(o) AS BIGINT) AS n,
               COUNT(DISTINCT lang) AS nr,
               COUNT(DISTINCT source) AS nc
        FROM cell
    ),
    full_grid AS (
        SELECT rt.lang, ct.source, rt.r, ct.c, COALESCE(cell.o, 0) AS o
        FROM rt CROSS JOIN ct
        LEFT JOIN cell ON cell.lang = rt.lang AND cell.source = ct.source
    ),
    folded AS (
        SELECT list_aggregate(
                   list(CAST(o * t.n - r * c AS DOUBLE)
                        * CAST(o * t.n - r * c AS DOUBLE)
                        / (CAST(t.n AS DOUBLE) * CAST(r AS DOUBLE)
                           * CAST(c AS DOUBLE))
                        ORDER BY lang, source),
                   'sum') AS chi2
        FROM full_grid, t GROUP BY t.n
    )
    SELECT t.n, t.nr, t.nc, f.chi2,
           sqrt(f.chi2 / (CAST(t.n AS DOUBLE)
                          * CAST(LEAST(t.nr - 1, t.nc - 1) AS DOUBLE))) AS v
    FROM t, folded f
    """,
    tags=("analytics", "stats", "association"),
)
def cramers_v_lang_source(spark, sf_dir):
    """Cramér's V between document language and source — the
    normalized-to-[0,1] strength of the association whose significance
    chi2_lang_source tests: V = sqrt(chi2 / (n * min(r-1, c-1))).

    Exactness: each cell contribution (o*n - r*c)^2 / (n*r*c) is one
    fixed double expression over exact integers (zero cells included
    via the full row x column grid), and the <=100-term sum folds over
    the (lang, source)-sorted list in BOTH engines — bit-identical
    addition order. sqrt is IEEE correctly-rounded.

    Scale shape: one corpus shuffle to the contingency cells; the grid,
    margins, and fold are all bounded by the label-domain product.
    """
    docs = read_table(spark, sf_dir, "documents")
    cell = docs.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("o"))
    rt = cell.groupBy("lang").agg(F.sum("o").cast("long").alias("r"))
    ct = cell.groupBy("source").agg(F.sum("o").cast("long").alias("c"))
    t = cell.agg(
        F.sum("o").cast("long").alias("n"),
        F.countDistinct("lang").alias("nr"),
        F.countDistinct("source").alias("nc"),
    )
    grid = (
        rt.crossJoin(ct)
        .join(cell, ["lang", "source"], "left")
        .select(
            "lang", "source", "r", "c", F.coalesce("o", F.lit(0)).alias("o")
        )
    )
    folded = (
        grid.crossJoin(F.broadcast(t.select("n")))
        .select(
            "lang",
            "source",
            (
                (F.col("o") * F.col("n") - F.col("r") * F.col("c")).cast("double")
                * (F.col("o") * F.col("n") - F.col("r") * F.col("c")).cast("double")
                / (
                    F.col("n").cast("double")
                    * F.col("r").cast("double")
                    * F.col("c").cast("double")
                )
            ).alias("x"),
        )
        .agg(
            F.aggregate(
                F.array_sort(
                    F.collect_list(F.struct("lang", "source", "x"))
                ),
                F.lit(0.0),
                lambda acc, s: acc + s["x"],
            ).alias("chi2")
        )
    )
    return t.crossJoin(F.broadcast(folded)).select(
        "n",
        "nr",
        "nc",
        "chi2",
        F.sqrt(
            F.col("chi2")
            / (
                F.col("n").cast("double")
                * F.least(F.col("nr") - 1, F.col("nc") - 1).cast("double")
            )
        ).alias("v"),
    )


@query(
    "interarrival_quartiles_by_segment",
    sql="""
    WITH gaps AS (
        SELECT c.c_mktsegment AS segment,
               CAST(o.o_orderdate AS DATE)
                   - LAG(CAST(o.o_orderdate AS DATE)) OVER (
                         PARTITION BY o.o_custkey
                         ORDER BY CAST(o.o_orderdate AS DATE), o.o_orderkey
                     ) AS gap
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    g AS (SELECT segment, CAST(gap AS BIGINT) AS gap FROM gaps
          WHERE gap IS NOT NULL),
    counts AS (
        SELECT segment, gap, COUNT(*) AS cnt FROM g GROUP BY 1, 2
    ),
    cum AS (
        SELECT segment, gap, cnt,
               CAST(SUM(cnt) OVER (
                   PARTITION BY segment ORDER BY gap
               ) AS BIGINT) AS cum,
               CAST(SUM(cnt) OVER (PARTITION BY segment) AS BIGINT) AS n
        FROM counts
    )
    SELECT segment, MAX(n) AS n_gaps,
           MIN(CASE WHEN cum >= (n + 3) // 4 THEN gap END) AS q1,
           MIN(CASE WHEN cum >= (n + 1) // 2 THEN gap END) AS median,
           MIN(CASE WHEN cum >= (3 * n + 3) // 4 THEN gap END) AS q3
    FROM cum GROUP BY segment
    """,
    tags=("analytics", "temporal", "quantiles"),
)
def interarrival_quartiles_by_segment(spark, sf_dir):
    """Exact type-1 quartiles of customer order interarrival times
    (days between consecutive orders), per market segment — the
    repurchase-cadence profile behind churn models and send-time
    optimization.

    Exactness: gaps are integer epoch-day differences; quartiles are
    TYPE-1 (smallest value whose cumulative count reaches ceil(q*n) —
    a row pick, no interpolation), computed identically in both
    engines from the (segment, gap) count table.

    Scale shape: the per-customer lag window partitions on custkey
    (bounded by orders-per-customer); the quantile machinery runs on
    the (segment, gap) COUNT table whose size is bounded by the
    segment x gap-domain product (~5 x 2500), with windows partitioned
    by segment — never a corpus-sized sort.
    """
    orders = read_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", F.to_date("o_orderdate").alias("od")
    )
    cust = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"),
        F.col("c_mktsegment").alias("segment"),
    )
    w = Window.partitionBy("o_custkey").orderBy("od", "o_orderkey")
    gaps = (
        orders.join(cust, "o_custkey")
        .select(
            "segment", F.datediff(F.col("od"), F.lag("od").over(w)).alias("gap")
        )
        .where(F.col("gap").isNotNull())
        .select("segment", F.col("gap").cast("long").alias("gap"))
    )
    counts = gaps.groupBy("segment", "gap").agg(F.count(F.lit(1)).alias("cnt"))
    w_cum = (
        Window.partitionBy("segment")
        .orderBy("gap")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_n = Window.partitionBy("segment")
    cum = counts.select(
        "segment",
        "gap",
        F.sum("cnt").over(w_cum).cast("long").alias("cum"),
        F.sum("cnt").over(w_n).cast("long").alias("n"),
    )
    pick = lambda target: F.min(  # noqa: E731
        F.when(F.col("cum") >= F.expr(target), F.col("gap"))
    )
    return cum.groupBy("segment").agg(
        F.max("n").alias("n_gaps"),
        pick("(n + 3) div 4").alias("q1"),
        pick("(n + 1) div 2").alias("median"),
        pick("(3 * n + 3) div 4").alias("q3"),
    )


@query(
    "repurchase_survival",
    sql="""
    WITH firsts AS (
        SELECT o_custkey,
               CAST(o_orderdate AS DATE) AS od,
               ROW_NUMBER() OVER (
                   PARTITION BY o_custkey
                   ORDER BY CAST(o_orderdate AS DATE), o_orderkey
               ) AS rn
        FROM orders
    ),
    gap AS (
        SELECT f1.o_custkey,
               f2.od - f1.od AS days_to_second
        FROM firsts f1
        LEFT JOIN firsts f2
          ON f1.o_custkey = f2.o_custkey AND f2.rn = 2
        WHERE f1.rn = 1
    ),
    seg AS (
        SELECT c.c_mktsegment AS segment, g.days_to_second
        FROM gap g JOIN customer c ON g.o_custkey = c.c_custkey
    )
    SELECT segment,
           COUNT(*) AS n_customers,
           CAST(SUM(CASE WHEN days_to_second IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_repurchased,
           CAST(SUM(CASE WHEN days_to_second <= 90
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_within_90d,
           CAST(SUM(CASE WHEN days_to_second <= 365
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_within_365d,
           1000000 * SUM(CASE WHEN days_to_second <= 90 THEN 1 ELSE 0 END)
               // COUNT(*) AS rate_90d_ppm,
           1000000 * SUM(CASE WHEN days_to_second <= 365 THEN 1 ELSE 0 END)
               // COUNT(*) AS rate_365d_ppm
    FROM seg GROUP BY segment
    """,
    tags=("analytics", "retention", "survival"),
)
def repurchase_survival(spark, sf_dir):
    """Repurchase survival per market segment: of each segment's
    first-time buyers, how many ever ordered again, and how many did so
    within 90 / 365 days of their FIRST order — the Kaplan-Meier-style
    curve readout (at fixed horizons, censoring = never repurchased)
    behind retention targets and win-back campaign timing.

    Exactness: horizons compare integer epoch-day gaps; rates are
    integer parts-per-million. The first/second order pick is a
    deterministic (date, orderkey) rank.

    Scale shape: one window partitioned by customer (bounded by
    orders-per-customer), a self-join on (custkey, rn=2) that stays
    customer-keyed, a broadcast-joinable segment attach, and a 5-row
    output aggregate.
    """
    orders = read_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", F.to_date("o_orderdate").alias("od")
    )
    w = Window.partitionBy("o_custkey").orderBy("od", "o_orderkey")
    firsts = orders.select(
        "o_custkey", "od", F.row_number().over(w).alias("rn")
    )
    f1 = firsts.where(F.col("rn") == 1).select("o_custkey", F.col("od").alias("od1"))
    f2 = firsts.where(F.col("rn") == 2).select("o_custkey", F.col("od").alias("od2"))
    gap = f1.join(f2, "o_custkey", "left").select(
        "o_custkey", F.datediff("od2", "od1").alias("days_to_second")
    )
    cust = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"),
        F.col("c_mktsegment").alias("segment"),
    )
    seg = gap.join(cust, "o_custkey")
    d = F.col("days_to_second")
    return seg.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(F.when(d.isNotNull(), 1).otherwise(0)).cast("long").alias("n_repurchased"),
        F.sum(F.when(d <= 90, 1).otherwise(0)).cast("long").alias("n_within_90d"),
        F.sum(F.when(d <= 365, 1).otherwise(0)).cast("long").alias("n_within_365d"),
    ).select(
        "segment",
        "n_customers",
        "n_repurchased",
        "n_within_90d",
        "n_within_365d",
        F.expr("1000000 * n_within_90d div n_customers").alias("rate_90d_ppm"),
        F.expr("1000000 * n_within_365d div n_customers").alias("rate_365d_ppm"),
    )


@query(
    "dau_overlap_daily",
    sql="""
    WITH dau AS (
        SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ),
    sizes AS (SELECT day, COUNT(*) AS n FROM dau GROUP BY 1),
    inter AS (
        SELECT a.day AS day,
               COUNT(*) AS n_common
        FROM dau a JOIN dau b
          ON a.user_id = b.user_id AND b.day = a.day + INTERVAL 1 DAY
        GROUP BY 1
    )
    SELECT s1.day,
           s1.n AS dau,
           s2.n AS dau_next,
           CAST(COALESCE(i.n_common, 0) AS BIGINT) AS n_common,
           CAST(COALESCE(i.n_common, 0) AS DOUBLE)
               / CAST(s1.n + s2.n - COALESCE(i.n_common, 0) AS DOUBLE)
               AS jaccard,
           1000000 * COALESCE(i.n_common, 0) // s1.n AS retained_ppm
    FROM sizes s1
    JOIN sizes s2 ON s2.day = s1.day + INTERVAL 1 DAY
    LEFT JOIN inter i ON i.day = s1.day
    """,
    tags=("analytics", "retention", "sets"),
)
def dau_overlap_daily(spark, sf_dir):
    """Day-over-day active-user overlap: for every consecutive day
    pair, the DAU of each day, the returning-user intersection, its
    Jaccard similarity, and next-day retention in ppm — the curve a
    growth dashboard draws before any cohort model.

    Exactness: set sizes and intersections are exact counts (the
    distinct (day, user) dedup is the only heavy step); Jaccard is one
    double division of exact integers (|A u B| = |A| + |B| - |A n B|),
    retention is integer ppm.

    Scale shape: one distinct shuffle on (day, user), then a user-keyed
    self-join restricted to adjacent days (fan-out bounded by the days
    a user is active), and day-grid-sized joins for the readout.
    """
    ev = read_table(spark, sf_dir, "events")
    dau = ev.select(
        F.to_date("ts").alias("day"), "user_id"
    ).distinct()
    sizes = dau.groupBy("day").agg(F.count(F.lit(1)).alias("n"))
    a = dau
    b = dau.select(F.date_sub("day", 1).alias("day"), "user_id")
    inter = (
        a.join(b, ["day", "user_id"])
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    s2 = sizes.select(
        F.date_sub("day", 1).alias("day"), F.col("n").alias("dau_next")
    )
    return (
        sizes.join(s2, "day")
        .join(inter, "day", "left")
        .select(
            "day",
            F.col("n").alias("dau"),
            "dau_next",
            F.coalesce("n_common", F.lit(0)).cast("long").alias("n_common"),
            (
                F.coalesce("n_common", F.lit(0)).cast("double")
                / (
                    F.col("n") + F.col("dau_next")
                    - F.coalesce("n_common", F.lit(0))
                ).cast("double")
            ).alias("jaccard"),
            F.expr("1000000 * coalesce(n_common, 0) div n").alias(
                "retained_ppm"
            ),
        )
    )


@query(
    "max_concurrent_sessions",
    sql="""
    WITH flagged AS (
        SELECT user_id, ts,
               CASE WHEN ts - LAG(ts) OVER w > INTERVAL '30 minutes'
                    OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
        SELECT user_id, ts,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS session_no
        FROM flagged
    ),
    sessions AS (
        SELECT user_id, session_no,
               epoch_us(MIN(ts)) AS start_us,
               epoch_us(MAX(ts)) AS end_us
        FROM numbered GROUP BY 1, 2
    ),
    deltas AS (
        SELECT start_us AS us, 1 AS d FROM sessions
        UNION ALL
        SELECT end_us, -1 FROM sessions
    ),
    cum AS (
        SELECT CAST(SUM(d) OVER (ORDER BY us, d
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c
        FROM deltas
    )
    SELECT (SELECT COUNT(*) FROM sessions) AS n_sessions,
           CAST(MAX(c) AS BIGINT) AS max_concurrent
    FROM cum
    """,
    tags=("analytics", "temporal", "concurrency"),
)
def max_concurrent_sessions(spark, sf_dir):
    """Peak concurrency of user sessions (30-minute-gap sessionization,
    session = [first event, last event]): the capacity-planning number
    — how many sessions were ever open at once. Classic sweep: +1 at
    each session start, -1 at each end, max of the running sum; ends
    sort BEFORE starts at the same microsecond (d = -1 < +1), so
    back-to-back sessions never double-count.

    Exactness: timestamps compare as exact integer microseconds
    (epoch_us / unix_micros); the max of a running sum over a run of
    equal (us, d) rows is order-independent within the run, so the
    (us, d) sort is a total spec.

    Scale shape: sessionization windows partition by user; the
    corpus-wide running sum decomposes into epoch-HOUR bucket offsets
    (one bounded unpartitioned window over the hour grid) + a
    within-hour cumulative partitioned by bucket — the
    histogram_equidepth_value discipline, never a single-task sort of
    all delta events.
    """
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.col("ts").cast("timestamp").alias("ts")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.select(
        "user_id",
        "ts",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.unix_micros(F.col("ts"))
                - F.unix_micros(F.lag("ts").over(w))
                > 30 * 60 * 1_000_000
            ),
            1,
        ).otherwise(0).alias("new_session"),
    )
    w_cum = (
        Window.partitionBy("user_id")
        .orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    numbered = flagged.select(
        "user_id", "ts", F.sum("new_session").over(w_cum).alias("session_no")
    )
    sessions = numbered.groupBy("user_id", "session_no").agg(
        F.unix_micros(F.min("ts")).alias("start_us"),
        F.unix_micros(F.max("ts")).alias("end_us"),
    )
    deltas = sessions.select(
        F.col("start_us").alias("us"), F.lit(1).alias("d")
    ).unionByName(
        sessions.select(F.col("end_us").alias("us"), F.lit(-1).alias("d"))
    )
    b = deltas.withColumn("_b", F.expr("us div 3600000000"))
    btot = b.groupBy("_b").agg(F.sum("d").alias("_t"))
    w_off = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)
    offsets = btot.select(
        "_b",
        F.coalesce(F.sum("_t").over(w_off), F.lit(0).cast("long")).alias(
            "_off"
        ),
    )
    w_in = (
        Window.partitionBy("_b")
        .orderBy("us", "d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = b.join(F.broadcast(offsets), "_b").select(
        (F.col("_off") + F.sum("d").over(w_in)).cast("long").alias("c")
    )
    n_sessions = sessions.agg(F.count(F.lit(1)).alias("n_sessions"))
    return (
        cum.agg(F.max("c").cast("long").alias("max_concurrent"))
        .crossJoin(F.broadcast(n_sessions))
        .select("n_sessions", "max_concurrent")
    )


# dyadic time-decay attribution: weight 2^-(age_days) scaled by 2^20 so
# every touch weight is an exact integer at ages 0..20 (older touches
# round to 0 exactly the same way in both engines via integer shifts)
_TD_SCALE = 20
_TD_WINDOW_DAYS = 14


@query(
    "attribution_time_decay",
    sql=f"""
    WITH purchases AS (
        SELECT user_id, event_id AS purchase_id, ts AS p_ts
        FROM events WHERE event_type = 'purchase'
    ),
    touches AS (
        SELECT user_id, event_id AS touch_id, event_type, ts AS t_ts
        FROM events WHERE event_type IN ('view', 'click')
    ),
    scored AS (
        SELECT p.purchase_id, t.event_type,
               CAST(date_diff('day', CAST(t.t_ts AS DATE),
                              CAST(p.p_ts AS DATE)) AS BIGINT) AS age_d
        FROM purchases p JOIN touches t
          ON p.user_id = t.user_id
         AND t.t_ts <= p.p_ts
         AND t.t_ts > p.p_ts - INTERVAL {_TD_WINDOW_DAYS} DAY
    ),
    weighted AS (
        SELECT purchase_id, event_type,
               CASE WHEN age_d <= {_TD_SCALE}
                    THEN (CAST(1 AS BIGINT) << ({_TD_SCALE} - age_d))
                    ELSE 0 END AS w
        FROM scored
    ),
    per_channel AS (
        SELECT event_type,
               CAST(SUM(w) AS BIGINT) AS w_channel,
               COUNT(*) AS n_touches
        FROM weighted GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(w) AS BIGINT) AS w_total FROM weighted)
    SELECT p.event_type, p.n_touches, p.w_channel, t.w_total,
           1000000 * p.w_channel // t.w_total AS share_ppm
    FROM per_channel p, tot t
    """,
    tags=("analytics", "attribution", "marketing"),
)
def attribution_time_decay(spark, sf_dir):
    """Time-decay attribution: every view/click in the 14-day
    lookback before a purchase earns weight 2^-(age in days), and each
    channel's credit share is its weight mass over the total — the
    standard middle ground between last-touch (all credit to
    recency) and U-shaped (position-based) models, both already in the
    registry.

    Exactness: dyadic decay as integer shifts (2^(20-age), zero past 20
    days) — the decayed_event_score convention, so weights sum exactly
    and shares are integer ppm; no float pow anywhere.

    Scale shape: a user-keyed interval join (purchases x touches within
    the bounded lookback — fan-out bounded by touches-per-user-window),
    one channel aggregate, a one-row total attach.
    """
    ev = read_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.col("ts").cast("timestamp").alias("ts"),
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), F.col("ts").alias("p_ts")
    )
    touches = ev.where(F.col("event_type").isin("view", "click")).select(
        "user_id",
        F.col("event_type").alias("channel"),
        F.col("ts").alias("t_ts"),
    )
    scored = purchases.join(touches, "user_id").where(
        (F.col("t_ts") <= F.col("p_ts"))
        & (
            F.col("t_ts")
            > F.col("p_ts") - F.expr(f"INTERVAL {_TD_WINDOW_DAYS} DAY")
        )
    ).select(
        "purchase_id",
        F.col("channel").alias("event_type"),
        F.datediff(F.to_date("p_ts"), F.to_date("t_ts")).cast("long").alias(
            "age_d"
        ),
    )
    weighted = scored.select(
        "event_type",
        F.when(
            F.col("age_d") <= _TD_SCALE,
            F.expr(f"shiftleft(CAST(1 AS BIGINT), {_TD_SCALE} - CAST(age_d AS INT))"),
        ).otherwise(F.lit(0).cast("long")).alias("w"),
    )
    per_channel = weighted.groupBy("event_type").agg(
        F.sum("w").cast("long").alias("w_channel"),
        F.count(F.lit(1)).alias("n_touches"),
    )
    tot = weighted.agg(F.sum("w").cast("long").alias("w_total"))
    return per_channel.crossJoin(F.broadcast(tot)).select(
        "event_type",
        "n_touches",
        "w_channel",
        "w_total",
        F.expr("1000000 * w_channel div w_total").alias("share_ppm"),
    )


@query(
    "rich_club_coefficient",
    sql="""
    WITH e0 AS (
        SELECT DISTINCT o.o_custkey AS src, -l.l_suppkey AS dst
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    deg AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
            SELECT src AS node FROM e0
            UNION ALL
            SELECT dst FROM e0
        ) GROUP BY node
    ),
    ks AS (SELECT UNNEST([1, 2, 4, 8, 16]) AS k),
    dh AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS cn FROM deg GROUP BY d),
    nk AS (
        SELECT k, CAST(SUM(cn) AS BIGINT) AS n_k
        FROM ks JOIN dh ON dh.d > ks.k GROUP BY k
    ),
    mh AS (
        SELECT LEAST(da.d, db.d) AS md, CAST(COUNT(*) AS BIGINT) AS ce
        FROM e0
        JOIN deg da ON da.node = e0.src
        JOIN deg db ON db.node = e0.dst
        GROUP BY 1
    ),
    ek AS (
        SELECT ks.k, CAST(SUM(ce) AS BIGINT) AS e_k
        FROM ks JOIN mh ON mh.md > ks.k
        GROUP BY ks.k
    )
    SELECT nk.k, nk.n_k, CAST(COALESCE(ek.e_k, 0) AS BIGINT) AS e_k,
           CASE WHEN nk.n_k >= 2
                THEN 1000000 * 2 * COALESCE(ek.e_k, 0)
                     // (nk.n_k * (nk.n_k - 1)) END AS phi_ppm
    FROM nk LEFT JOIN ek ON nk.k = ek.k
    """,
    tags=("graph", "topology", "stats"),
)
def rich_club_coefficient(spark, sf_dir):
    """Rich-club coefficient of the customer-supplier trade graph:
    phi(k) = 2*E_k / (N_k*(N_k-1)) over the subgraph induced by nodes
    of degree > k, for a geometric ladder of k — "do the busiest
    traders preferentially trade with each other?" (Colizza et al.
    2006). A rising phi ladder is the hub-backbone signal that decides
    whether hub-aware partitioning (degree salting) is worth it.

    Exactness: degrees, N_k, E_k are exact counts on the same distinct
    bipartite edge set kcore_trade_graph uses (suppliers negated to
    share the id space); phi is integer ppm, NULL below 2 nodes.

    Scale shape: one distinct edge shuffle, a degree aggregate, two
    degree attaches on the edge list, and a 5-row k-ladder broadcast —
    the per-k subgraphs are never materialized separately.
    """
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    e0 = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.col("o_custkey").alias("src"),
            (-F.col("l_suppkey")).alias("dst"),
        )
        .distinct()
    )
    deg = (
        e0.select(F.col("src").alias("node"))
        .unionByName(e0.select(F.col("dst").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    # a JVM literal table (createDataFrame would start Python workers)
    ks = spark.sql("SELECT * FROM VALUES (1), (2), (4), (8), (16) AS ks(k)")
    # histogram form: the corpus-sized tables join only EQUI (degree
    # attaches); the non-equi k-ladder touches bounded histograms.
    # The pre-histogram form ran the ladder against the full degree
    # table / edge list — fine as a Spark 5-row BNLJ, but the round-9
    # copies-10 gate caught DuckDB's oracle planning it into a ~100 GB
    # join; collapsing to histograms fixes both engines structurally.
    dh = deg.groupBy("d").agg(F.count(F.lit(1)).cast("long").alias("cn"))
    nk = (
        F.broadcast(ks)
        .join(dh, dh.d > ks.k)
        .groupBy("k")
        .agg(F.sum("cn").cast("long").alias("n_k"))
    )
    da = deg.select(F.col("node").alias("src"), F.col("d").alias("da"))
    db = deg.select(F.col("node").alias("dst"), F.col("d").alias("db"))
    mh = (
        e0.join(da, "src")
        .join(db, "dst")
        .select(F.least("da", "db").alias("md"))
        .groupBy("md")
        .agg(F.count(F.lit(1)).cast("long").alias("ce"))
    )
    ek = (
        F.broadcast(ks)
        .join(mh, mh.md > ks.k)
        .groupBy("k")
        .agg(F.sum("ce").cast("long").alias("e_k"))
    )
    return nk.join(ek, "k", "left").select(
        "k",
        "n_k",
        F.coalesce("e_k", F.lit(0)).cast("long").alias("e_k"),
        F.when(
            F.col("n_k") >= 2,
            F.expr("1000000 * 2 * coalesce(e_k, 0) div (n_k * (n_k - 1))"),
        ).alias("phi_ppm"),
    )


@query(
    "watermark_lateness_profile",
    sql="""
    WITH arr AS (
        SELECT event_id,
               epoch_us(ts) AS us,
               MAX(epoch_us(ts)) OVER (
                   ORDER BY md5(CAST(event_id AS VARCHAR)), event_id
                   ROWS UNBOUNDED PRECEDING) AS hi
        FROM events
    ),
    lat AS (
        SELECT CASE WHEN hi > us
                    THEN CAST(length(bin((hi - us) // 1000000 + 1)) - 1
                         AS BIGINT)
                    END AS band
        FROM arr
    )
    SELECT band,
           COUNT(*) AS n_events,
           CAST((1 << band) - 1 AS BIGINT) AS band_lo_sec,
           CAST((1 << (band + 1)) - 2 AS BIGINT) AS band_hi_sec
    FROM lat WHERE band IS NOT NULL
    GROUP BY band
    """,
    tags=("streaming", "dq", "watermark"),
)
def watermark_lateness_profile(spark, sf_dir):
    """Out-of-orderness profile of an event feed: for every event
    arriving BEHIND the running max event-time, its lateness in
    geometric seconds bands (floor(log2(sec+1))) — the empirical
    distribution that sizes ``withWatermark``: the delay must cover the
    lateness mass you refuse to drop, and every extra band grows state
    retention. This query is where such a number comes FROM.

    Arrival order: the synthetic feed is PERFECTLY ordered by
    event_id (zero late events — verified at every SF), so the profile
    runs under a deterministic md5 arrival shuffle — the worst-case
    ingest order, replayed identically by the oracle. On a real feed
    the arrival column is the ingest sequence and the rest of the
    query is unchanged.

    Exactness: lateness is exact integer microseconds (epoch_us) from
    a running max; bands are bit_length integer arithmetic — no float
    log.

    Scale shape: the corpus-wide running max over arrival order
    decomposes exactly like the running-sum rank queries — per
    arrival-prefix-bucket maxima (first 3 md5 hex chars = 4096 ordered
    buckets), a bounded prefix-max window over the bucket table,
    greatest(bucket-prefix, within-bucket running max) — no
    single-task sort (prefix max is associative, same as prefix sum).
    """
    ev = read_table(spark, sf_dir, "events").select(
        "event_id",
        F.md5(F.col("event_id").cast("string")).alias("_k"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    b = ev.withColumn("_b", F.substring("_k", 1, 3))
    bmax = b.groupBy("_b").agg(F.max("us").alias("_m"))
    # bounded: one row per 3-hex-char prefix bucket (<= 4096); prefix
    # max over PRIOR buckets
    w_off = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)
    offmax = bmax.select(
        "_b", F.max("_m").over(w_off).alias("_pm")
    )
    w_in = (
        Window.partitionBy("_b")
        .orderBy("_k", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    arr = b.join(F.broadcast(offmax), "_b").select(
        "us",
        F.greatest(
            F.coalesce("_pm", F.lit(0).cast("long")),
            F.max("us").over(w_in),
        ).alias("hi"),
    )
    lat = arr.where(F.col("hi") > F.col("us")).select(
        (
            F.length(F.bin(F.expr("(hi - us) div 1000000 + 1"))) - 1
        ).cast("long").alias("band")
    )
    return lat.groupBy("band").agg(
        F.count(F.lit(1)).alias("n_events"),
    ).select(
        "band",
        "n_events",
        F.expr("CAST(shiftleft(CAST(1 AS BIGINT), CAST(band AS INT)) - 1 AS BIGINT)").alias("band_lo_sec"),
        F.expr("CAST(shiftleft(CAST(1 AS BIGINT), CAST(band AS INT) + 1) - 2 AS BIGINT)").alias("band_hi_sec"),
    )
