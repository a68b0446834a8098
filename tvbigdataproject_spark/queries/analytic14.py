"""Analytics batch 14: empirical-Bayes shrinkage, sequential testing,
and survey raking — the "small-n cells" toolkit:

- eb_shrunk_return_rates  beta-binomial empirical-Bayes shrinkage of
                          per-supplier return rates — the standard fix
                          for ranking noisy small-sample proportions
                          (a 1-of-2 supplier must not outrank a
                          49-of-100 one)
- sprt_daily_conversion   Wald sequential probability ratio test of
                          the daily purchase share (H0 p=1/5 vs H1
                          p=1/4) — the always-valid streaming monitor
                          that calls the test the DAY evidence
                          suffices, not at a fixed horizon
- ipf_raking_weights      iterative proportional fitting of
                          (segment x region) cell weights to target
                          margins — the survey-raking / dataset-
                          reweighting primitive, 3 unrolled rounds in
                          exact scaled integers
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tvbigdataproject_spark.functions.portable import (
    apply_stages,
    plog_stages,
    sql_wrap_stages,
)
from tvbigdataproject_spark.queries._stable import (
    dec_to_double_wide,
    sql_huge_to_double_wide,
)
from tvbigdataproject_spark.queries.registry import query
from tvbigdataproject_spark.sources import read_table

# ---------------------------------------------------------------- Q55

_EB_S = 1_000_000_000_000  # per-supplier rate scale (1e12)


def _eb_sql() -> str:
    per = """
    SELECT l_suppkey AS supp,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                AS BIGINT) AS k
    FROM lineitem GROUP BY 1
    """
    scaled = f"""
    SELECT supp, n, k,
           CAST((CAST(k AS HUGEINT) * {_EB_S}) // n AS BIGINT) AS ps
    FROM ({per})
    """
    mom = f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS m,
           CAST(SUM(ps) AS BIGINT) AS sp,
           SUM(CAST(ps AS HUGEINT) * ps) AS spp
    FROM ({scaled})
    """
    # method-of-moments Beta fit on the per-supplier MLE rates:
    # mbar = E[p], v = Var[p], alpha+beta = mbar(1-mbar)/v - 1
    mbar = f"(CAST(sp AS DOUBLE) / CAST(m AS DOUBLE) / {float(_EB_S)!r})"
    v = (
        f"(spp_d / CAST(m AS DOUBLE) / {float(_EB_S)!r} / {float(_EB_S)!r}"
        f" - {mbar} * {mbar})"
    )
    ab = f"({mbar} * (CAST(1 AS DOUBLE) - {mbar}) / {v} - CAST(1 AS DOUBLE))"
    prior = f"""
    SELECT m, {mbar} AS mbar, {v} AS vhat, {ab} AS ab,
           {ab} * {mbar} AS alpha,
           {ab} * (CAST(1 AS DOUBLE) - {mbar}) AS beta
    FROM (SELECT m, sp, {sql_huge_to_double_wide('spp')} AS spp_d
          FROM ({mom}))
    """
    return f"""
    SELECT s.supp, s.n, s.k,
           CAST(s.k AS DOUBLE) / CAST(s.n AS DOUBLE) AS rate_mle,
           (CAST(s.k AS DOUBLE) + p.alpha)
               / (CAST(s.n AS DOUBLE) + p.ab) AS rate_eb,
           p.alpha, p.beta
    FROM ({scaled}) s CROSS JOIN ({prior}) p
    ORDER BY rate_eb DESC, s.supp
    LIMIT 25
    """


@query(
    "eb_shrunk_return_rates",
    sql=_eb_sql(),
    tags=("analytics", "stats", "ebayes"),
)
def eb_shrunk_return_rates(spark, sf_dir):
    """Top-25 suppliers by empirical-Bayes return rate: fit a Beta
    prior to the per-supplier MLE rates by method of moments
    (alpha+beta = mbar(1-mbar)/v - 1), then shrink each supplier to
    (k + alpha) / (n + alpha + beta) — the standard small-sample
    ranking fix (a 1-of-2 supplier pulls toward the prior mean; a
    49-of-100 one barely moves), and the posterior-mean readout a
    quality dashboard ranks on instead of raw proportions.

    Exactness: per-supplier rates enter the moment fit as exact
    1e12-scaled integers (floor-div), their squared sum lifts to 128
    bits, and mbar/v/alpha/beta and every shrunk rate are
    identically-spelled IEEE expressions; the top-25 cut is
    total-ordered (rate, then supplier).

    Scale shape: one lineitem aggregate (map-side combined) to a
    supplier-sized table, a 1-row moment reduce, broadcast prior
    attach, TakeOrdered top-25.
    """
    li = read_table(spark, sf_dir, "lineitem")
    per = li.groupBy(F.col("l_suppkey").alias("supp")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(
            F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
        )
        .cast("long")
        .alias("k"),
    )
    scaled = per.selectExpr(
        "supp",
        "n",
        "k",
        f"CAST((CAST(k AS DECIMAL(38,0)) * {_EB_S}) div n AS BIGINT) AS ps"
    )
    mom = scaled.agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum("ps").cast("long").alias("sp"),
        F.sum(F.col("ps").cast("decimal(38,0)") * F.col("ps")).alias(
            "spp"
        ),
    )
    mom = mom.select(
        "m", "sp", dec_to_double_wide(F.col("spp")).alias("spp_d")
    )
    mbar = f"(CAST(sp AS DOUBLE) / CAST(m AS DOUBLE) / {float(_EB_S)!r})"
    v = (
        f"(spp_d / CAST(m AS DOUBLE) / {float(_EB_S)!r} / {float(_EB_S)!r}"
        f" - {mbar} * {mbar})"
    )
    ab = f"({mbar} * (CAST(1 AS DOUBLE) - {mbar}) / {v} - CAST(1 AS DOUBLE))"
    prior = mom.selectExpr(
        "m",
        f"{mbar} AS mbar",
        f"{v} AS vhat",
        f"{ab} AS ab",
        f"{ab} * {mbar} AS alpha",
        f"{ab} * (CAST(1 AS DOUBLE) - {mbar}) AS beta",
    )
    return (
        scaled.crossJoin(F.broadcast(prior))
        .selectExpr(
            "supp",
            "n",
            "k",
            "CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS rate_mle",
            "(CAST(k AS DOUBLE) + alpha) / (CAST(n AS DOUBLE) + ab)"
            " AS rate_eb",
            "alpha",
            "beta",
        )
        .orderBy(F.col("rate_eb").desc(), "supp")
        .limit(25)
    )


# ---------------------------------------------------------------- Q56

# H0: daily purchase share = 1/5; H1: = 1/4. Per-day LLR increment
# k ln(p1/p0) + (n-k) ln(q1/q0) with ln(5/4) = plog(5) - plog(4) and
# ln(3/4 / 4/5) = ln(15/16) = plog(15) - plog(16) — all four lns on
# integer literals through the portable kernel, scaled to 1e6 ints so
# the running sum over the day grid is exact.
_SP_A = 19  # B = (1-beta)/alpha = 19 (alpha = beta = 0.05)


def _sprt_sql() -> str:
    daily = """
    SELECT CAST(ts AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS k
    FROM events GROUP BY 1
    """
    consts = sql_wrap_stages(
        sql_wrap_stages(
            sql_wrap_stages(
                sql_wrap_stages(
                    sql_wrap_stages(
                        f"(SELECT day, n, k FROM ({daily}))",
                        plog_stages("5", "_l5", "_sa_"),
                    ),
                    plog_stages("4", "_l4", "_sb_"),
                ),
                plog_stages("15", "_l15", "_sc_"),
            ),
            plog_stages("16", "_l16", "_sd_"),
        ),
        plog_stages(str(_SP_A), "_lB", "_se_"),
    )
    inc = f"""
    SELECT day, n, k,
           k * CAST(ROUND((_l5 - _l4) * 1000000) AS BIGINT)
           + (n - k) * CAST(ROUND((_l15 - _l16) * 1000000) AS BIGINT)
               AS inc_s,
           CAST(ROUND(_lB * 1000000) AS BIGINT) AS b_s
    FROM {consts}
    """
    return f"""
    SELECT day, n, k,
           CAST(llr_s AS DOUBLE) / CAST(1000000 AS DOUBLE) AS llr,
           CASE WHEN llr_s >= b_s THEN 'accept_h1'
                WHEN llr_s <= -b_s THEN 'accept_h0'
                ELSE 'continue' END AS decision
    FROM (
        SELECT day, n, k, b_s,
               CAST(SUM(inc_s) OVER (ORDER BY day) AS BIGINT) AS llr_s
        FROM ({inc})
    )
    ORDER BY day
    """


@query(
    "sprt_daily_conversion",
    sql=_sprt_sql(),
    tags=("analytics", "stats", "sequential"),
)
def sprt_daily_conversion(spark, sf_dir):
    """Wald SPRT over the daily purchase share — H0: p = 1/5 vs
    H1: p = 1/4, boundaries ln(19) (accept H1) / -ln(19) (accept H0)
    at alpha = beta = 0.05: per day, the cumulative log-likelihood
    ratio and the sequential decision — the always-valid monitor that
    stops the moment evidence suffices instead of waiting out a fixed
    horizon (the streaming counterpart of ab_test_pvalue's fixed-n
    test).

    Exactness: the four log constants come from the portable ln kernel
    on INTEGER literals (ln(5/4) = plog 5 - plog 4; ln(15/16) for the
    failure term), rounded once to 1e6-scaled ints, so each day's LLR
    increment and the running sum are exact BIGINTs; the decision CASE
    compares integers.

    Scale shape: one events aggregate to the bounded day grid; the
    cumulative window runs over that grid only (calendar-bounded, the
    rolling_corr_28d class).
    """
    ev = read_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        )
        .cast("long")
        .alias("k"),
    )
    consts = daily
    for lit, out, p in (
        ("5", "_l5", "_sa_"),
        ("4", "_l4", "_sb_"),
        ("15", "_l15", "_sc_"),
        ("16", "_l16", "_sd_"),
        (str(_SP_A), "_lB", "_se_"),
    ):
        consts = apply_stages(consts, plog_stages(lit, out, p))
    inc = consts.selectExpr(
        "day",
        "n",
        "k",
        "k * CAST(ROUND((_l5 - _l4) * 1000000) AS BIGINT)"
        " + (n - k) * CAST(ROUND((_l15 - _l16) * 1000000) AS BIGINT)"
        " AS inc_s",
        "CAST(ROUND(_lB * 1000000) AS BIGINT) AS b_s",
    )
    cum = inc.selectExpr(
        "day",
        "n",
        "k",
        "b_s",
        "CAST(SUM(inc_s) OVER (ORDER BY day) AS BIGINT) AS llr_s",
    )
    return cum.selectExpr(
        "day",
        "n",
        "k",
        "CAST(llr_s AS DOUBLE) / CAST(1000000 AS DOUBLE) AS llr",
        "CASE WHEN llr_s >= b_s THEN 'accept_h1'"
        " WHEN llr_s <= -b_s THEN 'accept_h0'"
        " ELSE 'continue' END AS decision",
    ).orderBy("day")


# ---------------------------------------------------------------- Q57

_IPF_S = 1_000_000  # weight scale
_IPF_ROUNDS = 3
_IPF_NREG = 5  # region target: equal 1/5 share per region


def _ipf_sql() -> str:
    cells = """
    SELECT c.c_mktsegment AS segment, r.r_name AS region,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM customer c
    JOIN nation nt ON c.c_nationkey = nt.n_nationkey
    JOIN region r ON nt.n_regionkey = r.r_regionkey
    GROUP BY 1, 2
    """
    cur = f"(SELECT segment, region, n, CAST({_IPF_S} AS BIGINT) AS w FROM ({cells}))"
    tot = f"SELECT CAST(SUM(n) AS HUGEINT) AS nt_h FROM ({cells})"
    for _ in range(_IPF_ROUNDS):
        # row step: match segment margins to the OBSERVED segment totals
        cur = f"""
        (SELECT c.segment, c.region, c.n,
                CAST((c.w * st.rs) // {_IPF_S} AS BIGINT) AS w
         FROM {cur} c
         JOIN (SELECT segment,
                      CAST((CAST(SUM(n) AS HUGEINT) * {_IPF_S})
                           // (SUM(CAST(n AS HUGEINT) * w) // {_IPF_S})
                           AS BIGINT) AS rs
               FROM {cur} GROUP BY 1) st
           ON c.segment = st.segment)
        """
        # column step: force EQUAL region shares (total/5 per region)
        cur = f"""
        (SELECT c.segment, c.region, c.n,
                CAST((c.w * rt.rs) // {_IPF_S} AS BIGINT) AS w
         FROM {cur} c
         JOIN (SELECT region,
                      CAST((t.nt_h * {_IPF_S})
                           // ({_IPF_NREG}
                               * (SUM(CAST(n AS HUGEINT) * w)
                                  // {_IPF_S})) AS BIGINT) AS rs
               FROM {cur} CROSS JOIN ({tot}) t
               GROUP BY region, t.nt_h) rt
           ON c.region = rt.region)
        """
    return f"""
    SELECT segment, region, n, w AS weight_scaled,
           CAST(w AS DOUBLE) / CAST({_IPF_S} AS DOUBLE) AS weight
    FROM {cur}
    """


@query(
    "ipf_raking_weights",
    sql=_ipf_sql(),
    tags=("analytics", "weights", "raking"),
)
def ipf_raking_weights(spark, sf_dir):
    """Survey-raking (iterative proportional fitting) weights for the
    (segment x region) customer grid: {r} unrolled IPF rounds pull the
    weighted cell table toward two margin targets — observed segment
    totals (the "keep the segment mix" constraint) and EQUAL region
    shares (the "rebalance geography" design goal). The resulting
    per-cell weight is the dataset-reweighting factor a sampler
    multiplies in — raking is the tabular twin of the corpus
    domain-mixture reweighting the LLM tier does by source.

    Exactness: weights live as 1e6-scaled integers; each margin ratio
    applies as one exact integer multiply + floor-div per cell (the
    holt/markov discipline — floor bias is bounded by 1 ulp of the
    scale per round and identical in both engines), so all {r} rounds
    replay bit-for-bit.

    Scale shape: the cell grid is label-domain bounded (25 rows at any
    SF); each round is two grouped sums + joins on that grid — cost
    independent of customer count after the first aggregate.
    """
    cust = read_table(spark, sf_dir, "customer")
    nat = read_table(spark, sf_dir, "nation")
    reg = read_table(spark, sf_dir, "region")
    cells = (
        cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.col("r_name").alias("region"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    # the 3 unrolled rounds reference the cell grid through six
    # broadcast-aggregate subtrees — materialize the 25-row grid ONCE so
    # every round's margin aggregate reads cached rows instead of
    # replaying the customer join+aggregate (r12: 21 jobs -> the grid
    # build + bounded-row algebra)
    from tvbigdataproject_spark.operators.materialize import checkpoint

    cells = checkpoint(cells)
    cur = cells.select(
        "segment", "region", "n", F.lit(_IPF_S).cast("long").alias("w")
    )
    tot = cells.agg(F.sum("n").cast("decimal(38,0)").alias("nt_h"))
    for _ in range(_IPF_ROUNDS):
        st = cur.groupBy("segment").agg(
            F.expr(
                f"CAST((CAST(SUM(n) AS DECIMAL(38,0)) * {_IPF_S})"
                f" div (SUM(CAST(n AS DECIMAL(38,0)) * w)"
                f" div {_IPF_S}) AS BIGINT)"
            ).alias("rs")
        )
        cur = cur.join(F.broadcast(st), "segment").selectExpr(
            "segment",
            "region",
            "n",
            f"CAST((w * rs) div {_IPF_S} AS BIGINT) AS w",
        )
        rt = (
            cur.crossJoin(F.broadcast(tot))
            .groupBy("region", "nt_h")
            .agg(
                F.expr(
                    f"CAST((nt_h * {_IPF_S})"
                    f" div ({_IPF_NREG}"
                    f" * (SUM(CAST(n AS DECIMAL(38,0)) * w)"
                    f" div {_IPF_S})) AS BIGINT)"
                ).alias("rs")
            )
            .select("region", "rs")
        )
        cur = cur.join(F.broadcast(rt), "region").selectExpr(
            "segment",
            "region",
            "n",
            f"CAST((w * rs) div {_IPF_S} AS BIGINT) AS w",
        )
    return cur.selectExpr(
        "segment",
        "region",
        "n",
        "w AS weight_scaled",
        f"CAST(w AS DOUBLE) / CAST({_IPF_S} AS DOUBLE) AS weight",
    )


ipf_raking_weights.__doc__ = ipf_raking_weights.__doc__.format(
    r=_IPF_ROUNDS
)
