"""Graph batch 10: partition quality beyond modularity, and categorical
mixing —

- community_conductance   per-community conductance of the LPA
                          partition (cut / min(vol, T - vol)) — the
                          OTHER standard community-quality number:
                          modularity grades the whole partition, while
                          conductance exposes WHICH communities leak
                          (a well-separated community has low phi even
                          when global modularity is mediocre)
- nation_homophily_trade  Newman categorical assortativity of the
                          customer-supplier edge set by nation — "do
                          customers buy domestic": tr(e) vs the
                          random-mixing baseline, in exact integers

Both stay in the community/graph tier's exact-integer discipline: every
count/degree/cut is a BIGINT (decimal-128 where products can overflow)
and the only floats are final shared-text divisions.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tvbigdataproject_spark.queries._stable import (
    dec_to_double_wide,
    sql_huge_to_double_wide,
)
from tvbigdataproject_spark.queries.graph4 import _LPA_ROUNDS, _lpa_cte
from tvbigdataproject_spark.queries.registry import query
from tvbigdataproject_spark.sources import read_table

# ---------------------------------------------------------------- Q80

_CD_TOPK = 20
_CD_PHI = (
    "CAST(cut AS DOUBLE) / CAST(LEAST(vol, t_deg - vol) AS DOUBLE)"
)


def _conductance_sql() -> str:
    return (
        _lpa_cte(_LPA_ROUNDS)
        + f""",
    lab AS (SELECT node, label AS community FROM l{_LPA_ROUNDS + 1}),
    tagged AS (
        SELECT ls.community AS cs, ld.community AS cd
        FROM bi e
        JOIN lab ls ON e.src = ls.node
        JOIN lab ld ON e.dst = ld.node
    ),
    vol AS (
        SELECT cs AS community, CAST(COUNT(*) AS BIGINT) AS vol,
               CAST(SUM(CASE WHEN cs <> cd THEN 1 ELSE 0 END) AS BIGINT)
                   AS cut
        FROM tagged GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(vol) AS BIGINT) AS t_deg FROM vol)
    SELECT community, vol, cut,
           CASE WHEN LEAST(vol, t_deg - vol) = 0 THEN CAST(0 AS DOUBLE)
                ELSE {_CD_PHI} END AS conductance
    FROM vol CROSS JOIN tot
    ORDER BY vol DESC, community
    LIMIT {_CD_TOPK}
    """
    )


@query(
    "community_conductance",
    sql=_conductance_sql(),
    tags=("graph", "iterative", "community"),
)
def community_conductance(spark, sf_dir):
    """Conductance of each of the top-{k} LPA communities (by volume):
    phi(C) = cut(C) / min(vol(C), T - vol(C)) over the bidirected trade
    graph — the per-community separation score modularity hides: a
    partition can score decent global modularity while individual
    communities leak half their edges, and phi is what names them.

    Exactness: volumes (directed-edge endpoint counts) and cuts are
    exact BIGINTs from the same deterministic LPA labels the
    lpa_communities / community_modularity pair pins; phi is one
    shared-text division (zero-guard CASE shared too).

    Scale shape: the LPA rounds are the checkpointed iterative
    discipline; the evaluation is two node-keyed equi-joins tagging
    each directed edge with both endpoint communities (|E|-bounded,
    nothing all-pairs), one community-keyed aggregate, a one-row total
    broadcast, and a TakeOrdered top-{k}.
    """
    from tvbigdataproject_spark.operators.components import label_propagation
    from tvbigdataproject_spark.operators.materialize import checkpoint, release
    from tvbigdataproject_spark.operators.trade_edges import trade_edges_bi

    # shared session-scoped edge table (operators/trade_edges.py, r12)
    bi = trade_edges_bi(spark, sf_dir)
    lab = label_propagation(bi, rounds=_LPA_ROUNDS)

    ls = lab.select(F.col("node").alias("src"), F.col("community").alias("cs"))
    ld = lab.select(F.col("node").alias("dst"), F.col("community").alias("cd"))
    vol = (
        bi.df.join(ls, "src")
        .join(ld, "dst")
        .groupBy(F.col("cs").alias("community"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("vol"),
            F.sum(F.when(F.col("cs") != F.col("cd"), 1).otherwise(0))
            .cast("long")
            .alias("cut"),
        )
    )
    tot = vol.agg(F.sum("vol").cast("long").alias("t_deg"))
    out = (
        vol.crossJoin(F.broadcast(tot))
        .selectExpr(
            "community",
            "vol",
            "cut",
            "CASE WHEN LEAST(vol, t_deg - vol) = 0 THEN CAST(0 AS DOUBLE)"
            f" ELSE {_CD_PHI} END AS conductance",
        )
        .orderBy(F.col("vol").desc(), "community")
        .limit(_CD_TOPK)
    )
    # pin the bounded result, then release every checkpoint this query
    # created (the community_modularity cleanup discipline)
    pinned = checkpoint(out)
    release(lab)
    return pinned


community_conductance.__doc__ = community_conductance.__doc__.format(
    k=_CD_TOPK
)

# ---------------------------------------------------------------- Q81

# Newman categorical assortativity over the bipartite edge set:
# r = (E * sum(n_ii) - sum(r_i * c_i)) / (E^2 - sum(r_i * c_i)),
# n_ij = edges from customer-nation i to supplier-nation j.
_NH_R = (
    "(e_d * diag_d - rc_d) / (e_d * e_d - rc_d)"
)


def _homophily_sql() -> str:
    cells = """
    SELECT cn.n_name AS cnat, sn.n_name AS snat,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM (SELECT DISTINCT o_custkey, l_suppkey
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey) e
    JOIN customer c ON e.o_custkey = c.c_custkey
    JOIN nation cn ON c.c_nationkey = cn.n_nationkey
    JOIN supplier s ON e.l_suppkey = s.s_suppkey
    JOIN nation sn ON s.s_nationkey = sn.n_nationkey
    GROUP BY 1, 2
    """
    margins = f"""
    SELECT (SELECT CAST(SUM(n) AS BIGINT) FROM ({cells})) AS e_cnt,
           (SELECT CAST(SUM(CASE WHEN cnat = snat THEN n ELSE 0 END)
                   AS BIGINT) FROM ({cells})) AS diag,
           (SELECT CAST(SUM(CAST(r.rn AS DECIMAL(38,0)) * c.cn_)
                   AS DECIMAL(38,0))
            FROM (SELECT cnat AS nat, CAST(SUM(n) AS BIGINT) AS rn
                  FROM ({cells}) GROUP BY 1) r
            JOIN (SELECT snat AS nat, CAST(SUM(n) AS BIGINT) AS cn_
                  FROM ({cells}) GROUP BY 1) c ON r.nat = c.nat) AS rc
    """
    return f"""
    SELECT e_cnt AS n_edges, diag AS same_nation_edges,
           CAST(diag AS DOUBLE) / CAST(e_cnt AS DOUBLE) AS homophily_share,
           {_NH_R} AS assortativity
    FROM (SELECT e_cnt, diag,
                 CAST(e_cnt AS DOUBLE) AS e_d,
                 CAST(diag AS DOUBLE) AS diag_d,
                 {sql_huge_to_double_wide('rc')} AS rc_d
          FROM ({margins}))
    """


@query(
    "nation_homophily_trade",
    sql=_homophily_sql(),
    tags=("graph", "mixing", "relational"),
)
def nation_homophily_trade(spark, sf_dir):
    """Newman categorical assortativity of the distinct customer->
    supplier trade edges by NATION: do customers trade domestically
    beyond what random mixing predicts? r = (E*tr(N) - sum_i R_i*C_i)
    / (E^2 - sum_i R_i*C_i) over the 25x25 nation mixing matrix —
    r = 0 means nation-blind trade, r -> 1 means domestic lock-in.
    The categorical companion to degree_assortativity_trade.

    Exactness: the mixing matrix, its margins, and the diagonal are
    exact BIGINTs (margin products through decimal-128 — E^2 can pass
    int64 at scale); r and the homophily share are shared-text double
    divisions. Note rc < E^2 always (Cauchy-Schwarz), so the casts
    stay in the wide-cast-safe range.

    Scale shape: one distinct pair aggregate over the join, two
    broadcast dim joins to nations, then a 625-row-bounded mixing
    matrix; margins and the statistic are dim-bounded aggregates.
    """
    from tvbigdataproject_spark.operators.trade_edges import trade_pairs

    cust = read_table(spark, sf_dir, "customer")
    supp = read_table(spark, sf_dir, "supplier")
    nat = read_table(spark, sf_dir, "nation")
    # the Katz edge-build treatment (r12, VERDICT r11 item 2): the
    # distinct-pair build dominated the sf1 profile (15.6 s vs the
    # oracle's 4.9 s) exactly as it did pre-rewrite Katz — it now
    # rides the shared size-gated-SHUFFLE_HASH materialize-once table
    pairs = trade_pairs(spark, sf_dir)
    cn = cust.join(
        F.broadcast(nat), cust.c_nationkey == nat.n_nationkey
    ).select(F.col("c_custkey"), F.col("n_name").alias("cnat"))
    sn = supp.join(
        F.broadcast(nat), supp.s_nationkey == nat.n_nationkey
    ).select(F.col("s_suppkey"), F.col("n_name").alias("snat"))
    cells = (
        pairs.join(cn, pairs.o_custkey == cn.c_custkey)
        .join(sn, pairs.l_suppkey == sn.s_suppkey)
        .groupBy("cnat", "snat")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    rm = cells.groupBy(F.col("cnat").alias("nat")).agg(
        F.sum("n").cast("long").alias("rn")
    )
    cm = cells.groupBy(F.col("snat").alias("nat")).agg(
        F.sum("n").cast("long").alias("cn_")
    )
    rc = rm.join(cm, "nat").agg(
        F.sum(F.col("rn").cast("decimal(38,0)") * F.col("cn_")).alias("rc")
    )
    tot = cells.agg(
        F.sum("n").cast("long").alias("e_cnt"),
        F.sum(F.when(F.col("cnat") == F.col("snat"), F.col("n")).otherwise(0))
        .cast("long")
        .alias("diag"),
    )
    return (
        tot.crossJoin(F.broadcast(rc))
        .select(
            "e_cnt",
            "diag",
            F.col("e_cnt").cast("double").alias("e_d"),
            F.col("diag").cast("double").alias("diag_d"),
            # wide cast: rc = sum r_i*c_i can pass 2^63 at extreme E
            dec_to_double_wide(F.col("rc")).alias("rc_d"),
        )
        .selectExpr(
            "e_cnt AS n_edges",
            "diag AS same_nation_edges",
            "CAST(diag AS DOUBLE) / CAST(e_cnt AS DOUBLE)"
            " AS homophily_share",
            f"{_NH_R} AS assortativity",
        )
    )
