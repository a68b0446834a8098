"""Iterative graph analytics beyond components: fixed-iteration
PageRank, oracle-checked BITWISE against DuckDB by unrolling the K
iterations into K chained CTEs that replay the exact same arithmetic
(scaled-integer contribution sums, literal damping constants — see
operators/pagerank.py for why each piece is engine-portable).

The graph: customer↔supplier trading relationships from lineitem⋈orders
(who-bought-from-whom, weight = lineitem count), made bidirectional so
rank mass circulates. Supplier ids are negated into their own id space —
custkey and suppkey ranges overlap numerically and a shared node id
would silently merge unrelated vertices.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tvbigdataproject_spark.operators.pagerank import pagerank
from tvbigdataproject_spark.operators.trade_edges import trade_edges_weighted_bi
from tvbigdataproject_spark.queries.registry import query

_N_ITER = 3
_S = 10**12

_PR_PRELUDE = f"""
    WITH e0 AS (
        SELECT o_custkey AS src, -l_suppkey AS dst, CAST(COUNT(*) AS DOUBLE) AS w
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1, 2
    ),
    bi AS (
        SELECT src, dst, w FROM e0
        UNION ALL
        SELECT dst AS src, src AS dst, w FROM e0
    ),
    nodes AS (SELECT DISTINCT src AS node FROM bi),
    outw AS (SELECT src, SUM(w) AS ow FROM bi GROUP BY src),
    shares AS (
        SELECT b.src, b.dst, b.w / o.ow AS share FROM bi b JOIN outw o ON b.src = o.src
    ),
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
    r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes)"""

_PR_ITER = """,
    c{k} AS (
        SELECT s.dst AS node,
               SUM(CAST(ROUND(r.rank * s.share * {scale}) AS BIGINT)) / {scale}.0
                   AS contrib
        FROM shares s JOIN r{prev} r ON s.src = r.node
        GROUP BY s.dst
    ),
    r{k} AS (
        SELECT n.node,
               0.15 / (SELECT n FROM nn) + 0.85 * COALESCE(c.contrib, 0.0) AS rank
        FROM nodes n LEFT JOIN c{k} c ON n.node = c.node
    )"""

_PR_SQL = (
    _PR_PRELUDE
    + "".join(
        _PR_ITER.format(k=k, prev=k - 1, scale=_S) for k in range(1, _N_ITER + 1)
    )
    + f"""
    SELECT node, rank FROM r{_N_ITER}
    """
)


@query(
    "pagerank_trade_graph",
    sql=_PR_SQL,
    tags=("graph", "iterative", "pagerank"),
)
def pagerank_trade_graph(spark, sf_dir):
    """3-iteration damped PageRank on the bidirectional customer↔
    supplier trade graph. The DataFrame side runs the iterative operator
    (checkpointed rounds, deterministic block release); the oracle is
    the same computation unrolled into 3 CTE layers — an iterative
    algorithm with a full value-level correctness gate, not a rows-only
    waiver.
    """
    # weighted edges from the shared session-scoped pair-count table
    # (operators/trade_edges.py, r12)
    bi = trade_edges_weighted_bi(spark, sf_dir)
    return pagerank(bi, n_iter=_N_ITER, damping=0.85, base_num=0.15)


_PPR_K = 3  # landmark count (the 3 lowest-id customers)

_PPR_PRELUDE = f"""
    WITH e0 AS (
        SELECT o_custkey AS src, -l_suppkey AS dst, CAST(COUNT(*) AS DOUBLE) AS w
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1, 2
    ),
    bi AS (
        SELECT src, dst, w FROM e0
        UNION ALL
        SELECT dst AS src, src AS dst, w FROM e0
    ),
    nodes AS (SELECT DISTINCT src AS node FROM bi),
    outw AS (SELECT src, SUM(w) AS ow FROM bi GROUP BY src),
    shares AS (
        SELECT b.src, b.dst, b.w / o.ow AS share FROM bi b JOIN outw o ON b.src = o.src
    ),
    lm AS (
        SELECT node FROM nodes WHERE node > 0 ORDER BY node LIMIT {_PPR_K}
    ),
    r0 AS (
        SELECT n.node,
               CASE WHEN l.node IS NOT NULL
                    THEN 1.0 / CAST({_PPR_K} AS DOUBLE) ELSE 0.0 END AS rank
        FROM nodes n LEFT JOIN lm l ON n.node = l.node
    )"""

# DuckDB would evaluate 0.15 / 3 in DECIMAL arithmetic — force DOUBLE
# division so both engines run the identical IEEE op
_PPR_ITER = """,
    c{k} AS (
        SELECT s.dst AS node,
               SUM(CAST(ROUND(r.rank * s.share * {scale}) AS BIGINT)) / {scale}.0
                   AS contrib
        FROM shares s JOIN r{prev} r ON s.src = r.node
        GROUP BY s.dst
    ),
    r{k} AS (
        SELECT n.node,
               CASE WHEN l.node IS NOT NULL
                    THEN 0.15 / CAST({kcount} AS DOUBLE) ELSE 0.0 END
               + 0.85 * COALESCE(c.contrib, 0.0) AS rank
        FROM nodes n
        LEFT JOIN lm l ON n.node = l.node
        LEFT JOIN c{k} c ON n.node = c.node
    )"""

_PPR_SQL = (
    _PPR_PRELUDE
    + "".join(
        _PPR_ITER.format(k=k, prev=k - 1, scale=_S, kcount=_PPR_K)
        for k in range(1, _N_ITER + 1)
    )
    + f"""
    SELECT node, rank FROM r{_N_ITER}
    """
)


@query(
    "ppr_from_landmarks",
    sql=_PPR_SQL,
    tags=("graph", "iterative", "pagerank", "personalized"),
)
def ppr_from_landmarks(spark, sf_dir):
    """Personalized PageRank with teleport restricted to the 3
    lowest-id customers — proximity-to-seeds ranking, the
    recommendation / trust-propagation primitive ("which suppliers
    sit closest to these accounts' trading neighborhoods"). Same
    iterative operator as pagerank_trade_graph with a `sources` set
    (operators/pagerank.py): init and teleport mass concentrate on
    the seeds, everything else — scaled-integer contribution sums,
    checkpoint-every-k, literal damping constants — is the identical
    loop, and the oracle replays all 3 rounds unrolled, so the
    personalization is value-checked bitwise (the teleport division
    is forced to DOUBLE in SQL; DuckDB's DECIMAL literals would
    otherwise diverge in the last bits).
    """
    # weighted edges from the shared session-scoped pair-count table
    # (operators/trade_edges.py, r12)
    bi = trade_edges_weighted_bi(spark, sf_dir)
    seeds = (
        bi.df.select(F.col("src").alias("node"))
        .distinct()
        .where(F.col("node") > 0)
        .orderBy("node")
        .limit(_PPR_K)
    )
    return pagerank(bi, n_iter=_N_ITER, sources=seeds)
