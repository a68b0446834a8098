"""Graph batch 6: landmark-sampled betweenness centrality.

Registered rows-only (no DuckDB oracle): the backward dependency
accumulation is a depth-indexed iteration no non-recursive SQL
expresses, and a recursive-CTE formulation would enumerate paths
(exponential state) rather than Brandes' per-level sums. The value
semantics are pinned instead by tests/test_centrality.py, which checks
the operator bitwise-stable across runs and against an exact
pure-Python Brandes on a hand graph — the same evidence pattern as the
other Spark-internal rows-only queries (learned IVF, LSH)."""

from __future__ import annotations

from pyspark.sql import functions as F

from tvbigdataproject_spark.operators.centrality import brandes_betweenness
from tvbigdataproject_spark.operators.trade_edges import trade_edges_bi
from tvbigdataproject_spark.queries.registry import query

_BC_LANDMARKS = 3
_BC_HOPS = 4


@query("betweenness_landmarks", sql=None, tags=("graph", "iterative", "centrality"))
def betweenness_landmarks(spark, sf_dir):
    """Brandes dependency scores from the 3 lowest-id customers over
    the bidirectional customer–supplier trade graph (suppliers negated
    into their own id space — the pagerank_trade_graph convention),
    shortest paths capped at 4 hops. This is the Brandes–Pich pivot
    estimator of betweenness: the exact all-sources sweep is O(V*E)
    and never runs at 100 TB; k fixed pivots cost k * depth rounds.

    Scale shape: see operators/centrality.py — forward = multi-source
    BFS carrying exact BIGINT path counts, backward = one
    (landmark, node)-keyed join per depth level with 2^30-scaled
    integer dependency accumulation (float-order-independent, so the
    output is bitwise-stable across runs and parallelism).
    """
    bi = trade_edges_bi(spark, sf_dir)
    landmarks = (
        bi.df.where(F.col("src") > 0)
        .select(F.col("src").alias("node"))
        .distinct()
        .orderBy("node")
        .limit(_BC_LANDMARKS)
    )
    return brandes_betweenness(bi, landmarks, max_hops=_BC_HOPS)


_DS_HOPS = 4


@query(
    "graph_diameter_sweep",
    sql=f"""
    WITH RECURSIVE e0 AS (
        SELECT DISTINCT o_custkey AS src, -l_suppkey AS dst
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    bi AS (
        SELECT src, dst FROM e0
        UNION ALL
        SELECT dst AS src, src AS dst FROM e0
    ),
    deg AS (SELECT src AS node, COUNT(*) AS c FROM bi GROUP BY 1),
    seed AS (SELECT node FROM deg ORDER BY c DESC, node LIMIT 1),
    b1(node, hop) AS (
        SELECT node, 0 FROM seed
        UNION
        SELECT e.dst, b.hop + 1 FROM b1 b JOIN bi e ON e.src = b.node
        WHERE b.hop < {_DS_HOPS}
    ),
    d1 AS (SELECT node, MIN(hop) AS hop FROM b1 GROUP BY node),
    far AS (SELECT node FROM d1 ORDER BY hop DESC, node LIMIT 1),
    b2(node, hop) AS (
        SELECT node, 0 FROM far
        UNION
        SELECT e.dst, b.hop + 1 FROM b2 b JOIN bi e ON e.src = b.node
        WHERE b.hop < {_DS_HOPS}
    ),
    d2 AS (SELECT node, MIN(hop) AS hop FROM b2 GROUP BY node)
    SELECT s.node AS seed_node, f.node AS sweep1_far,
           (SELECT MAX(hop) FROM d2) AS ecc_lb,
           (SELECT MIN(node) FROM d2
             WHERE hop = (SELECT MAX(hop) FROM d2)) AS far2_node,
           (SELECT COUNT(*) FROM d2
             WHERE hop = (SELECT MAX(hop) FROM d2)) AS n_at_ecc
    FROM seed s, far f
    """,
    tags=("graph", "iterative", "bfs"),
)
def graph_diameter_sweep(spark, sf_dir):
    """Graph-diameter lower bound by the double-sweep heuristic
    (Magnien-Latapy-Habib): BFS from the max-degree node (ties to the
    lower id), then BFS from the farthest node found; the second
    sweep's eccentricity lower-bounds the diameter and is empirically
    tight on real graphs. Both sweeps are depth-capped at 4 rounds
    (the bounded-iteration discipline of pagerank/k-core), so on a
    graph with a larger true eccentricity the reported value is the
    4-hop-ball eccentricity; the oracle replays the identical cap.

    Fully distributed: the seed and pivot are 1-row DataFrames flowing
    into the multi-source BFS operator — no driver collect anywhere.
    Each sweep is max_hops frontier joins keyed on node id; the argmax
    reductions run on the hop table (|V| rows), and every 1-row side of
    the final assembly is broadcast.
    """
    bi = trade_edges_bi(spark, sf_dir)
    from tvbigdataproject_spark.operators.traversal import bfs_levels_multi

    seed = (
        bi.df.groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("node").asc())
        .limit(1)
        .select("node")
    )
    d1 = bfs_levels_multi(bi, seed, max_hops=_DS_HOPS)
    far = (
        d1.orderBy(F.col("hop").desc(), F.col("node").asc())
        .limit(1)
        .select("node")
    )
    d2 = bfs_levels_multi(bi, far, max_hops=_DS_HOPS)
    ecc = d2.agg(F.max("hop").alias("ecc_lb"))
    tail = (
        d2.join(F.broadcast(ecc), F.col("hop") == F.col("ecc_lb"))
        .groupBy("ecc_lb")
        .agg(
            F.min("node").alias("far2_node"),
            F.count(F.lit(1)).alias("n_at_ecc"),
        )
    )
    return (
        seed.select(F.col("node").alias("seed_node"))
        .crossJoin(F.broadcast(d2.select(F.col("landmark").alias("sweep1_far")).distinct()))
        .crossJoin(F.broadcast(tail))
        .select("seed_node", "sweep1_far", "ecc_lb", "far2_node", "n_at_ecc")
    )
