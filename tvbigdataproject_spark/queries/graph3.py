"""Graph traversal queries: BFS hop levels on the trade graph and
triangle counting on the near-duplicate document graph.

Extends the graph tier (SURVEY.md §2 G-rows + north star) past the
reference's 2-hop neighborhood (`RetweetTagsJaccardGraph.py:255-276`,
which collects the frontier to the driver and loops — here every round
stays distributed) to arbitrary-depth shortest-hop search, and adds the
standard triangle/clustering primitive the reference lacks entirely.

Both are value-checked: BFS against a recursive-CTE DuckDB oracle (the
recursion dedups rows, so the visited set stays node-bounded), triangles
against a naive id-ordered 3-way self-join — the Spark side's
degree-ordered orientation enumerates the identical triangle set, so the
optimization is covered by the exact comparison.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tvbigdataproject_spark.operators.dedup import ngram_jaccard_pairs
from tvbigdataproject_spark.operators.materialize import session_persist
from tvbigdataproject_spark.operators.traversal import (
    bfs_levels,
    kcore_peel,
    triangle_corner_counts,
)
from tvbigdataproject_spark.queries.dedup import _SH_SQL
from tvbigdataproject_spark.operators.trade_edges import trade_edges_bi
from tvbigdataproject_spark.queries.registry import query
from tvbigdataproject_spark.sources import read_table

_BFS_SOURCE = 1  # customer #1 — present at every SF
_BFS_HOPS = 3


@query(
    "bfs_hops_trade",
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
    bfs(node, hop) AS (
        SELECT CAST({_BFS_SOURCE} AS BIGINT) AS node, 0 AS hop
        UNION
        SELECT e.dst AS node, b.hop + 1 AS hop
        FROM bfs b JOIN bi e ON e.src = b.node
        WHERE b.hop < {_BFS_HOPS}
    )
    SELECT node, MIN(hop) AS hop FROM bfs GROUP BY node
    """,
    tags=("graph", "iterative", "bfs"),
)
def bfs_hops_trade(spark, sf_dir):
    """Minimum hop distance from customer #1 to every node within 3
    hops of the bidirectional customer↔supplier trade graph (supplier
    ids negated into their own id space, as in pagerank_trade_graph).

    The oracle's recursive CTE uses UNION (distinct) so the recursion
    carries at most nodes x hops rows — the walk count through a dense
    trade graph is exponential, the visited set is not. The DataFrame
    side is the iterative frontier operator (operators/traversal.py):
    one join and one min-aggregate per hop, the visited set checkpointed
    every hop and broadcast into the join while its measured size fits
    the broadcast threshold.
    """
    bi = trade_edges_bi(spark, sf_dir)
    return bfs_levels(bi, source=_BFS_SOURCE, max_hops=_BFS_HOPS)


_KCORE_K = 30
_KCORE_ROUNDS = 3


def _kcore_sql(k: int, rounds: int) -> str:
    prelude = """
    WITH e0 AS (
        SELECT DISTINCT o_custkey AS src, -l_suppkey AS dst
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    bi0 AS (
        SELECT src, dst FROM e0
        UNION ALL
        SELECT dst AS src, src AS dst FROM e0
    )"""
    steps = "".join(
        f""",
    k{r} AS (
        SELECT src AS node
        FROM (SELECT src, COUNT(*) AS c FROM bi{r - 1} GROUP BY src)
        WHERE c >= {k}
    ),
    bi{r} AS (
        SELECT b.src, b.dst
        FROM bi{r - 1} b
        JOIN k{r} ka ON b.src = ka.node
        JOIN k{r} kb ON b.dst = kb.node
    )"""
        for r in range(1, rounds + 1)
    )
    return (
        prelude
        + steps
        + f"""
    SELECT src AS node, COUNT(*) AS deg FROM bi{rounds} GROUP BY src
    """
    )


@query(
    "kcore_trade_graph",
    sql=_kcore_sql(_KCORE_K, _KCORE_ROUNDS),
    tags=("graph", "iterative", "kcore"),
)
def kcore_trade_graph(spark, sf_dir):
    """Bounded-round 30-core of the bidirectional trade graph: 3 rounds
    of "drop nodes with degree < 30, recompute" — the dense-backbone
    extraction used to separate habitual traders from one-off
    participants before community analysis. The oracle replays the peel
    as 3 unrolled CTE rounds, value-checking the whole cascade (fixed
    rounds for reproducibility, same design as pagerank_trade_graph).
    """
    bi = trade_edges_bi(spark, sf_dir)
    return kcore_peel(bi, k=_KCORE_K, rounds=_KCORE_ROUNDS)


@query(
    "triangle_count_neardup",
    sql=f"""
    WITH {_SH_SQL},
    shdict AS (
        SELECT s, ROW_NUMBER() OVER (ORDER BY s) AS sid
        FROM (SELECT DISTINCT s FROM sh)
    ),
    she AS (
        SELECT sh.doc_id, shdict.sid FROM sh JOIN shdict ON shdict.s = sh.s
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM she GROUP BY 1),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
        FROM she a JOIN she b ON a.sid = b.sid AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT doc_a, doc_b
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.4
    ),
    tri AS (
        SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
        FROM pairs e1
        JOIN pairs e2 ON e2.doc_a = e1.doc_b
        JOIN pairs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
    ),
    corners AS (
        SELECT a AS node FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
    )
    SELECT node, COUNT(*) AS n_triangles FROM corners GROUP BY node
    """,
    tags=("graph", "dedup", "triangles"),
)
def triangle_count_neardup(spark, sf_dir):
    """Per-document triangle participation in the near-duplicate graph
    (word-3-gram Jaccard ≥ 0.4 pairs): a document in many triangles sits
    inside a tight duplication cluster — the signal template-spam
    detection keys on, and a stronger cluster-density measure than the
    pair count alone.

    The oracle brute-forces triangles with the id-ordered 3-way join;
    the DataFrame side runs the degree-ordered wedge join
    (operators/traversal.py) which enumerates the same set with the
    O(m^1.5) wedge bound — at 100 TB the un-oriented wedge count at a
    viral boilerplate hub is quadratic in its degree, the oriented one
    is not.
    """
    pairs = ngram_jaccard_pairs(
        read_table(spark, sf_dir, "documents"), n=3, threshold=0.4
    )
    # the pair generator is the expensive shingle self-join — cache the
    # oriented edges so the closing branch doesn't recompute it
    return triangle_corner_counts(pairs, a="doc_a", b="doc_b")


@query(
    "clustering_coeff_neardup",
    sql=f"""
    WITH {_SH_SQL},
    shdict AS (
        SELECT s, ROW_NUMBER() OVER (ORDER BY s) AS sid
        FROM (SELECT DISTINCT s FROM sh)
    ),
    she AS (
        SELECT sh.doc_id, shdict.sid FROM sh JOIN shdict ON shdict.s = sh.s
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM she GROUP BY 1),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
        FROM she a JOIN she b ON a.sid = b.sid AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT doc_a, doc_b
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.4
    ),
    tri AS (
        SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
        FROM pairs e1
        JOIN pairs e2 ON e2.doc_a = e1.doc_b
        JOIN pairs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
    ),
    corners AS (
        SELECT a AS node FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
    ),
    tcount AS (SELECT node, COUNT(*) AS n_triangles FROM corners GROUP BY node),
    degs AS (
        SELECT node, COUNT(*) AS deg FROM (
            SELECT doc_a AS node FROM pairs
            UNION ALL SELECT doc_b FROM pairs
        ) GROUP BY node
    )
    SELECT t.node, t.n_triangles, d.deg,
           CAST(2 * t.n_triangles AS DOUBLE)
               / CAST(d.deg * (d.deg - 1) AS DOUBLE) AS clustering_coeff
    FROM tcount t JOIN degs d ON t.node = d.node
    """,
    tags=("graph", "dedup", "triangles", "clustering"),
)
def clustering_coeff_neardup(spark, sf_dir):
    """Local clustering coefficient per document in the near-duplicate
    graph: 2*T / (deg*(deg-1)) — the fraction of a node's neighbor
    pairs that are themselves near-duplicates. Coefficient ~1 means the
    document sits inside a closed duplication clique (template spam);
    low coefficient with high degree means a hub bridging distinct
    clusters (boilerplate shared across otherwise-unrelated pages) —
    the two cases dedup policy treats differently, which the triangle
    count alone cannot separate.

    Exactness: T and deg are exact integers; the coefficient is ONE
    double division of two exactly-converted integers — identical on
    both engines. Scale shape: triangle counts from the degree-ordered
    wedge join (O(m^1.5) bound, operators/traversal.py), degrees one
    keyed agg over the pair list, one final equi-join on node id.
    """
    # the pair list feeds BOTH the triangle operator and the degree agg
    # — persist it so the expensive shingle self-join runs once (a lazy
    # session-owned persist, like triangle_corner_counts' oriented table)
    pairs = session_persist(
        ngram_jaccard_pairs(
            read_table(spark, sf_dir, "documents"), n=3, threshold=0.4
        )
    )
    tcount = triangle_corner_counts(pairs, a="doc_a", b="doc_b")
    degs = (
        pairs.select(F.col("doc_a").alias("node"))
        .unionAll(pairs.select(F.col("doc_b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    return tcount.join(degs, "node").select(
        "node",
        "n_triangles",
        "deg",
        (
            (2 * F.col("n_triangles")).cast("double")
            / (F.col("deg") * (F.col("deg") - 1)).cast("double")
        ).alias("clustering_coeff"),
    )
