"""Graph batch 7: k-truss peeling over the near-duplicate graph.

The k-truss is the edge analogue of the k-core: keep only edges that
participate in at least k-2 triangles OF THE SURVIVING SUBGRAPH,
iterated to (bounded) fixpoint. On a duplication graph the 3-truss
strips bridge edges (chance shingle collisions between unrelated
templates) while keeping clique interiors — a sharper cluster core
than triangle counts alone, because support is recomputed as weak
edges fall away (a triangle standing on a removed edge stops counting).

Bounded-round discipline: exactly 2 peel sweeps, replayed by the oracle
as unrolled CTE rounds (the kcore_trade_graph design, lifted from node
degrees to edge supports).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from tvbigdataproject_spark.operators.dedup import ngram_jaccard_pairs
from tvbigdataproject_spark.operators.materialize import Scope
from tvbigdataproject_spark.queries.dedup import _SH_SQL
from tvbigdataproject_spark.queries.registry import query
from tvbigdataproject_spark.sources import read_table

_TRUSS_K = 3  # keep edges with support >= k-2 = 1


def _support(pairs: DataFrame) -> DataFrame:
    """Triangle support per canonical (a<b) edge of the CURRENT edge
    set: the wedge join counts common neighbors x through the
    bidirectional view. Shuffle-hash pinned — both sides are
    corpus-pair-sized, and a size misestimate must not broadcast one
    (the dedup-family join contract)."""
    und = pairs.unionByName(
        pairs.select(
            F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
        )
    )
    u1 = und.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("x"))
    u2 = und.select(F.col("doc_a").alias("b"), F.col("doc_b").alias("x2"))
    return (
        pairs.join(u1.hint("shuffle_hash"), pairs.doc_a == u1.a)
        .join(
            u2.hint("shuffle_hash"),
            (F.col("doc_b") == u2.b) & (F.col("x") == u2.x2),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("support"))
    )


_KTRUSS_SQL = f"""
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
    und0 AS (
        SELECT doc_a, doc_b FROM pairs
        UNION ALL SELECT doc_b, doc_a FROM pairs
    ),
    sup1 AS (
        SELECT p.doc_a, p.doc_b, COUNT(*) AS s
        FROM pairs p
        JOIN und0 u1 ON u1.doc_a = p.doc_a
        JOIN und0 u2 ON u2.doc_a = p.doc_b AND u2.doc_b = u1.doc_b
        GROUP BY 1, 2
    ),
    e1 AS (
        SELECT doc_a, doc_b FROM sup1 WHERE s >= {_TRUSS_K - 2}
    ),
    und1 AS (
        SELECT doc_a, doc_b FROM e1
        UNION ALL SELECT doc_b, doc_a FROM e1
    ),
    sup2 AS (
        SELECT p.doc_a, p.doc_b, COUNT(*) AS s
        FROM e1 p
        JOIN und1 u1 ON u1.doc_a = p.doc_a
        JOIN und1 u2 ON u2.doc_a = p.doc_b AND u2.doc_b = u1.doc_b
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, CAST(s AS BIGINT) AS support
    FROM sup2 WHERE s >= {_TRUSS_K - 2}
"""


@query(
    "ktruss_neardup",
    sql=_KTRUSS_SQL,
    tags=("graph", "dedup", "triangles", "iterative"),
)
def ktruss_neardup(spark, sf_dir):
    """3-truss of the near-duplicate document graph (word-3-gram
    Jaccard >= 0.4 edges), two bounded peel sweeps: round 1 drops edges
    in zero triangles, round 2 recomputes support on the survivors and
    drops edges whose triangles all stood on removed edges. Returns the
    surviving canonical edges with their final (round-2) support.

    Why not triangle_count_neardup: node triangle counts keep a bridge
    edge whose endpoints are each dense elsewhere; trussness is an EDGE
    property of the surviving subgraph, so the peel severs exactly
    those bridges — the subgraph dedup policy treats as one template
    family is a 3-truss, not a triangle-touching set.

    Scale shape: each sweep is the oriented pair set joined twice
    against its bidirectional view (shuffle-hash pinned, cell-bounded
    like every dedup-family self-join) + one partial-aggregated count.
    The expensive shingle self-join runs ONCE: the pair set is
    checkpointed, each round's survivor set is checkpointed and the
    previous round's blocks released (the iterative-operator lineage
    discipline), and the returned result is materialized before its
    inputs are freed.
    """
    docs = read_table(spark, sf_dir, "documents")
    with Scope() as s:
        pairs = s.checkpoint(
            ngram_jaccard_pairs(docs, n=3, threshold=0.4).select(
                "doc_a", "doc_b"
            )
        )
        e1 = s.checkpoint(
            _support(pairs)
            .where(F.col("support") >= _TRUSS_K - 2)
            .select("doc_a", "doc_b")
        )
        out = _support(e1).where(F.col("support") >= _TRUSS_K - 2).select(
            "doc_a", "doc_b", F.col("support").cast("long")
        )
        return s.keep(s.checkpoint(out))


# The trade-returns digraph + its mutual-reachability SCC labels as a
# reusable oracle fragment (scc_trade_returns consumes it directly;
# condensation_levels_trade builds the contracted DAG on top of it)
# Edge thresholds: a forward (ship) edge needs >= 2 distinct orders
# between the customer and supplier, a backward (return) edge >= 2
# returned lineitems — unthresholded, the dense sf0.01 return web
# collapses the whole nation into ONE giant SCC (measured: 155 nodes,
# 1 component), which demonstrates nothing. At (2,2) the structure is
# real: a 64-node mutual-trade core, 2-cycles, and singleton shells.
_SCC_FWD_MIN = 2
_SCC_BWD_MIN = 2

_SCC_CTES = f"""
    cust AS MATERIALIZED (
        SELECT c_custkey FROM customer WHERE c_nationkey = 0
    ),
    e AS MATERIALIZED (
        SELECT s, d FROM (
            SELECT o_custkey AS s, -l_suppkey AS d,
                   COUNT(DISTINCT o_orderkey) AS n
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN cust ON o_custkey = c_custkey
            GROUP BY 1, 2
        ) WHERE n >= {_SCC_FWD_MIN}
        UNION
        SELECT s, d FROM (
            SELECT -l_suppkey AS s, o_custkey AS d, COUNT(*) AS n
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN cust ON o_custkey = c_custkey
            WHERE l_returnflag = 'R'
            GROUP BY 1, 2
        ) WHERE n >= {_SCC_BWD_MIN}
    ),
    nodes AS MATERIALIZED (
        SELECT s AS node FROM e UNION SELECT d FROM e
    ),
    reach(a, b) AS (
        SELECT s, d FROM e
        UNION
        SELECT r.a, e.d FROM reach r JOIN e ON e.s = r.b
    ),
    mutual AS MATERIALIZED (
        SELECT r1.a AS u, r1.b AS v
        FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a
    ),
    scc_of AS MATERIALIZED (
        SELECT n.node,
               LEAST(n.node, COALESCE(MIN(m.v), n.node)) AS scc
        FROM nodes n LEFT JOIN mutual m ON m.u = n.node
        GROUP BY n.node
    )"""




def _trade_returns_edges(spark, sf_dir):
    """Thresholded directed trade-returns edges (see _SCC_CTES note):
    ship edges need >= _SCC_FWD_MIN distinct orders, return edges
    >= _SCC_BWD_MIN returned lineitems."""
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    cust = (
        read_table(spark, sf_dir, "customer")
        .where(F.col("c_nationkey") == 0)
        .select("c_custkey")
    )
    base = li.join(orders, li.l_orderkey == orders.o_orderkey).join(
        F.broadcast(cust), orders.o_custkey == cust.c_custkey
    )
    fwd = (
        base.groupBy(
            F.col("o_custkey").alias("src"), (-F.col("l_suppkey")).alias("dst")
        )
        .agg(F.countDistinct("o_orderkey").alias("n"))
        .where(F.col("n") >= _SCC_FWD_MIN)
        .select("src", "dst")
    )
    bwd = (
        base.where(F.col("l_returnflag") == "R")
        .groupBy(
            (-F.col("l_suppkey")).alias("src"), F.col("o_custkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= _SCC_BWD_MIN)
        .select("src", "dst")
    )
    return fwd.unionByName(bwd)


@query(
    "scc_trade_returns",
    sql=f"""
    WITH RECURSIVE {_SCC_CTES}
    SELECT node, scc FROM scc_of
    """,
    tags=("graph", "iterative", "components"),
)
def scc_trade_returns(spark, sf_dir):
    """Strongly connected components of the DIRECTED trade-returns
    graph: customer -> supplier when any lineitem flows between them,
    supplier -> customer only when that supplier shipped the customer a
    RETURNED item (l_returnflag = 'R') — so an SCC is a maximal set of
    mutual ship-and-return trade relationships, the directed structure
    the undirected dedup_components/CC tier cannot see (suppliers
    negated into their own id space, the pagerank_trade_graph
    convention; restricted to nation-0 customers so the oracle's
    transitive closure stays bounded — the operator itself is general).

    Scale shape: operators/components.py::strongly_connected_components
    — distributed Trim + forward-min-coloring + backward sweep (the
    FW-BW-Trim family): trim peels the DAG mass as singleton SCCs, the
    coloring fixpoint is monotone (convergence check = correctness
    proof), and each backward sweep collects every root's SCC at once.
    All rounds are corpus-partitioned equi-joins, eagerly checkpointed
    with tracked release. Oracle: mutual transitive reachability via
    recursive CTE, SCC label = min mutually-reachable node.
    """
    from tvbigdataproject_spark.operators.components import (
        strongly_connected_components,
    )

    edges = _trade_returns_edges(spark, sf_dir)
    return strongly_connected_components(edges)


@query(
    "condensation_levels_trade",
    sql=f"""
    WITH RECURSIVE {_SCC_CTES},
    ce AS MATERIALIZED (
        SELECT DISTINCT s1.scc AS s, s2.scc AS d
        FROM e
        JOIN scc_of s1 ON e.s = s1.node
        JOIN scc_of s2 ON e.d = s2.node
        WHERE s1.scc <> s2.scc
    ),
    cnodes AS MATERIALIZED (SELECT DISTINCT scc FROM scc_of),
    lvl(c, l) AS (
        SELECT scc, 0 FROM cnodes
        UNION
        SELECT ce.d, lvl.l + 1 FROM ce JOIN lvl ON ce.s = lvl.c
    ),
    members AS MATERIALIZED (
        SELECT scc, COUNT(*) AS n_members FROM scc_of GROUP BY scc
    )
    SELECT lvl.c AS scc, CAST(MAX(lvl.l) AS INT) AS level,
           CAST(m.n_members AS BIGINT) AS n_members
    FROM lvl JOIN members m ON lvl.c = m.scc
    GROUP BY lvl.c, m.n_members
    """,
    tags=("graph", "iterative", "components"),
)
def condensation_levels_trade(spark, sf_dir):
    """Topological stratification of the trade-returns CONDENSATION:
    contract every strongly connected component of scc_trade_returns'
    digraph to one node (the contracted graph is a DAG by
    construction), then assign each component its longest-path-from-
    source level — the dependency depth a scheduler would execute it
    at — plus its member count. Composes the two new directed-graph
    operators end-to-end: strongly_connected_components -> contract ->
    dag_longest_path_levels.

    Scale shape: contraction is two equi-joins of the edge list against
    the (node, scc) labels + distinct; level assignment is monotone
    max-propagation to a fixpoint whose round count is the condensation
    DEPTH (checkpoint-tracked; the max_rounds guard doubles as a cycle
    detector, which on a correct contraction never fires). Oracle:
    longest path via recursive CTE enumerating (component, path-length)
    pairs, MAX-aggregated — bounded because the condensation is a small
    DAG on this nation-restricted graph.
    """
    from tvbigdataproject_spark.operators.components import (
        strongly_connected_components,
    )
    from tvbigdataproject_spark.operators.traversal import (
        dag_longest_path_levels,
    )

    edges = _trade_returns_edges(spark, sf_dir)
    labels = strongly_connected_components(edges)  # checkpointed result
    members = labels.groupBy("scc").agg(
        F.count(F.lit(1)).cast("long").alias("n_members")
    )
    # contract: edge (u, v) -> (scc(u), scc(v)), self-edges dropped; the
    # operator dedups and checkpoints the contracted pairs once. Isolated
    # components (no condensation edge) never enter the level table —
    # they are level 0 by definition.
    lvl = dag_longest_path_levels(
        edges.join(
            labels.select(F.col("node").alias("src"), F.col("scc").alias("s")),
            "src",
        )
        .join(
            labels.select(F.col("node").alias("dst"), F.col("scc").alias("d")),
            "dst",
        )
        .where(F.col("s") != F.col("d")),
        src="s",
        dst="d",
    )
    return members.join(
        lvl.withColumnRenamed("node", "scc"), "scc", "left"
    ).select(
        "scc",
        F.coalesce("level", F.lit(0)).cast("int").alias("level"),
        "n_members",
    )


@query(
    "bowtie_trade_returns",
    sql=f"""
    WITH RECURSIVE {_SCC_CTES},
    members AS MATERIALIZED (
        SELECT scc, COUNT(*) AS n FROM scc_of GROUP BY scc
    ),
    core AS MATERIALIZED (
        SELECT scc FROM members ORDER BY n DESC, scc LIMIT 1
    ),
    core_nodes AS MATERIALIZED (
        SELECT node FROM scc_of JOIN core USING (scc)
    ),
    reaches_core AS MATERIALIZED (
        SELECT DISTINCT r.a AS node
        FROM reach r JOIN core_nodes c ON r.b = c.node
    ),
    reached_from_core AS MATERIALIZED (
        SELECT DISTINCT r.b AS node
        FROM reach r JOIN core_nodes c ON r.a = c.node
    )
    SELECT n.node,
           CASE WHEN cn.node IS NOT NULL THEN 'core'
                WHEN rc.node IS NOT NULL THEN 'in'
                WHEN rf.node IS NOT NULL THEN 'out'
                ELSE 'other' END AS bowtie_class
    FROM (SELECT DISTINCT node FROM nodes) n
    LEFT JOIN core_nodes cn ON n.node = cn.node
    LEFT JOIN reaches_core rc ON n.node = rc.node
    LEFT JOIN reached_from_core rf ON n.node = rf.node
    """,
    tags=("graph", "iterative", "components"),
)
def bowtie_trade_returns(spark, sf_dir):
    """Bow-tie decomposition of the directed trade-returns graph
    (Broder et al. 2000, the web-graph macro-structure): CORE = the
    largest strongly connected component, IN = nodes that reach the
    core without belonging to it, OUT = nodes the core reaches, OTHER
    = tendrils / tubes / disconnected mass. The four-way split is the
    first question asked of any large digraph ("how much of this graph
    can actually circulate?") and composes three operators end to end:
    strongly_connected_components -> core selection -> ONE fused
    bidirectional reachability sweep (reachable_masks: the forward and
    reversed BFS waves share every round's join/shuffle/checkpoint, so
    the loop count is max of the two eccentricities, not their sum —
    r9 verdict item 5; the two-sweep version's sf1 wall time was
    dominated by rounds x job latency).

    A non-core node can never be both IN and OUT (mutual reachability
    with the core would put it in the core SCC), so the CASE ladder is
    a partition, not a priority hack. Core tie-break: largest member
    count, then smallest SCC label — total in both engines.

    Scale shape: SCC is the FW-BW-Trim operator (checkpointed rounds);
    the fused sweep is a frontier equi-join loop over direction-tagged
    edges with tracked cache release; the final classification is two
    left joins. The oracle replays the definition with its
    transitive-closure CTE (bounded on this nation-restricted graph;
    the operator side is general).
    """
    from tvbigdataproject_spark.operators.components import (
        strongly_connected_components,
    )
    from tvbigdataproject_spark.operators.traversal import reachable_masks

    # r13: the thresholded edge derivation (li⋈orders⋈cust + two aggs)
    # feeds BOTH the SCC and the reachability sweep — materialize it
    # once here as an EdgeSet (the distinct runs inside the same
    # checkpoint job) and let the operators skip their defensive
    # distinct+checkpoint. Both consumers return checkpointed tables,
    # so the blocks die with this scope.
    with Scope() as s:
        edges = s.edges(_trade_returns_edges(spark, sf_dir))
        labels = strongly_connected_components(edges)
        core_label = (
            labels.groupBy("scc")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.col("n").desc(), "scc")
            .limit(1)
            .select("scc")
        )
        core_nodes = labels.join(F.broadcast(core_label), "scc").select(
            "node"
        )
        # mask bit 1 = reached FROM the core (OUT side), bit 2 = reaches
        # the core via reversed edges (IN side); core itself carries 3.
        masks = reachable_masks(edges, core_nodes)
    nodes = labels.select("node")
    return (
        nodes.join(
            core_nodes.withColumn("_c", F.lit(1)), "node", "left"
        )
        .join(masks, "node", "left")
        .select(
            "node",
            F.when(F.col("_c") == 1, F.lit("core"))
            .when(
                F.col("mask").bitwiseAND(2) == 2, F.lit("in")
            )
            .when(
                F.col("mask").bitwiseAND(1) == 1, F.lit("out")
            )
            .otherwise(F.lit("other"))
            .alias("bowtie_class"),
        )
    )
