"""Fixed-iteration PageRank over a weighted edge DataFrame.

Companion iterative operator to connected components
(operators/components.py) — same MapReduce shape, different fixpoint:
each round is one join (ranks onto out-edge shares) + one keyed
aggregate (contributions per destination) + one left join back onto the
node set, everything shuffle-partitioned by node id, nothing on the
driver.

Variant: fixed K iterations, uniform init 1/N, damped update

    rank_k(v) = (1-d)/N + d * Σ_{u→v} rank_{k-1}(u) * w(u,v) / outw(u)

with NO dangling-mass redistribution (documented choice — the simple
variant; dangling nodes leak mass, which is fine for relative ranking
and keeps the computation local). Convergence-to-tolerance is a trivial
loop-condition change but makes the round count data-dependent; fixed K
keeps it reproducible and lets the DuckDB oracle replay the exact
computation as K unrolled CTEs (queries/graph2.py).

Bitwise reproducibility across engines: the per-destination sum is the
scaled-integer trick from queries/_stable.py — each contribution is
rounded at 1e-12 and summed as BIGINT (exact, associative, order-free),
so Spark's partial aggregation and DuckDB's single-threaded sum produce
identical doubles every iteration. Total rank mass is ≤ 1, so the
scaled sum stays far inside BIGINT at any graph size. The damping
constants are literal doubles (0.85, 0.15) on both sides — never
computed as 1 - d, which DuckDB would do in exact DECIMAL and Spark in
double, diverging in the last bits.

Scale notes (100 TB): lineage is truncated every three rounds with
eager localCheckpoint and the superseded span's blocks are released
deterministically (operators/materialize.py's ``Scope.rounds`` —
VERDICT r2 item 5 discipline); on a real cluster prefer reliable
checkpoint() with a checkpoint dir.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tvbigdataproject_spark.operators.materialize import EdgeSet, Scope

_SCALE = 10**12
# Rounds per checkpoint: each round references the previous rank plan
# exactly once (join -> agg -> left join), so in-span lineage grows
# linearly and the span can be longer than the 3^k k-core/MIS loops'.
_EVERY = 3


def pagerank(
    edges: DataFrame | EdgeSet,
    n_iter: int = 3,
    damping: float = 0.85,
    base_num: float = 0.15,
    sources: DataFrame | None = None,
) -> DataFrame:
    """Ranks for every node appearing as a source in `edges` (feed a
    bidirectional edge list for undirected semantics — then the src set
    IS the node set), weighted by the edges' ``w`` column. Returns
    (node, rank).

    `sources` switches to PERSONALIZED PageRank: a one-column (`node`)
    DataFrame of teleport targets. Init and teleport mass concentrate
    uniformly on that set (1/|S| and base_num/|S|; zero elsewhere)
    instead of spreading 1/N over all nodes — the random walk restarts
    at the sources, so ranks measure proximity to them (the
    recommendation / trust-propagation primitive). The set must be
    small and bounded (landmarks, a user's seeds) — it is broadcast
    onto the node table. Sources not present in the graph's node set
    are DROPPED before |S| is counted (a node with no out-edges has no
    rank row to carry mass, so counting it would silently leak its
    1/|S| share of the teleport mass); everything else (contribution
    rounds, scaled
    integer sums, checkpoint discipline) is byte-for-byte the same
    loop, and the uniform variant is untouched when sources is None.

    `base_num` is the literal teleport numerator (1 - damping); it is a
    parameter, not computed, for cross-engine bit-identity (see module
    docstring).

    Ranks are localCheckpointed every ``_EVERY`` = 3 rounds
    (``Scope.rounds``), amortizing the fixed ~1 s/job materialization
    cost. Ranks are bitwise independent of checkpoint placement (the
    scaled-integer sums are exact); only the job count changes.
    """
    # The input plan may be arbitrarily expensive (a join chain, a
    # near-dup pair generator) — materialize it ONCE. Without this every
    # reference to the derived static tables (nodes in each round's left
    # join, shares, the node count) replays the upstream plan: at sf0.1
    # that recompute, not per-round job overhead, dominated the query.
    # An EdgeSet (the session trade tables) is already backed by
    # materialized rows — e is then a narrow cast projection over the
    # existing blocks and only the derived outw/shares tables
    # materialize (r13).
    with Scope() as s:
        if isinstance(edges, EdgeSet):
            e = edges.df.select("src", "dst", F.col("w").cast("double").alias("w"))
        else:
            e = s.checkpoint(
                edges.select("src", "dst", F.col("w").cast("double").alias("w"))
            )
        # out-weights double as the node set (the node set IS the src
        # set — see docstring), so one grouped materialization serves
        # both every round's left join and the normalization join; no
        # separate distinct pass
        outw = s.checkpoint(e.groupBy("src").agg(F.sum("w").alias("ow")))
        nodes = outw.select(F.col("src").alias("node"))
        # normalized once up front: contribution of u→v is
        # rank(u) * share(u,v); checkpointed because every iteration
        # re-reads it
        shares = s.checkpoint(
            e.join(outw, "src").select(
                "src", "dst", (F.col("w") / F.col("ow")).alias("share")
            )
        )
        # every iteration consumer reads shares/nodes — the raw edge
        # blocks are dead the moment shares is materialized
        s.release(e)

        if sources is None:
            n = nodes.count()
            nodes = nodes.select("node", F.lit(base_num / n).alias("base"))
            init = nodes.select("node", F.lit(1.0 / n).alias("rank"))
        else:
            # personalized: teleport mass concentrates on the source set.
            # |S| is bounded by contract, so the membership mark is a
            # broadcast left join; base_num/|S| and 1/|S| are plain double
            # divisions (the oracle must force DOUBLE division too —
            # DuckDB's 0.15/3 would be DECIMAL arithmetic)
            # restrict to sources that exist in the graph FIRST: an
            # out-of-graph source has no rank row, so counting it in |S|
            # would silently drop its share of the teleport mass. One
            # id-only semi join against the node table (sources is bounded;
            # the shuffled side carries a single id column), and the
            # reduced set is what both |S| and the membership mark see.
            in_graph = sources.select(F.col("node").alias("s_node")).join(
                nodes, F.col("s_node") == nodes.node, "left_semi"
            )
            s_cnt = in_graph.count()
            if s_cnt == 0:
                raise ValueError(
                    "personalized pagerank: no source node exists in the graph"
                )
            marked = nodes.join(
                F.broadcast(in_graph),
                nodes.node == F.col("s_node"),
                "left",
            )
            in_s = F.col("s_node").isNotNull()
            nodes = marked.select(
                "node",
                F.when(in_s, F.lit(base_num / float(s_cnt)))
                .otherwise(F.lit(0.0))
                .alias("base"),
            )
            init = marked.select(
                "node",
                F.when(in_s, F.lit(1.0 / float(s_cnt)))
                .otherwise(F.lit(0.0))
                .alias("rank"),
            )
        ranks = s.checkpoint(init)
        scaled = F.round(F.col("rank") * F.col("share") * _SCALE).cast("long")

        def step(plan: DataFrame, _r: int) -> DataFrame:
            contrib = (
                shares.join(plan, shares.src == plan.node)
                .groupBy("dst")
                .agg((F.sum(scaled) / float(_SCALE)).alias("contrib"))
            )
            return nodes.join(contrib, nodes.node == contrib.dst, "left").select(
                "node",
                (
                    F.col("base") + damping * F.coalesce(F.col("contrib"), F.lit(0.0))
                ).alias("rank"),
            )

        ranks, _ = s.rounds(ranks, step, n_iter, _EVERY)
        return s.keep(ranks)
