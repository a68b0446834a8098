"""Betweenness centrality from landmark sources (Brandes, 2001).

Completes the centrality tier (degree, PageRank/PPR, harmonic
closeness) with the one member that needs path COUNTING, not just
distances: betweenness. Exact betweenness is an all-sources Brandes
sweep — O(V*E), never run at 100 TB; the production estimator is the
landmark (pivot) sample: run Brandes from k fixed sources and sum the
dependency scores (Brandes & Pich 2007 pivot estimation). This module
is that k-source sweep, both phases as frontier-batched DataFrame
rounds over a composite (landmark, node) key — the
bfs_levels_multi discipline, so the round count is the graph's
(bounded) depth, not k * depth.

Determinism: path counts sigma are exact BIGINTs; the backward
dependency delta(v) = sum_w (sigma_v / sigma_w) * (1 + delta_w) is
rational, so it is accumulated as 2^30-SCALED INTEGERS with one
integer division per (v, w) successor edge — float-order-independent,
so repeated runs hash identically at any parallelism (the established
scaled-integer convention, queries/_stable.py). Precision loss is
<= 2^-30 per level, far below sampling error. On dense graphs whose
path counts push the sigma * (SCALE + delta) numerator past 2^63, the
multiply is automatically promoted to exact DECIMAL(38,0) — decided
from the measured max sigma after the forward phase (the bound
max_sigma * SCALE * settled_rows), so the common sparse case pays
nothing and the dense case cannot hit ANSI's BIGINT overflow.

No GraphFrames (SURVEY.md §1.1): plain (src, dst) edge DataFrames.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tvbigdataproject_spark.operators.materialize import EdgeSet, Scope

_BC_SCALE = 1 << 30
# Rounds per forward-phase checkpoint: each round references the
# previous visited plan three times (frontier, anti-join, union), so
# in-span lineage grows ~3^k; 2 halves the checkpoint jobs without
# plan blowup (the kcore_peel cadence).
_FORWARD_EVERY = 2


def brandes_betweenness(
    edges: DataFrame | EdgeSet,
    sources: DataFrame,
    max_hops: int,
) -> DataFrame:
    """Landmark-sampled betweenness: sum over the source sample of
    Brandes dependency scores, over shortest paths of length <=
    ``max_hops``. ``edges`` is treated as directed — pass the
    bidirectional union for undirected semantics (and note undirected
    betweenness conventionally halves the sum; this returns the raw
    directed-sweep dependency, the quantity the estimator scales).

    Returns (node, bc_scaled, betweenness): the exact scaled-integer
    accumulation and its single final float division. Sources
    themselves accrue no dependency (Brandes excludes s).

    Scale shape: the forward phase is multi-source BFS carrying an
    extra BIGINT sigma through a per-round join + anti-join +
    partial-agg over bfs_levels_multi's key (one frontier keyed by
    (landmark, node), rounds = depth, checkpointed every
    ``_FORWARD_EVERY`` = 2 rounds with deterministic block release).
    The backward phase is one join per DEPTH LEVEL, descending: level-h nodes join their
    level-(h+1) successors' (sigma, delta) — every join keys on
    (landmark, node)-derived keys, so one partitioning serves all
    rounds; state is bounded by k * |reachable|, exactly the landmark
    method's contract.
    """
    start = sources.select(
        F.col("node").alias("landmark"),
        F.col("node"),
        F.lit(0).cast("int").alias("hop"),
        F.lit(1).cast("long").alias("sigma"),
    )
    with Scope() as s:
        e = s.edges(edges).df
        settled = _forward(s, e, start, max_hops)
        # One 1-row aggregate over the already-checkpointed settled
        # table serves two guards:
        # - the graph may be shallower than the hop budget (the forward
        #   sweep early-exits on an empty frontier): descend only from
        #   the deepest level actually reached, else every unused level
        #   costs one empty checkpointed delta table;
        # - OVERFLOW PROMOTION: the backward numerator is
        #   sigma_v * (SCALE + delta_w). sigma_v <= max(sigma) and
        #   delta_w <= SCALE * (reachable - 1) (each successor term
        #   sigma_v/sigma_w <= 1 because sigma is monotone along
        #   shortest-path DAG edges, and per-landmark dependency of one
        #   node is < reachable), so max(sigma) * SCALE * rows bounds
        #   the numerator. When that bound reaches 2^63 the BIGINT
        #   product would raise under ANSI — promote the multiply to
        #   DECIMAL(38,0) (exact; the div result is <= SCALE * rows and
        #   always fits BIGINT). Python-side arithmetic: unbounded ints,
        #   no overflow in the check itself.
        deepest, max_sigma, n_rows = settled.agg(
            F.max("hop"), F.max("sigma"), F.count(F.lit(1))
        ).collect()[0]
        use_decimal = (
            int(max_sigma or 0) * _BC_SCALE * (int(n_rows or 0) + 1)
            >= (1 << 63)
        )
        return _backward(
            s, e, settled, min(max_hops, int(deepest or 0)),
            use_decimal=use_decimal,
        )


def _forward(s, e, start, max_hops):
    """BFS levels + shortest-path counts: (landmark, node, hop, sigma).

    A node first reached at hop h has sigma = sum of the sigmas of its
    hop-(h-1) predecessors — every shortest path extends a shortest
    path, so the anti-join against already-settled nodes before the
    partial-aggregated sigma sum is the whole algorithm.
    """

    def step(plan: DataFrame, hop: int) -> DataFrame:
        frontier = plan.where(F.col("hop") == hop - 1)
        nxt = (
            frontier.join(e, frontier.node == e.src)
            .select("landmark", F.col("dst").alias("node"), "sigma")
            .join(plan.select("landmark", "node"), ["landmark", "node"], "left_anti")
            .groupBy("landmark", "node")
            .agg(F.sum("sigma").alias("sigma"))
            .select("landmark", "node", F.lit(hop).cast("int").alias("hop"), "sigma")
        )
        return plan.unionByName(nxt)

    # convergence check at the span boundary (the materialized frontier
    # makes the probe one cheap block scan): a graph shallower than
    # max_hops must not keep re-checkpointing the full visited table
    # through empty join rounds. The last hop needs no probe.
    def frontier_empty(new: DataFrame, _old: DataFrame, hop: int) -> bool:
        return hop < max_hops and not new.where(F.col("hop") == hop).head(1)

    visited, _ = s.rounds(
        s.checkpoint(start), step, max_hops, _FORWARD_EVERY, frontier_empty
    )
    return visited


def _backward(s, e, settled, max_hops, use_decimal: bool = False):
    """Dependency accumulation by descending depth level:
    delta(v) = sum over successor edges v->w with hop(w) = hop(v)+1 of
    sigma_v * (SCALE + delta_w) div sigma_w (exact integers).

    ``use_decimal`` promotes the numerator product to DECIMAL(38,0) —
    exact, and its integral-div result still lands in BIGINT — for
    dense graphs whose path counts push sigma * (SCALE + delta) past
    2^63 (brandes_betweenness decides from the measured max sigma;
    tests/test_centrality.py exercises the promotion on a layered
    dense DAG whose BIGINT path provably overflows).

    Each level's delta is eagerly checkpointed — level h references
    level h+1's plan plus the settled table, so without truncation the
    lineage would nest depth-deep — and every level's blocks are
    released once the final sum materializes.
    """
    if max_hops <= 0:
        # nothing was reached beyond the sources: no node accrues any
        # dependency — an empty result with the output schema
        return settled.limit(0).select(
            "node",
            F.lit(0).cast("long").alias("bc_scaled"),
            F.lit(0.0).alias("betweenness"),
        )
    levels: list[DataFrame] = []
    delta_next = settled.where(F.col("hop") == max_hops).select(
        "landmark", "node", F.lit(0).cast("long").alias("delta_scaled")
    )
    for h in range(max_hops - 1, -1, -1):
        w_full = (
            settled.where(F.col("hop") == h + 1)
            .join(delta_next, ["landmark", "node"], "left")
            .select(
                "landmark",
                F.col("node").alias("w"),
                F.col("sigma").alias("sigma_w"),
                F.coalesce("delta_scaled", F.lit(0)).alias("delta_w"),
            )
        )
        v = settled.where(F.col("hop") == h).select(
            "landmark", "node", "sigma"
        )
        contrib = (
            v.join(e, v.node == e.src)
            .select("landmark", "node", "sigma", F.col("dst").alias("w"))
            .join(w_full, ["landmark", "w"])
            .select(
                "landmark",
                "node",
                F.expr(
                    f"cast(sigma as decimal(38,0)) * ({_BC_SCALE}L + delta_w) div sigma_w"
                    if use_decimal
                    else f"sigma * ({_BC_SCALE}L + delta_w) div sigma_w"
                ).alias("c"),
            )
        )
        delta_level = contrib.groupBy("landmark", "node").agg(
            F.sum("c").alias("delta_scaled")
        )
        delta_level = s.checkpoint(delta_level)
        levels.append(delta_level)
        delta_next = delta_level
    bc = (
        reduce(DataFrame.unionByName, levels)
        .where(F.col("node") != F.col("landmark"))
        .groupBy("node")
        .agg(F.sum("delta_scaled").alias("bc_scaled"))
        .select(
            "node",
            "bc_scaled",
            (
                F.col("bc_scaled").cast("double") / float(_BC_SCALE)
            ).alias("betweenness"),
        )
    )
    # materialize the result BEFORE the scope releases the level
    # deltas it is computed from; the returned checkpoint's own
    # blocks stay alive with the returned plan (the same contract
    # as bfs_levels' returned visited set)
    return s.keep(s.checkpoint(bc))
