"""Graph traversal operators: BFS hop levels and triangle counting.

Rounds out the iterative-graph tier (components, pagerank) with the two
other classic distributed-graph shapes:

- **BFS levels and bounded SSSP** — frontier expansion, the building
  block of shortest-hop queries, k-hop reachability and landmark
  distances. ``bfs_levels``, ``bfs_levels_multi`` and ``sssp_bounded``
  share one round (``_min_round``): join the frontier onto the
  out-edges, union the candidates with the state, keep the minimum per
  key, checkpoint, release the previous state. The state never leaves
  the cluster (the reference collects each frontier to the driver), and
  because it is materialized every round its stored size is known:
  when ``materialize.fits_broadcast`` measures it under the session's
  broadcast threshold the frontier is broadcast and the static edge
  table is scanned in place rather than shuffled on every hop.
  Catalyst cannot see that a checkpoint is small — it inherits the
  multiplied join estimates of the plan it came from.

- **Triangle counting** — the degree-ordered wedge-join algorithm:
  orient every undirected edge from the lower-(degree, id) endpoint to
  the higher, enumerate wedges at each triangle's lowest-rank corner,
  close them with one more equi-join. Orientation bounds the wedge count
  at O(m^1.5) regardless of skew (a celebrity node of degree d produces
  d^2 wedges un-oriented but only counts wedges among its *higher*-rank
  neighbors oriented — the standard mitigation, cf. Suri & Vassilvitskii
  "Counting Triangles and the Curse of the Last Reducer", WWW'11).
  Because a triangle is enumerated exactly once no matter the
  orientation, the result is identical to the naive id-ordered 3-way
  self-join the DuckDB oracle runs — the optimization is invisible to
  correctness, which is the point.

Both operators take plain edge DataFrames (no GraphFrames — SURVEY.md
§1.1 graph representation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType

from tvbigdataproject_spark.operators.materialize import (
    EdgeSet,
    Scope,
    collect_edges,
    fits_broadcast,
    local_frame,
    local_solve_ok,
    session_persist,
)

# Rounds per checkpoint. A k-core round references the previous edge
# plan three times (degree agg + both semi-joins), so in-span lineage
# grows ~3^k: 2 halves the fixed per-job cost without plan blowup.
_KCORE_EVERY = 2


def _min_round(
    s: Scope,
    state: DataFrame,
    e: DataFrame,
    frontier: DataFrame,
    out: list,
    keys: list[str],
    value: str,
) -> DataFrame:
    """One frontier round over the materialized ``state``: join
    ``frontier`` (rows of ``state``) onto the out-edges ``e``, project
    the candidates to ``out``, union them with ``state``, keep the
    minimum ``value`` per ``keys``, checkpoint, and release ``state``.

    The frontier is broadcast when ``fits_broadcast`` measures the state
    checkpoint under the session threshold: the edge table is then
    scanned in place instead of shuffled, and the only exchange left is
    the partial min-aggregate's. Above the threshold (or with it at -1)
    Catalyst plans the join as it would without the gate."""
    side = F.broadcast(frontier) if fits_broadcast(state) else frontier
    cand = e.join(side, e.src == side.node).select(*out)
    nxt = s.checkpoint(
        state.unionByName(cand).groupBy(*keys).agg(F.min(value).alias(value))
    )
    s.release(state)
    return nxt


def bfs_levels(
    edges: DataFrame | EdgeSet,
    source: int | str,
    max_hops: int,
) -> DataFrame:
    """Minimum hop count from `source` to every node reachable within
    `max_hops` directed hops. Returns (node, hop) with hop in
    [0, max_hops]; unreachable nodes are absent. ``node`` has the type
    of the edges' ``src`` column, and ``source`` is cast to it.

    Each hop is one round of ``_min_round``: the rows at hop k-1 join
    the out-edges, the candidates (hop k) union the visited set, and a
    min-aggregate per node keeps the first hop that reached it — a
    candidate already visited loses to its smaller hop, so no distinct
    or anti-join is needed. The visited set is checkpointed every hop
    and the previous one released; its measured size decides whether
    the frontier is broadcast (``fits_broadcast``), which is what keeps
    the static edge table from being shuffled on every hop. For
    repeated BFS over one graph too large to broadcast into, pre-bucket
    `edges` by `src` so every round's join is co-located.
    """
    with Scope() as s:
        # materialize the (static) edge set once — every hop's frontier
        # join re-reads it, and the upstream plan may be an expensive
        # join chain (an EdgeSet already is materialized and distinct)
        e = s.edges(edges).df
        visited = s.checkpoint(
            e.sparkSession.range(1).select(
                F.lit(source).cast(e.schema["src"].dataType).alias("node"),
                F.lit(0).alias("hop"),
            )
        )
        for hop in range(1, max_hops + 1):
            visited = _min_round(
                s,
                visited,
                e,
                visited.where(F.col("hop") == hop - 1),
                [F.col("dst").alias("node"), F.lit(hop).alias("hop")],
                ["node"],
                "hop",
            )
        # the returned visited set is materialized — the edge blocks are
        # dead regardless of how we leave the loop
        return s.keep(visited)


def bfs_levels_multi(
    edges: DataFrame | EdgeSet,
    sources: DataFrame,
    max_hops: int,
) -> DataFrame:
    """Multi-source BFS: minimum hop count from EVERY node in `sources`
    (a one-column DataFrame of node ids, column `node`; repeated ids
    count once) to every node within `max_hops`. Returns (landmark,
    node, hop). This is the landmark-distance primitive behind
    closeness/eccentricity estimates and graph-diameter lower bounds: k
    BFS sweeps share one frontier keyed by (landmark, node) instead of
    running k sequential BFS loops — the round count stays max_hops, not
    k * max_hops.

    Same round as bfs_levels (``_min_round``, keyed by (landmark,
    node)), with the same per-hop checkpoint, release and measured
    broadcast gate; the visited set is composite-keyed, so memory is
    bounded by k * |reachable| — choose k (the landmark count) small
    and fixed, which is how landmark methods are used.
    """
    with Scope() as s:
        e = s.edges(edges).df
        visited = s.checkpoint(
            sources.select(
                F.col("node").alias("landmark"),
                F.col("node"),
                F.lit(0).alias("hop"),
            ).distinct()
        )
        for hop in range(1, max_hops + 1):
            visited = _min_round(
                s,
                visited,
                e,
                visited.where(F.col("hop") == hop - 1),
                ["landmark", F.col("dst").alias("node"), F.lit(hop).alias("hop")],
                ["landmark", "node"],
                "hop",
            )
        return s.keep(visited)


def kcore_peel(
    edges: DataFrame | EdgeSet,
    k: int,
    rounds: int,
) -> DataFrame:
    """Bounded-round k-core peel: `rounds` iterations of "drop every
    node with degree < k, recompute degrees". Returns (node, deg) for
    survivors with their residual degree. Feed a bidirectional edge list
    for undirected semantics (then out-degree IS degree).

    With unbounded rounds this converges to the true k-core; a fixed
    round count keeps the computation reproducible and lets the oracle
    replay it as unrolled CTEs (same reasoning as the fixed-K pagerank —
    operators/pagerank.py docstring). Each round is one keyed aggregate
    (degrees) + two semi-joins (filter both endpoints), all partitioned
    by node id; the edge set only shrinks, so per-round cost is
    monotonically decreasing. Lineage is truncated every
    ``_KCORE_EVERY`` = 2 rounds (``Scope.rounds``).
    """
    with Scope() as s:
        e = s.edges(edges).df

        def step(plan: DataFrame, _r: int) -> DataFrame:
            keep = (
                plan.groupBy("src")
                .agg(F.count(F.lit(1)).alias("deg"))
                .where(F.col("deg") >= k)
                .select(F.col("src").alias("node"))
            )
            return plan.join(keep, plan.src == keep.node, "left_semi").join(
                keep, F.col("dst") == keep.node, "left_semi"
            )

        e, _ = s.rounds(e, step, rounds, _KCORE_EVERY)
        s.keep(e)
    return e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )


def triangle_corner_counts(
    pairs: DataFrame,
    a: str = "doc_a",
    b: str = "doc_b",
) -> DataFrame:
    """Per-node triangle participation counts over an undirected graph
    given as unique (a, b) pairs. Returns (node, n_triangles) for every
    node in at least one triangle.

    Degree-ordered orientation (see module docstring): rank nodes by
    (degree, id), orient edges low→high rank, wedge-join at the low
    corner, close with an equi-join. Every join is corpus×corpus so the
    shuffle-hash strategy is pinned per the repo convention
    (operators/dedup.py docstring for the SHUFFLE_HASH-vs-MERGE
    tradeoff).

    The oriented edge table is consumed three times (both wedge sides +
    the closing probe); only the wedge sides share a partitioning, so
    Spark's exchange reuse cannot collapse the closing branch. The
    oriented table is therefore cached (``persist``, MEMORY_AND_DISK):
    the pair generator runs once and all three branches read the
    cache. ``persist`` rather than an eager checkpoint keeps the
    operator lazy (plan-only callers trigger no job). The CacheManager
    holds the table until an explicit release (the ContextCleaner never
    frees it), so it is a session-registry persist, freed by
    ``session.release_session_caches``.
    """
    e = pairs.select(F.col(a).alias("u"), F.col(b).alias("v")).distinct()
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # orientation rank is the (deg, node) pair; comparing structs gives
    # the lexicographic order natively, no dense rank shuffle needed.
    # Degree attaches are corpus×corpus — shuffle-hash pinned like every
    # other pair join (operators/dedup.py docstring for the tradeoff).
    ranked = (
        e.hint("SHUFFLE_HASH")
        .join(
            deg.withColumnRenamed("node", "u")
            .withColumnRenamed("deg", "du")
            .hint("SHUFFLE_HASH"),
            "u",
        )
        .join(
            deg.withColumnRenamed("node", "v")
            .withColumnRenamed("deg", "dv")
            .hint("SHUFFLE_HASH"),
            "v",
        )
    )
    u_lower = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = ranked.select(
        F.when(u_lower, F.col("u")).otherwise(F.col("v")).alias("lo"),
        F.when(u_lower, F.col("v")).otherwise(F.col("u")).alias("hi"),
        F.when(u_lower, F.struct("dv", "v")).otherwise(F.struct(F.col("du").alias("dv"), F.col("u").alias("v"))).alias("hi_rank"),
    )
    oriented = session_persist(oriented.select("lo", "hi", "hi_rank"))
    x, y = oriented.alias("x"), oriented.alias("y")
    wedges = (
        x.hint("SHUFFLE_HASH")
        .join(
            y.hint("SHUFFLE_HASH"),
            (F.col("x.lo") == F.col("y.lo"))
            & (F.col("x.hi_rank") < F.col("y.hi_rank")),
        )
        .select(
            F.col("x.lo").alias("corner"),
            F.col("x.hi").alias("p"),
            F.col("y.hi").alias("q"),
        )
    )
    closing = oriented.select(
        F.col("lo").alias("p"), F.col("hi").alias("q")
    )
    triangles = wedges.hint("SHUFFLE_HASH").join(
        closing.hint("SHUFFLE_HASH"), ["p", "q"]
    )
    return (
        triangles.select(
            F.explode(F.array("corner", "p", "q")).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def sssp_bounded(
    edges: DataFrame | EdgeSet,
    source: int | str,
    rounds: int,
) -> DataFrame:
    """Single-source shortest path bounded to ``rounds`` relaxation
    rounds (Bellman-Ford): (node, dist) where dist is the minimum total
    integer edge weight (the edges' ``w`` column) over any path from
    ``source`` using at most ``rounds`` edges. With rounds >= |V|-1
    this is the exact SSSP on a
    non-negative-weight graph; at a fixed small bound it is the
    deterministic "distance within k hops" semantics that an unrolled
    SQL oracle can mirror layer-for-layer. ``node`` has the type of the
    edges' ``src`` column, and ``source`` is cast to it.

    Each round is bfs_levels' round (``_min_round``) relaxing from the
    whole distance table: current distances join the out-edges, the
    relaxed distances union the table, and a min-aggregate per node
    keeps the shortest. The table is checkpointed every round and the
    previous one released; its measured size decides whether it is
    broadcast into the join. Parallel edges are pre-collapsed to their
    minimum weight so the per-round join fan-out is the simple-edge
    count.
    """
    with Scope() as s:
        if isinstance(edges, EdgeSet):
            # (src, dst) already unique — parallel edges pre-collapsed —
            # and the rows materialized: read the weight as given
            e = edges.df.select("src", "dst", F.col("w").cast("long").alias("w"))
        else:
            e = s.checkpoint(
                edges.select("src", "dst", F.col("w").cast("long").alias("w"))
                .groupBy("src", "dst")
                .agg(F.min("w").alias("w"))
            )
        dist = s.checkpoint(
            e.sparkSession.range(1).select(
                F.lit(source).cast(e.schema["src"].dataType).alias("node"),
                F.lit(0).cast("long").alias("dist"),
            )
        )
        for _ in range(rounds):
            dist = _min_round(
                s,
                dist,
                e,
                dist,
                [
                    F.col("dst").alias("node"),
                    (F.col("dist") + F.col("w")).alias("dist"),
                ],
                ["node"],
                "dist",
            )
        return s.keep(dist)


def luby_mis(
    edges: DataFrame | EdgeSet,
    rounds: int,
) -> DataFrame:
    """Bounded-round Luby maximal-independent-set over an undirected
    graph (feed a bidirectional edge list). Returns (node, round) for
    every node selected into the MIS within `rounds` rounds.

    Luby's algorithm, the canonical symmetry-breaking primitive of
    distributed graph computing (coloring, scheduling, correlation
    clustering all reduce to it): each round every still-active node
    draws a priority, joins the set iff its priority beats every
    active neighbor's, and winners plus their neighbors deactivate.
    Here the "random" priority is the md5-portable 16-bit hash of the
    node id, extended with the id itself to break hash collisions —
    fully deterministic, so the unrolled SQL oracle replays the exact
    run (the fixed-K reproducibility discipline of pagerank/kcore).

    Per round: one neighbor-min keyed agg + two anti-joins, all
    node-id-partitioned; the active set only shrinks. Both the active
    and the selected set are checkpointed every round: each round
    references the active plan three times, so in-span lineage would
    grow ~3^k (the kcore_peel reasoning, with a span of one).
    """
    from tvbigdataproject_spark.functions.hashing import hex16_hash

    # priority key: 16-bit hash in the high bits, the (shifted) node id
    # in the low bits -> unique, positive, portable to SQL arithmetic
    pkey = (
        hex16_hash(F.col("node").cast("string")) * F.lit(4294967296).cast("long")
        + (F.col("node") + F.lit(2147483648).cast("long"))
    )
    with Scope() as s:
        e = s.edges(edges).df
        active = s.checkpoint(
            e.select(F.col("src").alias("node"))
            .distinct()
            .select("node", pkey.alias("pkey"))
        )
        # empty (node, round) frame with node's real type — so rounds=0
        # returns a DataFrame (not None) and unions stay type-stable
        selected = active.select(
            "node", F.lit(0).cast("int").alias("round")
        ).where(F.lit(False))
        for r in range(1, rounds + 1):
            nb = active.select(
                F.col("node").alias("nb_node"), F.col("pkey").alias("nb_pkey")
            )
            nbmin = (
                e.join(nb, e.dst == nb.nb_node)
                .groupBy("src")
                .agg(F.min("nb_pkey").alias("m"))
            )
            sel = (
                active.join(nbmin, active.node == nbmin.src, "left")
                .where(F.col("m").isNull() | (F.col("pkey") < F.col("m")))
                .select("node", F.lit(r).cast("int").alias("round"))
            )
            removed = (
                e.join(sel.select(F.col("node").alias("s")), e.src == F.col("s"))
                .select(F.col("dst").alias("node"))
                .distinct()
            )
            stepped = s.checkpoint(selected.unionByName(sel))
            nxt = s.checkpoint(
                active.join(sel.select("node"), "node", "left_anti")
                .join(removed, "node", "left_anti")
            )
            s.release(active)
            s.release(selected)
            active, selected = nxt, stepped
        # the returned selected set stays materialized; everything else
        # is dead
        return s.keep(selected)


def dag_longest_path_levels(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 50,
) -> DataFrame:
    """(node, level) for a DAG: level = length of the LONGEST path from
    any source to the node (sources are level 0) — the topological
    stratification used for dependency scheduling and, composed with
    strongly_connected_components, for condensation-DAG analysis.
    ``src``/``dst`` name the edge columns of ``edges``; the rows are
    deduplicated and checkpointed once (``Scope.edges``).

    Iterative max-propagation: level(v) = max(level(v),
    max over in-edges u->v of level(u) + 1), from all-zeros. Levels are
    monotone non-decreasing and bounded by the DAG depth, so the
    fixpoint is exact and "no change" is the correctness proof. On a
    graph WITH a cycle the recursion has no fixpoint — the
    ``max_rounds`` guard raises, doubling as a cycle detector (levels
    on a cycle grow without bound).

    Each round is one corpus-partitioned equi-join + groupBy-max,
    checkpointed every round (``Scope.rounds``); the convergence probe
    joins the new levels to the old.
    """
    with Scope() as s:
        e = s.edges(
            edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        ).df.select(F.col("src").alias("s"), F.col("dst").alias("d"))
        lvl = s.checkpoint(
            e.select(F.col("s").alias("node"))
            .unionByName(e.select(F.col("d").alias("node")))
            .distinct()
            .select("node", F.lit(0).cast("int").alias("level"))
        )

        def step(plan: DataFrame, _r: int) -> DataFrame:
            incoming = (
                e.join(
                    plan.select(F.col("node").alias("s"), F.col("level").alias("lu")),
                    "s",
                )
                .groupBy(F.col("d").alias("node"))
                .agg((F.max("lu") + 1).alias("lin"))
            )
            return plan.join(incoming, "node", "left").select(
                "node",
                F.greatest(F.col("level"), F.coalesce("lin", F.col("level"))).alias(
                    "level"
                ),
            )

        def converged(new: DataFrame, old: DataFrame, _r: int) -> bool:
            return not (
                new.join(old.select("node", F.col("level").alias("old")), "node")
                .where(F.col("level") != F.col("old"))
                .head(1)
            )

        lvl, done = s.rounds(lvl, step, max_rounds, 1, converged)
        if done:
            return s.keep(lvl)
        raise RuntimeError(
            f"dag_longest_path_levels: no fixpoint in {max_rounds} rounds "
            "(deep DAG or a cycle — levels on a cycle grow without bound)"
        )


def _bfs_masks_local(edge_rows, src_rows) -> dict:
    """(node -> mask) fixpoint of the fused bidirectional sweep, serial:
    bit 1 propagates along the edges, bit 2 along their reverses,
    sources start (and stay) at 3 — exactly reachable_masks'
    invariant (per-bit-per-node visitation, OR-accumulated)."""
    fwd: dict = {}
    rev: dict = {}
    for s, d in edge_rows:
        fwd.setdefault(s, []).append(d)
        rev.setdefault(d, []).append(s)
    mask: dict = {n: 3 for n in src_rows}
    frontier = list(mask)
    while frontier:
        nxt: dict = {}
        for v in frontier:
            m = mask[v]
            if m & 1:
                for w in fwd.get(v, ()):
                    if not (mask.get(w, 0) | nxt.get(w, 0)) & 1:
                        nxt[w] = nxt.get(w, 0) | 1
            if m & 2:
                for w in rev.get(v, ()):
                    if not (mask.get(w, 0) | nxt.get(w, 0)) & 2:
                        nxt[w] = nxt.get(w, 0) | 2
        for w, b in nxt.items():
            mask[w] = mask.get(w, 0) | b
        frontier = list(nxt)
    return mask


def _source_ids(sources: DataFrame) -> list:
    """The distinct source node ids, on the driver (local endgames)."""
    return [r[0] for r in sources.select("node").distinct().collect()]


def reachable_masks(
    edges: DataFrame | EdgeSet,
    sources: DataFrame,
    max_rounds: int = 50,
) -> DataFrame:
    """(node, mask) for every node reachable from ``sources`` in either
    edge direction, in ONE frontier loop: mask bit 1 = reachable FROM
    the sources along the edges (forward sweep), bit 2 = reachable
    along the REVERSED edges (i.e. the node reaches the sources).
    Sources carry mask 3.

    This fuses two single-direction reachability sweeps (r9 verdict
    item 5): the bow-tie decomposition ran independent forward and
    reversed sweeps, and on an iterative frontier loop the dominant cost is
    rounds x fixed job latency — not per-round data. Tagging each edge
    with a direction bit (forward edges b=1, reversed copies b=2) and
    letting a frontier row (node, newbits) expand only across edges
    whose bit it carries runs both BFS waves through the SAME join,
    SAME shuffle, SAME checkpoint per round, so the loop ends after
    max(ecc_fwd, ecc_rev) rounds instead of ecc_fwd + ecc_rev.

    Per-bit-per-node visitation happens at most once (a node re-enters
    the frontier only with bits it newly acquired), so total work
    matches the two-sweep version while the round count halves. Eager
    checkpoint + tracked release per round; ``max_rounds`` raises
    rather than return a truncated set.

    Below the ``local_solve_ok`` edge gate a serial two-bit BFS on the
    driver returns the same (node, mask) rows and never raises:
    ``max_rounds`` bounds only the distributed loop. Set
    ``SPARK_GRAFT_LOCAL_EDGES=0`` to force that loop and restore the
    raise.
    """
    with Scope() as s:
        # base edge set, one orientation: an EdgeSet as given, else
        # deduped + checkpointed here (half the blocks of the pre-r13
        # shape, which checkpointed the DOUBLED direction-tagged table;
        # the tagged union below is distinct by construction over a
        # distinct base — the b column separates the branches — and
        # re-deriving it per round is two narrow cached scans).
        base = s.edges(edges).df
        # r13 size-gated driver-local endgame (components._scc_local
        # rationale): below the edge threshold the fused two-wave
        # frontier loop — max(ecc_fwd, ecc_rev) rounds x (checkpoint +
        # probe + checkpoint) jobs — collapses to one count + one
        # bounded collect + a serial two-bit BFS. Identical (node, mask)
        # fixpoint.
        if local_solve_ok(base):
            mask = _bfs_masks_local(collect_edges(base), _source_ids(sources))
            return local_frame(
                base.sparkSession,
                sorted(mask.items()),
                [("node", sources.schema["node"].dataType), ("mask", IntegerType())],
            )
        e2 = base.withColumn("b", F.lit(1)).unionByName(
            base.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            ).withColumn("b", F.lit(2))
        )
        visited = frontier = s.checkpoint(
            sources.select("node").distinct().withColumn("mask", F.lit(3))
        )
        for _ in range(max_rounds):
            prop = (
                frontier.join(e2, frontier.node == e2.src)
                .where(F.col("mask").bitwiseAND(F.col("b")) != 0)
                .groupBy(F.col("dst").alias("node"))
                .agg(F.bit_or("b").alias("mbits"))
            )
            nxt = s.checkpoint(
                prop.join(
                    visited.select("node", F.col("mask").alias("vmask")),
                    "node",
                    "left",
                )
                .select(
                    "node",
                    F.col("mbits")
                    .bitwiseAND(F.bitwise_not(F.coalesce("vmask", F.lit(0))))
                    .alias("mask"),
                )
                .where(F.col("mask") != 0)
            )
            if nxt.limit(1).count() == 0:
                return s.keep(visited)
            new_vis = s.checkpoint(
                visited.unionByName(nxt)
                .groupBy("node")
                .agg(F.bit_or("mask").alias("mask"))
            )
            s.release(visited)
            s.release(frontier)
            visited, frontier = new_vis, nxt
        raise RuntimeError(
            f"reachable_masks: frontier not empty after {max_rounds} rounds"
        )
