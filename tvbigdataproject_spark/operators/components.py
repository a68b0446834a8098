"""Connected components over near-duplicate pair sets — the clustering
stage of the dedup story (north-star surface; the reference stops at
pairwise similarity edges, e.g. RetweetTagsJaccardGraph.py:177-183, and
never groups them).

A dedup pipeline that emits *pairs* is unfinished: to actually drop
duplicates you need each document's duplicate *cluster* and one
canonical survivor per cluster. Components-of-pairs is exactly that.

Design for 100 TB:
- iterative **min-label propagation with pointer jumping** (label
  doubling). Near-dup graphs are unions of shallow star/clique-shaped
  clusters, so propagation alone converges in 1-2 rounds; pointer
  jumping bounds pathological chains at O(log n) rounds (same shape as
  the large-star/small-star MapReduce algorithm of Kiveris et al.,
  "Connected Components in MapReduce and Beyond", SoCC'14).
- each round is two equi-joins + a groupBy-min, all shuffle-partitioned
  by node/label id. Nothing per-row ever reaches the driver — the loop
  condition is a scalar "any label changed?" count.
- both join sides are corpus-sized, so the shuffle-hash strategy is
  pinned (a size misestimate must never broadcast a per-node table;
  tradeoff vs MERGE under heap pressure: operators/dedup.py docstring).
- lineage is truncated with ``localCheckpoint`` every ``_CC_EVERY`` = 2
  rounds (``Scope.rounds``) — without truncation the plan grows
  per iteration and the driver, not the data, becomes the bottleneck;
  truncating *every* round instead pays a fixed materialization job per
  round, which dominates when rounds are cheap (measured ~1 s/round of
  pure job overhead at bench scale — VERDICT r3). A short span
  amortizes both. The cadence is a constant, not a parameter: results
  do not depend on it, only job counts and plan size do.
  On a real cluster prefer reliable ``checkpoint()`` with a checkpoint
  dir (localCheckpoint ties the result to executor lifetime).
- each round's checkpoint is released **deterministically** once the
  next round is materialized: a checkpointed DataFrame's backing RDD
  lives outside the cacheManager, so it is otherwise freed only when
  Python GC happens to trigger the async ContextCleaner — on a
  long-lived session that leaves O(rounds) label tables cached
  nondeterministically. Every operator runs inside a
  ``materialize.Scope``, which releases each superseded checkpoint
  explicitly and everything else on exit, except the returned labels:
  ``keep`` hands those to the session registry, which
  ``release_session_caches`` frees (tests/test_components.py asserts
  no growth over a deep-chain multi-round run).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tvbigdataproject_spark.operators.materialize import (
    EdgeSet,
    Scope,
    collect_edges,
    local_frame,
    local_solve_ok,
)

# Rounds per checkpoint. CC (and SCC's forward coloring, the same
# shape) reads the previous label plan a constant number of times per
# round, so a 2-round span bounds the in-span lineage growth while
# halving the fixed per-checkpoint cost.
_CC_EVERY = 2
# LPA reads the previous labels exactly once per round: in-span growth
# is linear (the pagerank discipline, not the 3^k MIS/k-core one).
_LPA_EVERY = 2


def _cc_local(e: DataFrame) -> DataFrame:
    """Exact connected components of a sub-threshold edge set, solved on
    the driver: union-find with path compression over the collected
    (a, b) rows — one orientation is enough, union-find is direction
    blind — then component label = min member id, identical to the
    distributed min-propagation fixpoint. See _scc_local for the
    size-gate rationale (the caller bounds the collect)."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for a, b in collect_edges(e, "a", "b"):
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    label: dict = {}
    for n in parent:
        r = find(n)
        if r not in label or n < label[r]:
            label[r] = n
    t = e.schema["a"].dataType
    return local_frame(
        e.sparkSession,
        [(n, label[find(n)]) for n in parent],
        [("node", t), ("label", t)],
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """(node, component) for every node in ``edges``; component is the
    minimum node id reachable from the node (undirected).

    Converges when no label changes; raises if ``max_iter`` rounds were
    not enough (monotone-decreasing labels make the fixpoint the true
    component minimum, so a clean exit is a correctness proof, not a
    heuristic stop).

    The label table is materialized (eager localCheckpoint) and
    convergence is checked every ``_CC_EVERY`` = 2 rounds, so a span
    costs 2 jobs instead of 4; lineage is truncated at the span
    boundary. The check reads the span's last round, which is exact:
    a synchronous round that changes nothing is the fixpoint. Results
    are checkpoint-placement-independent; only job count changes.

    Both paths are exact; which one runs is the ``local_solve_ok`` size
    gate on the edge count. ``max_iter`` bounds only the distributed
    loop — below the gate the driver-local union-find runs to the exact
    fixpoint and never raises; set ``SPARK_GRAFT_LOCAL_EDGES=0`` to
    force the distributed loop and restore the ``max_iter`` raise.
    """
    with Scope() as s:
        # materialize the (static) edge set once, in ONE orientation:
        # every round's neighborhood join re-reads it, and the upstream
        # plan is typically the expensive part — for dedup_components it
        # is the shingle self-join pair generator, which must not be
        # replayed per round. The loop symmetrizes lazily over these
        # blocks (two narrow cached scans), so the checkpoint, the gate
        # count and the local collect all see half the rows.
        e = s.checkpoint(edges.select(F.col(src).alias("a"), F.col(dst).alias("b")))
        # r13 size-gated driver-local endgame (see _scc_local): below the
        # threshold the whole propagation loop — 2 jobs per span at best
        # — collapses to one cached count + one bounded collect + serial
        # union-find. Same labels.
        if local_solve_ok(e):
            return _cc_local(e)
        sym = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        return _cc_loop(s, sym, max_iter)


def _cc_loop(s: Scope, sym: DataFrame, max_iter: int) -> DataFrame:
    labels = s.checkpoint(
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )

    def step(plan: DataFrame, _r: int) -> DataFrame:
        # refresh _prev to THIS round's starting label
        plan = plan.select("node", "label", F.col("label").alias("_prev"))
        # min label over the neighborhood (node itself included below)
        nbr_min = (
            sym.hint("SHUFFLE_HASH")
            .join(
                plan.select(F.col("node").alias("b"), "label").hint(
                    "SHUFFLE_HASH"
                ),
                "b",
            )
            .groupBy(F.col("a").alias("node"))
            .agg(F.min("label").alias("nbr_label"))
        )
        stepped = (
            plan.hint("SHUFFLE_HASH")
            .join(nbr_min.hint("SHUFFLE_HASH"), "node", "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
                "_prev",
            )
        )
        # pointer jumping: node -> label -> label(label), halves chain depth
        parent = stepped.select(
            F.col("node").alias("p_node"), F.col("label").alias("p_label")
        )
        return (
            stepped.hint("SHUFFLE_HASH")
            .join(
                parent.hint("SHUFFLE_HASH"),
                stepped.label == parent.p_node,
                "left",
            )
            .select(
                "node",
                F.coalesce("p_label", "label").alias("label"),
                "_prev",
            )
        )

    # Two r12 probe changes, both exact (synchronous deterministic
    # update: a round that changes nothing IS the fixpoint, and the
    # min-propagation fixpoint is the component minimum):
    # (a) every round carries its PRE-round label as `_prev`, so the
    #     span-end convergence check reads the freshly checkpointed
    #     table alone (one cached-scan filter job) instead of
    #     shuffle-joining the new and old label tables;
    # (b) the criterion is "the LAST round changed nothing" rather than
    #     "the whole span changed nothing" — a span whose final round
    #     was already an identity terminates the loop immediately
    #     instead of paying one more full confirm span (at bench scale
    #     a span is ~10 fixed-cost jobs).
    def converged(new: DataFrame, _old: DataFrame, _r: int) -> bool:
        return new.where(F.col("label") != F.col("_prev")).limit(1).count() == 0

    labels, done = s.rounds(labels, step, max_iter, _CC_EVERY, converged)
    if done:
        # consumers see exactly (node, label); the carried _prev
        # column is an internal of the convergence probe
        return s.keep(labels).select("node", "label")
    raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")


def canonical_survivors(
    docs: DataFrame,
    pair_edges: DataFrame,
    id_col: str = "doc_id",
    src: str = "doc_a",
    dst: str = "doc_b",
) -> DataFrame:
    """Full-corpus dedup verdict: (id, component, keep).

    Every document gets its duplicate-cluster label (its own id when it
    has no near-dup partner) and a ``keep`` flag — true iff it is the
    cluster's minimum id. Downstream, ``WHERE keep`` is the deduped
    corpus. The left join is doc-table-sized on the left and
    components-of-paired-docs on the right (usually a small fraction),
    so AQE may broadcast the right side — that is fine and scale-safe:
    only *paired* docs appear there, not the corpus.
    """
    comp = connected_components(pair_edges, src=src, dst=dst).select(
        F.col("node").alias(id_col), F.col("label").alias("component")
    )
    out_component = F.coalesce(F.col("component"), F.col(id_col))
    return (
        docs.select(id_col)
        .join(comp, id_col, "left")
        .select(
            id_col,
            out_component.alias("component"),
            (out_component == F.col(id_col)).alias("keep"),
        )
    )


def label_propagation(
    edges: DataFrame | EdgeSet,
    rounds: int,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Bounded-round synchronous label-propagation community detection
    (Raghavan et al. 2007) over an undirected graph (feed a
    bidirectional edge list). Returns (node, community) after exactly
    `rounds` synchronous sweeps.

    Every node starts in its own singleton community (label = own id);
    each round every node adopts the most frequent label among its
    neighbors, ties broken by the SMALLEST label — fully deterministic,
    so a fixed-round oracle replays the run exactly (the unrolled-SQL
    reproducibility discipline of pagerank/luby_mis; classic LPA's
    random tie-breaks and asynchronous schedules are deliberately
    traded for cross-engine bit-parity, as in GraphX's LPA which makes
    the same synchronous-deterministic tradeoff).

    Per round: one edges-to-labels equi-join (shuffle keyed on node
    id), one (node, label) count aggregation with map-side partials,
    and one per-node argmax window — everything partitions on the node
    id, nothing is all-pairs, per-node window state is bounded by the
    node's distinct neighbor-label count. Hub skew lands on the
    (node, label) count groupBy, which partial-aggregates before the
    shuffle. The labels table is checkpointed every ``_LPA_EVERY`` = 2
    rounds with tracked release (``Scope.rounds``).

    Bounded rounds are semantics, not a shortcut: synchronous LPA can
    oscillate on bipartite structure (two-coloring flip), so a
    convergence loop may never terminate; production systems run
    5-10 sweeps and take the snapshot. Callers wanting convergence
    detection can compare successive rounds' outputs.
    """
    from pyspark.sql import Window

    with Scope() as s:
        # an EdgeSet (e.g. the session trade table) is read as given;
        # anything else is deduped and checkpointed once
        e = s.edges(edges, src, dst).df
        labels = s.checkpoint(
            e.select(F.col("src").alias("node"))
            .distinct()
            .select("node", F.col("node").alias("community"))
        )
        w = Window.partitionBy("src").orderBy(
            F.col("c").desc(), F.col("nb_label").asc()
        )

        def step(plan: DataFrame, _r: int) -> DataFrame:
            nb = plan.select(
                F.col("node").alias("nb_node"),
                F.col("community").alias("nb_label"),
            )
            cnt = (
                e.hint("SHUFFLE_HASH")
                .join(nb.hint("SHUFFLE_HASH"), e.dst == nb.nb_node)
                .groupBy("src", "nb_label")
                .agg(F.count(F.lit(1)).alias("c"))
            )
            return (
                cnt.withColumn("rn", F.row_number().over(w))
                .where(F.col("rn") == 1)
                .select(
                    F.col("src").alias("node"),
                    F.col("nb_label").alias("community"),
                )
            )

        labels, _ = s.rounds(labels, step, rounds, _LPA_EVERY)
        return s.keep(labels)


def best_of_cluster_survivors(
    docs: DataFrame,
    pair_edges: DataFrame,
    quality_col: str,
    id_col: str = "doc_id",
    src: str = "doc_a",
    dst: str = "doc_b",
) -> DataFrame:
    """Quality-aware dedup verdict: (id, component, keep) where keep is
    true iff the document has the cluster's MAXIMUM ``quality_col``
    (ties to the smallest id; singletons always keep). Production
    pipelines keep the best copy of a duplicate cluster — longest /
    highest-quality-scored — not the arbitrary minimum id
    (canonical_survivors is that simpler min-id form).

    Plan: components over the pair graph (iterative, checkpointed),
    one corpus-sized left join on the id, then a per-cluster argmax
    window. The window partitions on the cluster label; its state is
    bounded by the largest duplicate cluster — the same bound the
    components computation already carries.
    """
    from pyspark.sql import Window

    comp = connected_components(pair_edges, src=src, dst=dst).select(
        F.col("node").alias(id_col), F.col("label").alias("component")
    )
    out_component = F.coalesce(F.col("component"), F.col(id_col))
    labeled = (
        docs.select(id_col, quality_col)
        .join(comp, id_col, "left")
        .select(id_col, quality_col, out_component.alias("component"))
    )
    w = Window.partitionBy("component").orderBy(
        F.col(quality_col).desc(), F.col(id_col).asc()
    )
    return labeled.withColumn(
        "keep", F.row_number().over(w) == 1
    ).select(id_col, "component", quality_col, "keep")


def _scc_local(rem_e: DataFrame, rem_n: DataFrame) -> DataFrame:
    """Exact SCC of the (sub-threshold) remainder, solved on the driver:
    iterative Tarjan over the collected edge list, labels = min member
    id per SCC — identical output to the distributed FW-BW-Trim peel,
    in O(V+E) single-core time instead of O(condensation depth) full
    cluster barriers. The standard endgame of multistep SCC methods
    (Slota et al. 2014 switch to a serial algorithm once the remainder
    is small); the caller gates entry on the collected size."""
    adj: dict = {r[0]: [] for r in rem_n.select("node").collect()}
    for s_, d_ in collect_edges(rem_e, "s", "d"):
        adj.setdefault(s_, []).append(d_)
        adj.setdefault(d_, [])
    # Tarjan, iterative (no recursion-depth limit)
    index: dict = {}
    low: dict = {}
    on_stack: set = set()
    stack: list = []
    comp_of: dict = {}
    counter = 0
    for root in adj:
        if root in index:
            continue
        work = [(root, 0)]
        while work:
            v, pi = work[-1]
            if pi == 0:
                index[v] = low[v] = counter
                counter += 1
                stack.append(v)
                on_stack.add(v)
            advanced = False
            nbrs = adj[v]
            while pi < len(nbrs):
                w = nbrs[pi]
                pi += 1
                if w not in index:
                    work[-1] = (v, pi)
                    work.append((w, 0))
                    advanced = True
                    break
                if w in on_stack:
                    if index[w] < low[v]:
                        low[v] = index[w]
            if advanced:
                continue
            work.pop()
            if low[v] == index[v]:
                members = []
                while True:
                    w = stack.pop()
                    on_stack.discard(w)
                    members.append(w)
                    if w == v:
                        break
                label = min(members)
                for w in members:
                    comp_of[w] = label
            if work:
                parent, _ = work[-1]
                if low[v] < low[parent]:
                    low[parent] = low[v]
    t = rem_n.schema["node"].dataType
    return local_frame(
        rem_n.sparkSession, [(n, comp_of[n]) for n in adj], [("node", t), ("scc", t)]
    )


def _forward_colors(
    s: Scope, rem_e: DataFrame, rem_n: DataFrame, max_rounds: int
) -> DataFrame:
    """SCC phase 2: (node, color, ...) with color = min id over the
    node's forward ancestors and itself, at the fixpoint.

    Two r12 job-count cuts, both semantics-free: (a) rounds run in
    ``_CC_EVERY``-round spans before each materialization (each round
    references the previous color plan twice — the _cc_loop span
    discipline); (b) every round carries the PRE-round color as
    ``_mid``, so the convergence probe ("the last round changed
    nothing" — exactly the per-round criterion, same round accounting)
    is a cached-scan filter on the fresh checkpoint, not a shuffle join
    of old vs new. Bowtie's 12-round coloring was ~84 of its 179
    per-rep jobs before this."""
    colors = s.checkpoint(rem_n.select("node", F.col("node").alias("color")))

    def step(plan: DataFrame, _r: int) -> DataFrame:
        plan = plan.select("node", "color")
        incoming = (
            rem_e.join(
                plan.select(F.col("node").alias("s"), F.col("color").alias("c_in")),
                "s",
            )
            .groupBy(F.col("d").alias("node"))
            .agg(F.min("c_in").alias("c_min"))
        )
        return plan.join(incoming, "node", "left").select(
            "node",
            F.least(F.col("color"), F.coalesce("c_min", F.col("color"))).alias(
                "color"
            ),
            F.col("color").alias("_mid"),
        )

    def converged(new: DataFrame, _old: DataFrame, _r: int) -> bool:
        return not new.where(F.col("color") != F.col("_mid")).head(1)

    colors, done = s.rounds(colors, step, max_rounds, _CC_EVERY, converged)
    if not done:
        raise RuntimeError(
            f"scc: forward coloring did not converge in {max_rounds} rounds"
        )
    return colors


def strongly_connected_components(
    edges: DataFrame | EdgeSet,
    src: str = "src",
    dst: str = "dst",
    max_peels: int = 30,
    max_rounds: int = 50,
) -> DataFrame:
    """(node, scc) for every node of the DIRECTED graph; scc is the
    minimum node id of the node's strongly connected component —
    connected_components' directed sibling (mutual reachability, the
    equivalence CC can't see: a DAG has only singleton SCCs).

    Algorithm: distributed Trim + Forward-color + Backward-sweep (the
    FW-BW-Trim family of Slota et al. / the coloring method of Orzan),
    peeled iteratively:

    1. TRIM — a node with no incoming or no outgoing edge in the
       remaining graph is its own SCC. Trim iterates to a FIXPOINT
       inside the peel (each pass exposes the next layer of sources/
       sinks), so the DAG-like mass of the condensation peels in one
       peel regardless of depth — a pure path graph trims away
       entirely in a single peel's inner passes. The inner loop is
       O(condensation depth) cheap anti-join passes, each removing at
       least one node (guaranteed termination); this replaces the
       round-8 shape where one trim pass per peel made a chain deeper
       than ~2*max_peels raise spuriously.
    2. FORWARD COLOR — propagate min node id along edge direction to a
       fixpoint: color(v) = min over forward-ancestors-and-self. Labels
       are monotone non-increasing, so the fixpoint is exact and the
       convergence check ("no label changed") is a correctness proof.
    3. BACKWARD SWEEP — every fixpoint root (color(v) == v) anchors one
       SCC: SCC(r) = {v : color(v) = r and v reaches r}, collected by a
       backward BFS from the roots restricted to same-color nodes. All
       discovered SCCs peel off together; edges touching them drop; the
       next peel runs on the remainder.

    Every round of every phase is two corpus-partitioned equi-joins +
    a groupBy (the connected_components shuffle shape), eagerly
    checkpointed with tracked release, and every loop's exit condition
    is a scalar count — nothing per-row reaches the driver. Rounds are
    data-dependent (bounded by the condensation depth); ``max_peels``/
    ``max_rounds`` raise rather than return a wrong fixpoint.

    Once a remainder passes the ``local_solve_ok`` size gate the peel
    hands it to the exact driver-local Tarjan, which never raises:
    ``max_peels``/``max_rounds`` bound only the distributed phases. Set
    ``SPARK_GRAFT_LOCAL_EDGES=0`` to force them and restore the raise.
    """
    with Scope() as s:
        es = s.edges(edges, src, dst)
        # self-edges never matter to an SCC: a narrow filter over the
        # materialized rows (the node table below still sees them, so a
        # self-loop-only node is its own singleton SCC)
        rem_e = es.df.select(F.col("src").alias("s"), F.col("dst").alias("d")).where(
            F.col("s") != F.col("d")
        )
        rem_n = s.checkpoint(
            es.df.select(F.col("src").alias("node"))
            .unionByName(es.df.select(F.col("dst").alias("node")))
            .distinct()
        )
        # per-peel SCC rows; their blocks stay in the scope until the
        # final union is materialized
        done: list[DataFrame] = []

        def _drop_edges(members: DataFrame) -> DataFrame:
            """rem_e without the edges touching ``members``, re-checkpointed
            (every later pass/round re-reads it); the superseded edge
            blocks — and the input edge set's, if this scope made it —
            are released."""
            m = members.select("node")
            new_e = s.checkpoint(
                rem_e.join(m.select(F.col("node").alias("s")), "s", "left_anti")
                .join(m.select(F.col("node").alias("d")), "d", "left_anti")
            )
            s.release(rem_e)
            s.release(es.df)
            return new_e

        for _ in range(max_peels):
            if not rem_n.head(1):
                break
            # r13: size-gated driver-local endgame. Once the remainder
            # is below the edge threshold, the FW-BW-Trim phase
            # structure (O(condensation depth) full-barrier rounds, the
            # dominant job count of the SCC family at bench scale —
            # bowtie was 159 jobs/rep) collapses to one count + one
            # bounded collect + one exact serial Tarjan. Same labels by
            # construction; the gate bounds driver memory the way the
            # broadcast threshold does.
            if local_solve_ok(rem_e):
                done.append(_scc_local(rem_e, rem_n))
                break
            # 1. TRIM to fixpoint: no in-edge or no out-edge ->
            # singleton SCC; each inner pass exposes the next layer,
            # and every pass removes >= 1 node or exits, so the loop
            # terminates in <= condensation-depth passes.
            #
            # r12 job-count cut: one FLAGGED node checkpoint per pass
            # (node, _t = trivial?) replaces the old three (trivial
            # table, shrunk node table, plus the union+distinct's extra
            # exchange inside the trivial plan). The trivial rows and
            # the surviving node set are both lazy filters over the one
            # checkpoint; its blocks back the emitted SCC rows in
            # `done` until the final union.
            while True:
                has_in = rem_e.select(F.col("d").alias("node")).distinct()
                has_out = rem_e.select(F.col("s").alias("node")).distinct()
                flagged = s.checkpoint(
                    rem_n.join(has_in.withColumn("_i", F.lit(1)), "node", "left")
                    .join(has_out.withColumn("_o", F.lit(1)), "node", "left")
                    .select(
                        "node",
                        (F.col("_i").isNull() | F.col("_o").isNull()).alias("_t"),
                    )
                )
                if not flagged.where("_t").head(1):
                    s.release(flagged)
                    break
                trivial = flagged.where("_t").select(
                    "node", F.col("node").alias("scc")
                )
                done.append(trivial)
                # shrink: survivors are a lazy filter over the flagged
                # checkpoint (no separate node materialization); edges
                # still re-checkpoint. Releasing a flagged view is a
                # no-op — its blocks belong to `done` now.
                rem_e = _drop_edges(trivial)
                s.release(rem_n)
                rem_n = flagged.where(~F.col("_t")).select("node")
            if not rem_n.head(1):
                break

            # 2. FORWARD COLOR to fixpoint (min over ancestors + self)
            colors = _forward_colors(s, rem_e, rem_n, max_rounds)

            # 3. BACKWARD SWEEP from the roots within same color
            member = m_ck = s.checkpoint(
                colors.where(F.col("node") == F.col("color")).select(
                    "node", F.col("color").alias("scc")
                )
            )
            for _r in range(max_rounds):
                grown = (
                    rem_e.join(member.select(F.col("node").alias("d"), "scc"), "d")
                    .select(F.col("s").alias("node"), "scc")
                    .join(
                        colors.select("node", F.col("color").alias("scc")),
                        ["node", "scc"],
                        "left_semi",
                    )
                    .join(member.select("node"), "node", "left_anti")
                    .distinct()
                )
                # r12 job-count cut: materialize member ∪ grown ONCE
                # with a `_new` marker — the growth probe reads the
                # fresh checkpoint (cached scan), and the grown rows
                # are already unioned in, so a growing round costs one
                # checkpoint instead of two. A no-growth final round
                # re-materializes member once — cheaper than the old
                # per-round extra checkpoint whenever the sweep grows
                # at least twice, and equal otherwise.
                combined = s.checkpoint(
                    member.select("node", "scc")
                    .withColumn("_new", F.lit(False))
                    .unionByName(grown.withColumn("_new", F.lit(True)))
                )
                grew = combined.where("_new").head(1)
                s.release(m_ck)
                m_ck, member = combined, combined.select("node", "scc")
                if not grew:
                    break
            else:
                raise RuntimeError(
                    f"scc: backward sweep did not converge in {max_rounds} rounds"
                )
            s.release(colors)
            done.append(member)
            # drop the peeled SCCs from the remaining graph
            new_n = s.checkpoint(rem_n.join(member.select("node"), "node", "left_anti"))
            rem_e = _drop_edges(member)
            s.release(rem_n)
            rem_n = new_n
        else:
            raise RuntimeError(f"scc: not settled after {max_peels} peels")

        from functools import reduce

        out = reduce(DataFrame.unionByName, done) if done else rem_n.limit(
            0
        ).select("node", F.col("node").alias("scc"))
        # one row per node: materialize, then every peel table is dead
        return s.keep(s.checkpoint(out))
