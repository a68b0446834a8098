"""strongly_connected_components vs an exact Tarjan reference on hand
and random directed graphs, plus partitioning invariance and the
no-leaked-checkpoint-blocks contract."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from tvbigdataproject_spark.operators.components import (
    strongly_connected_components,
)
from tvbigdataproject_spark.operators.materialize import persistent_ids


def _tarjan(n_nodes, edges):
    """Iterative Tarjan; returns {node: min-id-of-its-SCC}."""
    adj = {v: [] for v in n_nodes}
    for a, b in edges:
        if a != b:
            adj[a].append(b)
    index = {}
    low = {}
    on_stack = set()
    stack = []
    sccs = []
    counter = [0]

    def strongconnect(v0):
        work = [(v0, 0)]
        while work:
            v, pi = work[-1]
            if pi == 0:
                index[v] = low[v] = counter[0]
                counter[0] += 1
                stack.append(v)
                on_stack.add(v)
            recurse = False
            for i in range(pi, len(adj[v])):
                w = adj[v][i]
                if w not in index:
                    work[-1] = (v, i + 1)
                    work.append((w, 0))
                    recurse = True
                    break
                elif w in on_stack:
                    low[v] = min(low[v], index[w])
            if recurse:
                continue
            if low[v] == index[v]:
                comp = []
                while True:
                    w = stack.pop()
                    on_stack.discard(w)
                    comp.append(w)
                    if w == v:
                        break
                sccs.append(comp)
            work.pop()
            if work:
                u, _ = work[-1]
                low[u] = min(low[u], low[v])

    for v in n_nodes:
        if v not in index:
            strongconnect(v)
    out = {}
    for comp in sccs:
        m = min(comp)
        for v in comp:
            out[v] = m
    return out


def _run(spark, edges):
    e = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r.node: r.scc for r in strongly_connected_components(e).collect()
    }
    nodes = {a for a, _ in edges} | {b for _, b in edges}
    want = _tarjan(sorted(nodes), edges)
    return got, want


def test_two_cycles_and_a_bridge(spark):
    # 1<->2<->3 cycle, 10<->11 cycle, DAG bridge 3->10, pendant 20
    edges = [
        (1, 2), (2, 3), (3, 1),
        (10, 11), (11, 10),
        (3, 10),
        (10, 20),
    ]
    got, want = _run(spark, edges)
    assert got == want
    assert got[1] == got[2] == got[3] == 1
    assert got[10] == got[11] == 10
    assert got[20] == 20


def test_pure_path_is_all_singletons(spark):
    # the coloring-only worst case: trim iterates to a fixpoint INSIDE
    # one peel (round-8 advice), so a 21-node chain must settle within
    # max_peels=3 — the pre-fix one-trim-pass-per-peel shape needed
    # ~depth/2 = 10 peels here and raised
    edges = [(i, i + 1) for i in range(20)]
    e = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r.node: r.scc
        for r in strongly_connected_components(e, max_peels=3).collect()
    }
    want = _tarjan(sorted(range(21)), edges)
    assert got == want
    assert len(set(got.values())) == 21


def test_200_node_path_trims_within_two_peels(spark):
    # r9 advice "done" bar: a 200-node pure path settles with peels
    # << depth. Trim-to-fixpoint peels the whole chain inside ONE
    # peel's inner passes (each pass strips the exposed source+sink
    # layer), so max_peels=2 must suffice where the old one-pass-per-
    # peel shape needed ~depth/2 = 100 peels.
    n = 200
    edges = [(i, i + 1) for i in range(n)]
    e = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r.node: r.scc
        for r in strongly_connected_components(e, max_peels=2).collect()
    }
    assert got == {i: i for i in range(n + 1)}


def test_nonconvergence_raises_and_leaks_nothing(spark, monkeypatch):
    # Both error paths must unpersist every tracked checkpoint block
    # (r9 advice item): graph = 3-cycle + chord 1->3. Forward coloring
    # converges in 2 rounds but the backward sweep needs 3 (root 1 is
    # reached backward via 3 then 2 then the empty-growth check), so
    # max_rounds=2 forces the backward raise; max_rounds=1 forces the
    # forward raise. After each, no persistent RDDs may remain.
    import pytest

    sc = spark.sparkContext
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (1, 3)], "src long, dst long"
    )
    # threshold 0: the r13 local-Tarjan endgame would solve this
    # sub-threshold graph without entering the phases
    monkeypatch.setenv("SPARK_GRAFT_LOCAL_EDGES", "0")
    for max_rounds, phase in ((1, "forward coloring"), (2, "backward sweep")):
        before = persistent_ids(sc)
        with pytest.raises(RuntimeError, match=phase):
            strongly_connected_components(e, max_rounds=max_rounds)
        leaked = persistent_ids(sc) - before
        assert not leaked, (phase, leaked)


def test_random_digraphs_match_tarjan(spark):
    rng = random.Random(42)
    for trial in range(3):
        n = 30
        edges = list(
            {
                (rng.randrange(n), rng.randrange(n))
                for _ in range(70)
            }
        )
        edges = [(a, b) for a, b in edges if a != b]
        got, want = _run(spark, edges)
        assert got == want, f"trial {trial}"


def test_partitioning_invariance_and_no_leaked_blocks(spark):
    sc = spark.sparkContext
    edges = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 4), (6, 6)]
    e = spark.createDataFrame(edges, "src long, dst long")
    before = persistent_ids(sc)
    base = sorted(
        map(tuple, strongly_connected_components(e).collect())
    )
    shuf = sorted(
        map(
            tuple,
            strongly_connected_components(e.repartition(7)).collect(),
        )
    )
    assert base == shuf
    # self-loop node 6 is a singleton SCC and must be present
    assert (6, 6) in dict(base).items()
    # only the two returned results' own checkpoint blocks may remain
    leaked = persistent_ids(sc) - before
    assert len(leaked) <= 4, leaked


def test_dag_levels_and_cycle_detection(spark):
    from tvbigdataproject_spark.operators.traversal import (
        dag_longest_path_levels,
    )

    # diamond + tail: 1->2->4, 1->3->4->5, plus long arm 1->6->7->4:
    # longest path to 4 is through the arm (level 3), 5 is level 4
    edges = [(1, 2), (2, 4), (1, 3), (3, 4), (4, 5), (1, 6), (6, 7), (7, 4)]
    e = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.level for r in dag_longest_path_levels(e).collect()}
    assert got == {1: 0, 2: 1, 3: 1, 6: 1, 7: 2, 4: 3, 5: 4}

    # a cycle has no fixpoint: the max_rounds guard must raise
    cyc = spark.createDataFrame([(1, 2), (2, 3), (3, 1)], "src long, dst long")
    import pytest

    with pytest.raises(RuntimeError, match="cycle"):
        dag_longest_path_levels(cyc, max_rounds=10)


def test_forward_color_span_probe_matches_old_round_accounting(spark, monkeypatch):
    # r12 internals change: forward coloring runs 2-round spans with a
    # carried pre-round `_mid` color for the convergence probe. The
    # probe criterion ("the LAST round changed nothing") is the old
    # per-round one, so a graph whose coloring converges in exactly k
    # rounds must still succeed at max_rounds=k and raise at k-1 —
    # and the output schema must stay (node, scc).
    import pytest

    # 3-cycle + chord: forward coloring converges in round 2 (round 1
    # changes labels, round 2 confirms) — the round accounting the
    # pre-r12 nonconvergence test pinned.
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (1, 3)], "src long, dst long"
    )
    monkeypatch.setenv("SPARK_GRAFT_LOCAL_EDGES", "0")
    out = strongly_connected_components(e, max_rounds=3)
    assert out.columns == ["node", "scc"]
    assert sorted(map(tuple, out.collect())) == [(1, 1), (2, 1), (3, 1)]
    with pytest.raises(RuntimeError, match="forward coloring"):
        strongly_connected_components(e, max_rounds=1)


def test_local_endgame_matches_distributed_phases(spark, monkeypatch):
    # r13 size-gated local-Tarjan endgame vs the distributed
    # FW-BW-Trim phases: identical (node, scc) on a graph that
    # exercises trim (the tail 4->5), coloring and the sweep
    # (two disjoint cycles, a bridge).
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (6, 7), (7, 6), (5, 6)],
        "src long, dst long",
    )
    local = sorted(map(tuple, strongly_connected_components(e).collect()))
    monkeypatch.setenv("SPARK_GRAFT_LOCAL_EDGES", "0")
    dist = sorted(map(tuple, strongly_connected_components(e).collect()))
    assert local == dist
    assert local == [
        (1, 1), (2, 1), (3, 1), (4, 4), (5, 5), (6, 6), (7, 6),
    ]
