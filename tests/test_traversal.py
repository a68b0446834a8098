"""Unit tests for operators/traversal.py on hand-verifiable graphs, and
the k-truss support of queries/graph7.py on a hand graph."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from conftest import count_jobs

from tvbigdataproject_spark.operators import traversal
from tvbigdataproject_spark.operators.traversal import (
    bfs_levels,
    bfs_levels_multi,
    kcore_peel,
    sssp_bounded,
    triangle_corner_counts,
)
from tvbigdataproject_spark.session import release_session_caches


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, schema="src long, dst long")


def _bi(spark, pairs):
    return _edges(spark, pairs + [(b, a) for a, b in pairs])


def test_bfs_levels_chain_with_cutoff(spark):
    # 1→2→3→4→5 directed chain: hop = position, max_hops=3 excludes 5
    e = _edges(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
    got = {r.node: r.hop for r in bfs_levels(e, source=1, max_hops=3).collect()}
    assert got == {1: 0, 2: 1, 3: 2, 4: 3}


def test_bfs_levels_min_hop_wins_on_diamond(spark):
    # 1→2→4 and 1→3→4→5: 4 is reachable at hop 2 two ways, counted once
    e = _edges(spark, [(1, 2), (2, 4), (1, 3), (3, 4), (4, 5)])
    got = {r.node: r.hop for r in bfs_levels(e, source=1, max_hops=5).collect()}
    assert got == {1: 0, 2: 1, 3: 1, 4: 2, 5: 3}


def test_bfs_unreachable_and_direction_respected(spark):
    # edge INTO the source doesn't make its tail reachable
    e = _edges(spark, [(9, 1), (1, 2)])
    got = {r.node: r.hop for r in bfs_levels(e, source=1, max_hops=3).collect()}
    assert got == {1: 0, 2: 1}


def test_triangle_counts_two_triangles_sharing_edge(spark):
    # triangles (1,2,3) and (2,3,4) share edge 2-3
    pairs = _edges(spark, [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4)]).select(
        F.col("src").alias("doc_a"), F.col("dst").alias("doc_b")
    )
    got = {r.node: r.n_triangles for r in triangle_corner_counts(pairs).collect()}
    assert got == {1: 1, 2: 2, 3: 2, 4: 1}


def test_triangle_counts_square_has_none(spark):
    pairs = _edges(spark, [(1, 2), (2, 3), (3, 4), (4, 1)]).select(
        F.col("src").alias("doc_a"), F.col("dst").alias("doc_b")
    )
    assert triangle_corner_counts(pairs).count() == 0


def test_kcore_peels_tail_cascade(spark):
    # triangle 1-2-3 with a pendant chain 3-4, 4-5: 2-core peel removes 5
    # then 4 (cascade needs the second round), keeps the triangle at deg 2
    bi = _bi(spark, [(1, 2), (1, 3), (2, 3), (3, 4), (4, 5)])
    got = {r.node: r.deg for r in kcore_peel(bi, k=2, rounds=3).collect()}
    assert got == {1: 2, 2: 2, 3: 2}


def test_kcore_bounded_rounds_stop_mid_cascade(spark):
    # path 1-2-3-4-5 under k=2: each round peels both endpoints; rounds=1
    # leaves the (still-too-sparse) middle — documenting that fixed
    # rounds are a bounded approximation, exactly what the oracle replays
    bi = _bi(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
    got = {r.node for r in kcore_peel(bi, k=2, rounds=1).collect()}
    assert got == {2, 3, 4}


def test_iterative_ops_release_their_checkpoints(spark):
    # same discipline as connected_components: after materialization no
    # extra persistent RDDs may linger beyond those present before
    e = _edges(spark, [(i, i + 1) for i in range(1, 30)])
    bi = _bi(spark, [(i, i + 1) for i in range(1, 30)])
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    bfs_levels(e, source=1, max_hops=8).count()
    kcore_peel(bi, k=2, rounds=5).count()
    # +2: each operator's FINAL checkpoint legitimately outlives the call
    # (the caller owns the result); the superseded per-round checkpoints
    # (8 BFS rounds + 5 peel rounds) must all have been released — an
    # unreleased loop would show ~13 extra entries here
    assert spark.sparkContext._jsc.getPersistentRDDs().size() <= before + 2


def _wedges(spark, triples):
    return spark.createDataFrame(triples, schema="src long, dst long, w long")


def test_sssp_relaxation_beats_hop_count(spark):
    # 1→2→3 costs 1+1=2; direct 1→3 costs 5: more hops, shorter path.
    e = _wedges(spark, [(1, 2, 1), (2, 3, 1), (1, 3, 5)])
    got = {r.node: r.dist for r in sssp_bounded(e, source=1, rounds=3).collect()}
    assert got == {1: 0, 2: 1, 3: 2}


def test_sssp_round_bound_limits_path_length(spark):
    # with a single relaxation round only 1-edge paths exist: 3 costs 5.
    e = _wedges(spark, [(1, 2, 1), (2, 3, 1), (1, 3, 5)])
    got = {r.node: r.dist for r in sssp_bounded(e, source=1, rounds=1).collect()}
    assert got == {1: 0, 2: 1, 3: 5}


def test_sssp_parallel_edges_collapse_to_min(spark):
    e = _wedges(spark, [(1, 2, 7), (1, 2, 3)])
    got = {r.node: r.dist for r in sssp_bounded(e, source=1, rounds=2).collect()}
    assert got == {1: 0, 2: 3}


def test_sssp_releases_checkpoint_blocks(spark):
    sc = spark.sparkContext
    before = len(sc._jsc.getPersistentRDDs().keySet().toArray())
    e = _wedges(spark, [(1, 2, 1), (2, 3, 2), (3, 4, 3)])
    out = sssp_bounded(e, source=1, rounds=4)
    assert out.count() == 4
    after = len(sc._jsc.getPersistentRDDs().keySet().toArray())
    # only the final result's blocks may remain pinned
    assert after - before <= 1


def test_bfs_multi_equals_per_source_runs(spark):
    from tvbigdataproject_spark.operators.traversal import bfs_levels_multi

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (5, 2), (4, 5)], "src long, dst long"
    )
    sources = spark.createDataFrame([(1,), (5,)], "node long")
    got = {
        (r.landmark, r.node): r.hop
        for r in bfs_levels_multi(edges, sources, max_hops=3).collect()
    }
    want = {}
    for s in (1, 5):
        for r in bfs_levels(edges, source=s, max_hops=3).collect():
            want[(s, r.node)] = r.hop
    assert got == want


def test_bfs_multi_releases_checkpoint_blocks(spark):
    from tvbigdataproject_spark.operators.traversal import bfs_levels_multi

    sc = spark.sparkContext
    before = len(sc._jsc.getPersistentRDDs().keySet().toArray())
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], "src long, dst long"
    )
    sources = spark.createDataFrame([(1,), (2,)], "node long")
    out = bfs_levels_multi(edges, sources, max_hops=4)
    assert out.count() == 6
    after = len(sc._jsc.getPersistentRDDs().keySet().toArray())
    assert after - before <= 1


def test_luby_mis_is_independent_and_deterministic(spark):
    from tvbigdataproject_spark.operators.traversal import luby_mis

    # path graph 1-2-3-4-5-6, bidirectional
    und = [(i, i + 1) for i in range(1, 6)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long"
    )
    got = {(r.node, r.round) for r in luby_mis(edges, rounds=3).collect()}
    nodes = {n for n, _ in got}
    # independence: no two selected nodes adjacent
    for a, b in und:
        assert not (a in nodes and b in nodes)
    # determinism: a second run selects the identical set
    again = {(r.node, r.round) for r in luby_mis(edges, rounds=3).collect()}
    assert got == again
    # 3 rounds on a 6-path always saturate: every unselected node has a
    # selected neighbor (maximality at convergence)
    adj = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    for n in range(1, 7):
        assert n in nodes or adj[n] & nodes


def test_luby_mis_releases_checkpoint_blocks(spark):
    from tvbigdataproject_spark.operators.traversal import luby_mis

    sc = spark.sparkContext
    before = len(sc._jsc.getPersistentRDDs().keySet().toArray())
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2)], "src long, dst long"
    )
    out = luby_mis(edges, rounds=2)
    assert out.count() >= 1
    after = len(sc._jsc.getPersistentRDDs().keySet().toArray())
    assert after - before <= 1


def test_luby_mis_zero_rounds_returns_empty_dataframe(spark):
    from tvbigdataproject_spark.operators.traversal import luby_mis

    edges = spark.createDataFrame(
        [(1, 2), (2, 1)], "src long, dst long"
    )
    out = luby_mis(edges, rounds=0)
    assert out.columns == ["node", "round"]
    assert out.count() == 0


def test_reachable_masks_fused_equals_two_sweeps(spark, monkeypatch):
    import pytest

    from tvbigdataproject_spark.operators.traversal import reachable_masks

    # 1->2->3->4, 5->1, 6->5, plus a cycle 3->2 to exercise the visited
    # guard: forward from 1 reaches {1,2,3,4}; reversed reaches
    # {1,5,6}; only the source holds both bits (no non-source mutual
    # reachability with 1 here)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (5, 1), (3, 2), (6, 5)],
        "src long, dst long",
    )
    srcs = spark.createDataFrame([(1,)], "node long")
    sc = spark.sparkContext
    before = len(sc._jsc.getPersistentRDDs().keySet().toArray())
    masks = {r.node: r.mask for r in reachable_masks(edges, srcs).collect()}
    assert {n for n, m in masks.items() if m & 1} == {1, 2, 3, 4}
    assert {n for n, m in masks.items() if m & 2} == {1, 5, 6}
    assert masks[1] == 3
    after = len(sc._jsc.getPersistentRDDs().keySet().toArray())
    # the returned visited set may remain cached, nothing else
    assert after - before <= 1

    # a cycle through the source marks both bits on every cycle node
    cyc = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], "src long, dst long"
    )
    got = {r.node: r.mask for r in reachable_masks(cyc, srcs).collect()}
    assert got == {1: 3, 2: 3, 3: 3}

    # max_rounds raises and releases every non-returned block
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], "src long, dst long"
    )
    before = len(sc._jsc.getPersistentRDDs().keySet().toArray())
    # 0 pins the distributed loop (the local BFS endgame runs to the
    # exact fixpoint, nothing to truncate)
    monkeypatch.setenv("SPARK_GRAFT_LOCAL_EDGES", "0")
    with pytest.raises(RuntimeError, match="reachable_masks"):
        reachable_masks(chain, srcs, max_rounds=2)
    after = len(sc._jsc.getPersistentRDDs().keySet().toArray())
    assert after <= before


def test_reachable_masks_local_matches_distributed(spark, monkeypatch):
    # r13 size-gated local two-bit BFS endgame vs the distributed fused
    # sweep: identical (node, mask) on the two-sweep fixture.
    from tvbigdataproject_spark.operators.traversal import reachable_masks

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (5, 1), (3, 2), (6, 5)],
        "src long, dst long",
    )
    srcs = spark.createDataFrame([(1,)], "node long")
    local = {
        r.node: r.mask for r in reachable_masks(edges, srcs).collect()
    }
    monkeypatch.setenv("SPARK_GRAFT_LOCAL_EDGES", "0")
    dist = {
        r.node: r.mask for r in reachable_masks(edges, srcs).collect()
    }
    assert local == dist
    assert local == {1: 3, 2: 1, 3: 1, 4: 1, 5: 2, 6: 2}


def test_bfs_levels_and_sssp_keep_string_ids(spark):
    e = spark.createDataFrame(
        [("a", "b", 1), ("b", "c", 2), ("a", "c", 5)],
        "src string, dst string, w long",
    )
    bfs = bfs_levels(e, source="a", max_hops=3)
    assert bfs.schema["node"].dataType.simpleString() == "string"
    assert {r.node: r.hop for r in bfs.collect()} == {"a": 0, "b": 1, "c": 1}
    sp = sssp_bounded(e, source="a", rounds=3)
    assert sp.schema["node"].dataType.simpleString() == "string"
    assert {r.node: r.dist for r in sp.collect()} == {"a": 0, "b": 1, "c": 3}
    # numeric strings stay strings, whatever type the source is given in
    num = spark.createDataFrame([("1", "2"), ("2", "3")], "src string, dst string")
    got = bfs_levels(num, source=1, max_hops=3)
    assert got.schema["node"].dataType.simpleString() == "string"
    assert {r.node: r.hop for r in got.collect()} == {"1": 0, "2": 1, "3": 2}


def test_bfs_multi_repeated_source_counts_once(spark):
    edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    sources = spark.createDataFrame([(1,), (1,)], "node long")
    want = [(1, 1, 0), (1, 2, 1), (1, 3, 2)]
    for hops in (0, 3):  # the start state itself, and after the rounds
        got = sorted(tuple(r) for r in bfs_levels_multi(edges, sources, hops).collect())
        assert got == want[: hops + 1]


def _random_graph(seed: int):
    """Directed multigraph with cycles, self-loops, parallel edges of
    different weights and a component the sources cannot reach."""
    rng = random.Random(seed)
    edges = [(rng.randrange(30), rng.randrange(30), rng.randint(1, 9)) for _ in range(70)]
    edges += [(3, 3, 2), (7, 7, 1)]  # self-loops
    edges += [(a, b, w + 4) for a, b, w in edges[:10]]  # parallel, heavier
    edges += [(40 + i, 40 + (i + 1) % 5, 1) for i in range(5)]  # unreachable
    return edges


def _ref_bfs(edges, source, max_hops):
    hop = {source: 0}
    frontier = [source]
    for k in range(1, max_hops + 1):
        nxt = {d for s, d, _ in edges if s in frontier and d not in hop}
        hop.update((n, k) for n in nxt)
        frontier = list(nxt)
    return hop


def _ref_sssp(edges, source, rounds):
    dist = {source: 0}
    for _ in range(rounds):
        step = dict(dist)
        for s, d, w in edges:
            if s in dist and dist[s] + w < step.get(d, float("inf")):
                step[d] = dist[s] + w
        dist = step
    return dist


@pytest.mark.parametrize("threshold", [None, "-1"], ids=["default", "no_broadcast"])
def test_frontier_operators_match_python_reference(spark, monkeypatch, threshold):
    rows = _random_graph(7)
    edges = spark.createDataFrame(rows, "src long, dst long, w long")
    sources = [0, 5, 12]
    ecc = max(max(_ref_bfs(rows, s, 60).values()) for s in sources)
    hops = ecc + 2
    gated = []
    gate = traversal.fits_broadcast

    def spy(df):
        gated.append(gate(df))
        return gated[-1]

    monkeypatch.setattr(traversal, "fits_broadcast", spy)
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    try:
        if threshold is not None:
            spark.conf.set(key, threshold)
        got = {r.node: r.hop for r in bfs_levels(edges, 0, hops).collect()}
        assert got == _ref_bfs(rows, 0, hops)
        srcs = spark.createDataFrame([(s,) for s in sources], "node long")
        multi = {
            (r.landmark, r.node): r.hop
            for r in bfs_levels_multi(edges, srcs, hops).collect()
        }
        assert multi == {
            (s, n): h for s in sources for n, h in _ref_bfs(rows, s, hops).items()
        }
        dist = {r.node: r.dist for r in sssp_bounded(edges, 0, hops).collect()}
        assert dist == _ref_sssp(rows, 0, hops)
    finally:
        spark.conf.set(key, old)
    # every round consulted the gate; -1 never broadcasts, the small
    # default-threshold states always do
    assert len(gated) == 3 * hops
    assert gated == [threshold is None] * len(gated)


def test_bfs_levels_job_fence_on_trade_graph(spark):
    from tvbigdataproject_spark.operators import trade_edges as te

    bi = te.trade_edges_bi(spark, "/root/testdata/sf0.01")
    try:
        jobs, out = count_jobs(spark, lambda: bfs_levels(bi, 1, 3))
        # one start checkpoint, then per hop: frontier broadcast, the
        # min-aggregate's shuffle, the checkpoint
        assert jobs == 10
        assert out.count() > 1
    finally:
        release_session_caches(spark)


# ------------------------------------------------------------- k-truss


def test_ktruss_support_and_peel_on_hand_graph(spark):
    from tvbigdataproject_spark.queries.graph7 import _support

    # triangle 1-2-3 plus pendant edge 3-4 plus a second triangle 3-5-6
    # sharing only node 3: the pendant edge dies in peel 1, both
    # triangles survive with support 1 each edge
    edges = [(1, 2), (1, 3), (2, 3), (3, 4), (3, 5), (3, 6), (5, 6)]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    sup = {
        (r.doc_a, r.doc_b): r.support for r in _support(pairs).collect()
    }
    # zero-support edges never appear in the wedge-join output
    assert (3, 4) not in sup
    for e in [(1, 2), (1, 3), (2, 3), (3, 5), (3, 6), (5, 6)]:
        assert sup[e] == 1, e
    # peel: survivors of support >= 1 are the two triangles
    e1 = [e for e, s in sup.items() if s >= 1]
    p1 = spark.createDataFrame(e1, "doc_a long, doc_b long")
    sup2 = {
        (r.doc_a, r.doc_b): r.support for r in _support(p1).collect()
    }
    assert set(sup2) == set(e1)
    assert all(s == 1 for s in sup2.values())
