"""Boruvka minimum spanning forest (operators/mst.py) vs an in-test
Kruskal reference, plus partitioning invariance and cache hygiene."""

from __future__ import annotations

import random

from tvbigdataproject_spark.operators.mst import boruvka_msf


def _kruskal(edges):
    """Reference MSF under the same (w, u, v) total order; edges are
    raw (possibly duplicated / both orientations) triples."""
    canon = {}
    for a, b, w in edges:
        if a == b:
            continue
        u, v = min(a, b), max(a, b)
        if (u, v) not in canon or w < canon[(u, v)]:
            canon[(u, v)] = w
    parent = {}

    def find(x):
        r = x
        while parent.setdefault(r, r) != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    out = set()
    for (u, v), w in sorted(canon.items(), key=lambda kv: (kv[1], kv[0])):
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
            out.add((u, v, w))
    return out


def _run(spark, edges, **kw):
    df = spark.createDataFrame(edges, "src long, dst long, w long")
    got = {(r.u, r.v, r.w) for r in boruvka_msf(df, **kw).collect()}
    return got, _kruskal(edges)


def test_small_ground_truth(spark):
    # two components + a cycle + a duplicate edge with a worse weight
    edges = [
        (1, 2, 4),
        (2, 3, 1),
        (3, 1, 3),
        (1, 2, 9),  # dup pair, heavier — must lose to w=4
        (10, 11, 7),
    ]
    got, want = _run(spark, edges)
    assert got == want == {(2, 3, 1), (1, 3, 3), (10, 11, 7)}


def test_equal_weights_break_on_endpoints(spark):
    # all weights equal: the (w, u, v) order still makes the forest
    # unique, and Boruvka's struct-min must agree with Kruskal
    edges = [(a, b, 5) for a, b in [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3)]]
    got, want = _run(spark, edges)
    assert got == want
    assert len(got) == 3


def test_long_chain_contracts(spark):
    # a path graph stresses pointer jumping (hook chains), log rounds
    n = 40
    edges = [(i, i + 1, 100 - i) for i in range(n)]
    got, want = _run(spark, edges)
    assert got == want
    assert len(got) == n


def test_random_graphs_match_kruskal_and_no_leaks(spark):
    sc = spark.sparkContext
    before = len(sc._jsc.getPersistentRDDs().keySet().toArray())
    rng = random.Random(20260816)
    results = 0
    for _ in range(3):
        n = 25
        edges = [
            (rng.randrange(n), rng.randrange(n), rng.randrange(1, 50))
            for _ in range(60)
        ]
        got, want = _run(spark, edges)
        assert got == want
        results += 1
    after = len(sc._jsc.getPersistentRDDs().keySet().toArray())
    # only the returned forests' own checkpoint blocks may remain
    assert after - before <= results * 2


def test_error_path_leaks_nothing(spark):
    # mirror of test_scc's error-path hygiene: a long path graph with
    # max_rounds=1 fails mid-iteration (either the pointer-jumping
    # inner loop or the outer not-settled raise, depending on which
    # budget runs out first); every checkpoint block taken before the
    # raise — including the round-transient cross/sel/parent tables —
    # must be released by the finally clause.
    import pytest

    from tvbigdataproject_spark.operators.materialize import persistent_ids
    from tvbigdataproject_spark.operators.mst import boruvka_msf

    sc = spark.sparkContext
    n = 24
    e = spark.createDataFrame(
        [(i, i + 1, 100 - i) for i in range(n)], "src long, dst long, w long"
    )
    before = persistent_ids(sc)
    with pytest.raises(RuntimeError):
        boruvka_msf(e, max_rounds=1)
    leaked = persistent_ids(sc) - before
    assert not leaked, leaked
