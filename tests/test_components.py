"""Connected components + canonical survivor selection
(operators/components.py) — topology edge cases the sf-fixture near-dup
graphs don't exercise."""

from __future__ import annotations

from pyspark.sql import functions as F

from conftest import count_jobs

from tvbigdataproject_spark.operators.components import (
    canonical_survivors,
    connected_components,
    label_propagation,
)
from tvbigdataproject_spark.session import release_session_caches


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src LONG, dst LONG")


def _labels(df):
    return {r["node"]: r["label"] for r in df.collect()}


def test_chain_collapses_to_min(spark):
    # worst case for plain propagation: a 9-node path; pointer jumping
    # must still converge well inside max_iter
    got = _labels(
        connected_components(_edges(spark, [(i, i + 1) for i in range(1, 9)]), max_iter=6)
    )
    assert got == {i: 1 for i in range(1, 10)}


def test_disjoint_clusters_and_direction_blind(spark):
    # edge direction must not matter; separate clusters keep separate minima
    got = _labels(
        connected_components(_edges(spark, [(5, 3), (3, 4), (10, 11), (12, 11)]))
    )
    assert got == {3: 3, 4: 3, 5: 3, 10: 10, 11: 10, 12: 10}


def test_self_loops_and_duplicate_edges_are_harmless(spark):
    got = _labels(
        connected_components(_edges(spark, [(1, 1), (1, 2), (2, 1), (1, 2)]))
    )
    assert got == {1: 1, 2: 1}


def test_nonconvergence_raises(spark, monkeypatch):
    # SPARK_GRAFT_LOCAL_EDGES=0 pins the distributed path: the
    # size-gated local union-find endgame (r13) solves any
    # sub-threshold graph exactly and never hits max_iter
    monkeypatch.setenv("SPARK_GRAFT_LOCAL_EDGES", "0")
    try:
        connected_components(
            _edges(spark, [(i, i + 1) for i in range(1, 40)]), max_iter=1
        )
    except RuntimeError as e:
        assert "converge" in str(e)
    else:
        raise AssertionError("expected RuntimeError on max_iter=1")


def test_canonical_survivors_flags(spark):
    docs = spark.createDataFrame([(i,) for i in range(1, 7)], "doc_id LONG")
    pairs = spark.createDataFrame([(2, 4), (4, 6)], "doc_a LONG, doc_b LONG")
    rows = {
        r["doc_id"]: (r["component"], r["keep"])
        for r in canonical_survivors(docs, pairs).collect()
    }
    # 2-4-6 cluster keeps 2; untouched docs keep themselves
    assert rows == {
        1: (1, True),
        2: (2, True),
        3: (3, True),
        4: (2, False),
        5: (5, True),
        6: (2, False),
    }
    kept = sorted(k for k, (_, keep) in rows.items() if keep)
    assert kept == [1, 2, 3, 5]


def test_no_lingering_cached_rdds(spark):
    # each round's checkpoint is released deterministically once the
    # next round is materialized (Scope.release) — only the returned
    # labels frame may stay cached. Assert the loop doesn't pile up
    # storage proportional to rounds: a 33-node chain runs ~5 pointer-
    # jumping rounds, so a per-round leak would show up as >1 extra
    # entry regardless of ContextCleaner timing.
    before = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    df = connected_components(
        _edges(spark, [(i, i + 1) for i in range(1, 33)]), max_iter=10
    )
    df.count()
    after = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    assert after - before <= 1


def test_label_propagation_two_triangles_converge(spark):
    from tvbigdataproject_spark.operators.components import label_propagation

    tri1 = [(1, 2), (2, 3), (1, 3)]
    tri2 = [(4, 5), (5, 6), (4, 6)]
    und = tri1 + tri2 + [(3, 4)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long"
    )
    got = {
        (r.node, r.community)
        for r in label_propagation(edges, rounds=3).collect()
    }
    # at round 3 the triangles have collapsed into two communities with
    # the bridge nodes staying with their own triangle
    comm = dict(got)
    assert comm[1] == comm[2] == comm[3]
    assert comm[4] == comm[5] == comm[6]
    assert comm[1] != comm[4]


def test_label_propagation_is_deterministic_and_tie_breaks_low(spark):
    from tvbigdataproject_spark.operators.components import label_propagation

    # star: center 10 with leaves 1,2,3 — after one round the center
    # sees three distinct labels (count 1 each) and must adopt the
    # SMALLEST (1); leaves all adopt the center's label (10)
    und = [(10, 1), (10, 2), (10, 3)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long"
    )
    comm = dict(
        (r.node, r.community)
        for r in label_propagation(edges, rounds=1).collect()
    )
    assert comm == {10: 1, 1: 10, 2: 10, 3: 10}
    again = dict(
        (r.node, r.community)
        for r in label_propagation(edges, rounds=1).collect()
    )
    assert comm == again


def test_label_propagation_releases_checkpoint_blocks(spark):
    from tvbigdataproject_spark.operators.components import label_propagation

    sc = spark.sparkContext
    before = len(sc._jsc.getPersistentRDDs().keySet().toArray())
    und = [(i, i + 1) for i in range(1, 9)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long"
    )
    out = label_propagation(edges, rounds=4)
    assert out.count() == 9
    after = len(sc._jsc.getPersistentRDDs().keySet().toArray())
    assert after - before <= 1


def test_community_modularity_releases_all_but_result(spark):
    # the query rides the SESSION-SCOPED shared edge table (r12,
    # operators/trade_edges.py — cached once per context by design)
    # and checkpoints LPA's rounds; the superseded rounds are released
    # inside the call, and the edge table and the final labels the
    # result reads belong to the session registry: after
    # release_session_caches nothing the calls made is left persisted.
    from tvbigdataproject_spark.operators.materialize import persistent_ids
    from tvbigdataproject_spark.queries.registry import REGISTRY

    sc = spark.sparkContext
    release_session_caches(spark)
    before = persistent_ids(sc)
    for _ in range(2):
        df = REGISTRY["community_modularity"].fn(spark, "/root/testdata/sf0.001")
        assert df.count() == 1
    release_session_caches(spark)
    assert persistent_ids(sc) == before


def test_community_modularity_spares_foreign_caches(spark):
    # the release sweep must only touch blocks THIS query checkpointed:
    # a concurrent user persist() alive across the call must survive
    # (round-7 advice: the old global persistent-id diff swept it up)
    from tvbigdataproject_spark.queries.registry import REGISTRY

    sc = spark.sparkContext

    def _alive():
        return {
            int(str(k)) for k in sc._jsc.getPersistentRDDs().keySet().toArray()
        }

    foreign = spark.range(100).persist()
    foreign.count()
    mine = _alive()
    try:
        df = REGISTRY["community_modularity"].fn(spark, "/root/testdata/sf0.001")
        assert df.count() == 1
        # every persistent RDD id alive BEFORE the query (the foreign
        # cache's blocks) must still be alive after it returns
        assert mine - _alive() == set()
        assert foreign.count() == 100
    finally:
        foreign.unpersist()


def test_best_of_cluster_keeps_highest_quality(spark):
    from tvbigdataproject_spark.operators.components import (
        best_of_cluster_survivors,
    )

    docs = spark.createDataFrame(
        [(1, 10), (2, 30), (3, 30), (4, 5), (9, 99)],
        "doc_id long, n_chars long",
    )
    # cluster {1,2,3} (chained), singleton pair-less 9, cluster {4}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], "doc_a long, doc_b long"
    )
    got = {
        r.doc_id: (r.component, r.keep)
        for r in best_of_cluster_survivors(
            docs, pairs, quality_col="n_chars"
        ).collect()
    }
    # 2 and 3 tie at n_chars=30 -> smaller id 2 wins; 1 loses
    assert got[2] == (1, True)
    assert got[3] == (1, False)
    assert got[1] == (1, False)
    # docs with no pairs are their own cluster and always keep
    assert got[4] == (4, True)
    assert got[9] == (9, True)


def test_checkpoint_stats_do_not_compound(spark):
    """localCheckpoint inherits the pre-checkpoint plan's ESTIMATED
    stats, and join estimates multiply children — an iterative
    self-join loop therefore squares the estimate per round (a power
    tower that eventually stalls the driver in BigInteger.multiply and
    then throws "BigInteger would overflow supported range"; boruvka
    at sf1 hit it first). The materialize checkpoint must (a) keep
    honest small stats so broadcast planning still works, and (b) reset
    the leaf once the estimate passes the information-free ceiling."""
    from pyspark.sql import functions as F

    from tvbigdataproject_spark.operators.materialize import Scope

    def bits(d):
        return int(
            d._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        ).bit_length()

    with Scope() as s:
        cur = s.checkpoint(spark.range(50).select(F.col("id").alias("a")))
        assert bits(cur) < 96  # honest small stats preserved
        for _ in range(8):
            j = cur.join(
                cur.select(F.col("a").alias("a2")), F.col("a") == F.col("a2")
            ).select("a")
            new = s.checkpoint(j)
            s.release(cur)
            cur = new
            assert cur.count() == 50
        # without the ceiling this is ~9 * 2^8 = 2300+ bits and climbing
        assert bits(cur) < 160, bits(cur)


def test_probe_columns_never_leak_and_spans_equal_per_round(spark, monkeypatch):
    # r12 internals change: the convergence probe reads a carried
    # `_prev` column off the span checkpoint instead of joining old vs
    # new labels. The carried column must never surface. (Results at
    # every checkpoint placement: test_materialize's Scope.rounds tests.)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 20)],
        "src long, dst long",
    )
    # threshold 0: this test targets the DISTRIBUTED loop's probe
    # internals; the default would take the r13 local endgame
    monkeypatch.setenv("SPARK_GRAFT_LOCAL_EDGES", "0")
    df = connected_components(edges)
    assert df.columns == ["node", "label"], df.columns
    assert sorted(map(tuple, df.collect())) == [
        (1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10), (20, 20),
    ]


def test_local_endgame_matches_distributed_loop(spark, monkeypatch):
    # r13 size-gated driver-local union-find endgame: identical labels
    # to the distributed min-propagation fixpoint on a mixed graph
    # (two components, a chain, a self-loop, an isolated pair).
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 20), (7, 8), (8, 7)],
        "src long, dst long",
    )
    local = sorted(map(tuple, connected_components(edges).collect()))
    monkeypatch.setenv("SPARK_GRAFT_LOCAL_EDGES", "0")
    dist = sorted(map(tuple, connected_components(edges).collect()))
    assert local == dist
    assert local == [
        (1, 1), (2, 1), (3, 1), (4, 1), (7, 7), (8, 7), (10, 10),
        (11, 10), (20, 20),
    ]


# Job fences on the sf0.01 trade graph (local[4]): statusTracker jobs of
# one call, pinned exactly at the counts measured before the round loop
# moved into materialize.Scope.rounds, so a change of checkpoint cadence
# shows either way (CC at one round per checkpoint runs FEWER jobs here:
# its last-round probe stops sooner).
def _fenced_jobs(spark, run):
    jobs, out = count_jobs(spark, run)
    assert out.count() > 1
    return jobs


def test_label_propagation_job_fence_on_trade_graph(spark):
    from tvbigdataproject_spark.operators import trade_edges as te

    bi = te.trade_edges_bi(spark, "/root/testdata/sf0.01")
    try:
        # start labels, then a 2-round and a 1-round span
        jobs = _fenced_jobs(spark, lambda: label_propagation(bi, rounds=3))
        assert jobs == 15
    finally:
        release_session_caches(spark)


def test_connected_components_job_fence_on_trade_graph(spark, monkeypatch):
    from tvbigdataproject_spark.operators import trade_edges as te

    bi = te.trade_edges_bi(spark, "/root/testdata/sf0.01")
    try:
        # threshold 0: the distributed loop, 2-round spans with the
        # span-end `_prev` probe
        monkeypatch.setenv("SPARK_GRAFT_LOCAL_EDGES", "0")
        jobs = _fenced_jobs(spark, lambda: connected_components(bi.df))
        assert jobs == 33
    finally:
        release_session_caches(spark)
