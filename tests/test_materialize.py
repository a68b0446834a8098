"""The iterative tier's materialization layer (operators/materialize.py):
the Scope ownership contract, release() of kept results, the typed
EdgeSet and the one local-solve gate."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tvbigdataproject_spark.operators import trade_edges as te
from tvbigdataproject_spark.operators.materialize import (
    EdgeSet,
    Scope,
    _blocks,
    checkpoint,
    fits_broadcast,
    local_solve_ok,
    persistent_ids,
    release,
)

SF = "/root/testdata/sf0.001"


def test_scope_releases_everything_on_error_and_keeps_what_it_hands_out(spark):
    sc = spark.sparkContext
    before = persistent_ids(sc)
    with pytest.raises(ValueError):
        with Scope() as s:
            s.checkpoint(spark.range(10))
            raise ValueError("mid-loop failure")
    assert persistent_ids(sc) - before == set()

    foreign = spark.range(3).persist()
    foreign.count()
    try:
        before = persistent_ids(sc)
        with Scope() as s:
            dropped = s.checkpoint(spark.range(5))
            kept = s.keep(s.checkpoint(spark.range(7)))
            s.release(dropped)
            s.release(foreign)  # not the scope's: left alone
        assert kept.count() == 7 and foreign.is_cached
        created = persistent_ids(sc) - before
        assert len(created) == 1  # only the kept frame's blocks
        # release() frees a kept result through any projection of it
        release(kept.select(F.col("id").alias("x")).where("x > 2"))
        assert not persistent_ids(sc) & created
        assert foreign.count() == 3
    finally:
        foreign.unpersist()


def test_operators_over_borrowed_edge_set_free_only_their_own_blocks(
    spark, monkeypatch
):
    # an operator handed the session trade table must leave the cache's
    # blocks persisted and release everything it made except its
    # result; release(result) then returns the context to the cache
    from tvbigdataproject_spark.operators.components import (
        label_propagation,
        strongly_connected_components,
    )
    from tvbigdataproject_spark.operators.traversal import (
        bfs_levels,
        kcore_peel,
        luby_mis,
        reachable_masks,
    )

    sc = spark.sparkContext
    te.release_trade_pairs(spark)
    before = persistent_ids(sc)
    bi = te.trade_edges_bi(spark, SF)
    n_edges = bi.count()
    cache = persistent_ids(sc) - before
    assert cache  # the session table's checkpoint blocks
    src = spark.createDataFrame([(1,)], "node long")

    def reach_distributed():
        with monkeypatch.context() as m:
            m.setenv("SPARK_GRAFT_LOCAL_EDGES", "0")
            return reachable_masks(bi, src)

    runs = [
        lambda: bfs_levels(bi, source=1, max_hops=3),
        lambda: kcore_peel(bi, k=2, rounds=3),
        lambda: label_propagation(bi, rounds=3),
        lambda: luby_mis(bi, rounds=2),
        reach_distributed,
        lambda: strongly_connected_components(bi),
    ]
    try:
        for run in runs:
            before = persistent_ids(sc)
            out = run()
            out.count()
            alive = persistent_ids(sc)
            assert cache <= alive  # the borrowed blocks survive
            created = alive - before
            assert len(created) <= 1  # at most the result's own
            release(out)
            assert not persistent_ids(sc) & created
            assert cache <= persistent_ids(sc)
        assert bi.count() == n_edges  # still served from the cache
    finally:
        te.release_trade_pairs(spark)


def test_dag_levels_cycle_raise_leaks_nothing(spark):
    from tvbigdataproject_spark.operators.traversal import (
        dag_longest_path_levels,
    )

    sc = spark.sparkContext
    cyc = spark.createDataFrame([(1, 2), (2, 3), (3, 1)], "src long, dst long")
    before = persistent_ids(sc)
    with pytest.raises(RuntimeError, match="cycle"):
        dag_longest_path_levels(cyc, max_rounds=10)
    assert persistent_ids(sc) - before == set()


@pytest.mark.parametrize(
    "producer",
    [te.trade_edges, te.trade_edges_bi, te.trade_edges_weighted_bi],
    ids=lambda f: f.__name__,
)
def test_trade_edge_sets_have_no_duplicate_pairs(spark, producer):
    # the check that replaces the old unchecked input_materialized
    # promise: an EdgeSet is unique on (src, dst)
    es = producer(spark, "/root/testdata/sf0.01")
    try:
        assert isinstance(es, EdgeSet)
        dups = es.df.groupBy("src", "dst").count().where("count > 1").count()
        assert es.count() > 0 and dups == 0
    finally:
        te.release_trade_pairs(spark)


def test_local_solve_gate_threshold_and_env(spark, monkeypatch):
    e = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    monkeypatch.delenv("SPARK_GRAFT_LOCAL_EDGES", raising=False)
    assert local_solve_ok(e)  # 2 edges under the 1M default
    for threshold, ok in (("2", True), ("1", False), ("0", False)):  # 0 disables
        monkeypatch.setenv("SPARK_GRAFT_LOCAL_EDGES", threshold)
        assert local_solve_ok(e) is ok, threshold
    monkeypatch.setenv("SPARK_GRAFT_LOCAL_EDGES", "not-a-number")
    assert local_solve_ok(e)  # an unreadable setting falls back to the default


def test_fits_broadcast_reads_only_a_bare_checkpoints_stored_size(spark):
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    small = checkpoint(spark.range(100).selectExpr("id AS node"))
    try:
        assert fits_broadcast(small)
        # a lazy plan and anything built over a checkpoint have no
        # measured size: never broadcast on an estimate
        assert not fits_broadcast(spark.range(100).selectExpr("id AS node"))
        other = small.select(F.col("node").alias("n"))
        assert not fits_broadcast(small.join(other, F.col("node") == F.col("n")))
        assert not fits_broadcast(small.where("node > 3"))
        spark.conf.set(key, "-1")  # disabled, as Spark's own broadcast
        assert not fits_broadcast(small)
        spark.conf.set(key, "1")  # the stored bytes exceed one byte
        assert not fits_broadcast(small)
    finally:
        spark.conf.set(key, old)
        release(small)


# Scope.rounds over a path 0-1-...-7 (both orientations): each round
# every node takes the minimum label of itself and its neighbours, so
# after r rounds node v holds max(0, v - r) — a deterministic step
# whose result cannot depend on where the checkpoints fall.
def _path_min_step(spark):
    path = spark.range(7).selectExpr("id AS src", "id + 1 AS dst")
    e = path.unionByName(path.selectExpr("dst AS src", "src AS dst"))

    def step(plan, _r):
        nbr = (
            e.join(plan, e.src == plan.node)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("label").alias("m"))
        )
        return plan.join(nbr, "node", "left").select(
            "node", F.least("label", F.coalesce("m", "label")).alias("label")
        )

    return spark.range(8).selectExpr("id AS node", "id AS label"), step


@pytest.mark.parametrize("every", [1, 2, 5])
def test_rounds_result_is_independent_of_checkpoint_cadence(spark, every):
    start, step = _path_min_step(spark)
    with Scope() as s:
        out, stopped = s.rounds(s.checkpoint(start), step, 5, every)
        got = sorted(map(tuple, out.collect()))
    assert not stopped
    assert got == [(v, max(0, v - 5)) for v in range(8)]


def test_rounds_probes_only_at_span_ends_and_returns_the_stop_flag(spark):
    start, step = _path_min_step(spark)
    steps, probes = [], []

    def counted(plan, r):
        steps.append(r)
        return step(plan, r)

    def stop(new, old, r):
        probes.append((r, sorted(map(tuple, old.collect()))))
        return r == 4

    with Scope() as s:
        first = s.checkpoint(start)
        first_rows = sorted(map(tuple, first.collect()))
        out, stopped = s.rounds(first, counted, 5, 2, stop)
        assert stopped and steps == [1, 2, 3, 4]
        assert [r for r, _ in probes] == [2, 4]
        assert probes[0][1] == first_rows  # old = the superseded table
        assert sorted(map(tuple, out.collect())) == [
            (v, max(0, v - 4)) for v in range(8)
        ]
        probes.clear()
        again = s.checkpoint(start)  # `first` was released as superseded
        _, stopped = s.rounds(again, step, 5, 2, lambda n, o, r: probes.append(r))
        assert not stopped and probes == [2, 4, 5]


def test_rounds_keeps_only_the_final_state_and_leaks_nothing_on_error(spark):
    sc = spark.sparkContext
    start, step = _path_min_step(spark)
    before = persistent_ids(sc)
    with Scope() as s:
        out, _ = s.rounds(s.checkpoint(start), step, 5, 2)
        # every superseded table is released inside the loop, not on exit
        created = persistent_ids(sc) - before
        assert len(created) == 1 and created == _blocks(out)
        kept = s.keep(out)
    assert persistent_ids(sc) - before == created
    release(kept)

    def failing(plan, r):
        if r == 3:
            raise ValueError("mid-loop failure")
        return step(plan, r)

    before = persistent_ids(sc)
    with pytest.raises(ValueError):
        with Scope() as s:
            s.rounds(s.checkpoint(start), failing, 5, 1)
    assert persistent_ids(sc) - before == set()
