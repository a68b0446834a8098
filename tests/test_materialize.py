"""The materialization layer (operators/materialize.py): the Scope
ownership contract, the session registry (which owns kept results),
the typed EdgeSet and the one local-solve gate; and the source scans
of the library tree."""

from __future__ import annotations

import ast
import gc
import weakref
from collections import defaultdict
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from conftest import count_jobs

import tvbigdataproject_spark
from tvbigdataproject_spark.operators import materialize
from tvbigdataproject_spark.operators import trade_edges as te
from tvbigdataproject_spark.operators.materialize import (
    EdgeSet,
    Scope,
    fits_broadcast,
    local_solve_ok,
    persistent_ids,
    session_checkpoint,
)
from tvbigdataproject_spark.session import release_session_caches

SF = "/root/testdata/sf0.001"
REPO = Path(__file__).resolve().parents[1]


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
        # the kept result belongs to the session registry: its release
        # frees the kept blocks and never a user's persist()
        release_session_caches(spark)
        assert persistent_ids(sc) - before == set()
        assert foreign.is_cached and foreign.count() == 3
    finally:
        foreign.unpersist()


def test_operators_over_borrowed_edge_set_free_only_their_own_blocks(
    spark, monkeypatch
):
    # an operator handed the session trade table must leave the cache's
    # blocks persisted and release everything it made except its
    # result, which the session registry owns: release_session_caches
    # then frees the results and the cache alike
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
    release_session_caches(spark)
    start = before = persistent_ids(sc)
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
            assert len(alive - before) <= 1  # at most the result's own
        assert bi.count() == n_edges  # still served from the cache
    finally:
        release_session_caches(spark)
    assert persistent_ids(sc) - start == set()


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
        release_session_caches(spark)


def test_local_solve_gate_threshold_and_env(spark, monkeypatch):
    e = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    monkeypatch.delenv("SPARK_GRAFT_LOCAL_EDGES", raising=False)
    assert local_solve_ok(e)  # 2 edges under the 1M default
    for threshold, ok in (("2", True), ("1", False), ("0", False)):  # 0 disables
        monkeypatch.setenv("SPARK_GRAFT_LOCAL_EDGES", threshold)
        assert local_solve_ok(e) is ok, threshold
    monkeypatch.setenv("SPARK_GRAFT_LOCAL_EDGES", "not-a-number")
    with pytest.raises(ValueError, match="SPARK_GRAFT_LOCAL_EDGES='not-a-number'"):
        local_solve_ok(e)  # an unreadable setting is an error, not the default


def test_fits_broadcast_reads_only_a_bare_checkpoints_stored_size(spark):
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    before = persistent_ids(spark.sparkContext)
    s = Scope()
    small = s.checkpoint(spark.range(100).selectExpr("id AS node"))
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
        s.close()
    assert persistent_ids(spark.sparkContext) - before == set()


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
        assert len(created) == 1
        kept = s.keep(out)
    assert persistent_ids(sc) - before == created
    # the one block left is the kept final state's: releasing the
    # session frees it, and rows read before the release are its rows
    assert sorted(map(tuple, kept.collect())) == [
        (v, max(0, v - 5)) for v in range(8)
    ]
    release_session_caches(spark)
    assert persistent_ids(sc) - before == set()

    def failing(plan, r):
        if r == 3:
            raise ValueError("mid-loop failure")
        return step(plan, r)

    before = persistent_ids(sc)
    with pytest.raises(ValueError):
        with Scope() as s:
            s.rounds(s.checkpoint(start), failing, 5, 1)
    assert persistent_ids(sc) - before == set()


def _cache_manager(spark):
    return spark._jsparkSession.sharedState().cacheManager()


def test_scope_persist_is_lazy_and_released_on_exit(spark):
    cm = _cache_manager(spark)
    spark.catalog.clearCache()
    with Scope() as s:
        jobs, df = count_jobs(
            spark, lambda: s.persist(spark.range(10).selectExpr("id * 3 AS x"))
        )
        assert jobs == 0 and not cm.isEmpty() and df.is_cached
        assert df.count() == 10
    assert cm.isEmpty() and not df.is_cached


def test_only_materialize_persists_checkpoints_or_releases():
    # one owner for every materialized table: DataFrame persist, cache,
    # localCheckpoint and unpersist are called in operators/materialize.py
    # only; the library goes through a Scope (``with Scope() as s:
    # s.persist(df)``) or the session registry
    raw = {"persist", "cache", "localCheckpoint", "unpersist"}
    root = Path(tvbigdataproject_spark.__file__).parent
    offenders = []
    for path in sorted(root.rglob("*.py")):
        if path == root / "operators" / "materialize.py":
            continue
        tree = ast.parse(path.read_text(), str(path))
        scopes = {
            item.optional_vars.id
            for node in ast.walk(tree)
            if isinstance(node, ast.With)
            for item in node.items
            if isinstance(item.context_expr, ast.Call)
            and getattr(item.context_expr.func, "id", None) == "Scope"
            and isinstance(item.optional_vars, ast.Name)
        }
        for node in ast.walk(tree):
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in raw
            ):
                continue
            recv = node.func.value
            if node.func.attr == "persist" and getattr(recv, "id", None) in scopes:
                continue  # Scope.persist
            offenders.append(
                f"{path.relative_to(root)}:{node.lineno} .{node.func.attr}("
            )
    assert offenders == []


def test_tests_import_the_package_of_their_own_checkout():
    # the persist scan reads the tree of the imported package, so a copy
    # of the repo must import its own package
    assert Path(tvbigdataproject_spark.__file__).resolve().is_relative_to(REPO)


def _defined_names(stmt) -> set[str]:
    """Names a top-level statement defines: a def, a class or an
    UPPER_CASE constant."""
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return {stmt.name}
    if isinstance(stmt, (ast.Assign, ast.AnnAssign)):
        targets = stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target]
        return {t.id for t in targets if isinstance(t, ast.Name) and t.id.isupper()}
    return set()


def _user_files() -> list[Path]:
    """The code that runs: the package minus its __init__ re-exports,
    tools/, perfbench/ (without its tests), bench.py and
    __spark_entry__.py."""
    pkg = REPO / "tvbigdataproject_spark"
    users = [p for p in pkg.rglob("*.py") if p.name != "__init__.py"]
    users += list((REPO / "tools").rglob("*.py"))
    users += [p for p in (REPO / "perfbench").rglob("*.py") if "tests" not in p.parts]
    return users + [REPO / "bench.py", REPO / "__spark_entry__.py"]


def test_every_public_library_name_is_used_outside_tests():
    # no surface that only tests reach: every public top-level def, class
    # and UPPER_CASE constant of the library outside queries/ is named
    # (Name, Attribute or import alias) by code that runs: the package
    # minus its __init__ re-exports, tools/, perfbench/, bench.py or
    # __spark_entry__.py. A name's own definition does not count.
    exempt = {
        # the reference's spaCy-lemmatized word-cloud tier; spaCy is not
        # installed, so nothing runs it, and tests/test_spacy_golden.py
        # pins its output
        "clean_text_spacy",
    }
    pkg = REPO / "tvbigdataproject_spark"
    uses = defaultdict(set)  # name -> {file} | {(file, "own")}
    for path in _user_files():
        for stmt in ast.parse(path.read_text(), str(path)).body:
            own = _defined_names(stmt)
            for node in ast.walk(stmt):
                if isinstance(node, ast.Name):
                    name = node.id
                elif isinstance(node, ast.Attribute):
                    name = node.attr
                elif isinstance(node, ast.alias):
                    name = node.name.rpartition(".")[2]
                else:
                    continue
                uses[name].add((path, "own") if name in own else path)
    unused = []
    for path in sorted(pkg.rglob("*.py")):
        if "queries" in path.relative_to(pkg).parts:
            continue
        for stmt in ast.parse(path.read_text(), str(path)).body:
            for name in sorted(_defined_names(stmt)):
                if name.startswith("_") or name in exempt:
                    continue
                if not uses[name] - {(path, "own")}:
                    unused.append(f"{path.relative_to(REPO)}:{stmt.lineno} {name}")
    assert not unused, "reached by tests or by nothing:\n" + "\n".join(unused)


_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef)


def _defaulted(fn, method: bool) -> list[tuple[str, int | None]]:
    """(name, position) of each parameter of ``fn`` with a default; the
    position counts from the first argument a caller passes (after
    ``self``), and is None for a keyword-only parameter."""
    a = fn.args
    pos = (a.posonlyargs + a.args)[int(method):]
    first = len(pos) - len(a.defaults)
    out = [(p.arg, i) for i, p in enumerate(pos) if i >= first]
    out += [(p.arg, None) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
    return out


def test_every_library_option_is_set_outside_tests():
    # no option that only tests set: every defaulted parameter of a
    # public function, public method or public class's constructor
    # outside queries/ is passed, by keyword or by position, by some
    # call in the code that runs (the public-name guard's files). Calls
    # match by the called name; a *args call passes every position and
    # a **kwargs call every keyword.
    exempt = {
        # non-convergence bounds that raise: fault detection
        "strongly_connected_components(max_peels)",
        "strongly_connected_components(max_rounds)",
        "boruvka_msf(max_rounds)",
        "dag_longest_path_levels(max_rounds)",
        "reachable_masks(max_rounds)",
        # deployment settings
        "get_spark(shuffle_partitions)",
        "tune_for_session(shuffle_partitions)",
        # seams where a test hands in its own session or tweet table
        "main(spark)",
        "TweetGraphPipeline(tweets)",
    }
    pkg = REPO / "tvbigdataproject_spark"
    params = []  # (file:line, called name, parameter, position)
    for path in sorted(pkg.rglob("*.py")):
        if "queries" in path.relative_to(pkg).parts:
            continue
        for stmt in ast.parse(path.read_text(), str(path)).body:
            if not isinstance(stmt, _DEFS + (ast.ClassDef,)) or stmt.name[0] == "_":
                continue
            where = f"{path.relative_to(REPO)}:{{}}"
            if isinstance(stmt, _DEFS):
                params += [
                    (where.format(stmt.lineno), stmt.name, n, i)
                    for n, i in _defaulted(stmt, False)
                ]
            else:
                for fn in stmt.body:
                    if not isinstance(fn, _DEFS):
                        continue
                    if fn.name == "__init__":
                        called = stmt.name
                    elif fn.name.startswith("_"):
                        continue
                    else:
                        called = fn.name
                    static = any(
                        getattr(d, "id", None) == "staticmethod" for d in fn.decorator_list
                    )
                    params += [
                        (where.format(fn.lineno), called, n, i)
                        for n, i in _defaulted(fn, not static)
                    ]
    keywords = defaultdict(set)  # called name -> keywords passed (None: **)
    positions = defaultdict(int)  # called name -> most positional args passed
    for path in _user_files():
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if not isinstance(node, ast.Call):
                continue
            name = getattr(node.func, "id", None) or getattr(node.func, "attr", None)
            keywords[name] |= {k.arg for k in node.keywords}
            n = len(node.args)
            if any(isinstance(a, ast.Starred) for a in node.args):
                n = 1 << 30
            positions[name] = max(positions[name], n)
    unset = [
        f"{where} {called}({name})"
        for where, called, name, i in params
        if f"{called}({name})" not in exempt
        and not keywords[called] & {name, None}
        and not (i is not None and positions[called] > i)
    ]
    assert not unset, "set by tests or by nothing:\n" + "\n".join(unset)


def _ivf(spark):
    from tvbigdataproject_spark.operators.similarity import ivf_topk
    from tvbigdataproject_spark.sources import read_table

    emb = read_table(spark, SF, "embeddings")
    return ivf_topk(
        emb, emb.where("vec_id < 3"), k=5, cache_key=("test-ivf-index", SF)
    )


def _ivf_key():
    (key,) = [k for k in materialize._SESSION if k[1] == "ivf_index"]
    return key


def test_ivf_index_entry_is_released_and_rebuilt(spark):
    sc, cm = spark.sparkContext, _cache_manager(spark)
    release_session_caches(spark)
    spark.catalog.clearCache()
    before = persistent_ids(sc)
    first = sorted(map(tuple, _ivf(spark).collect()))
    created = persistent_ids(sc) - before
    assert created and not cm.isEmpty()  # the persisted inverted lists
    key = _ivf_key()
    held = materialize._SESSION[key][0]
    _ivf(spark)
    assert materialize._SESSION[key][0] is held  # a hit reuses the index
    release_session_caches(spark)
    assert cm.isEmpty() and not persistent_ids(sc) & created
    assert sorted(map(tuple, _ivf(spark).collect())) == first
    assert materialize._SESSION[_ivf_key()][0] is not held
    release_session_caches(spark)


def test_ivf_index_dead_context_entry_dropped_not_released(spark):
    cm = _cache_manager(spark)
    release_session_caches(spark)
    live = _ivf(spark)
    key = _ivf_key()
    # an entry from a "previous" context holding the live index: its
    # release would uncache the live table
    stale = ("app-from-a-previous-life",) + key[1:]
    materialize._SESSION[stale] = materialize._SESSION[key]
    te.trade_pairs(spark, SF)  # any registry call sweeps stale entries
    assert stale not in materialize._SESSION
    assert not cm.isEmpty() and materialize._SESSION[key][0].is_cached
    assert live.count() > 0
    release_session_caches(spark)


def test_clustering_coeff_reruns_from_its_inputs_after_release(spark):
    # the query's lazy persists (its pair list, triangle_corner_counts'
    # oriented table) belong to the session: after release_session_caches
    # the CacheManager is empty and a second run repeats the first's
    # jobs instead of reading a table the first one left cached
    from tvbigdataproject_spark.queries import REGISTRY

    fn = REGISTRY["clustering_coeff_neardup"].fn
    cm = _cache_manager(spark)
    spark.catalog.clearCache()
    runs = []
    for _ in range(2):
        runs.append(
            count_jobs(spark, lambda: sorted(map(tuple, fn(spark, SF).collect())))
        )
        assert not cm.isEmpty()
        release_session_caches(spark)
        assert cm.isEmpty()
    (jobs_a, rows_a), (jobs_b, rows_b) = runs
    assert jobs_a == jobs_b and rows_a == rows_b and rows_a



@pytest.mark.parametrize(
    "name",
    [
        "bfs_hops_trade",
        "ipf_raking_weights",
        "minhash_scurve_design",
        "community_modularity",
        "skyline_parts",
        "kmeans_lloyd_assign",
    ],
)
def test_query_blocks_are_freed_by_the_session_release(spark, name):
    # each of these returns a plan over checkpoint blocks; the session
    # registry owns them, so releasing the session with the result
    # still alive returns the context to its state before the call
    from tvbigdataproject_spark.queries import REGISTRY

    sc = spark.sparkContext
    release_session_caches(spark)
    before = persistent_ids(sc)
    df = REGISTRY[name].fn(spark, SF)
    df.write.format("noop").mode("overwrite").save()
    release_session_caches(spark)
    assert persistent_ids(sc) == before


def test_kept_frame_is_freed_by_the_release_and_not_held_by_the_registry(spark):
    sc = spark.sparkContext
    release_session_caches(spark)
    before = persistent_ids(sc)
    with Scope() as s:
        kept = s.keep(s.checkpoint(spark.range(5)))
    created = persistent_ids(sc) - before
    assert len(created) == 1 and kept.count() == 5
    release_session_caches(spark)
    assert persistent_ids(sc) - before == set()

    # never released: the registry keeps only the release, so the
    # frame dies with its last reference and the ContextCleaner can
    # reach its blocks
    with Scope() as s:
        kept = s.keep(s.checkpoint(spark.range(5)))
    ref = weakref.ref(kept)
    assert any(
        k[0] == sc.applicationId and held[0] is None
        for k, held in materialize._SESSION.items()
    )
    del kept
    gc.collect()
    assert ref() is None
    release_session_caches(spark)
