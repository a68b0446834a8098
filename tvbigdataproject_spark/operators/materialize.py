"""The one place tables are materialized and released: two verbs and
two owners, nothing else.

- ``checkpoint`` — an eager ``localCheckpoint`` that cuts lineage (with
  the stats-ceiling rebuild below). Its blocks live outside the
  CacheManager, so they need an owner that releases them.
- ``persist`` — a lazy cache that lets several consumers share one
  computation. The CacheManager holds it until an explicit release, and
  every later plan with the same inputs reads the cached copy.

- ``Scope`` — owns what one call (or pipeline) makes: it releases
  superseded frames and, on exit (normal or exception), everything else
  it made, except the results it hands to the session registry with
  ``keep``. ``Scope.rounds`` is the iterative tier's one round loop (a
  step per round, a checkpoint every few rounds, an optional
  convergence probe).
- the session registry — owns everything that outlives the call that
  built it: ``session_table`` builds a keyed table once per
  (SparkContext, key); ``session_persist`` and ``session_checkpoint``
  hold a table whose consumers run after the call returns; and
  ``Scope.keep`` moves a result's release here. ``release_session``
  (through ``session.release_session_caches``) frees them all: a
  deployment amortizes a build across queries, a benchmark rep must
  not. So ``release_session_caches`` invalidates every result frame
  returned before it: a frame that reads a released checkpoint cannot
  be recomputed, and one that read a released persist recomputes from
  its inputs.

  An entry for a kept result or a session checkpoint holds only its
  release (the SparkContext and the RDD ids), never the frame: in a
  session that never releases (the driver contract, the CLI) a dead
  frame's blocks are still freed by the ContextCleaner.

  Entries are keyed by ``sc.applicationId``: RDD ids are small
  sequential ints scoped to a SparkContext, so an entry that survived a
  context restart could release unrelated RDDs in the new context.
  Entries of another application id are dropped, never released. A
  lock guards the registry; a build runs outside it, and a lost build
  race releases the loser's checkpoint and reuses the winner (a
  persisted loser is the winner's own cache entry: the CacheManager
  keys on the plan).

Beside the verbs: ``fits_broadcast`` (a checkpoint's measured size
against the broadcast threshold), ``EdgeSet`` (rows materialized and
unique on (src, dst)) and ``local_solve_ok``, the one size gate for
driver-local endgames, with ``collect_edges`` / ``local_frame`` for the
solvers' I/O.
"""

from __future__ import annotations

import os
import threading
import warnings
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def persistent_ids(sc) -> set[int]:
    """Ids of currently persisted RDDs (the checkpoint blocks live here)."""
    jmap = sc._jsc.getPersistentRDDs()
    return {int(k) for k in jmap.keySet().toArray()}


def _unpersist_ids(sc, ids: set[int]) -> None:
    """Release the persisted RDDs with these ids (non-blocking)."""
    if not ids:
        return
    jmap = sc._jsc.getPersistentRDDs()
    for k in jmap.keySet().toArray():
        if int(k) in ids:
            jmap.get(k).unpersist(False)


# localCheckpoint carries the ORIGINAL plan's ESTIMATED statistics onto
# the checkpointed leaf (originStats), and the size-only stats visitor
# multiplies join children's sizes — so an iterative operator whose
# round contains a self-join SQUARES the estimate every round, a power
# tower that first makes Catalyst's BigInt arithmetic the bottleneck
# (minutes of driver CPU inside BigInteger.multiply) and then overflows
# BigInteger's magnitude cap outright ("BigInteger would overflow
# supported range" — boruvka_msf at sf1 was the first to hit it, at
# ~2^(63 * 2^r) bits). Past this ceiling the estimate carries no
# information anyway, so the checkpoint is rebuilt as a fresh LogicalRDD
# over the SAME materialized rows (no recompute, same persisted blocks),
# whose stats fall back to the leaf default. Below the ceiling the
# inherited estimate is kept — it is what lets small checkpointed tables
# keep auto-broadcasting.
_STATS_BITLEN_CEILING = 96
# one-time flag: the stats rebuild failing is advisory but must not be
# silent (ADVICE r11) — warn on the first failure, then stay quiet
_STATS_REBUILD_WARNED = False


# The two verbs, each returning the materialized frame and the callable
# that releases it.
_Held = tuple[DataFrame, Callable[[], None]]


def _checkpointed(df: DataFrame) -> _Held:
    """localCheckpoint(eager) and the release of exactly the RDDs it
    persisted; the release holds the context and the ids, not the
    frame."""
    sc = df.sparkSession.sparkContext
    before = persistent_ids(sc)
    out = df.localCheckpoint(eager=True)
    jdf = out._jdf
    try:
        # py4j hands scala.math.BigInt back as a plain Python int
        size = int(
            jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
        blown = size.bit_length() > _STATS_BITLEN_CEILING
    except Exception:  # stats access is advisory, never fail the loop
        blown = False
    if blown:
        # internalCreateDataFrame is a private Spark API (pinned against
        # pyspark 4.1); if a future Spark renames it, keep the (valid,
        # just pessimistically-estimated) checkpoint rather than fail
        # the iteration — losing the stats reset degrades planning,
        # losing the checkpointed rows would break the run. The
        # degradation must be OBSERVABLE though (ADVICE r11): a silent
        # fallback would let the driver-CPU/BigInteger blowup the
        # rebuild exists to prevent quietly return, so the first
        # failure per process warns once with the real cause.
        try:
            spark = df.sparkSession
            fresh = spark._jsparkSession.internalCreateDataFrame(
                jdf.queryExecution().toRdd(), jdf.schema(), False
            )
            out = DataFrame(fresh, spark)
        except Exception as exc:
            global _STATS_REBUILD_WARNED
            if not _STATS_REBUILD_WARNED:
                _STATS_REBUILD_WARNED = True
                warnings.warn(
                    "checkpoint stats rebuild failed; keeping the "
                    "pessimistic size estimate (planning may degrade "
                    f"on deep iterative plans): {exc!r}",
                    RuntimeWarning,
                    stacklevel=3,
                )
    ids = persistent_ids(sc) - before
    return out, lambda: _unpersist_ids(sc, ids)


def _persisted(df: DataFrame) -> _Held:
    out = df.persist()
    return out, lambda: out.unpersist()


def _persisted_under(leaf, persisted: set[int]) -> int | None:
    """Id of the persisted RDD a LogicalRDD ``leaf`` reads: its own RDD,
    or — after the stats rebuild — the one under a narrow map over it."""
    rdd = leaf.rdd()
    while rdd.id() not in persisted:
        deps = rdd.dependencies()
        if deps.size() != 1:
            return None
        rdd = deps.head().rdd()
    return rdd.id()


def _is_rdd_leaf(plan) -> bool:
    return plan.getClass().getSimpleName() == "LogicalRDD"


def fits_broadcast(df: DataFrame) -> bool:
    """True when ``df`` is a bare checkpoint (its plan is one checkpoint
    leaf) whose stored blocks — memory plus disk bytes, as the block
    manager's storage info reports them — are at most the session's
    ``spark.sql.autoBroadcastJoinThreshold``. A non-positive threshold
    disables it, as it disables Spark's own broadcast choice. Reads no
    rows and launches no job.

    Catalyst cannot make this call itself: a checkpoint inherits the
    estimated statistics of the plan it materialized, and join estimates
    multiply, so a small frontier that came out of a join over a large
    edge table is planned as if it were large. The stored size is
    measured, not estimated.
    """
    spark = df.sparkSession
    threshold = int(
        spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    )
    plan = df._jdf.queryExecution().analyzed()
    if threshold <= 0 or not _is_rdd_leaf(plan):
        return False
    stored = {
        int(i.id()): int(i.memSize()) + int(i.diskSize())
        for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    }
    rdd_id = _persisted_under(plan, set(stored))
    # storage info not yet posted for these blocks: no measured size
    return rdd_id is not None and stored[rdd_id] <= threshold


@dataclass(frozen=True)
class EdgeSet:
    """Edge rows that are already materialized and unique on their
    ``src`` and ``dst`` columns, plus any payload columns (a weight).
    Operators read every edge set through those two column names.

    Operators take ``DataFrame | EdgeSet``: a plain DataFrame is
    deduplicated and checkpointed before the first round, an EdgeSet is
    read as given — no dedup exchange, no second copy of the blocks.
    Only two places construct one, both of which establish the
    invariant: ``Scope.edges`` (``distinct()`` + checkpoint) and the
    session trade tables in ``operators/trade_edges.py``.
    """

    df: DataFrame

    def count(self) -> int:
        return self.df.count()


class Scope:
    """Owns the tables an operator (or a pipeline) makes.

    ``checkpoint`` materializes and records a frame, ``persist`` caches
    and records one lazily; ``release`` frees a recorded frame (anything
    it did not make is left alone); ``keep`` hands a recorded frame's
    release to the session registry, so the frame outlives the scope
    until ``release_session``. On exit — normal or exception — or on
    ``close()``, every frame still recorded is released, so an error
    mid-loop leaks no blocks.
    """

    def __init__(self) -> None:
        self._held: dict[int, _Held] = {}

    def __enter__(self) -> Scope:
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    def close(self) -> None:
        for _, free in self._held.values():
            free()
        self._held.clear()

    def _hold(self, held: _Held) -> DataFrame:
        self._held[id(held[0])] = held
        return held[0]

    def checkpoint(self, df: DataFrame) -> DataFrame:
        return self._hold(_checkpointed(df))

    def persist(self, df: DataFrame) -> DataFrame:
        """``df`` cached lazily: no job runs here; the first action over
        it fills the cache and later ones read it, until release."""
        return self._hold(_persisted(df))

    def edges(self, edges: DataFrame | EdgeSet) -> EdgeSet:
        """``edges`` as an EdgeSet with exactly the columns (src, dst):
        an EdgeSet's rows as given (payload columns dropped), a
        DataFrame's deduplicated and checkpointed here."""
        if isinstance(edges, EdgeSet):
            return EdgeSet(edges.df.select("src", "dst"))
        return EdgeSet(self.checkpoint(edges.select("src", "dst").distinct()))

    def release(self, df: DataFrame) -> None:
        held = self._held.pop(id(df), None)
        if held is not None:
            held[1]()

    def keep(self, df: DataFrame) -> DataFrame:
        held = self._held.pop(id(df), None)
        if held is not None:
            _own(df.sparkSession, held[1])
        return df

    def rounds(
        self,
        state: DataFrame,
        step: Callable[[DataFrame, int], DataFrame],
        n: int,
        every: int,
        stop: Callable[[DataFrame, DataFrame, int], bool] | None = None,
    ) -> tuple[DataFrame, bool]:
        """The iterative tier's round loop: ``plan = step(plan, r)`` for
        r = 1..n, starting from ``state``. The plan is checkpointed
        after every ``every`` rounds and after round n, so lineage grows
        for at most ``every`` rounds between truncations. After each
        checkpoint ``stop(new, old, r)`` (when given) probes the fresh
        table against the one it supersedes; then ``old`` is released
        and, if ``stop`` returned true, the loop ends. Returns the last
        checkpoint and whether ``stop`` fired. ``state`` is released
        like any other superseded table (a no-op when this scope did
        not checkpoint it)."""
        r = 0
        while r < n:
            plan = state
            for _ in range(min(every, n - r)):
                r += 1
                plan = step(plan, r)
            new = self.checkpoint(plan)
            stopped = stop is not None and stop(new, state, r)
            self.release(state)
            state = new
            if stopped:
                return state, True
        return state, False


# (applicationId, *key) -> (the table session_table hands out, else
# None; its release)
_LOCK = threading.RLock()
_SESSION: dict[tuple, tuple[DataFrame | None, Callable[[], None]]] = {}


def _live_app(spark) -> str:
    """The live context's application id, after dropping — without
    release — every entry another context left."""
    app = spark.sparkContext.applicationId
    with _LOCK:
        for stale in [k for k in _SESSION if k[0] != app]:
            del _SESSION[stale]
    return app


def _own(spark, free: Callable[[], None]) -> None:
    """Make ``free`` a registry entry, keyed by the callable itself (the
    entry keeps it alive, so its id stays unique)."""
    app = _live_app(spark)
    with _LOCK:
        _SESSION[(app, "owned", id(free))] = (None, free)


def session_table(
    spark,
    key: tuple,
    build: Callable[[], DataFrame],
    persist: bool = False,
) -> DataFrame:
    """The table ``build()`` makes, materialized once per (SparkContext,
    ``key``) and handed to every later caller as the same frame until
    ``release_session``. It is materialized when built: checkpointed
    (lineage cut), or with ``persist`` cached and filled by a count, so
    its plan keeps the build's operators over the cached rows."""
    full = (_live_app(spark), *key)
    with _LOCK:
        hit = _SESSION.get(full)
    if hit is not None:
        return hit[0]
    # build outside the lock (it runs a job); a concurrent duplicate
    # build is benign — the loser is released below
    if persist:
        held = _persisted(build())
        held[0].count()
    else:
        held = _checkpointed(build())
    with _LOCK:
        won = _SESSION.setdefault(full, held)
    if won is not held and not persist:
        held[1]()
    return won[0]


def session_persist(df: DataFrame) -> DataFrame:
    """``df`` cached lazily and owned by the session: for a table whose
    consumers run after the building call has returned, so no scope
    can release it. ``release_session`` frees it."""
    out, free = _persisted(df)
    _own(df.sparkSession, free)
    return out


def session_checkpoint(df: DataFrame) -> DataFrame:
    """``df`` checkpointed now and owned by the session: the eager form
    of ``session_persist``, for a table that backs a returned plan.
    ``release_session`` frees it."""
    out, free = _checkpointed(df)
    _own(df.sparkSession, free)
    return out


def release_session(spark) -> None:
    """Release every table the session registry holds for this context
    (and drop any other context's entries unreleased)."""
    app = spark.sparkContext.applicationId
    with _LOCK:
        mine = [held for k, held in _SESSION.items() if k[0] == app]
        _SESSION.clear()
    for _, free in mine:
        free()


# Edge-count gate for the driver-local solvers (0 disables). A constant
# that bounds driver memory, not one tuned to the local bench — see
# local_solve_ok for the measured cost at the gate.
LOCAL_EDGES_DEFAULT = 1_000_000


def local_solve_ok(edges: DataFrame | EdgeSet) -> bool:
    """True when ``edges`` is small enough to collect and solve on the
    driver (union-find, Tarjan, serial BFS) instead of running the
    distributed round loop: ``edges.count() <= threshold``. The
    threshold is the deployment setting ``SPARK_GRAFT_LOCAL_EDGES``,
    read at call time, else ``LOCAL_EDGES_DEFAULT``; 0 disables the
    local path, which is how tests force the distributed loops; a value
    that is not an integer raises ``ValueError``. Callers pass
    materialized edges, so the count reads cached rows, not the
    upstream plan.

    Driver memory at the gate, measured: one local
    connected_components solve on a synthetic 1M-edge graph raises the
    driver Python process's RSS high-water mark by about 420 MB —
    ~440 B/edge for the collected Rows, the dict union-find, the result
    list and its serialization to the JVM, not the 16 B/edge of the raw
    ids (two runs, 422 and 424 MB, local[4] on a 4-core Xeon host;
    collecting both orientations, as CC did before, took 752 MB).
    Measured as ``connected_components(spark.range(1_000_000)
    .selectExpr("id AS src", "(id * 7919 + 13) % 700000 AS dst"))``
    followed by ``.count()``, reading ``VmHWM`` from /proc/self/status
    after resetting it through /proc/self/clear_refs. Keep the gate at
    or below the driver memory you can spare for that.
    """
    raw = os.environ.get("SPARK_GRAFT_LOCAL_EDGES", LOCAL_EDGES_DEFAULT)
    try:
        threshold = int(raw)
    except ValueError:
        raise ValueError(
            f"SPARK_GRAFT_LOCAL_EDGES={raw!r} is not an integer edge count"
        ) from None
    return threshold > 0 and edges.count() <= threshold


def collect_edges(df: DataFrame, a: str = "src", b: str = "dst") -> list:
    """The (a, b) rows of a gated edge set, on the driver."""
    return df.select(a, b).collect()


def local_frame(spark, rows, fields: list[tuple[str, object]]) -> DataFrame:
    """A driver-local solver's result as a DataFrame with non-nullable
    ``fields`` (name, Spark type) — the same schema the distributed
    path returns."""
    from pyspark.sql.types import StructField, StructType

    return spark.createDataFrame(
        rows, StructType([StructField(n, t, False) for n, t in fields])
    )
