"""Distributed 2-D skyline (pareto front): rows not dominated on a
(minimize, maximize) attribute pair.

Algorithm (the classic two-phase distributed skyline): the skyline of a
union equals the skyline of the union of per-partition skylines, and
any filter that only removes *dominated* rows preserves the final
answer. Phase 1 therefore runs a scan-local pareto pre-filter inside
each Arrow batch (mapInPandas — vectorized cummax over a sort, no
shuffle), shrinking each partition to its local front. Phase 2 takes
the union of the local fronts — O(front size), typically logarithmic in
row count for non-degenerate data — and finishes with an exact
dominance anti-join against its (now broadcastable) self.

The phase-1 filter is intentionally a slight over-approximation (it
keeps equal-extent ties for phase 2 to adjudicate), which keeps it a
one-pass cummax instead of a pairwise check; correctness rests solely
on phase 2, so the pre-filter can never change the result — only the
intermediate size.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tvbigdataproject_spark.operators.materialize import Scope


def skyline_2d(
    df: DataFrame,
    minimize: str,
    maximize: str,
    broadcast_limit: int | None = None,
) -> DataFrame:
    """Rows of ``df`` not dominated by any other row, where domination
    means <= on ``minimize`` and >= on ``maximize`` with at least one
    strict. Duplicate (minimize, maximize) pairs never dominate each
    other, so whole tie-groups survive together.

    Degenerate-front bound: on anti-correlated data every row can sit
    on the front, in which case the phase-2 candidate set equals the
    full input and the broadcast nested-loop finisher turns quadratic
    (and risks a driver/executor OOM at scale). ``broadcast_limit``
    guards that: when set, the candidate set is counted first and, if
    it exceeds the limit, the finisher switches to the shuffle-based
    window formulation (group-max per distinct ``minimize`` value +
    running max over the sorted group table — exact, no NLJ, no
    broadcast; the single-task global window runs over one tiny 2-col
    row per DISTINCT minimize value, not per input row). The guarded
    path therefore EXECUTES at construction time (candidates cached
    across count + finisher, result checkpointed, cache released) and
    tags the returned frame with ``skyline_finisher``. Default None
    keeps the fully-lazy broadcast plan for correlated data, where the
    front is provably small.
    """
    cols = df.columns

    def local_front(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            s = pdf.sort_values([minimize, maximize], ascending=[True, False])
            # a row survives iff it carries the running max of the
            # maximize attribute — anything below it is dominated by an
            # earlier (cheaper-or-equal, strictly-larger) row.
            yield s[s[maximize] >= s[maximize].cummax()]

    candidates = df.mapInPandas(local_front, df.schema)

    if broadcast_limit is not None:
        # The guard needs a candidate count. Persist the front around
        # the count so phase 1 runs ONCE — the count materializes the
        # cache and the chosen finisher reads it back, instead of the
        # naive shape (count pass + an uncached recompute during the
        # finisher, i.e. two full input scans per invocation). The
        # finisher result is then eagerly pinned by a checkpoint
        # (it is at most the front, usually far smaller) so the
        # candidate cache can be released deterministically rather
        # than waiting on GC + the async ContextCleaner — bench-style
        # repeated construction would otherwise accumulate one cached
        # front per invocation. Net: the guarded path executes at
        # construction time, exactly one phase-1 pass, nothing left
        # cached but the small checkpointed result.
        with Scope() as s:
            candidates = s.persist(candidates)
            degenerate = candidates.count() > broadcast_limit
            if degenerate:
                result = _skyline_2d_window(candidates, minimize, maximize)
            else:
                result = _dominance_anti_join(candidates, minimize, maximize, cols)
            out = s.keep(s.checkpoint(result))
        # observable path choice for tests / plan audits (the eager
        # checkpoint hides the finisher from the returned frame's plan)
        out.skyline_finisher = "window" if degenerate else "broadcast"
        return out

    return _dominance_anti_join(candidates, minimize, maximize, cols)


def _dominance_anti_join(
    candidates: DataFrame, minimize: str, maximize: str, cols: list[str]
) -> DataFrame:
    """Broadcast nested-loop finisher: exact dominance anti-join of the
    candidate front against itself. The union of local fronts is small
    by construction (or pre-counted by the guard); broadcasting it keeps
    the non-equi dominance check off the shuffle path."""
    p = candidates.alias("p")
    q = candidates.alias("q")
    pm, px = F.col(f"p.{minimize}"), F.col(f"p.{maximize}")
    qm, qx = F.col(f"q.{minimize}"), F.col(f"q.{maximize}")
    dominated_by = (qm <= pm) & (qx >= px) & ((qm < pm) | (qx > px))
    return p.join(F.broadcast(q), dominated_by, "left_anti").select(
        *[F.col(f"p.{c}").alias(c) for c in cols]
    )


def _skyline_2d_window(
    candidates: DataFrame, minimize: str, maximize: str
) -> DataFrame:
    """Shuffle-only exact 2-D skyline finisher for degenerate (huge)
    fronts. A row p is dominated iff

        max(maximize) over {q : q.minimize <  p.minimize} >= p.maximize
     or max(maximize) over {q : q.minimize == p.minimize} >  p.maximize

    Both maxima come from the per-distinct-``minimize`` group table:
    ``gx`` (same-group max) and ``prev_gx`` (running max over strictly
    smaller groups, a ROWS window over the one-row-per-group table).
    The global window is single-task but over |distinct minimize|
    2-column rows — bounded state, unlike the broadcast of a full-input
    candidate set.
    """
    from pyspark.sql import Window

    groups = candidates.groupBy(minimize).agg(F.max(maximize).alias("gx"))
    w = Window.orderBy(minimize).rowsBetween(Window.unboundedPreceding, -1)
    groups = groups.withColumn("prev_gx", F.max("gx").over(w))
    keep = candidates.join(groups, on=minimize, how="inner").where(
        (F.col("prev_gx").isNull() | (F.col("prev_gx") < F.col(maximize)))
        & (F.col("gx") <= F.col(maximize))
    )
    # the USING join moved the key to the front — restore input order
    return keep.select(*candidates.columns)
