"""Distributed minimum spanning forest: Boruvka's algorithm.

The classic distributed MST shape (one of the original MapReduce-graph
algorithms): every round, each component selects its minimum outgoing
edge under a TOTAL order on edges (w, u, v); selected edges join the
forest; components contract by hooking + pointer jumping; rounds halve
the component count, so the loop runs O(log n) rounds of
corpus-partitioned equi-joins — the connected_components discipline
(eager checkpoint, tracked release, scalar-only driver decisions).

Uniqueness: with edge ranks totally ordered (ties broken by the
canonical endpoint pair), per-component minima are unique, so the
greedy selection can never close a cycle (the standard cut-property
argument) and the forest is THE unique MSF — which is what lets a
driver-side Kruskal replay validate the distributed result exactly
(tests/test_mst.py, and the registry query's bounded check).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tvbigdataproject_spark.operators.materialize import Scope


def boruvka_msf(
    edges: DataFrame,
    weight: str = "w",
    max_rounds: int = 25,
) -> DataFrame:
    """(u, v, w) edge list of the minimum spanning FOREST of the
    undirected graph (one tree per connected component) over the
    (src, dst) columns of ``edges``, weighted by ``weight``. Edges are
    canonicalized u < v and deduplicated keeping the minimum weight;
    selection order is the total order (w, u, v).

    Every round: one explode-pass min-selection over the CONTRACTED
    edge table + a pointer-jumping hook + a re-contraction (relabel to
    roots, min original edge per root pair) — all corpus-partitioned
    keyed ops, nothing per-row on the driver; the persisted state is
    one geometrically-shrinking edge table plus component-bounded
    parent maps (r12: the corpus-sized labels table and the second
    edge-sized ``cross`` checkpoint of the r11 shape are gone — the
    c100 rung OOM'd 16 GB with edge+cross+labels concurrently live).
    ``max_rounds`` raises rather than return a partial forest (25
    rounds covers 2^25 components).
    """
    canon = (
        edges.select(
            F.least(F.col("src"), F.col("dst")).alias("u"),
            F.greatest(F.col("src"), F.col("dst")).alias("v"),
            F.col(weight).alias("w"),
        )
        .where(F.col("u") != F.col("v"))
        .groupBy("u", "v")
        .agg(F.min("w").alias("w"))
    )
    # CONTRACTED edge representation (r12, the c100 16-GB fix): each
    # row is the minimum ORIGINAL edge (w, u, v) between a live
    # component pair (cu, cv). Round 1 starts with cu=u, cv=v; each
    # round relabels endpoints to component roots and re-contracts
    # (min-struct per root pair), so the persisted edge table SHRINKS
    # geometrically instead of staying corpus-sized — and the old
    # edge-sized ``cross`` checkpoint (a second full copy of the edge
    # list persisted alongside it every round; the r11 c100 OOM named
    # exactly "per-round edge + label + forest concurrently live") is
    # gone entirely: candidates are now emitted in ONE pass over the
    # contracted table via an inline 2-element explode, so nothing
    # edge-sized needs a second materialization. Correctness is the
    # standard Boruvka contraction argument: keeping the (w, u, v)-min
    # original edge per component pair preserves every component's
    # minimum outgoing edge, so the selected forest is unchanged (and
    # still THE unique MSF under the total order).
    with Scope() as s:
        ec = s.checkpoint(
            canon.select(
                F.col("u").alias("cu"), F.col("v").alias("cv"), "w", "u", "v"
            )
        )
        forest: DataFrame | None = None
        for _ in range(max_rounds):
            # both orientations in one pass (no self-union => the
            # contracted table is referenced once and stays lazy)
            cand = ec.select(
                F.explode(
                    F.array(
                        F.struct(
                            F.col("cu").alias("comp"),
                            F.struct(
                                "w", "u", "v", F.col("cv").alias("cother")
                            ).alias("e"),
                        ),
                        F.struct(
                            F.col("cv").alias("comp"),
                            F.struct(
                                "w", "u", "v", F.col("cu").alias("cother")
                            ).alias("e"),
                        ),
                    )
                ).alias("x")
            ).select("x.comp", "x.e")
            # each component's minimum outgoing edge under (w, u, v):
            # min over a struct is lexicographic, so the selection is
            # the unique total-order minimum per component
            sel = cand.groupBy("comp").agg(F.min("e").alias("e"))
            sel = s.checkpoint(
                sel.select(
                    "comp",
                    F.col("e.w").alias("w"),
                    F.col("e.u").alias("u"),
                    F.col("e.v").alias("v"),
                    F.col("e.cother").alias("parent"),
                ),
            )
            if not sel.head(1):
                s.release(sel)
                break
            picked = sel.select("u", "v", "w").distinct()
            new_forest = s.checkpoint(
                picked
                if forest is None
                else forest.unionByName(picked),
            )
            s.release(forest)
            forest = new_forest
            # contraction: hook each selecting component to its chosen
            # neighbor; a mutual pair (2-cycle) roots at the smaller id
            par = sel.select("comp", "parent")
            mutual = (
                par.alias("a")
                .join(
                    par.alias("b"),
                    (F.col("a.parent") == F.col("b.comp"))
                    & (F.col("b.parent") == F.col("a.comp")),
                    "left_semi",
                )
            )
            hooked = par.join(
                mutual.select("comp").withColumn("_m", F.lit(1)),
                "comp",
                "left",
            ).select(
                "comp",
                F.when(
                    (F.col("_m") == 1)
                    & (F.col("comp") < F.col("parent")),
                    F.col("comp"),
                )
                .otherwise(F.col("parent"))
                .alias("parent"),
            )
            par_ck = s.checkpoint(hooked)
            s.release(sel)
            # pointer jumping to the roots (chains halve per step)
            for _j in range(max_rounds):
                pj = par_ck.alias("x").join(
                    par_ck.select(
                        F.col("comp").alias("parent"),
                        F.col("parent").alias("gp"),
                    ),
                    "parent",
                    "left",
                ).select(
                    "comp",
                    F.coalesce("gp", "parent").alias("parent"),
                )
                new_p = s.checkpoint(pj)
                changed = (
                    new_p.alias("n")
                    .join(
                        par_ck.select(
                            "comp", F.col("parent").alias("old")
                        ),
                        "comp",
                    )
                    .where(F.col("parent") != F.col("old"))
                    .head(1)
                )
                s.release(par_ck)
                par_ck = new_p
                if not changed:
                    break
            else:
                raise RuntimeError(
                    "boruvka_msf: pointer jumping did not converge"
                )
            # contract: relabel both endpoints to their roots (the
            # root map is component-bounded; components that selected
            # nothing keep their label via the left-join coalesce),
            # drop now-internal edges, keep the min original edge per
            # root pair. The pre-contraction relabeled rows live only
            # in shuffle (spill-safe), never in block storage.
            roots = par_ck.select("comp", F.col("parent").alias("root"))
            relab = (
                ec.join(
                    roots.select(
                        F.col("comp").alias("cu"),
                        F.col("root").alias("ru"),
                    ),
                    "cu",
                    "left",
                )
                .join(
                    roots.select(
                        F.col("comp").alias("cv"),
                        F.col("root").alias("rv"),
                    ),
                    "cv",
                    "left",
                )
                .select(
                    F.coalesce("ru", "cu").alias("nu"),
                    F.coalesce("rv", "cv").alias("nv"),
                    "w",
                    "u",
                    "v",
                )
                .where(F.col("nu") != F.col("nv"))
            )
            contracted = (
                relab.select(
                    F.least("nu", "nv").alias("cu"),
                    F.greatest("nu", "nv").alias("cv"),
                    F.struct("w", "u", "v").alias("e"),
                )
                .groupBy("cu", "cv")
                .agg(F.min("e").alias("e"))
                .select(
                    "cu",
                    "cv",
                    F.col("e.w").alias("w"),
                    F.col("e.u").alias("u"),
                    F.col("e.v").alias("v"),
                )
            )
            new_ec = s.checkpoint(contracted)
            s.release(ec)
            s.release(par_ck)
            ec = new_ec
        else:
            raise RuntimeError(
                f"boruvka_msf: not settled after {max_rounds} rounds"
            )
        out = ec.limit(0) if forest is None else forest
        return s.keep(s.checkpoint(out.select("u", "v", "w")))
