"""Session-scoped materialized trade edge table, shared by the graph
family.

Every trade-graph query (katz, pagerank, bfs/sssp, k-core, LPA /
modularity / conductance, MIS, WL, betweenness, homophily, ...) starts
from the same derived table: the DISTINCT (customer, supplier) pairs of
``lineitem JOIN orders`` — the canonical edge set the reference's graph
builders also derive once per pipeline (reference
``bigdata/RetweetGraph.py`` builds its edge list once and hands it to
every downstream stage; here the "edge build" is the li⋈orders
distinct, the single most expensive subplan in the tier: 7.6 s of
Katz's 11.5 s sf1 profile before the r11 rewrite, and rebuilt
per-query by a dozen operators).

This module materializes that pair table ONCE per (SparkContext,
sf_dir) and hands out cheap projections of the checkpointed rows:

- the build applies the Katz treatment (graph9.py r11): size-gated
  SHUFFLE_HASH on the orders side — hash build measured 2x faster than
  the planner's SMJ at sf1, but the gate keeps the per-partition build
  side under the same bytes-per-task criterion AQE applies, because an
  ungated hint OOM'd the 16g JVM at c100 (SCALE.md r11 ladder); past
  the gate the sort-merge join (spills, never OOMs) takes over.
- each pair table is a session-registry checkpoint
  (``materialize.session_table``). Consumers get lazy projections/unions
  over its rows, so an iterative operator's per-round scan reads
  materialized rows — no join recompute, no per-query
  re-materialization. The edge views are ``EdgeSet``s: the pairs are
  distinct by construction, so operators read them as given.

At 100 TB the same shape holds: the pair table is orders-of-magnitude
smaller than lineitem (bounded by |customers| x |suppliers| active
pairs), and on a real cluster the session-scoped checkpoint could
become a table bucketed by src (``DataFrameWriter.bucketBy``; the r11
3-layout ladder measured that layout dropping 2 of 3 per-round
exchanges, 42% faster at c100).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tvbigdataproject_spark.operators.materialize import EdgeSet, session_table
from tvbigdataproject_spark.sources import read_table


def _joined_pairs(spark, sf_dir: str):
    """The li⋈orders pair stream (pre-aggregate), with the size-gated
    SHUFFLE_HASH hint on the orders side."""
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    o_sel = orders.select("o_orderkey", "o_custkey")
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    try:
        o_bytes = sum(
            os.path.getsize(f.removeprefix("file:"))
            for f in orders.inputFiles()
        )
    except OSError:
        o_bytes = None
    if o_bytes is not None and o_bytes <= nparts * (2 << 20):
        o_sel = o_sel.hint("SHUFFLE_HASH")
    return (
        li.select("l_orderkey", "l_suppkey")
        .join(o_sel, F.col("l_orderkey") == F.col("o_orderkey"))
        .select("o_custkey", "l_suppkey")
    )


def trade_pairs(spark, sf_dir: str) -> DataFrame:
    """Distinct (o_custkey, l_suppkey) trade pairs, materialized once
    per (SparkContext, sf_dir) and reused by every caller."""
    return session_table(
        spark,
        ("trade_pairs", os.path.abspath(sf_dir)),
        lambda: _joined_pairs(spark, sf_dir).distinct(),
    )


def trade_pair_counts(spark, sf_dir: str) -> DataFrame:
    """(o_custkey, l_suppkey, n) — line-item multiplicity per pair,
    the weighted variant pagerank / personalized-pagerank / sssp key
    on. Same one-shuffle cost as the distinct (a keyed partial-agg
    count instead of a dedup), cached separately."""
    return session_table(
        spark,
        ("trade_pair_counts", os.path.abspath(sf_dir)),
        lambda: _joined_pairs(spark, sf_dir)
        .groupBy("o_custkey", "l_suppkey")
        .agg(F.count(F.lit(1)).alias("n")),
    )


def trade_edges(spark, sf_dir: str) -> EdgeSet:
    """Directed (src=o_custkey, dst=-l_suppkey) edges — a lazy
    projection over the shared checkpointed pair table, distinct
    because the pairs are."""
    p = trade_pairs(spark, sf_dir)
    return EdgeSet(
        p.select(
            F.col("o_custkey").alias("src"),
            (-F.col("l_suppkey")).alias("dst"),
        )
    )


def trade_edges_bi(spark, sf_dir: str) -> EdgeSet:
    """Bidirected trade edges (both orientations of every pair).
    Customer and supplier ids live in sign-disjoint spaces, so the two
    orientations never collide — except the pair (0, 0), which appears
    once per orientation when customer 0 trades with supplier 0 (the
    id-space overlap noted in tests/test_trade_edges.py; every oracle
    replays the same UNION ALL, and sf0.01 has no such pair)."""
    e = trade_edges(spark, sf_dir).df
    return EdgeSet(
        e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    )


def trade_edges_weighted_bi(spark, sf_dir: str) -> EdgeSet:
    """Bidirected trade edges weighted by line-item multiplicity:
    (src, dst, w = n) for both orientations of every pair of
    ``trade_pair_counts`` — the pagerank / sssp input. Unique on
    (src, dst) under the same caveat as ``trade_edges_bi``."""
    e = trade_pair_counts(spark, sf_dir).select(
        F.col("o_custkey").alias("src"),
        (-F.col("l_suppkey")).alias("dst"),
        F.col("n").alias("w"),
    )
    return EdgeSet(
        e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
        )
    )
