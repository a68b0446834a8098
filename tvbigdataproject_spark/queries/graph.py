"""Graph operator queries (SURVEY.md §2.9) re-expressed on the TESTDATA
star schema so the DuckDB oracle can check them.

The graph here is the bipartite user→event_type graph from ``events``
(analogous to the reference's user→hashtag HT graph) and the
co-purchase graph from orders⋈lineitem (analogous to the motif-derived
user-pair candidates). The tweet-native versions of these operators live
in tvbigdataproject_spark/operators/graph.py and plans/pipelines.py and
are exercised by the golden-fixture tests.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tvbigdataproject_spark.queries.registry import query
from tvbigdataproject_spark.operators.graph import pair_candidates
from tvbigdataproject_spark.operators.skew import shuffle_partition_count
from tvbigdataproject_spark.sources import read_table


@query(
    "graph_edges_weighted",
    sql="""
    SELECT user_id AS src, event_type AS dst, COUNT(*) AS w
    FROM events GROUP BY 1, 2
    """,
    tags=("graph",),
)
def graph_edges_weighted(spark, sf_dir):
    """Weighted edge construction (G1/A2 — reference builds HT edges the
    same way: RetweetTagsJaccardGraph.py:123-127)."""
    return (
        read_table(spark, sf_dir, "events")
        .groupBy(F.col("user_id").alias("src"), F.col("event_type").alias("dst"))
        .agg(F.count(F.lit(1)).alias("w"))
    )


@query(
    "graph_degrees",
    sql="""
    SELECT user_id AS id,
           COUNT(DISTINCT event_type) AS out_degree,
           COUNT(*) AS out_weight
    FROM events GROUP BY 1
    """,
    tags=("graph",),
)
def graph_degrees(spark, sf_dir):
    """Vertex degree / strength from the edge list."""
    return (
        read_table(spark, sf_dir, "events")
        .groupBy(F.col("user_id").alias("id"))
        .agg(
            F.countDistinct("event_type").alias("out_degree"),
            F.count(F.lit(1)).alias("out_weight"),
        )
    )


@query(
    "pair_candidates_shared_parts",
    sql="""
    WITH cp AS (
        SELECT DISTINCT o_custkey AS cust, l_partkey AS part
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    )
    SELECT a.cust AS cust_a, b.cust AS cust_b, COUNT(*) AS shared_parts
    FROM cp a JOIN cp b ON a.part = b.part AND a.cust < b.cust
    GROUP BY 1, 2
    HAVING COUNT(*) >= 2
    """,
    tags=("graph", "motif"),
)
def pair_candidates_shared_parts(spark, sf_dir):
    """Motif-as-join (J6/G2): pairs of customers sharing ≥2 distinct parts.

    This is the reference's 4-way GraphFrames motif
    (RetweetTagsJaccardGraph.py:158-165) rewritten as a self-equi-join on
    the shared item + count-distinct gate — same candidate set, hash
    joins instead of motif expansion. At 100 TB the hub-item skew is the
    hazard: AQE skew-join handles moderate skew; a frequency cap on
    ultra-hub items is the documented mitigation (operators/graph.py).
    """
    orders = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    cp = (
        # orders is fact-sized (linear in SF) — never force-broadcast it;
        # a hard hint here is a driver OOM at 100 TB. AQE broadcasts at
        # runtime when the side measures small, and otherwise this is a
        # correct key-partitioned shuffle join.
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("part"))
    )
    # pair_candidates deduplicates (cust, part) and pins the pair
    # fan-out's parallelism: AQE coalesces by input bytes and is blind
    # to join fan-out (this exact query: one task, 15+ min at sf1 — see
    # skew.shuffle_partition_count)
    return pair_candidates(cp, src_col="cust", item_col="part").select(
        F.col("id_a").alias("cust_a"),
        F.col("id_b").alias("cust_b"),
        F.col("shared").alias("shared_parts"),
    )


@query(
    "two_hop_neighborhood",
    sql="""
    WITH seed_types AS (
        SELECT DISTINCT event_type FROM events WHERE user_id = 7
    )
    SELECT e.user_id, COUNT(DISTINCT e.event_type) AS n_shared_types
    FROM events e JOIN seed_types s ON e.event_type = s.event_type
    WHERE e.user_id <> 7
    GROUP BY e.user_id
    """,
    tags=("graph", "bfs"),
)
def two_hop_neighborhood(spark, sf_dir):
    """Distributed 2-hop neighborhood expansion (G3/G4).

    The reference collects hop-1 edges to the driver and string-builds an
    IN-list for hop 2 (RetweetTagsJaccardGraph.py:265-272). Here the
    frontier stays a DataFrame: hop-1 = seed's neighbors, hop-2 = join
    edges against the frontier — no collect, works at any frontier size.
    """
    ev = read_table(spark, sf_dir, "events")
    frontier = ev.where(F.col("user_id") == 7).select("event_type").distinct()
    return (
        ev.join(F.broadcast(frontier), "event_type")
        .where(F.col("user_id") != 7)
        .groupBy("user_id")
        .agg(F.countDistinct("event_type").alias("n_shared_types"))
    )


@query(
    "jaccard_user_similarity",
    sql="""
    WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
    sizes AS (SELECT user_id, COUNT(*) AS n FROM ut GROUP BY 1),
    inter AS (
        SELECT a.user_id AS user_a, b.user_id AS user_b, COUNT(*) AS i
        FROM ut a JOIN ut b ON a.event_type = b.event_type AND a.user_id < b.user_id
        GROUP BY 1, 2
    )
    SELECT user_a, user_b,
           i * 1.0 / (sa.n + sb.n - i) AS jacc
    FROM inter
    JOIN sizes sa ON sa.user_id = user_a
    JOIN sizes sb ON sb.user_id = user_b
    WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.5
    """,
    tags=("graph", "similarity"),
)
def jaccard_user_similarity(spark, sf_dir):
    """Jaccard similarity edges (Q3/D3) over users' event-type sets.

    Candidate pairs come from a shared-element join (never a cross join),
    then the native array jaccard (functions/core.py — the rewrite of the
    reference's string-returning UDF, bigdata/__init__.py:25) scores each
    pair. Same candidate-gate-then-score shape as the reference's motif →
    jaccard pipeline (RetweetTagsJaccardGraph.py:158-183).
    """
    ev = read_table(spark, sf_dir, "events")
    # count-based set similarity: one groupBy builds each user's
    # distinct event-type set (and its size, scan-side from the array);
    # the set size then rides along with the exploded rows into the
    # shared-element self-join, so |A∩B| comes from the join's group
    # counts and |A|,|B| need no sizes table and no re-join — the plan
    # is one groupBy + one self-equi-join + one groupBy, two fewer
    # shuffles than the sizes-join formulation at any scale. (The
    # array-valued jaccard() Column function is the same formula and is
    # exercised by the Q3 tweet pipeline and its golden/property tests.)
    ut = (
        ev.groupBy("user_id")
        .agg(F.collect_set("event_type").alias("types"))
        .select(
            "user_id",
            F.size("types").alias("n"),
            F.explode("types").alias("event_type"),
        )
    )
    # The blocking key here has only |event_types| distinct values, so
    # an unsalted equi-join funnels the ENTIRE quadratic pair fan-out
    # through ≤5 tasks — at sf1 (15k users, every user in every type:
    # ~560M pairs) those 5 concurrent partial-aggregate maps OOMed a
    # 16g heap before spilling could help. Salt the a-side by user hash
    # and replicate the b-side across the salts (each pair still meets
    # exactly once, at the a-user's salt): parallelism × salt_buckets,
    # and each task's aggregate map shrinks to spill-friendly size.
    # Same guard pattern as cosine_neardup_pairs; repartition-by-number
    # additionally pins the partition count against AQE's fan-out-blind
    # coalescing.
    salt_buckets = 8
    nparts = shuffle_partition_count(ut)
    a_side = ut.select(
        "user_id", "n", "event_type",
        F.pmod(F.hash("user_id"), F.lit(salt_buckets)).alias("salt"),
    ).repartition(nparts, "event_type", "salt")
    b_side = ut.select(
        "user_id", "n", "event_type",
        F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1))).alias("salt"),
    ).repartition(nparts, "event_type", "salt")
    inter = (
        # per-user rows on both sides — shuffle-hash on the shared
        # element, never a broadcast of a per-entity table (tradeoff vs
        # MERGE under heap pressure: see operators/dedup.py docstring)
        a_side.alias("a")
        .hint("SHUFFLE_HASH")
        .join(
            b_side.alias("b").hint("SHUFFLE_HASH"),
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.salt") == F.col("b.salt"))
            & (F.col("a.user_id") < F.col("b.user_id")),
        )
        .groupBy(
            F.col("a.user_id").alias("user_a"),
            F.col("b.user_id").alias("user_b"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
        )
        .agg(F.count(F.lit(1)).alias("i"))
    )
    scored = inter.select(
        "user_a",
        "user_b",
        (F.col("i") / (F.col("na") + F.col("nb") - F.col("i"))).alias("jacc_raw"),
    )
    return scored.where(F.col("jacc_raw") >= 0.5).select(
        "user_a", "user_b", F.col("jacc_raw").alias("jacc")
    )
