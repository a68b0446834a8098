"""Data-maintenance operators: right-to-be-forgotten deletes, row-level
upsert merges, and null-safe dimension joins — the mutation/compliance
shapes a production lakehouse pipeline runs daily, expressed as pure
transformations with full-recompute oracles."""

from __future__ import annotations

from pyspark.sql import functions as F

from tvbigdataproject_spark.queries.registry import query
from tvbigdataproject_spark.sources import read_table


@query(
    "delete_merge_users",
    sql="""
    WITH del AS (
        SELECT DISTINCT user_id FROM events WHERE user_id % 97 = 0
    )
    SELECT e.event_type,
           SUM(CASE WHEN d.user_id IS NULL THEN 1 ELSE 0 END) AS n_retained,
           SUM(CASE WHEN d.user_id IS NULL THEN 0 ELSE 1 END) AS n_purged
    FROM events e LEFT JOIN del d ON e.user_id = d.user_id
    GROUP BY e.event_type
    """,
    tags=("maintenance", "delete", "compliance"),
)
def delete_merge_users(spark, sf_dir):
    """Right-to-be-forgotten accounting: given a deletion list (here a
    deterministic predicate standing in for the request table), report
    per event type how many rows survive the purge and how many go —
    the audit half of a GDPR delete; the rewrite half is the same join
    with the retained branch written back.

    Scale shape: the deletion list is one row per requesting user —
    usually tiny but legally unbounded, so NO broadcast hint; the left
    join shuffles on user_id (or AQE broadcasts when the list measures
    small — the right runtime call, not a plan-time bet). One keyed
    aggregate after, map-side partials.
    """
    ev = read_table(spark, sf_dir, "events")
    deletion = (
        ev.select("user_id").where(F.col("user_id") % 97 == 0).distinct()
        .withColumnRenamed("user_id", "del_user")
    )
    flagged = ev.join(
        deletion, ev.user_id == deletion.del_user, "left"
    )
    return flagged.groupBy("event_type").agg(
        F.sum(F.when(F.col("del_user").isNull(), 1).otherwise(0)).alias(
            "n_retained"
        ),
        F.sum(F.when(F.col("del_user").isNull(), 0).otherwise(1)).alias(
            "n_purged"
        ),
    )


@query(
    "merge_upsert_orders",
    sql="""
    WITH base AS (
        SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
        WHERE o_orderkey % 3 != 0
    ),
    updates AS (
        SELECT o_orderkey, 'UPSERTED' AS o_orderpriority,
               o_totalprice + 1.0 AS o_totalprice
        FROM orders WHERE o_orderkey % 2 = 0
    ),
    merged AS (
        SELECT COALESCE(u.o_orderkey, b.o_orderkey) AS o_orderkey,
               COALESCE(u.o_orderpriority, b.o_orderpriority)
                   AS o_orderpriority,
               COALESCE(u.o_totalprice, b.o_totalprice) AS o_totalprice,
               CASE WHEN u.o_orderkey IS NULL THEN 'kept'
                    WHEN b.o_orderkey IS NULL THEN 'inserted'
                    ELSE 'updated' END AS action
        FROM base b FULL OUTER JOIN updates u ON b.o_orderkey = u.o_orderkey
    )
    SELECT o_orderpriority, action, COUNT(*) AS n,
           MIN(o_orderkey) AS min_key
    FROM merged GROUP BY 1, 2
    """,
    tags=("maintenance", "merge", "upsert"),
)
def merge_upsert_orders(spark, sf_dir):
    """Row-level MERGE (upsert): a batch of updates applied over a base
    snapshot — update wins on key match, unmatched updates insert,
    unmatched base rows carry over, each row tagged with the action
    taken. This is the lakehouse MERGE INTO expressed as a full outer
    join + coalesce, the exact plan Delta/Iceberg engines lower it to.

    Scale shape: ONE full-outer shuffle join on the merge key (both
    sides fact-sized, co-partitioned on o_orderkey) and one keyed
    aggregate for the audit counts; no broadcast hints — the batch's
    size is a runtime fact AQE can act on, not a plan-time assumption.
    """
    orders = read_table(spark, sf_dir, "orders")
    base = orders.where(F.col("o_orderkey") % 3 != 0).select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    updates = orders.where(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        F.lit("UPSERTED").alias("o_orderpriority"),
        (F.col("o_totalprice") + 1.0).alias("o_totalprice"),
    )
    b = base.alias("b")
    u = updates.alias("u")
    merged = b.join(
        u, F.col("b.o_orderkey") == F.col("u.o_orderkey"), "full_outer"
    ).select(
        F.coalesce(F.col("u.o_orderkey"), F.col("b.o_orderkey")).alias(
            "o_orderkey"
        ),
        F.coalesce(
            F.col("u.o_orderpriority"), F.col("b.o_orderpriority")
        ).alias("o_orderpriority"),
        F.coalesce(F.col("u.o_totalprice"), F.col("b.o_totalprice")).alias(
            "o_totalprice"
        ),
        F.when(F.col("u.o_orderkey").isNull(), "kept")
        .when(F.col("b.o_orderkey").isNull(), "inserted")
        .otherwise("updated")
        .alias("action"),
    )
    return merged.groupBy("o_orderpriority", "action").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("o_orderkey").alias("min_key"),
    )


@query(
    "null_safe_join_segments",
    sql="""
    WITH labeled AS (
        SELECT c_custkey,
               CASE WHEN c_acctbal < 0 THEN NULL ELSE c_mktsegment END
                   AS seg
        FROM customer
    ),
    ref(seg, label) AS (
        VALUES ('BUILDING', 'b2b'), ('AUTOMOBILE', 'consumer'),
               ('MACHINERY', 'b2b'), ('HOUSEHOLD', 'consumer'),
               ('FURNITURE', 'consumer'), (NULL, 'unknown')
    )
    SELECT r.label, COUNT(*) AS n_customers
    FROM labeled l JOIN ref r ON l.seg IS NOT DISTINCT FROM r.seg
    GROUP BY r.label
    """,
    tags=("join", "null-semantics"),
)
def null_safe_join_segments(spark, sf_dir):
    """Null-safe equality join (Spark `<=>` == SQL IS NOT DISTINCT
    FROM): customers with a NULL-ed segment (negative balance stands in
    for missing data) match the reference map's NULL row instead of
    silently dropping out — the dimension-join semantics every
    null-tolerant labeling pipeline needs.

    Scale shape: the reference map is a hand-curated bounded list
    (broadcast is correct at any scale); null-safe equality is a hash
    join key in Spark (NULLs hash like any value under `<=>`), so the
    plan is a plain broadcast hash join, not a nested loop.
    """
    cust = read_table(spark, sf_dir, "customer")
    labeled = cust.select(
        "c_custkey",
        F.when(F.col("c_acctbal") < 0, F.lit(None).cast("string"))
        .otherwise(F.col("c_mktsegment"))
        .alias("seg"),
    )
    # an inline VALUES table is a JVM literal; createDataFrame over a
    # Python list would run a parallelize job through Python workers
    ref = spark.sql(
        """SELECT * FROM VALUES
            ('BUILDING', 'b2b'), ('AUTOMOBILE', 'consumer'),
            ('MACHINERY', 'b2b'), ('HOUSEHOLD', 'consumer'),
            ('FURNITURE', 'consumer'), (CAST(NULL AS STRING), 'unknown')
        AS ref(seg, label)"""
    )
    return (
        labeled.join(F.broadcast(ref), labeled.seg.eqNullSafe(ref.seg))
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@query(
    "table_checksum_buckets",
    sql="""
    SELECT o_orderkey % 64 AS bucket,
           COUNT(*) AS n_rows,
           CAST(SUM(('0x' || substr(md5(
               CAST(o_orderkey AS VARCHAR) || '|' ||
               CAST(o_custkey AS VARCHAR) || '|' ||
               CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) AS VARCHAR)
               || '|' ||
               CAST(CAST(o_orderdate AS DATE) AS VARCHAR)), 1, 8))::BIGINT)
           AS BIGINT) AS checksum
    FROM orders GROUP BY o_orderkey % 64
    """,
    tags=("maintenance", "checksum", "reconciliation"),
)
def table_checksum_buckets(spark, sf_dir):
    """Bucketed content checksums of the orders table: per key-bucket,
    the row count and the SUM of a 32-bit md5 row digest over the
    business columns — the anti-entropy primitive behind replica
    reconciliation and migration sign-off (compare 64 checksum rows
    instead of re-shipping the table; a single changed row flips its
    bucket's sum). SUM of per-row digests is order-free and
    partition-associative, so the checksum is stable under any
    physical layout — exactly what a cross-system comparison needs.

    Portability: the digest input is a canonical string (integer
    cents, ISO date — both engines render them identically); the
    digest is the repo's md5-prefix integer idiom. Scale shape: pure
    scan-stage hashing plus one 64-group keyed agg with map-side
    partials.
    """
    from tvbigdataproject_spark.functions.hashing import hex_bits_hash

    orders = read_table(spark, sf_dir, "orders")
    canon = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.round(F.col("o_totalprice") * 100).cast("long").cast("string"),
        F.col("o_orderdate").cast("date").cast("string"),
    )
    return (
        orders.select(
            (F.col("o_orderkey") % 64).alias("bucket"),
            hex_bits_hash(canon, 8).alias("h"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("h").alias("checksum"),
        )
    )


@query(
    "global_row_numbers",
    sql="""
    SELECT o_orderkey, o_custkey,
           ROW_NUMBER() OVER (ORDER BY o_orderkey) AS seq
    FROM orders
    """,
    tags=("maintenance", "sequence", "layout"),
)
def global_row_numbers_orders(spark, sf_dir):
    """Contiguous 1..N sequence ids over orders by o_orderkey — the
    stable-surrogate-id assignment every ingestion pipeline needs,
    WITHOUT the oracle's single-partition global window: range-bucket
    counts + a bounded offsets window + within-bucket ranks
    (operators/sequence.py::global_row_numbers). The oracle's plain
    ROW_NUMBER is the semantic spec; the Spark plan is the shape that
    survives 100 TB (one corpus shuffle, no global sort). Bucket width
    is derived from the observed key span (auto mode) so the offsets
    table stays ~4k rows at ANY SF — a fixed width over a growing
    surrogate-key domain would grow the broadcast with the data.
    """
    from tvbigdataproject_spark.operators.sequence import global_row_numbers

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    return global_row_numbers(orders, key="o_orderkey")
