"""Production sink patterns for Structured Streaming.

The memory sink (events.py::run_to_memory_sink) is a test helper; real
pipelines write files or external systems. The subtlety is exactly-once:
Structured Streaming guarantees each micro-batch is delivered at least
once to foreachBatch — after a crash between "sink wrote" and
"checkpoint committed", the SAME batch id is replayed. A sink is
exactly-once iff the (batch_id, data) write is idempotent.

The parquet pattern here makes it idempotent structurally: every batch
writes to its own `_batch_id=N` partition with dynamic partition
overwrite, so a replayed batch REPLACES its own partition instead of
appending duplicates. Readers `spark.read.parquet(path)` and simply drop
the `_batch_id` column (or prune on it for incremental consumption).

At 100 TB the same shape holds — per-batch partitions keep the overwrite
scoped (never mode("overwrite") on the root), and downstream compaction
can fold small batch partitions into date partitions asynchronously.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tvbigdataproject_spark.operators.materialize import Scope


def write_batch_idempotent(df: DataFrame, batch_id: int, path: str) -> None:
    """Idempotent single-batch write: replace exactly this batch's
    partition. Safe to call any number of times with the same
    (batch_id, data) — the invariant foreachBatch replay needs."""
    (
        df.withColumn("_batch_id", F.lit(int(batch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_batch_id")
        .parquet(path)
    )


def start_idempotent_parquet_sink(
    stream_df: DataFrame, path: str, checkpoint: str, available_now: bool = True
):
    """foreachBatch parquet sink with exactly-once semantics via
    per-batch dynamic partition overwrite + checkpointed progress."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        write_batch_idempotent(batch_df, batch_id, path)

    writer = (
        stream_df.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_join_view_maintenance(
    order_stream: DataFrame,
    customers: DataFrame,
    state_path: str,
    checkpoint: str,
):
    """STREAMING incremental maintenance of the per-segment revenue
    join view (the streaming twin of
    queries/analytic5.py::incremental_join_view): each micro-batch of
    new orders delta-joins the stable customer dimension, aggregates
    to algebraic partials (count, exact integer cents), and lands them
    in that batch's own partition via the idempotent per-batch
    overwrite above — so a replayed batch REPLACES its partials and
    the view stays exactly-once.

    The materialized state is a PARTIALS LOG, not the folded view:
    folding (sum of counts/cents per segment) happens at read time in
    ``read_join_view`` — associative merges mean the fold can also be
    compacted asynchronously, which is how a 100 TB view avoids
    rewriting its whole state every batch.
    """
    return (
        order_stream.writeStream.foreachBatch(
            join_view_batch_handler(customers, state_path)
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def join_view_batch_handler(customers: DataFrame, state_path: str):
    """The per-micro-batch delta step of the join-view maintenance,
    exposed so harnesses can wrap it (e.g. crash injection between the
    partials write and the checkpoint commit — the exactly-once window
    the restart test exercises)."""
    dim = customers.select("c_custkey", "c_mktsegment")

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        partial = (
            batch_df.join(dim, batch_df.o_custkey == dim.c_custkey)
            .groupBy(F.col("c_mktsegment").alias("segment"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(
                    F.round(F.col("o_totalprice") * 100).cast("long")
                ).alias("cents"),
            )
        )
        write_batch_idempotent(partial, batch_id, state_path)

    return handle


def read_join_view(spark, state_path: str) -> DataFrame:
    """Fold the partials log into the current view — the algebraic
    merge (sum counts, sum exact cents, divide once at the end)."""
    return (
        spark.read.parquet(state_path)
        .groupBy("segment")
        .agg(
            F.sum("n").alias("n_orders"),
            (F.sum("cents") / 100.0).alias("total_price"),
        )
    )


def incremental_dedup_batch_handler(store_path: str, out_path: str):
    """Per-micro-batch step of STREAMING incremental dedup — the
    continuous-crawl twin of queries/dedup.py::dedup_incremental: each
    batch of incoming documents is flagged against the fingerprint
    store (32-char content digests — ~3 orders of magnitude smaller
    than the corpus; the batch never rescans text), then the batch's
    NOVEL fingerprints are appended so later batches dedup against
    everything seen so far. Within-batch duplicates are both "novel"
    (the store is consulted per batch, matching the batch query's
    incoming-vs-history semantics at micro-batch granularity).

    Exactly-once under replay: both writes land in the batch's own
    ``_batch_id`` partition (write_batch_idempotent), and the store
    read EXCLUDES the current batch's partition — a replayed batch
    would otherwise find its own first-attempt fingerprints and flag
    every doc as seen. Seed history with
    ``write_batch_idempotent(fps, SEED_BATCH_ID, store_path)``.

    At 100 TB: the store is digest-only parquet, compactable
    asynchronously like any partials log; the per-batch join shuffles
    digests (AQE broadcasts the batch side when small).
    """

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        inc = batch_df.select(
            "doc_id", F.md5("text").alias("content_hash")
        )
        try:
            hist = (
                spark.read.parquet(store_path)
                .where(F.col("_batch_id") != int(batch_id))
                .select("content_hash")
                .distinct()
                .alias("h")
            )
        except AnalysisException as exc:
            # ONLY a missing store means "first batch ever". Any other
            # read failure (corrupt footer, permissions, fs hiccup)
            # must surface: swallowing it would silently flag known
            # duplicates as novel AND append their digests, corrupting
            # both the output and the store.
            if "PATH_NOT_FOUND" not in f"{exc.getErrorClass()} {exc}":
                raise
            hist = None
        if hist is None:
            flagged = inc.withColumn("seen_before", F.lit(False))
        else:
            i = inc.alias("i")
            flagged = i.join(
                hist,
                F.col("i.content_hash") == F.col("h.content_hash"),
                "left",
            ).select(
                F.col("doc_id"),
                F.col("i.content_hash").alias("content_hash"),
                F.col("h.content_hash").isNotNull().alias("seen_before"),
            )
        # one pass, two sinks: flagged rows + this batch's novel digests
        with Scope() as s:
            flagged = s.persist(flagged)
            write_batch_idempotent(flagged, batch_id, out_path)
            novel = (
                flagged.where(~F.col("seen_before"))
                .select("content_hash")
                .distinct()
            )
            write_batch_idempotent(novel, batch_id, store_path)

    return handle


SEED_BATCH_ID = -1


def start_incremental_dedup(
    doc_stream: DataFrame, store_path: str, out_path: str, checkpoint: str
):
    """Streaming incremental dedup against (and into) a fingerprint
    store — see incremental_dedup_batch_handler."""
    return (
        doc_stream.writeStream.foreachBatch(
            incremental_dedup_batch_handler(store_path, out_path)
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
