"""LLM-pipeline operators batch 5: stride chunking, deterministic
per-source sampling, n-gram novelty scoring, blocklist filtering, and
sketch-based similarity search (simhash Hamming top-k)."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from tvbigdataproject_spark.operators.dedup import simhash_values
from tvbigdataproject_spark.queries.registry import query
from tvbigdataproject_spark.sources import read_table

_CHUNK = 64
_STRIDE = 48


@query(
    "chunk_documents_stride",
    sql=f"""
    WITH toks AS (
        SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
    ),
    chunks AS (
        SELECT doc_id, t,
               UNNEST(range(0, CAST(floor((len(t) - 1) / {_STRIDE}) AS BIGINT) + 1))
                   AS k
        FROM toks WHERE len(t) > 0
    )
    SELECT doc_id,
           CAST(k AS INT) AS chunk_idx,
           len(t[(1 + {_STRIDE} * k):LEAST({_STRIDE} * k + {_CHUNK}, len(t))])
               AS n_tokens,
           md5(array_to_string(
               t[(1 + {_STRIDE} * k):LEAST({_STRIDE} * k + {_CHUNK}, len(t))], ' '))
               AS chunk_hash
    FROM chunks
    """,
    tags=("llm", "chunking"),
)
def chunk_documents_stride(spark, sf_dir):
    """Overlapping-window document chunking — 64-token windows at
    stride 48 (the context-window prep step before embedding or
    packing), emitting per-chunk token counts and content hashes.

    Scale shape: pure scan-stage row-local work — token split, index
    sequence, slice, hash — no shuffle at all; the fan-out is
    ceil(tokens/stride) rows per document, linear in corpus token
    count. Chunk text itself is reduced to a hash here; a production
    pipeline would carry the slice forward the same way.
    """
    docs = read_table(spark, sf_dir, "documents")
    t = F.split(F.lower(F.col("text")), " ")
    ks = F.sequence(F.lit(0), F.floor((F.size(t) - 1) / _STRIDE))
    exploded = docs.where(F.size(t) > 0).select(
        "doc_id", t.alias("t"), F.explode(ks).alias("k")
    )
    chunk = F.slice(
        F.col("t"), (1 + _STRIDE * F.col("k")).cast("int"), F.lit(_CHUNK)
    )
    return exploded.select(
        "doc_id",
        F.col("k").cast("int").alias("chunk_idx"),
        F.size(chunk).alias("n_tokens"),
        F.md5(F.concat_ws(" ", chunk)).alias("chunk_hash"),
    )


@query(
    "sample_topn_per_source",
    sql="""
    SELECT source, doc_id FROM (
        SELECT source, doc_id,
               ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        FROM documents
    ) WHERE rn <= 20
    """,
    tags=("llm", "sampling"),
)
def sample_topn_per_source(spark, sf_dir):
    """Deterministic per-source sample: the 20 documents with the
    smallest md5(doc_id) per source — a seedless, engine-independent
    stand-in for per-stratum reservoir sampling (the hash ordering is
    uniform-ish and identical everywhere, so the sample is stable
    across reruns, engines, and partitionings).

    Scale shape: one window partitioned by source; per-source top-N
    needs only a bounded heap per partition after the hash shuffle on
    source. Skewed sources (one giant stratum) sort-spill but never
    collect; for heavy production skew the same trick as
    salted_type_counts applies (pre-aggregate a salted top-N, then
    re-top-N the salt winners — still exact for top-N).
    """
    docs = read_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        docs.select("source", "doc_id", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") <= 20)
        .drop("rn")
    )


@query(
    "ngram_novelty_score",
    sql="""
    WITH toks AS (
        SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id,
               ('0x' || substr(md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]),
                              1, 15))::BIGINT AS g
        FROM toks, UNNEST(range(1, len(ws) - 1)) AS t(i)
    ),
    per_doc AS (SELECT doc_id, COUNT(*) AS n_grams FROM sh GROUP BY 1),
    firsts AS (SELECT g, MIN(doc_id) AS first_doc FROM sh GROUP BY 1),
    novel AS (
        SELECT first_doc AS doc_id, COUNT(*) AS n_novel FROM firsts GROUP BY 1
    )
    SELECT p.doc_id, p.n_grams,
           COALESCE(n.n_novel, 0) AS n_novel,
           (COALESCE(n.n_novel, 0) * 100) // p.n_grams AS novelty_pct
    FROM per_doc p LEFT JOIN novel n USING (doc_id)
    """,
    tags=("llm", "dedup", "novelty"),
)
def ngram_novelty_score(spark, sf_dir):
    """Per-document novelty: the fraction of a document's distinct
    word-3-grams whose corpus-wide FIRST appearance (min doc_id — i.e.
    earliest in ingestion order) is this document. Low novelty marks
    late near-duplicates and boilerplate-heavy documents without any
    pairwise join — the streaming-friendly cousin of the n-gram
    Jaccard dedup tier.

    Scale shape — two deliberate choices over the naive join-back:
    (1) grams shuffle as 60-bit md5-prefix digests, never strings
    (digest-only shuffle, same discipline as exact_dedup_groups); the oracle
    hashes identically, so any collision affects both engines the same
    way and the comparison stays exact. (2) there is NO gram-keyed
    join back to the corpus: per-doc gram counts and per-doc
    first-appearance counts are two independent aggregates, joined on
    doc_id — the only join is between two DOC-sized tables. Cuts the
    sf0.1 warm time 5.1s -> ~1s and removes the widest shuffle
    entirely.
    """
    docs = read_table(spark, sf_dir, "documents")
    # token array materialized in its own projection (the _bind
    # re-tokenization trap), 3-grams formed by zipping three shifted
    # slices — lambda-free, so the gram stage stays in whole-stage
    # codegen — and digested AFTER the explode as a scalar expression.
    toks = docs.select(
        "doc_id", F.split(F.lower(F.col("text")), " ").alias("ws")
    )
    ws = F.col("ws")
    zipped = F.arrays_zip(
        F.slice(ws, 1, F.size(ws) - 2),
        F.slice(ws, 2, F.size(ws) - 2),
        F.slice(ws, 3, F.size(ws) - 2),
    )
    digest = F.conv(
        F.substring(
            F.md5(F.concat_ws(" ", F.col("g.0"), F.col("g.1"), F.col("g.2"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    sh = (
        toks.where(F.size(ws) >= 3)
        .select("doc_id", F.explode(zipped).alias("g"))
        .select("doc_id", digest.alias("g"))
        .distinct()
    )
    per_doc = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    firsts = sh.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    novel = firsts.groupBy(F.col("first_doc").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("n_novel")
    )
    return (
        per_doc.join(novel, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce(F.col("n_novel"), F.lit(0).cast("long")).alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_novel",
            F.expr("(n_novel * 100) DIV n_grams").alias("novelty_pct"),
        )
    )


_BLOCKLIST = ("slow", "big", "merge", "window")


@query(
    "blocklist_hits",
    sql=f"""
    WITH bl(term) AS (VALUES {", ".join(f"('{t}')" for t in _BLOCKLIST)}),
    toks AS (
        SELECT doc_id, source, UNNEST(string_split(lower(text), ' ')) AS tok
        FROM documents
    ),
    hits AS (
        SELECT t.doc_id, t.source, COUNT(*) AS n
        FROM toks t JOIN bl ON t.tok = bl.term
        GROUP BY 1, 2
    )
    SELECT source, COUNT(*) AS n_docs_hit, SUM(n) AS n_hits
    FROM hits GROUP BY source
    """,
    tags=("llm", "filtering"),
)
def blocklist_hits(spark, sf_dir):
    """Blocklist screening: per source, how many documents contain at
    least one blocked term and the total blocked-token occurrences —
    the counting half of a content-filter pass (the filtering half is
    the same join used as an anti-join).

    Scale shape: token explode is scan-local; the blocklist is a
    genuinely bounded hand-curated list (broadcast hint is correct at
    any data scale — it's the *query*, not the data), so the term
    match never shuffles the token stream; the per-doc and per-source
    aggregates both take map-side partials.
    """
    docs = read_table(spark, sf_dir, "documents")
    # a JVM literal table (createDataFrame would start Python workers)
    rows = ", ".join(f"('{t}')" for t in _BLOCKLIST)
    bl = spark.sql(f"SELECT * FROM VALUES {rows} AS bl(term)")
    toks = docs.select(
        "doc_id",
        "source",
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("tok"),
    )
    hits = (
        toks.join(F.broadcast(bl), toks.tok == bl.term)
        .groupBy("doc_id", "source")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return hits.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs_hit"),
        F.sum("n").alias("n_hits"),
    )


def _simhash_topk_sql(k: int = 5, probe_mod: int = 100) -> str:
    bit_sums = ",\n               ".join(
        f"SUM(((h >> {j}) & 1) * 2 - 1) AS s{j}" for j in range(32)
    )
    sim_expr = " + ".join(
        f"(CASE WHEN s{j} > 0 THEN 1 ELSE 0 END) * {1 << j}" for j in range(32)
    )
    return f"""
    WITH toks AS (
        SELECT doc_id, UNNEST(string_split(lower(text), ' ')) AS tok
        FROM documents
    ),
    hashed AS (
        SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h FROM toks
    ),
    bitsums AS (
        SELECT doc_id,
               {bit_sums}
        FROM hashed GROUP BY doc_id
    ),
    sim AS (SELECT doc_id, {sim_expr} AS simhash FROM bitsums)
    SELECT probe_id, neighbor_id, hamming FROM (
        SELECT p.doc_id AS probe_id, c.doc_id AS neighbor_id,
               bit_count(xor(p.simhash, c.simhash)) AS hamming,
               ROW_NUMBER() OVER (
                   PARTITION BY p.doc_id
                   ORDER BY bit_count(xor(p.simhash, c.simhash)), c.doc_id)
                   AS rn
        FROM sim p JOIN sim c ON c.doc_id <> p.doc_id
        WHERE p.doc_id % {probe_mod} = 0
    ) WHERE rn <= {k}
    """


@query(
    "simhash_hamming_topk",
    sql=_simhash_topk_sql(),
    tags=("similarity", "simhash", "topk"),
)
def simhash_hamming_topk(spark, sf_dir):
    """Sketch-space similarity search: for each probe document (every
    100th doc_id), the 5 nearest corpus documents by Hamming distance
    between 32-bit frequency-weighted SimHashes (ties broken by
    doc_id, so the top-k set is total-ordered and engine-exact).

    Scale shape: the sketch is computed row-locally (same
    simhash_values operator the dedup tier uses — no shuffle); the
    probe set is bounded by the QUERY (a fixed workload of lookups,
    not a data-sized table), so it broadcasts and the scan streams
    corpus sketches past it — per-probe cost is linear with a
    bounded top-k heap (window over probe_id). To serve millions of
    probes instead, flip to the banded join of dedup_simhash and
    verify within buckets.
    """
    docs = read_table(spark, sf_dir, "documents")
    sim = simhash_values(docs).select(
        "doc_id", F.coalesce(F.col("simhash"), F.lit(0)).alias("simhash")
    )
    probes = sim.where(F.col("doc_id") % 100 == 0).select(
        F.col("doc_id").alias("probe_id"), F.col("simhash").alias("probe_sim")
    )
    scored = (
        sim.crossJoin(F.broadcast(probes))  # probe set: bounded by the query
        .where(F.col("doc_id") != F.col("probe_id"))
        .select(
            "probe_id",
            F.col("doc_id").alias("neighbor_id"),
            F.bit_count(
                F.col("probe_sim").bitwiseXOR(F.col("simhash"))
            ).alias("hamming"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy("hamming", "neighbor_id")
    return (
        scored.select("*", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") <= 5)
        .drop("rn")
    )
