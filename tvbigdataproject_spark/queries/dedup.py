"""Deduplication operators over the documents table — exact hash dedup,
n-gram Jaccard near-dup, MinHash+LSH, and SimHash (north-star surface).

Design for 100 TB:
- exact dedup is a single hash-groupBy (one shuffle on the digest);
- n-gram Jaccard never enumerates all pairs — candidates come from a
  shared-shingle equi-join;
- MinHash computes signatures with array expressions (no explode, no
  shuffle) and only explodes the B band keys per doc; candidate volume
  is controlled by band width;
- SimHash candidates come from pigeonhole banding (3 chunks of a 32-bit
  sketch: hamming ≤ 2 ⇒ some chunk matches exactly), so the verify join
  is equi, never a cross join. The DuckDB oracles brute-force the same
  definitions, which is fine at sf=0.01 and exactly what the Spark side
  must reproduce.

All hashes are md5-based (functions/hashing.py) so the oracle can
reproduce them bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tvbigdataproject_spark.operators.components import (
    canonical_survivors,
    connected_components,
)
from tvbigdataproject_spark.operators.dedup import (
    exact_dedup_groups,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    ngram_jaccard_pairs_prefix,
    simhash_pairs,
)
from tvbigdataproject_spark.queries.registry import query
from tvbigdataproject_spark.sources import read_table

# Shared SQL fragment: distinct word-3-gram shingles per document.
_SH_SQL = """
    toks AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
    sh AS (
        SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
        FROM toks, UNNEST(range(1, len(ws) - 1)) AS t(i)
    )
"""


@query(
    "dedup_exact_hash",
    sql="""
    SELECT md5(text) AS text_hash, MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
    FROM documents GROUP BY 1
    """,
    tags=("dedup",),
)
def dedup_exact_hash(spark, sf_dir):
    """Exact dedup: group by content digest, keep the minimum doc_id.

    One shuffle on the digest; at 100 TB hash first (digest is 32 bytes
    vs arbitrarily long text) so the shuffle carries digests, not bodies.
    """
    return exact_dedup_groups(read_table(spark, sf_dir, "documents"))


# Dictionary-encoded shingle ids (r12): identical output to the
# string-keyed brute force, but the join/aggregate fan-out carries
# dense BIGINTs instead of ~30-byte strings — the difference between
# a 78 GB spill death and ~29 s at sf1 (see _PAIRS_CTE note).
_NGRAM_JACCARD_SQL = f"""
    WITH {_SH_SQL},
    shdict AS (
        SELECT s, ROW_NUMBER() OVER (ORDER BY s) AS sid
        FROM (SELECT DISTINCT s FROM sh)
    ),
    she AS (
        SELECT sh.doc_id, shdict.sid FROM sh JOIN shdict ON shdict.s = sh.s
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM she GROUP BY 1),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
        FROM she a JOIN she b ON a.sid = b.sid AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, i * 1.0 / (sa.n + sb.n - i) AS jacc
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.4
    """


@query(
    "dedup_ngram_jaccard",
    sql=_NGRAM_JACCARD_SQL,
    tags=("dedup", "similarity"),
)
def dedup_ngram_jaccard(spark, sf_dir):
    """Near-duplicate pairs by word-3-gram Jaccard ≥ 0.4.

    Candidates from a shared-shingle equi-join (shingles of unrelated
    docs rarely collide, so the join output is ~linear in the number of
    true near-dups); the exact Jaccard then scores candidates from
    intersection/size counts. No cross join anywhere.
    """
    return ngram_jaccard_pairs(
        read_table(spark, sf_dir, "documents"), n=3, threshold=0.4
    ).select("doc_a", "doc_b", F.col("jacc"))


@query(
    "dedup_ngram_prefix",
    sql=_NGRAM_JACCARD_SQL,
    tags=("dedup", "similarity", "prefix-filter"),
)
def dedup_ngram_prefix(spark, sf_dir):
    """Prefix-filtered exact Jaccard near-dup — IDENTICAL answer to
    dedup_ngram_jaccard (the oracle is literally the same brute-force
    SQL; the prefix filter is lossless by the prefix-filtering
    principle) from a candidate set built only from each document's
    rarest shingles. See operators/dedup.py::ngram_jaccard_pairs_prefix
    for the scale argument: candidate volume bounded by rare-shingle
    collisions instead of the hottest shingle's quadratic fan-out.
    """
    return ngram_jaccard_pairs_prefix(
        read_table(spark, sf_dir, "documents"), n=3, threshold=0.4
    ).select("doc_a", "doc_b", F.col("jacc"))


def _minhash_sql(num_hashes: int = 8, bands: int = 4, rows: int = 2, threshold: float = 0.4) -> str:
    # mirrors functions.hashing.minhash_signature: component i is the min
    # over shingles of hex slice (i%4)*8+1..+8 of digest md5((i//4) ':' s)
    sig_cols = ",\n               ".join(
        f"MIN(substr(md5('{i // 4}:' || s), {(i % 4) * 8 + 1}, 8)) AS h{i}"
        for i in range(num_hashes)
    )
    band_selects = "\n        UNION ALL\n        ".join(
        "SELECT doc_id, '{b}|' || h{lo} || '|' || h{hi} AS bk FROM sig".format(
            b=b, lo=b * rows, hi=b * rows + 1
        )
        for b in range(bands)
    )
    return f"""
    WITH {_SH_SQL},
    sig AS (
        SELECT doc_id,
               {sig_cols}
        FROM sh GROUP BY doc_id
    ),
    bands AS (
        {band_selects}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b ON a.bk = b.bk AND a.doc_id < b.doc_id
    ),
    shdict AS (
        SELECT s, ROW_NUMBER() OVER (ORDER BY s) AS sid
        FROM (SELECT DISTINCT s FROM sh)
    ),
    she AS (
        SELECT sh.doc_id, shdict.sid FROM sh JOIN shdict ON shdict.s = sh.s
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM she GROUP BY 1),
    inter AS (
        SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS i
        FROM she x JOIN she y ON x.sid = y.sid AND x.doc_id < y.doc_id
        GROUP BY 1, 2
    )
    SELECT c.doc_a, c.doc_b,
           i * 1.0 / (sa.n + sb.n - i) AS jacc
    FROM cand c
    JOIN inter ON inter.doc_a = c.doc_a AND inter.doc_b = c.doc_b
    JOIN sizes sa ON sa.doc_id = c.doc_a
    JOIN sizes sb ON sb.doc_id = c.doc_b
    WHERE i * 1.0 / (sa.n + sb.n - i) >= {threshold}
    """


@query("dedup_minhash_lsh", sql=_minhash_sql(), tags=("dedup", "lsh"))
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash(8) + LSH(4 bands × 2 rows) near-dup pairs, verified with
    exact Jaccard ≥ 0.4.

    The signature is built with array_min over transform — the whole
    sketch is computed in the scan stage with zero shuffles; only the 4
    band keys per doc are exploded for the bucket join. Verification is
    candidate-local: each candidate pair pulls the two shingle *arrays*
    and scores exact Jaccard with array_intersect — no shingle explode,
    no self-join. At 100 TB this is the difference between LSH working
    and the verify step re-doing the all-pairs job the sketch avoids.
    (A band match implies ≥1 shared shingle, so no qualifying pair is
    lost by scoring candidates only.)
    """
    return minhash_lsh_pairs(
        read_table(spark, sf_dir, "documents"),
        n=3,
        num_hashes=8,
        bands=4,
        threshold=0.4,
    )


def _simhash_sql() -> str:
    # 32-bit frequency-weighted simhash; brute-force verify (oracle only).
    bit_sums = ",\n               ".join(
        f"SUM(((h >> {j}) & 1) * 2 - 1) AS s{j}" for j in range(32)
    )
    sim_expr = " + ".join(f"(CASE WHEN s{j} > 0 THEN 1 ELSE 0 END) * {1 << j}" for j in range(32))
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
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM sim a JOIN sim b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
    """


@query("dedup_simhash", sql=_simhash_sql(), tags=("dedup", "simhash"))
def dedup_simhash(spark, sf_dir):
    """SimHash(32-bit, frequency-weighted) near-dup pairs at hamming ≤ 2.

    Spark side computes the sketch row-locally (no shuffle) and finds
    candidates by pigeonhole banding — the 32-bit sketch splits into 3
    chunks (11/11/10 bits); hamming ≤ 2 implies at least one chunk is
    identical, so candidates come from 3 equi-joins on chunk values
    instead of an O(n²) cross join. The oracle brute-forces the same
    predicate, which is exact at sf=0.01.
    """
    return simhash_pairs(read_table(spark, sf_dir, "documents"), max_hamming=2)


# Near-dup pairs (word-3-gram Jaccard >= 0.4) as a reusable CTE chain,
# then transitive closure via a recursive CTE. r12 (VERDICT r11 item
# 7): the oracle DICTIONARY-ENCODES shingles to dense BIGINTs before
# the shared-shingle join — the engine's own "encode at birth so the
# shuffles never carry digest strings" discipline (wl_colors). The
# r11 sf1 failure (78 GB spill, then a disk-full death for the
# prefix-filtered variant) was the ~138M-row join fan-out carrying
# ~30-byte STRING keys through the join + grouped aggregate; with
# exact integer ids the identical count-based plan streams in ~29 s
# at sf1 (measured; 250,600 pairs, byte-equal to the engine). A
# PPJoin prefix-filter variant was measured too: it cut candidates
# 52M -> 20M (positional filter) but the candidate-x-shingle verify
# re-join still blew the disk, and a list_intersect verify was
# CPU-bound past 10 min — the flat count-based aggregate over
# integer keys beats both by orders of magnitude. Output identical
# (dictionary encoding is a bijection; ROW_NUMBER determinism is
# irrelevant to the pair set).
_PAIRS_CTE = f"""{_SH_SQL},
    shdict AS (
        SELECT s, ROW_NUMBER() OVER (ORDER BY s) AS sid
        FROM (SELECT DISTINCT s FROM sh)
    ),
    she AS (
        SELECT sh.doc_id, shdict.sid FROM sh JOIN shdict ON shdict.s = sh.s
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM she GROUP BY 1),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
        FROM she a JOIN she b ON a.sid = b.sid AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT doc_a, doc_b
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.4
    ),
    cc_edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs
    ),
    cc_nodes AS (SELECT DISTINCT a AS node FROM cc_edges),
    reach(node, r) AS (
        SELECT node, node FROM cc_nodes
        UNION
        SELECT e.b, reach.r FROM reach JOIN cc_edges e ON e.a = reach.node
    ),
    comp AS (SELECT node AS doc_id, MIN(r) AS component FROM reach GROUP BY 1)"""


@query(
    "dedup_components",
    sql=f"""
    WITH RECURSIVE {_PAIRS_CTE}
    SELECT doc_id, component FROM comp
    """,
    tags=("dedup", "components", "iterative"),
)
def dedup_components(spark, sf_dir):
    """Duplicate clusters: connected components over the near-dup pair
    graph (word-3-gram Jaccard >= 0.4); component = min doc_id reachable.

    The Spark side is iterative min-label propagation with pointer
    jumping (operators/components.py) — converges to the same fixpoint
    the oracle's recursive CTE computes in closed form. Pairs alone
    don't dedup a corpus; clusters do.
    """
    pairs = ngram_jaccard_pairs(
        read_table(spark, sf_dir, "documents"), n=3, threshold=0.4
    )
    return connected_components(pairs, src="doc_a", dst="doc_b").select(
        F.col("node").alias("doc_id"), F.col("label").alias("component")
    )


@query(
    "dedup_survivors",
    sql=f"""
    WITH RECURSIVE {_PAIRS_CTE}
    SELECT d.doc_id,
           COALESCE(c.component, d.doc_id) AS component,
           COALESCE(c.component, d.doc_id) = d.doc_id AS keep
    FROM documents d LEFT JOIN comp c USING (doc_id)
    """,
    tags=("dedup", "components", "iterative"),
)
def dedup_survivors(spark, sf_dir):
    """Full-corpus dedup verdict: every document with its duplicate
    cluster and a keep flag (true iff it is the cluster's minimum id —
    or untouched by any near-dup pair). ``WHERE keep`` is the deduped
    corpus; this is the operator a 100 TB pretraining pipeline actually
    runs, with pairs and components as internal stages.
    """
    docs = read_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.4)
    return canonical_survivors(docs, pairs, id_col="doc_id", src="doc_a", dst="doc_b")


@query(
    "dedup_incremental",
    sql="""
    WITH hist AS (
        SELECT DISTINCT md5(text) AS content_hash
        FROM documents WHERE doc_id % 10 < 8
    ),
    incoming AS (
        SELECT doc_id, md5(text) AS content_hash
        FROM documents WHERE doc_id % 10 >= 8
    )
    SELECT i.doc_id, i.content_hash,
           h.content_hash IS NOT NULL AS seen_before
    FROM incoming i LEFT JOIN hist h ON i.content_hash = h.content_hash
    """,
    tags=("dedup", "incremental"),
)
def dedup_incremental(spark, sf_dir):
    """Incremental (continuous-crawl) dedup: an incoming batch is
    checked against the historical corpus's content fingerprints — the
    shape every production pipeline runs daily, where re-deduplicating
    the full corpus per batch is out of the question. Here the split is
    doc_id mod 10 (8:2 historical:incoming) to make it reproducible.

    Scale shape: the historical side is a DISTINCT over 32-char digests
    — at 100 TB that fingerprint table is ~3 orders of magnitude smaller
    than the corpus and is the ONLY thing the incremental pass touches
    (persist it as its own parquet in production; never rescan text).
    The join shuffles digests, not documents, and AQE broadcasts the
    incoming batch when it's the small side.
    """
    docs = read_table(spark, sf_dir, "documents")
    hist = (
        docs.where(F.col("doc_id") % 10 < 8)
        .select(F.md5("text").alias("content_hash"))
        .distinct()
        .alias("h")
    )
    incoming = (
        docs.where(F.col("doc_id") % 10 >= 8)
        .select("doc_id", F.md5("text").alias("content_hash"))
        .alias("i")
    )
    return incoming.join(
        hist, F.col("i.content_hash") == F.col("h.content_hash"), "left"
    ).select(
        F.col("doc_id"),
        F.col("i.content_hash").alias("content_hash"),
        F.col("h.content_hash").isNotNull().alias("seen_before"),
    )


@query(
    "dedup_best_of_cluster",
    sql=f"""
    WITH RECURSIVE {_PAIRS_CTE}
    SELECT doc_id, component, n_chars, keep FROM (
        SELECT d.doc_id,
               COALESCE(c.component, d.doc_id) AS component,
               d.n_chars,
               ROW_NUMBER() OVER (
                   PARTITION BY COALESCE(c.component, d.doc_id)
                   ORDER BY d.n_chars DESC, d.doc_id ASC
               ) = 1 AS keep
        FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
    )
    """,
    tags=("dedup", "components", "survivors", "quality"),
)
def dedup_best_of_cluster(spark, sf_dir):
    """Quality-aware dedup verdict: within each near-dup cluster keep
    the LONGEST document (n_chars, ties to the smallest id) — the
    production survivor rule ("keep the most complete copy"), vs
    dedup_survivors' min-id form. Same pair graph (word-3-gram Jaccard
    >= 0.4), same recursive-CTE component oracle, per-cluster argmax
    window on top; the window's state is bounded by the largest
    duplicate cluster.
    """
    from tvbigdataproject_spark.operators.components import (
        best_of_cluster_survivors,
    )

    docs = read_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.4)
    return best_of_cluster_survivors(
        docs, pairs, quality_col="n_chars", id_col="doc_id"
    )


@query(
    "corpus_snapshot_diff",
    sql="""
    WITH old AS (
        SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 7 != 0
    ),
    new AS (
        SELECT doc_id,
               md5(CASE WHEN doc_id % 11 = 0 THEN text || ' v2'
                        ELSE text END) AS h
        FROM documents WHERE doc_id % 5 != 0
    )
    SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
           CASE WHEN o.doc_id IS NULL THEN 'added'
                WHEN n.doc_id IS NULL THEN 'removed'
                WHEN o.h != n.h THEN 'changed'
                ELSE 'unchanged' END AS status
    FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
    """,
    tags=("dedup", "versioning", "diff"),
)
def corpus_snapshot_diff(spark, sf_dir):
    """Corpus-version diff: per document, whether it was added, removed,
    changed, or unchanged between two snapshots — the audit every
    periodic-recrawl pipeline runs before re-training (what moved since
    the last corpus cut?). Snapshots are carved deterministically from
    the documents table (old = id % 7 != 0, new = id % 5 != 0 with an
    ' v2' content perturbation on id % 11 == 0) so the query is
    reproducible.

    Scale shape: one digest projection per side, then a single
    id-keyed full outer join — the join carries (id, 32-char digest),
    never document bodies; at 100 TB that is the only honest way to
    diff snapshots (content equality through digests, join keyed on
    the id both sides already share).
    """
    docs = read_table(spark, sf_dir, "documents")
    old = docs.where(F.col("doc_id") % 7 != 0).select(
        "doc_id", F.md5("text").alias("h")
    )
    new = docs.where(F.col("doc_id") % 5 != 0).select(
        "doc_id",
        F.md5(
            F.when(
                F.col("doc_id") % 11 == 0, F.concat(F.col("text"), F.lit(" v2"))
            ).otherwise(F.col("text"))
        ).alias("h"),
    )
    o, n = old.alias("o"), new.alias("n")
    joined = o.join(n, F.col("o.doc_id") == F.col("n.doc_id"), "full_outer")
    status = (
        F.when(F.col("o.doc_id").isNull(), F.lit("added"))
        .when(F.col("n.doc_id").isNull(), F.lit("removed"))
        .when(F.col("o.h") != F.col("n.h"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return joined.select(
        F.coalesce(F.col("o.doc_id"), F.col("n.doc_id")).alias("doc_id"),
        status.alias("status"),
    )


@query(
    "leakage_safe_split",
    sql=f"""
    WITH RECURSIVE {_PAIRS_CTE},
    assigned AS (
        SELECT d.doc_id,
               COALESCE(c.component, d.doc_id) AS cluster
        FROM documents d LEFT JOIN comp c USING (doc_id)
    )
    SELECT doc_id, cluster,
           ('0x' || substr(md5(CAST(cluster AS VARCHAR)), 1, 4))::BIGINT
               % 100 AS bucket,
           CASE WHEN ('0x' || substr(md5(CAST(cluster AS VARCHAR)), 1, 4))::BIGINT
                     % 100 < 90 THEN 'train'
                WHEN ('0x' || substr(md5(CAST(cluster AS VARCHAR)), 1, 4))::BIGINT
                     % 100 < 95 THEN 'valid'
                ELSE 'test' END AS split
    FROM assigned
    """,
    tags=("llm", "split", "dedup", "components", "iterative"),
)
def leakage_safe_split(spark, sf_dir):
    """Duplicate-cluster-aware train/valid/test split: hash the
    near-dup CLUSTER id, not the document id, so every member of a
    duplicate cluster lands in the same split. A per-document hash
    split (train_test_split_hash) leaks near-identical text across the
    train/test boundary — the contamination that inflates eval scores
    on deduplicated benchmarks (the Lee et al. "Deduplicating Training
    Data Makes Language Models Better" failure mode); splitting by
    cluster makes leakage structurally impossible (the split is a
    FUNCTION of the cluster), and the oracle value-checks the whole
    composition: pair graph -> components fixpoint -> hash bucketing.

    Scale shape: the near-dup pair join and pointer-jumping components
    are the dedup tier's proven shapes (ladder rows in SCALE.md); the
    split itself adds one left join on doc_id and scan-local md5 math —
    no new shuffle class. Singleton docs skip the join's right side
    (component absent -> cluster = own id).
    """
    from tvbigdataproject_spark.functions.hashing import hex16_hash

    docs = read_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.4)
    comp = connected_components(pairs, src="doc_a", dst="doc_b")
    assigned = (
        docs.select("doc_id")
        .join(comp, docs.doc_id == comp.node, "left")
        .select(
            "doc_id",
            F.coalesce(F.col("label"), F.col("doc_id")).alias("cluster"),
        )
    )
    bucket = hex16_hash(F.col("cluster").cast("string")) % 100
    return assigned.select(
        "doc_id",
        "cluster",
        bucket.alias("bucket"),
        F.when(bucket < 90, "train")
        .when(bucket < 95, "valid")
        .otherwise("test")
        .alias("split"),
    )


def _minhash_err_sql(num_hashes: int = 8, bands: int = 4, rows: int = 2) -> str:
    sig_cols = ",\n               ".join(
        f"MIN(substr(md5('{i // 4}:' || s), {(i % 4) * 8 + 1}, 8)) AS h{i}"
        for i in range(num_hashes)
    )
    band_selects = "\n        UNION ALL\n        ".join(
        "SELECT doc_id, '{b}|' || h{lo} || '|' || h{hi} AS bk FROM sig".format(
            b=b, lo=b * rows, hi=b * rows + 1
        )
        for b in range(bands)
    )
    m_expr = " + ".join(
        f"(CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END)"
        for i in range(num_hashes)
    )
    return f"""
    WITH {_SH_SQL},
    sig AS (
        SELECT doc_id,
               {sig_cols}
        FROM sh GROUP BY doc_id
    ),
    bands AS (
        {band_selects}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b ON a.bk = b.bk AND a.doc_id < b.doc_id
    ),
    shdict AS (
        SELECT s, ROW_NUMBER() OVER (ORDER BY s) AS sid
        FROM (SELECT DISTINCT s FROM sh)
    ),
    she AS (
        SELECT sh.doc_id, shdict.sid FROM sh JOIN shdict ON shdict.s = sh.s
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM she GROUP BY 1),
    inter AS (
        SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS i
        FROM she x JOIN she y ON x.sid = y.sid AND x.doc_id < y.doc_id
        GROUP BY 1, 2
    )
    SELECT c.doc_a, c.doc_b,
           CAST({m_expr} AS BIGINT) AS n_match,
           CAST(COALESCE(i.i, 0) AS BIGINT) AS n_inter,
           CAST(sa.n + sb.n - COALESCE(i.i, 0) AS BIGINT) AS n_union,
           1000000 * ABS(({m_expr}) * (sa.n + sb.n - COALESCE(i.i, 0))
                         - {num_hashes} * COALESCE(i.i, 0))
               // ({num_hashes} * (sa.n + sb.n - COALESCE(i.i, 0)))
               AS err_ppm
    FROM cand c
    JOIN sig a ON a.doc_id = c.doc_a
    JOIN sig b ON b.doc_id = c.doc_b
    LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
    JOIN sizes sa ON sa.doc_id = c.doc_a
    JOIN sizes sb ON sb.doc_id = c.doc_b
    """


@query(
    "minhash_estimate_error",
    sql=_minhash_err_sql(),
    tags=("dedup", "lsh", "evaluation"),
)
def minhash_estimate_error(spark, sf_dir):
    """Per-candidate-pair MinHash estimation error: the sketch's Jaccard
    estimate (matching components / 8) against the exact shingle
    Jaccard, as integer ppm |m*u - 8*i| / (8*u) — the audit that tells
    you whether 8 hashes are enough BEFORE you trust the LSH tier's
    threshold at 100 TB (the estimator's std is sqrt(J(1-J)/8) ~ 0.17
    at J=0.5; this query is that theory checked against this corpus).

    Exactness: signatures are the md5-slice min family shared with
    dedup_minhash_lsh (engine-identical hex-string mins); match counts,
    intersections, unions, and the cross-multiplied error are all
    integers.

    Scale shape: identical candidate generation to dedup_minhash_lsh
    (banded bucket join, never all-pairs); the audit adds one
    signature attach and a candidate-local exact-Jaccard — each
    candidate pair costs O(signature + shingle intersect), so the audit
    is no heavier than the verify step the LSH pipeline already runs.
    """
    from tvbigdataproject_spark.operators.dedup import _minhash_candidates

    docs = read_table(spark, sf_dir, "documents")
    with_sh, sig, cand = _minhash_candidates(docs, n=3, num_hashes=8, bands=4)
    sig_a = sig.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sig_b = sig.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    shs_a = with_sh.select(
        F.col("doc_id").alias("doc_a"), F.col("shs").alias("shs_a")
    )
    shs_b = with_sh.select(
        F.col("doc_id").alias("doc_b"), F.col("shs").alias("shs_b")
    )
    scored = (
        cand.hint("SHUFFLE_HASH")
        .join(sig_a.hint("SHUFFLE_HASH"), "doc_a")
        .hint("SHUFFLE_HASH")
        .join(sig_b.hint("SHUFFLE_HASH"), "doc_b")
        .hint("SHUFFLE_HASH")
        .join(shs_a.hint("SHUFFLE_HASH"), "doc_a")
        .hint("SHUFFLE_HASH")
        .join(shs_b.hint("SHUFFLE_HASH"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(
                F.filter(
                    F.zip_with(
                        "sig_a", "sig_b", lambda x, y: x.eqNullSafe(y)
                    ),
                    lambda t: t,
                )
            ).cast("long").alias("n_match"),
            F.size(F.array_intersect("shs_a", "shs_b")).cast("long").alias(
                "n_inter"
            ),
            (
                F.size("shs_a") + F.size("shs_b")
                - F.size(F.array_intersect("shs_a", "shs_b"))
            ).cast("long").alias("n_union"),
        )
    )
    return scored.select(
        "doc_a",
        "doc_b",
        "n_match",
        "n_inter",
        "n_union",
        F.expr(
            "1000000 * abs(n_match * n_union - 8 * n_inter)"
            " div (8 * n_union)"
        ).alias("err_ppm"),
    )
