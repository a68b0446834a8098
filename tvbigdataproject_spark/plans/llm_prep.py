"""End-to-end training-data preparation pipeline: the north-star
operators composed into the pass a 100 TB corpus actually runs.

    quality gate → exact dedup → fingerprint + stats → (partitioned sink)

Every stage is one of the library's verified operators, so the composed
pipeline is oracle-checkable as a single query
(queries/llm_prep.py::llm_prep_pipeline). Stage order matters at scale:
the quality gate is a zero-shuffle scan filter, so it runs first and
shrinks everything downstream; exact dedup shuffles only digests of the
survivors; the fingerprint is computed in the same scan that evaluates
the gate (Catalyst collapses the projections).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tvbigdataproject_spark.functions import minhash_signature, shingles
from tvbigdataproject_spark.operators.textstats import quality_metrics

# The quality gate: a document passes with at least this many tokens
# and at least this quality_metrics score.
_MIN_TOKENS = 20
_MIN_QUALITY = 0.45


def prepare_corpus(docs: DataFrame) -> DataFrame:
    """Filter low-quality docs (the ``_MIN_TOKENS`` / ``_MIN_QUALITY``
    gate), drop exact duplicates (keep the lowest doc_id per content
    digest), and attach token stats + a content fingerprint. Returns
    (doc_id, lang, source, n_tokens, quality_score, fingerprint)."""
    m = quality_metrics(F.col("text"))
    scored = docs.select(
        "doc_id",
        "lang",
        "source",
        "text",
        m["n_tokens"].alias("n_tokens"),
        m["quality_score"].alias("quality_score"),
    )
    gated = scored.where(
        (F.col("n_tokens") >= _MIN_TOKENS) & (F.col("quality_score") >= _MIN_QUALITY)
    )
    # exact dedup among survivors: keep the minimum id per digest
    keep = (
        gated.groupBy(F.md5("text").alias("h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    kept = gated.join(keep, "doc_id", "left_semi")
    shs = shingles(F.col("text"), 3)
    fingerprint = F.md5(F.concat_ws("", minhash_signature(shs, num_hashes=4)))
    return kept.select(
        "doc_id",
        "lang",
        "source",
        "n_tokens",
        "quality_score",
        F.when(F.size(shs) > 0, fingerprint).alias("fingerprint"),
    )
