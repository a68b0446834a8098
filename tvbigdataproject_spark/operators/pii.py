"""PII detection and redaction — the privacy-scrub stage every
production training-data pipeline runs before model consumption
(Dolma's PII tagger, RedPajama's quality/PII filters, the C4 blocklist
pass all sit at this point in the DAG).

Design constraints, in order:

1. **Scan-local.** Detection and redaction are per-row regex work — no
   shuffle, no UDF; everything stays in whole-stage codegen via
   regexp_count / regexp_replace. At 100 TB this tier is bandwidth-
   bound on the document scan, which is the optimum.
2. **Cross-engine pattern subset.** Patterns are restricted to the
   intersection of Java regex (Spark) and RE2 (DuckDB, Go tooling):
   character classes, bounded repetition, \\b word boundaries — NO
   backreferences, NO lookaround, no possessive quantifiers. This is
   what makes the DuckDB oracle replay detection counts and redacted
   text bitwise (md5-compared).
3. **Deterministic class order.** Redaction applies classes in a fixed
   order (emails before the number classes, specific number shapes
   before general ones) so overlapping matches resolve identically
   everywhere; each class's replacement token contains no digits or
   '@', so later patterns can never re-match inside an earlier
   redaction.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# class -> (pattern, replacement token). Order is the redaction order.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("credit_card", r"\b\d{4}[- ]\d{4}[- ]\d{4}[- ]\d{4}\b", "<CARD>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("phone", r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
)


def pii_counts(text: Column) -> dict[str, Column]:
    """Per-class match counts as named columns (n_email, n_phone, ...).

    Counts are measured on the PROGRESSIVELY REDACTED text, exactly as
    redaction would consume matches — so an SSN never double-counts as
    a phone fragment and the counts always sum to the number of
    redaction tokens in `pii_redact`'s output.
    """
    out: dict[str, Column] = {}
    cur = text
    for name, pat, repl in PII_PATTERNS:
        out[f"n_{name}"] = F.regexp_count(cur, F.lit(pat))
        cur = F.regexp_replace(cur, pat, repl)
    return out


def pii_redact(text: Column) -> Column:
    """The text with every PII class replaced by its token, applied in
    the fixed class order."""
    cur = text
    for _, pat, repl in PII_PATTERNS:
        cur = F.regexp_replace(cur, pat, repl)
    return cur


def pii_scan(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, per-class counts, n_pii total, redacted_md5): the detection
    report plus a digest of the scrubbed text — the digest lets an
    oracle (or a downstream audit) value-check full redaction without
    shipping document bodies through the comparison."""
    counts = pii_counts(F.col(text_col))
    total = None
    for c in counts.values():
        total = c if total is None else total + c
    return df.select(
        "doc_id",
        *[v.alias(k) for k, v in counts.items()],
        total.alias("n_pii"),
        F.md5(pii_redact(F.col(text_col))).alias("redacted_md5"),
    )
