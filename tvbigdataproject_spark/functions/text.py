"""Text primitives: tokenization, shingling, cleaning.

All native Column expressions — shingling in particular is the front door
to every dedup sketch (minhash / simhash / n-gram Jaccard) and must not
be a Python UDF: at 100 TB the shingle pass is the widest map stage in
the pipeline.

Perf note: higher-order-function lambdas re-evaluate any referenced
subexpression once *per element* — a shingle expression that inlines
``split(lower(text))`` tokenizes the document once per position, turning
a linear pass quadratic (measured 5× slower at sf0.1). ``_bind`` is an
expression-level let: it routes the expensive input through a
single-element transform so the lambda variable (evaluated once) is what
the body references.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F


def _bind(col: Column, body: Callable[[Column], Column]) -> Column:
    """Let-binding for Column expressions: evaluate ``col`` once, feed the
    result to ``body`` as a lambda variable."""
    return F.element_at(F.transform(F.array(col), body), 1)


def _empty_str_array() -> Column:
    return F.array().cast("array<string>")


def simple_tokens(text: Column) -> Column:
    """Single-space split — matches the oracle's ``string_split(text, ' ')``
    exactly (the synthetic documents are single-space separated)."""
    return F.split(text, " ")


def word_shingles(toks: Column, n: int = 3, distinct: bool = True) -> Column:
    """Word n-grams of a token array as an array<string>.

    Pure codegen-side expression: sequence + transform + element_at; no
    explode until the caller wants one row per shingle. The token input
    is let-bound so passing a raw ``split(...)`` expression costs one
    tokenization, not one per position.
    """

    def body(ws: Column) -> Column:
        seq = F.sequence(F.lit(1), F.size(ws) - (n - 1))
        grams = F.transform(
            seq,
            lambda i: F.concat_ws(" ", *[F.element_at(ws, i + j) for j in range(n)]),
        )
        guarded = F.when(F.size(ws) >= n, grams).otherwise(_empty_str_array())
        return F.array_distinct(guarded) if distinct else guarded

    return _bind(toks, body)


def shingles(text: Column, n: int = 3, distinct: bool = True) -> Column:
    """Word n-gram shingles straight from a text column (lowercased,
    whitespace-tokenized)."""
    return word_shingles(simple_tokens(F.lower(text)), n=n, distinct=distinct)


def simple_clean(text: Column) -> Column:
    """Cheap native text cleaner: lowercase, strip non-alphanumerics,
    collapse whitespace.

    This is the native fallback for the reference's spaCy lemmatizer UDF
    (reference: bigdata/__init__.py:28,31-47) — the one genuinely
    irreducible UDF in the reference. The optional spaCy path lives in
    operators/textstats.py behind an import guard; at scale this native
    version is the default because it stays in codegen.
    """
    lowered = F.lower(F.coalesce(text, F.lit("")))
    stripped = F.regexp_replace(lowered, r"[^a-z0-9\s-]", " ")
    return F.trim(F.regexp_replace(stripped, r"\s+", " "))
