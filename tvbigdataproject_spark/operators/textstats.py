"""Text-analysis operators (north-star surface) + the optional spaCy
cleaner replacing the reference's only irreducible UDF.

The scoring/counting operators are thin, documented wrappers over the
native expressions exercised (and oracle-checked) in
queries/textstats.py. The cleaner has two tiers:

- the default: ``functions.text.simple_clean`` — pure Catalyst, stays
  in codegen, the 100 TB path.
- ``clean_text_spacy``: a pandas_udf batching a per-executor-cached
  spaCy pipeline — faithful to the reference's lemmatizer
  (bigdata/__init__.py:28,31-47: tokenize → lemmatize → keep
  isalpha()/-PRON- → space-join), guarded because spaCy is not installed
  in this environment. The Arrow batch transfer makes it ~10-100× the
  row-at-a-time UDF the reference used, but it remains a Python fence —
  use only when lemma fidelity matters.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


def spacy_available() -> bool:
    try:
        import spacy  # noqa: F401

        return True
    except ImportError:
        return False


def clean_text_spacy(text: Column) -> Column:
    """spaCy lemmatizing cleaner as an Arrow-batched pandas_udf.

    Raises ImportError at *plan build* when spaCy is missing, rather than
    failing inside executors mid-job.
    """
    if not spacy_available():
        raise ImportError(
            "spaCy is not installed in this environment; use "
            "functions.text.simple_clean() (native) instead"
        )

    from pyspark.sql.functions import pandas_udf

    @pandas_udf(T.StringType())
    def _clean(batch):
        import pandas as pd
        import spacy

        # one pipeline per python worker, cached on the function object
        if not hasattr(_clean, "_nlp"):
            _clean._nlp = spacy.load("en_core_web_sm", disable=["parser", "ner"])
        nlp = _clean._nlp

        def clean_one(s):
            if s is None:
                return ""
            # reference semantics (bigdata/__init__.py:38-46)
            return " ".join(
                t.lemma_
                for t in nlp(s)
                if t.lemma_.isalpha() or t.lemma_ == "-PRON-"
            )

        return pd.Series([clean_one(s) for s in batch])

    return _clean(text)


DEFAULT_STOPWORDS = ("the", "a", "of", "and", "to", "in")


def quality_metrics(text: Column, stopwords: tuple[str, ...] = DEFAULT_STOPWORDS) -> dict[str, Column]:
    """The engine's document-quality bundle: token count, stopword ratio,
    lexical diversity, and the composite score
    0.5·min(n/100,1) + 0.3·(distinct/n) + 0.2·min(stop·5/n,1).

    One definition shared by the oracle-checked query
    (queries/textstats.py::text_quality_score) and the prep pipeline
    (plans/llm_prep.py) — the expression shapes must stay identical on
    both so results remain bitwise engine-portable.
    """
    ws = F.split(F.lower(text), " ")

    def member(w):
        return w.isin(*stopwords)

    n_tokens = F.size(ws).cast("double")
    n_stop = F.size(F.filter(ws, member)).cast("double")
    n_distinct = F.size(F.array_distinct(ws)).cast("double")
    score = (
        0.5 * F.least(n_tokens / 100.0, F.lit(1.0))
        + 0.3 * (n_distinct / n_tokens)
        + 0.2 * F.least(n_stop * 5.0 / n_tokens, F.lit(1.0))
    )
    return {
        "n_tokens": F.size(ws),
        "stopword_ratio": n_stop / n_tokens,
        "distinct_ratio": n_distinct / n_tokens,
        "quality_score": score,
    }
