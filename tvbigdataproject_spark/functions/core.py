"""Native Column replacements for the reference's Python lambda UDFs.

The reference routes its hot path through six row-at-a-time Python UDFs
(reference: bigdata/__init__.py:23-28), five of which silently return
StringType (SURVEY.md §1.4.1). Each one is a BatchEvalPython fence in the
physical plan: rows serialize JVM→Python per batch and whole-stage codegen
splits around it. Everything below is a pure Catalyst expression — it
inlines into codegen, keeps columns numeric, and lets predicate pushdown
see through (e.g. the tweet pipeline's Jaccard threshold filter in
plans/pipelines.py lands on a DoubleType column instead of a string
compare, fixing RetweetTagsJaccardGraph.py:183).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Accent-folding map used by the reference's hashtag normalization
# (reference: bigdata/__init__.py:60-63). The duplicate 'ä' in the source
# set is preserved-by-effect: translate() applies the first mapping only,
# which is what the reference's Python translate did too.
_TRANSLATE_FROM = "ãäöüẞáäčďéěíĺľňóôŕšťúùůýž"
_TRANSLATE_TO = "aaousaacdeeillnoorstuuuyz"


def normalize_tags(tags: Column) -> Column:
    """Normalize an array of hashtags: lowercase, fold accents, dedup, sort.

    Native rewrite of the reference's ``nomalizeHashTags`` composite
    (reference: bigdata/__init__.py:49-70): array_join → lower → translate
    → split → array_distinct → array_sort, all Catalyst-side.
    """
    joined = F.array_join(tags, ",")
    folded = F.translate(F.lower(joined), _TRANSLATE_FROM, _TRANSLATE_TO)
    return F.array_sort(F.array_distinct(F.split(folded, ",")))


def array_to_string(xs: Column) -> Column:
    """``'[a,b,c]'`` rendering (reference: bigdata/__init__.py:23,
    used at RetweetTagsJaccardGraph.py:237-240)."""
    return F.concat(F.lit("["), F.array_join(xs, ","), F.lit("]"))
