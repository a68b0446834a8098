"""Property-based tests (hypothesis) for the native function library —
the algebraic laws from SURVEY.md §5.2."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from tvbigdataproject_spark.functions import normalize_tags
from tvbigdataproject_spark.functions.text import shingles, word_shingles

tags = st.lists(
    st.text(alphabet="abcÁéÖü ", min_size=1, max_size=6), min_size=0, max_size=8
)

_slow = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


def _eval(spark, cols: dict, data: dict):
    df = spark.createDataFrame(
        [tuple(data.values())],
        ", ".join(f"{k} array<string>" for k in data),
    )
    row = df.select(*[expr.alias(name) for name, expr in cols.items()]).collect()[0]
    return row.asDict()


@given(xs=tags)
@_slow
def test_normalize_tags_idempotent(spark, xs):
    out = _eval(
        spark,
        {
            "once": normalize_tags(F.col("x")),
            "twice": normalize_tags(normalize_tags(F.col("x"))),
        },
        {"x": xs},
    )
    # normalization is a projection: applying it twice changes nothing,
    # output is sorted and deduped
    assert out["once"] == out["twice"]
    assert out["once"] == sorted(set(out["once"]))


def test_normalize_tags_reference_semantics(spark):
    # mirrors the reference composite (bigdata/__init__.py:49-70):
    # join-on-comma then resplit means multi-word tags split too; accents
    # fold char-for-char; case folds
    out = _eval(spark, {"n": normalize_tags(F.col("x"))}, {"x": ["Café", "CAFE", "Ž x"]})
    # 'Ž x' → 'z x' stays one token (split is on comma, not space)
    assert out["n"] == ["cafe", "z x"]


@given(words=st.lists(st.text(alphabet="abc", min_size=1, max_size=3), min_size=0, max_size=10))
@_slow
def test_word_shingles_ground_truth(spark, words):
    out = _eval(spark, {"s": word_shingles(F.col("x"), 3)}, {"x": words})
    expected = sorted({" ".join(words[i : i + 3]) for i in range(len(words) - 2)})
    assert sorted(out["s"]) == expected


def test_shingles_empty_and_short(spark):
    df = spark.createDataFrame([("",), ("one two",), ("a b c d",)], "t string")
    got = [r["s"] for r in df.select(shingles(F.col("t"), 3).alias("s")).collect()]
    assert got[0] == []  # too short
    assert got[1] == []
    assert sorted(got[2]) == ["a b c", "b c d"]


def test_bpe_merge_round_left_bias_and_weighting(spark):
    # "a a a" with merge (a,a) must become "aa a" (greedy left-to-right),
    # and pair counts are weighted by word frequency
    from pyspark.sql import functions as F

    from tvbigdataproject_spark.queries.llm_ops6 import _merge_round, _pair_counts

    w = spark.createDataFrame(
        [("|a||a||a|", 2), ("|a||b|", 3)], "s string, freq long"
    )
    pc = {(r.a, r.b): r.cnt for r in _pair_counts(w).collect()}
    assert pc == {("a", "a"): 4, ("a", "b"): 3}
    best, merged = _merge_round(w)
    b = best.collect()[0]
    assert (b.a, b.b, b.cnt) == ("a", "a", 4)
    got = {r.s for r in merged.select("s").collect()}
    # left-bias: the first pair merges, the trailing 'a' survives alone
    assert got == {"|aa||a|", "|a||b|"}


def test_z_interleave16_known_values_and_tile_bound(spark):
    from pyspark.sql import functions as F

    from tvbigdataproject_spark.functions.zorder import z_interleave16

    df = spark.createDataFrame(
        [(0xFFFF, 0), (0, 0xFFFF), (3, 1), (0, 0), (0xFFFF, 0xFFFF)],
        "x long, y long",
    )
    got = [
        r.z
        for r in df.select(
            z_interleave16(F.col("x"), F.col("y")).alias("z")
        ).collect()
    ]
    # x on even bits, y on odd: x=0b11 y=0b01 -> z=0b0111
    assert got == [0x55555555, 0xAAAAAAAA, 0b0111, 0, 0xFFFFFFFF]
    # tile invariant: equal z>>16 implies both coords within a 256 tile
    xs = spark.range(0, 4096).select(
        (F.col("id") % 64 * 17).alias("x"), F.expr("id DIV 64 * 23").alias("y")
    )
    rows = (
        xs.select(
            "x", "y", F.shiftright(z_interleave16(F.col("x"), F.col("y")), 16).alias("zb")
        )
        .groupBy("zb")
        .agg(
            (F.max("x") - F.min("x")).alias("dx"),
            (F.max("y") - F.min("y")).alias("dy"),
        )
        .collect()
    )
    assert all(r.dx <= 255 and r.dy <= 255 for r in rows)
