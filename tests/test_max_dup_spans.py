"""operators/dedup.py::max_dup_spans — maximal repeated-span semantics
pinned on hand-built corpora (run merging, the cross-document gate,
1-based inclusive coordinates)."""

from __future__ import annotations

from tvbigdataproject_spark.operators.dedup import max_dup_spans


def _spans(spark, rows, n=3):
    df = spark.createDataFrame(rows, "doc_id long, text string")
    return {
        (r.doc_id, r.span_start, r.span_end, r.n_tokens, r.n_grams)
        for r in max_dup_spans(df, n=n).collect()
    }


def test_shared_phrase_yields_one_maximal_span_per_doc(spark):
    # "a b c d" shared verbatim; surrounding tokens unique per doc.
    # 3-grams of doc 1: positions of "a b c"=2, "b c d"=3 (1-based);
    # contiguous -> one span covering tokens 2..5 (4 tokens, 2 grams)
    rows = [
        (1, "x1 a b c d y1"),
        (2, "x2 a b c d y2"),
    ]
    got = _spans(spark, rows, n=3)
    assert got == {(1, 2, 5, 4, 2), (2, 2, 5, 4, 2)}


def test_within_doc_repetition_alone_is_not_duplicated(spark):
    # the phrase repeats only INSIDE doc 1 — document frequency is 1,
    # so no span is emitted (cross-document gate)
    rows = [
        (1, "a b c z a b c"),
        (2, "p q r s t u v"),
    ]
    assert _spans(spark, rows, n=3) == set()


def test_distant_shared_grams_stay_separate_spans(spark):
    # doc 1 shares "a b c" (pos 1) and "x y z" (pos 9) with doc 2, with
    # 5 unique tokens between: positional gap 8 > n=3 -> two spans
    rows = [
        (1, "a b c u1 u2 u3 u4 u5 x y z"),
        (2, "a b c w1 w2 w3 w4 w5 x y z"),
    ]
    got = _spans(spark, rows, n=3)
    assert (1, 1, 3, 3, 1) in got and (1, 9, 11, 3, 1) in got
    assert (2, 1, 3, 3, 1) in got and (2, 9, 11, 3, 1) in got
    assert len(got) == 4


def test_touching_coverage_merges_across_gram_gap(spark):
    # doc 1 vs doc 2 share "a b c"; doc 1 vs doc 3 share "d e f" which
    # starts exactly where the first span ends +1 (pos 4, gap 3 == n)
    # -> contiguous token coverage 1..6 merges into ONE span for doc 1
    rows = [
        (1, "a b c d e f"),
        (2, "a b c q2 q3 q4"),
        (3, "p3 q3x r3 d e f"),
    ]
    got = _spans(spark, rows, n=3)
    assert (1, 1, 6, 6, 2) in got


def test_whole_doc_duplicate_spans_everything(spark):
    rows = [(1, "a b c d e"), (2, "a b c d e")]
    got = _spans(spark, rows, n=3)
    assert got == {(1, 1, 5, 5, 3), (2, 1, 5, 5, 3)}


def _clean(spark, rows, n=3):
    from tvbigdataproject_spark.operators.dedup import apply_span_removal

    df = spark.createDataFrame(rows, "doc_id long, text string")
    spans = max_dup_spans(df, n=n)
    return {
        r.doc_id: (r.n_tokens_kept, r.clean_text)
        for r in apply_span_removal(df, spans).collect()
    }


def test_apply_span_removal_round_trip(spark):
    # "a b c d" is the shared span (tokens 2..5); removal must keep the
    # surrounding unique tokens, in order, space-joined
    rows = [
        (1, "x1 a b c d y1"),
        (2, "x2 a b c d y2"),
    ]
    got = _clean(spark, rows, n=3)
    assert got == {1: (2, "x1 y1"), 2: (2, "x2 y2")}
    # idempotence: the cleaned corpus has no repeated spans left
    clean_rows = [(k, v[1]) for k, v in got.items()]
    assert _spans(spark, clean_rows, n=3) == set()


def test_apply_span_removal_keeps_untouched_and_empties_full_dups(spark):
    rows = [
        (1, "a b c d e"),         # whole-doc duplicate -> fully clipped
        (2, "a b c d e"),
        (3, "totally unique text here"),  # no spans -> lowercased intact
    ]
    got = _clean(spark, rows, n=3)
    assert got[1] == (0, "") and got[2] == (0, "")
    assert got[3] == (4, "totally unique text here")


def test_apply_span_removal_two_spans_one_doc(spark):
    # two separate spans in doc 1; the middle run of unique tokens
    # survives as the clean text
    rows = [
        (1, "a b c u1 u2 u3 u4 u5 x y z"),
        (2, "a b c w1 w2 w3 w4 w5 x y z"),
    ]
    got = _clean(spark, rows, n=3)
    assert got[1] == (5, "u1 u2 u3 u4 u5")
    assert got[2] == (5, "w1 w2 w3 w4 w5")
