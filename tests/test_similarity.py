"""Similarity search contracts. Learned IVF: recall against the exact
brute-force baseline, and exactness when every cell is probed. (The
registered query embed_ivf_learned_topk is rows-only in the driver
check — KMeans centroids are Spark-internal — so this is where its
answers are held to a standard.) Cell assignment: exact against a
reference at every centroid count. Plus the round-7 additions' hand-
verifiable micro-fixtures: SCD2 build, bigram-LM document scoring, and
SemDeDup semantic pruning (the full-corpus value gate is check_parity).
"""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from tvbigdataproject_spark.operators.similarity import (
    assign_nearest_centroid,
    cosine_topk,
    ivf_topk,
    semdedup_survivors,
)
from tvbigdataproject_spark.queries.llm_ops10 import lm_bigram_doc_scores
from tvbigdataproject_spark.queries.scd import scd2_user_state
from tvbigdataproject_spark.sources import read_table

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return read_table(spark, SF_DIR, "embeddings")


@pytest.fixture(scope="module")
def truth(emb):
    qs = emb.where(F.col("vec_id") < 10)
    return {(r.q_vec_id, r.vec_id) for r in cosine_topk(emb, qs, k=5).collect()}


def test_ivf_recall_at_nprobe2(emb, truth):
    qs = emb.where(F.col("vec_id") < 10)
    got = {
        (r.q_vec_id, r.vec_id)
        for r in ivf_topk(emb, qs, k=5, nprobe=2, n_cells=8, ka=3).collect()
    }
    recall = len(got & truth) / len(truth)
    assert recall >= 0.9, f"recall {recall} < 0.9"


def test_ivf_full_probe_is_exact(emb, truth):
    # probing every cell degenerates to brute force: identical top-k
    # (same scores, same id tiebreak)
    qs = emb.where(F.col("vec_id") < 10)
    got = {
        (r.q_vec_id, r.vec_id)
        for r in ivf_topk(emb, qs, k=5, nprobe=8, n_cells=8, ka=1).collect()
    }
    assert got == truth


def test_ivf_multi_assignment_dedupes_pairs(emb):
    # a (query, candidate) pair sharing several probed cells must appear
    # exactly once, and ranks must be dense 1..k
    qs = emb.where(F.col("vec_id") < 3)
    out = ivf_topk(emb, qs, k=5, nprobe=3, n_cells=8, ka=3).collect()
    seen = [(r.q_vec_id, r.vec_id) for r in out]
    assert len(seen) == len(set(seen))
    by_q = {}
    for r in out:
        by_q.setdefault(r.q_vec_id, []).append(r.rn)
    for ranks in by_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_ivf_cells_exact_at_160_centroids(emb):
    # both cell attaches of ivf_topk (corpus side ka, query side nprobe)
    # are the exact nearest cells at any centroid count: with every
    # vector as a query and k above any candidate count, the answer is
    # exactly the pairs whose cells, by the flat sweep, meet
    from tvbigdataproject_spark.operators.similarity import (
        _nearest_cells,
        fit_ivf_centers,
    )

    key = ("ivf160", SF_DIR)
    centers = fit_ivf_centers(emb, n_cells=160, cache_key=key)
    assert len(centers) == 160
    near = {
        r.vec_id: list(r.cells)
        for r in emb.select(
            "vec_id", _nearest_cells(centers, 3).alias("cells")
        ).collect()
    }
    want = {
        (q, v)
        for q in near
        for v in near
        if v != q and set(near[v]) & set(near[q][:2])
    }
    got = {
        (r.q_vec_id, r.vec_id)
        for r in ivf_topk(
            emb, emb, k=len(near), nprobe=2, n_cells=160, ka=3, cache_key=key
        ).collect()
    }
    assert got == want


def test_cell_attach_well_formed_and_partition_invariant(emb):
    # n distinct in-range cells per vector, nearest first, and the same
    # lists under any partitioning (the attach is row-local)
    from tvbigdataproject_spark.operators.similarity import (
        _nearest_cells,
        fit_ivf_centers,
    )

    centers = fit_ivf_centers(emb, n_cells=16, cache_key=("t2l", SF_DIR))

    def cells(df):
        return {
            r.vec_id: list(r.cells)
            for r in df.select(
                "vec_id", _nearest_cells(centers, 2).alias("cells")
            ).collect()
        }

    base = cells(emb)
    assert len(base) == emb.count()
    for c in base.values():
        assert len(c) == 2 and len(set(c)) == 2
        assert all(0 <= x < 16 for x in c)
    assert cells(emb.repartition(7)) == base


def test_arrow_kernel_bitwise_equals_hof(emb):
    # the two scoring kernels must agree bit-for-bit (not approximately):
    # the DuckDB oracles spell out a sequential left-to-right float64
    # fold, the HOF aggregate() implements it, and cosine_arrow's
    # outer-axis numpy reduction must reproduce it exactly — any ulp
    # drift would flip rank order on near-ties and break hash parity
    from tvbigdataproject_spark.functions import cosine_arrow, cosine_similarity

    a = emb.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("ib"), F.col("embedding").alias("eb"))
    pairs = a.where(F.col("ia") < 40).crossJoin(b.where(F.col("ib") < 40))
    mismatched = (
        pairs.select(
            cosine_similarity(F.col("ea"), F.col("eb")).alias("hof"),
            cosine_arrow(F.col("ea"), F.col("eb")).alias("arrow"),
        )
        .where(~F.col("hof").eqNullSafe(F.col("arrow")))
        .count()
    )
    assert mismatched == 0


def test_kernels_give_identical_topk(emb):
    # cosine_topk (Arrow cosine) against a top-k spelled out in the test
    # over the JVM HOF cosine: same scores, same ranks, same id tiebreak
    from pyspark.sql import Window

    from tvbigdataproject_spark.functions import cosine_similarity

    qs = emb.where(F.col("vec_id") < 10)
    arrow = {
        (r.q_vec_id, r.vec_id, r.cos, r.rn)
        for r in cosine_topk(emb, qs, k=5).collect()
    }
    q = qs.select(F.col("vec_id").alias("q_vec_id"), F.col("embedding").alias("q_emb"))
    w = Window.partitionBy("q_vec_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    hof = {
        (r.q_vec_id, r.vec_id, r.cos, r.rn)
        for r in emb.crossJoin(q)
        .where(F.col("vec_id") != F.col("q_vec_id"))
        .select(
            "q_vec_id",
            "vec_id",
            cosine_similarity(F.col("q_emb"), F.col("embedding")).alias("cos"),
        )
        .select("*", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") <= 5)
        .collect()
    }
    assert arrow == hof


def test_arrow_kernel_exact_on_single_row_batches(emb):
    # regression: a (dim, 1) batch makes the reduced axis contiguous and
    # numpy's own reductions silently switch to pairwise summation —
    # one-row Arrow batches must still match the sequential fold
    from tvbigdataproject_spark.functions import cosine_arrow, cosine_similarity

    a = emb.where(F.col("vec_id") == 21).select(F.col("embedding").alias("ea"))
    b = emb.where(F.col("vec_id") == 24).select(F.col("embedding").alias("eb"))
    r = (
        a.crossJoin(b)
        .select(
            cosine_similarity(F.col("ea"), F.col("eb")).alias("hof"),
            cosine_arrow(F.col("ea"), F.col("eb")).alias("arrow"),
        )
        .collect()[0]
    )
    assert r.hof == r.arrow


def test_embed_covariance_partials_partition_invariant(spark):
    # the int64 Gram partials must be exactly associative: any
    # repartitioning yields bit-identical sums (this is what makes the
    # mapInPandas kernel safe at any parallelism)
    from tvbigdataproject_spark.queries.embeddings3 import (
        embed_covariance_pairs,
    )

    base = embed_covariance_pairs(spark, "/root/testdata/sf0.001")
    rows1 = {tuple(r) for r in base.collect()}
    # force a different partitioning of the source by re-running with a
    # different shuffle setting on a repartitioned read
    spark.conf.set("spark.sql.files.maxPartitionBytes", "65536")
    try:
        rows2 = {
            tuple(r)
            for r in embed_covariance_pairs(
                spark, "/root/testdata/sf0.001"
            ).collect()
        }
    finally:
        spark.conf.unset("spark.sql.files.maxPartitionBytes")
    assert rows1 == rows2


# ---------------------------------------------------------------- scd2


def test_scd2_hand_example(spark, tmp_path):
    # user 1: a a b a  -> 3 runs (a x2, b, a); user 2: single event.
    # Written via pyarrow with timestamp[us] to match the generated
    # events.parquet layout (read_table sniffs the footer time unit).
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = [
        (1, datetime(2024, 1, 1, 0, 0), 1, "a", 0.0, "{}"),
        (2, datetime(2024, 1, 1, 0, 1), 1, "a", 0.0, "{}"),
        (3, datetime(2024, 1, 1, 0, 2), 1, "b", 0.0, "{}"),
        (4, datetime(2024, 1, 1, 0, 3), 1, "a", 0.0, "{}"),
        (5, datetime(2024, 1, 1, 0, 0), 2, "x", 0.0, "{}"),
    ]
    t = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array([r[5] for r in rows], pa.string()),
        }
    )
    d = str(tmp_path / "sf")
    (tmp_path / "sf" / "events.parquet").mkdir(parents=True)
    pq.write_table(t, d + "/events.parquet/part-0.parquet")
    out = sorted(
        scd2_user_state(spark, d).collect(),
        key=lambda r: (r.user_id, r.valid_from),
    )
    u1 = [r for r in out if r.user_id == 1]
    assert [r.event_type for r in u1] == ["a", "b", "a"]
    assert [r.n_events for r in u1] == [2, 1, 1]
    # intervals tile: valid_to of row i == valid_from of row i+1
    assert u1[0].valid_to == u1[1].valid_from
    assert u1[1].valid_to == u1[2].valid_from
    assert [r.is_current for r in u1] == [False, False, True]
    u2 = [r for r in out if r.user_id == 2]
    assert len(u2) == 1 and u2[0].is_current and u2[0].valid_to is None


def test_scd2_exactly_one_current_per_user(spark):
    out = scd2_user_state(spark, SF_DIR)
    per_user = out.groupBy("user_id").agg(
        F.sum(F.col("is_current").cast("int")).alias("n_current")
    )
    bad = per_user.where(F.col("n_current") != 1).count()
    assert bad == 0


# ------------------------------------------------------------ bigram LM


def test_lm_bigram_hand_example(spark, tmp_path):
    # corpus: "a b" x3 and "a c" x1 -> p(b|a)=3/4, p(c|a)=1/4
    rows = [
        (1, "a b", "en", "s", 3),
        (2, "a b", "en", "s", 3),
        (3, "a b", "en", "s", 3),
        (4, "a c", "en", "s", 3),
        (5, "a b a c", "en", "s", 7),
    ]
    # doc 5 bigrams: (a,b) (b,a) (c after a): p(b|a)=cnt(a,b)/cnt(a as head)
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d = str(tmp_path / "sf")
    df.write.parquet(d + "/documents.parquet")
    out = {r.doc_id: r for r in lm_bigram_doc_scores(spark, d).collect()}
    scale = 1 << 30
    # heads: a appears as w1 in docs 1-4 once each + doc5 twice = 6;
    # cnt(a,b)=4 (docs 1-3 + doc5), cnt(a,c)=2 (doc4 + doc5), cnt(b,a)=1
    p_ab = (4 * scale) // 6
    p_ac = (2 * scale) // 6
    p_ba = (1 * scale) // 1
    assert out[1].n_bigrams == 1 and out[1].lm_score_scaled == p_ab
    assert out[4].lm_score_scaled == p_ac
    assert out[5].n_bigrams == 3
    assert out[5].lm_score_scaled == p_ab + p_ba + p_ac
    assert out[5].avg_p_scaled == (p_ab + p_ba + p_ac) // 3


def test_lm_bigram_probabilities_sum_to_one_per_context(spark):
    # sum over w2 of floor(cnt2 * S / cnt1) is within vocab-size of S,
    # and the per-doc average probability never exceeds S
    out = lm_bigram_doc_scores(spark, SF_DIR)
    scale = 1 << 30
    assert out.where(F.col("avg_p_scaled") > scale).count() == 0
    assert out.where(F.col("avg_p_scaled") < 0).count() == 0


# ------------------------------------------------------------- semdedup


def _mk_emb(spark, vecs):
    return spark.createDataFrame(
        [(i, [float(x) for x in v], 0) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>, label int",
    )


def _hof_argmax(emb, cent):
    # reference assignment spelled out in the test: the JVM HOF cosine
    # over every (vector, centroid) pair, argmax with the smallest-cid
    # tie rule
    from pyspark.sql import Window

    from tvbigdataproject_spark.functions import cosine_similarity

    c = cent.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("c_emb"))
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos"), F.asc("cid"))
    return {
        r.vec_id: r.cid
        for r in emb.crossJoin(c)
        .select(
            "vec_id",
            "cid",
            cosine_similarity(F.col("embedding"), F.col("c_emb")).alias("cos"),
        )
        .select("vec_id", "cid", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") == 1)
        .collect()
    }


def test_assign_nearest_centroid_ties_to_smallest_cid(spark):
    # vec 2 is equidistant from centroids 0 and 1 -> cell 0
    emb = _mk_emb(spark, [[1, 0], [0, 1], [1, 1]])
    cent = emb.where(F.col("vec_id") < 2)
    got = {
        r.vec_id: r.cell
        for r in assign_nearest_centroid(emb, cent).collect()
    }
    assert got == {0: 0, 1: 1, 2: 0}


def test_semdedup_prunes_dominated_not_greedy(spark):
    # one cell; A(0)~B(1) close, B~C(2) close, A!~C:
    # dominated-by-earlier prunes BOTH B (by A) and C (by B), unlike the
    # sequential greedy scan which would keep C (B was already gone) —
    # the documented semantics difference.
    import math

    def unit(theta):
        return [math.cos(theta), math.sin(theta)]

    # cos 25deg ~ 0.906 >= 0.9; cos 50deg ~ 0.64 < 0.9
    emb = _mk_emb(spark, [unit(0.0), unit(25 * math.pi / 180), unit(50 * math.pi / 180)])
    cent = emb.where(F.col("vec_id") < 1)  # single centroid -> one cell
    got = {
        r.vec_id
        for r in semdedup_survivors(emb, cent, threshold=0.9).collect()
    }
    assert got == {0}


def test_semdedup_survivor_set_respects_threshold(spark):
    # every surviving pair in the same cell is BELOW the threshold
    from tvbigdataproject_spark.operators.similarity import (
        cosine_neardup_pairs,
    )
    from tvbigdataproject_spark.sources import read_table

    emb = read_table(spark, SF_DIR, "embeddings")
    cent = emb.where(F.col("vec_id") < 8)
    surv = semdedup_survivors(emb, cent, threshold=0.3)
    joined = surv.join(
        emb.select("vec_id", "embedding"), "vec_id"
    )
    violations = cosine_neardup_pairs(
        joined, threshold=0.3, cell_col="cell"
    ).count()
    assert violations == 0


def test_assign_arrow_matches_hof_and_ties(spark):
    # the scan-local arrow argmax must reproduce the HOF reference's
    # assignment bit-for-bit, including the smallest-cid tie at vec 2
    emb = _mk_emb(spark, [[1, 0], [0, 1], [1, 1]])
    cent = emb.where(F.col("vec_id") < 2)
    got = {
        r.vec_id: r.cell
        for r in assign_nearest_centroid(emb, cent).collect()
    }
    assert got == _hof_argmax(emb, cent) == {0: 0, 1: 1, 2: 0}


def test_assign_arrow_matches_hof_on_corpus(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cent = emb.where(F.col("vec_id") < 8)
    arrow = {
        r.vec_id: r.cell
        for r in assign_nearest_centroid(emb.repartition(5), cent).collect()
    }
    assert arrow == _hof_argmax(emb, cent)


def test_assign_exact_at_160_centroids(spark):
    # the assignment is the exact argmax at any centroid count: 160
    # centroids on the sf0.001 corpus, any partitioning, against the
    # HOF reference; total, and every centroid assigns to itself
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cent = emb.where(F.col("vec_id") < 160)
    got = {
        r.vec_id: r.cell
        for r in assign_nearest_centroid(emb.repartition(7), cent).collect()
    }
    assert got == _hof_argmax(emb, cent)
    assert len(got) == emb.count()
    cent_ids = {r.vec_id for r in cent.select("vec_id").collect()}
    assert len(cent_ids) == 160
    assert all(got[cid] == cid for cid in cent_ids)


def test_assign_separated_clusters_stay_on_their_side(spark):
    # two orthogonal clusters of two centroids each: every point lands
    # in a cell of its own cluster
    def pt(axis, e2, e3):
        v = [0.0] * 4
        v[axis] = 1.0
        v[2] += e2
        v[3] += e3
        return v

    vecs = [
        pt(0, 0, 0),        # c0: cluster A
        pt(1, 0, 0),        # c1: cluster B
        pt(0, 0.05, 0),     # c2: cluster A
        pt(1, 0.05, 0),     # c3: cluster B
        pt(0, 0.01, 0.02),  # A points
        pt(0, -0.02, 0.01),
        pt(0, 0.04, 0.01),
        pt(1, 0.01, 0.02),  # B points
        pt(1, -0.02, 0.01),
        pt(1, 0.04, 0.01),
    ]
    emb = _mk_emb(spark, vecs)
    cent = emb.where(F.col("vec_id") < 4)
    flat = {
        r.vec_id: r.cell
        for r in assign_nearest_centroid(emb, cent).collect()
    }
    assert flat == _hof_argmax(emb, cent)
    assert {flat[i] for i in (4, 5, 6)} <= {0, 2}
    assert {flat[i] for i in (7, 8, 9)} <= {1, 3}
