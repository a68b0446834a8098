"""Semantics tests for the round-7 additions: SCD2 build, bigram-LM
document scoring, and SemDeDup semantic pruning — hand-verifiable
micro-fixtures (the full-corpus value gate is check_parity)."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from tvbigdataproject_spark.operators.similarity import (
    assign_nearest_centroid,
    semdedup_survivors,
)
from tvbigdataproject_spark.queries.llm_ops10 import lm_bigram_doc_scores
from tvbigdataproject_spark.queries.scd import scd2_user_state

SF_DIR = "/root/testdata/sf0.001"


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
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cent = emb.where(F.col("vec_id") < 8)
    arrow = {
        r.vec_id: r.cell
        for r in assign_nearest_centroid(emb.repartition(5), cent).collect()
    }
    assert arrow == _hof_argmax(emb, cent)


def test_assign_two_level_invariants(spark, monkeypatch):
    # two-level routing is approximate vs flat but must stay total,
    # deterministic under repartitioning, and self-assign centroids
    from tvbigdataproject_spark.operators import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cent = emb.where(F.col("vec_id") < 32)
    # the routed path below its crossover: the threshold at k
    monkeypatch.setattr(similarity, "_TWO_LEVEL_K", 32)
    a = {
        r.vec_id: r.cell
        for r in assign_nearest_centroid(emb, cent).collect()
    }
    b = {
        r.vec_id: r.cell
        for r in assign_nearest_centroid(emb.repartition(7), cent).collect()
    }
    assert a == b
    assert len(a) == emb.count()
    cent_ids = {r.vec_id for r in cent.select("vec_id").collect()}
    assert set(a.values()) <= cent_ids
    # every centroid is a member of its own leader's group, so it
    # self-assigns at cos = 1
    for cid in cent_ids:
        assert a[cid] == cid


def test_assign_two_level_matches_flat_on_separated_clusters(spark, monkeypatch):
    # two orthogonal clusters whose LEADERS (the first two centroids)
    # are one per cluster: routing = cluster pick (cos ~1 vs ~0), and
    # each group holds exactly its cluster's centroids, so the
    # hierarchical answer equals the flat argmax on every point
    from tvbigdataproject_spark.operators import similarity

    def pt(axis, e2, e3):
        v = [0.0] * 4
        v[axis] = 1.0
        v[2] += e2
        v[3] += e3
        return v

    vecs = [
        pt(0, 0, 0),        # c0: cluster-A leader
        pt(1, 0, 0),        # c1: cluster-B leader
        pt(0, 0.05, 0),     # c2: A member, routes to c0
        pt(1, 0.05, 0),     # c3: B member, routes to c1
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
    monkeypatch.setattr(similarity, "_TWO_LEVEL_K", 4)
    routed = {
        r.vec_id: r.cell
        for r in assign_nearest_centroid(emb, cent).collect()
    }
    assert routed == flat
    # sanity: the clusters really split across cells of their own side
    assert {flat[i] for i in (4, 5, 6)} <= {0, 2}
    assert {flat[i] for i in (7, 8, 9)} <= {1, 3}
