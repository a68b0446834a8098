"""Integer-exact Lloyd k-means: bitwise equality vs a pure-Python
model, partitioning invariance, and the empty-cell carry rule; PQ
assignment and per-label dispersion against pure-Python models."""

from __future__ import annotations

import hashlib

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from tvbigdataproject_spark.operators.clustering import (
    QUANT_SCALE,
    kmeans_lloyd,
    quantize_vectors,
)

SF_DIR = "/root/testdata/sf0.001"


def _quant(v: np.ndarray) -> np.ndarray:
    # HALF_UP (away from zero), matching Spark round() and DuckDB round()
    x = v.astype(np.float64) * QUANT_SCALE
    return np.where(x >= 0, np.floor(x + 0.5), np.ceil(x - 0.5)).astype(
        np.int64
    )


def _py_kmeans(ids, vecs, k, iters):
    """Reference Lloyd in exact int space: md5 seeds, (dist, cell)
    tie-break, floor(sum/n) update, empty-cell carry."""
    q = {i: _quant(v) for i, v in zip(ids, vecs)}
    seed_ids = sorted(ids, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))[:k]
    cents = {c: q[i].copy() for c, i in enumerate(seed_ids)}

    def assign():
        out = {}
        for i in ids:
            best = min(
                (int(((q[i] - cv) ** 2).sum()), c) for c, cv in cents.items()
            )
            out[i] = best  # (dist, cell)
        return out

    for _ in range(iters):
        a = assign()
        for c in list(cents):
            members = [q[i] for i, (_, ci) in a.items() if ci == c]
            if members:
                s = np.sum(members, axis=0, dtype=np.int64)
                cents[c] = np.floor(
                    s.astype(np.float64) / len(members)
                ).astype(np.int64)
    return {i: (c, d) for i, (d, c) in assign().items()}


def test_kmeans_matches_python_model_bitwise(spark):
    t = pq.read_table(f"{SF_DIR}/embeddings.parquet")
    ids = t.column("vec_id").to_pylist()
    vecs = np.array(t.column("embedding").to_pylist(), dtype=np.float32)
    want = _py_kmeans(ids, vecs, k=8, iters=2)

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    got = {
        r.vec_id: (r.cell, r.dist_q)
        for r in kmeans_lloyd(emb, k=8, iters=2, dim=64).collect()
    }
    assert got == want


def test_kmeans_partitioning_invariant(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    base = sorted(
        map(tuple, kmeans_lloyd(emb, k=8, iters=2, dim=64).collect())
    )
    shuffled = sorted(
        map(
            tuple,
            kmeans_lloyd(emb.repartition(7), k=8, iters=2, dim=64).collect(),
        )
    )
    assert base == shuffled


def test_kmeans_empty_cell_keeps_previous_centroid(spark):
    # md5 seed order for ids {1,2,3} is [1, 2], and v1 == v2, so both
    # seed centroids are identical: round 1 assigns EVERY point to the
    # lower cell (tie-break), cell 1 goes empty and must carry (0,0);
    # round 2 then wins points 1,2 BACK to cell 1 (their distance to
    # the carried centroid is 0 < distance to cell 0's moved mean) —
    # the carry visibly changes the result, and the Python model
    # implements the same rule, so bitwise equality proves it
    rows = [
        (1, [0.0, 0.0]),
        (2, [0.0, 0.0]),
        (3, [0.5, 0.5]),
    ]
    ids = [r[0] for r in rows]
    vecs = np.array([r[1] for r in rows], dtype=np.float32)
    want = _py_kmeans(ids, vecs, k=2, iters=2)

    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        r.vec_id: (r.cell, r.dist_q)
        for r in kmeans_lloyd(df, k=2, iters=2, dim=2).collect()
    }
    assert got == want
    # the carried cell is genuinely used in the final assignment
    assert {c for c, _ in got.values()} == {0, 1}


def test_quantize_is_scan_local_and_exact(spark):
    df = spark.createDataFrame(
        [(1, [0.5, -0.5, 0.25])], "vec_id long, embedding array<float>"
    )
    q = quantize_vectors(df).select("qv").first().qv
    assert q == [QUANT_SCALE // 2, -(QUANT_SCALE // 2), QUANT_SCALE // 4]
    plan = quantize_vectors(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


# ---------------------------------------------------------------- DBSCAN


def _py_dbscan(ids, labels, vecs, threshold, min_pts):
    """Reference DBSCAN on the same-cell cosine relation, all floats as
    sequential left folds (the engine-portable order)."""
    def fold_dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + float(x) * float(y)
        return acc

    import math

    by_cell = {}
    for i, lb in zip(ids, labels):
        by_cell.setdefault(lb, []).append(i)
    vec = dict(zip(ids, vecs))
    nbrs = {i: set() for i in ids}
    for cell, members in by_cell.items():
        ms = sorted(members)
        for xi in range(len(ms)):
            for yi in range(xi + 1, len(ms)):
                a, b = ms[xi], ms[yi]
                cos = fold_dot(vec[a], vec[b]) / (
                    math.sqrt(fold_dot(vec[a], vec[a]))
                    * math.sqrt(fold_dot(vec[b], vec[b]))
                )
                if cos >= threshold:
                    nbrs[a].add(b)
                    nbrs[b].add(a)
    # inclusive neighborhood (sklearn min_samples): the point counts itself
    core = {i for i in ids if len(nbrs[i]) + 1 >= min_pts}
    # union-find over core-core edges
    parent = {i: i for i in core}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a in core:
        for b in nbrs[a]:
            if b in core:
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    cluster = {i: min(j for j in core if find(j) == find(i)) for i in core}
    out = {}
    for i in ids:
        if i in core:
            out[i] = ("core", cluster[i])
        else:
            cands = [cluster[j] for j in nbrs[i] if j in core]
            out[i] = ("border", min(cands)) if cands else ("noise", None)
    return out


def test_dbscan_matches_python_model(spark):
    import pyarrow.parquet as pq

    from tvbigdataproject_spark.operators.clustering import dbscan_cosine

    t = pq.read_table(f"{SF_DIR}/embeddings.parquet")
    ids = t.column("vec_id").to_pylist()
    labels = t.column("label").to_pylist()
    vecs = t.column("embedding").to_pylist()
    want = _py_dbscan(ids, labels, vecs, threshold=0.2, min_pts=4)

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    got = {
        r.vec_id: (r.role, r.cluster)
        for r in dbscan_cosine(emb, threshold=0.2, min_pts=4).collect()
    }
    assert got == want
    roles = [v[0] for v in got.values()]
    # the parameter choice must exercise all three roles
    assert {"core", "border", "noise"} <= set(roles) or len(ids) < 60


def test_dbscan_partitioning_invariance(spark):
    from tvbigdataproject_spark.operators.clustering import dbscan_cosine

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    base = sorted(
        map(tuple, dbscan_cosine(emb, threshold=0.2, min_pts=4).collect())
    )
    shuf = sorted(
        map(
            tuple,
            dbscan_cosine(
                emb.repartition(7), threshold=0.2, min_pts=4
            ).collect(),
        )
    )
    assert base == shuf


# ---------------------------------------------------------------------------
# Cell-blocking recall bounds (VERDICT r7 item 4): quantify how much of the
# TRUE eps-neighbor mass each blocking strategy keeps, against the unblocked
# relation computed with the SAME Spark kernel (so the only difference is the
# blocking — no float-convention noise at the threshold boundary).
# ---------------------------------------------------------------------------


def _pair_set(df):
    return set(map(tuple, df.select("vec_a", "vec_b").collect()))


def _py_probes(ids, vecs, k, p):
    """Reference multi-probe assignment: md5-seeded quantized centroids,
    exact integer distances, (d, cell) tie-break — the
    nearest_cells_quantized contract."""
    q = {i: _quant(np.asarray(v, dtype=np.float32)) for i, v in zip(ids, vecs)}
    seed_ids = sorted(
        ids, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i)
    )[:k]
    cents = {c: q[i] for c, i in enumerate(seed_ids)}
    out = {}
    for i in ids:
        ranked = sorted(
            (int(((q[i] - cv) ** 2).sum()), c) for c, cv in cents.items()
        )
        out[i] = [c for _, c in ranked[:p]]
    return out


def test_multiprobe_cells_match_python_model(spark):
    import pyarrow.parquet as pq

    from tvbigdataproject_spark.operators.similarity import (
        nearest_cells_quantized,
    )

    t = pq.read_table(f"{SF_DIR}/embeddings.parquet")
    ids = t.column("vec_id").to_pylist()
    vecs = t.column("embedding").to_pylist()
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")

    def probes(df, k):
        return {
            r.vec_id: list(r.cells)
            for r in nearest_cells_quantized(df, k=k, n_probes=2).collect()
        }

    # exact at every centroid count, 160 included
    for k in (16, 160):
        want = _py_probes(ids, vecs, k=k, p=2)
        assert probes(emb, k) == want, k
    # the probes are a pure function of the row
    assert probes(emb.repartition(7), 160) == want


def test_label_blocking_recall_is_the_sampling_floor(spark):
    """The testdata's `label` column carries NO cosine signal (within-
    cell and cross-cell cosine distributions are identical — measured
    2026-08-15: identical 50/90/99th percentiles 0.161/0.284), so
    same-label blocking keeps ~1/n_labels of the true neighbor mass:
    measured 657/6903 = 0.095 at threshold 0.2 with 10 labels. This
    test pins that floor so the dbscan_embeddings docstring's claim
    stays honest, and pins blocked ⊆ unblocked (blocking only ever
    REMOVES pairs)."""
    from pyspark.sql import functions as F

    from tvbigdataproject_spark.operators.similarity import (
        cosine_neardup_pairs,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    blocked = _pair_set(cosine_neardup_pairs(emb, threshold=0.2))
    unblocked = _pair_set(
        cosine_neardup_pairs(emb.withColumn("label", F.lit(0)), threshold=0.2)
    )
    assert blocked <= unblocked
    recall = len(blocked) / len(unblocked)
    # ~1/10 labels; band allows data regeneration jitter
    assert 0.05 < recall < 0.2, recall


def test_multiprobe_recall_beats_label_blocking(spark):
    """Geometric 16-cell 2-probe blocking on the SAME isotropic corpus:
    measured 0.423 pair recall at ~25% of the brute-force candidate
    count — 4.4x the label-blocking recall. (On isotropic data with a
    loose threshold the eps-graph is Theta(n^2) dense, so sub-quadratic
    blocking MUST lose mass; the point is that geometric cells lose
    far less per unit cost than geometry-blind cells.)"""
    from pyspark.sql import functions as F

    from tvbigdataproject_spark.operators.similarity import (
        cosine_neardup_pairs,
        cosine_pairs_multiprobe,
        nearest_cells_quantized,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    probed = nearest_cells_quantized(emb, k=16, n_probes=2)
    mp = _pair_set(cosine_pairs_multiprobe(probed, threshold=0.2))
    unblocked = _pair_set(
        cosine_neardup_pairs(emb.withColumn("label", F.lit(0)), threshold=0.2)
    )
    assert mp <= unblocked
    recall = len(mp) / len(unblocked)
    assert recall > 0.35, recall


def test_multiprobe_recall_high_on_clustered_data(spark):
    """The production regime: on geometrically CLUSTERED data (10 tight
    Gaussian bundles — where density clustering is meaningful at all),
    2 probes of 16 cells measure ~0.94 pair recall at far-sub-quadratic
    cost, and single-probe drops to ~0.69 — the multi-probe lever is
    what recovers the Voronoi-boundary neighbors."""
    from pyspark.sql import functions as F

    from tvbigdataproject_spark.operators.similarity import (
        cosine_neardup_pairs,
        cosine_pairs_multiprobe,
        nearest_cells_quantized,
    )

    rng = np.random.default_rng(7)
    centers = rng.normal(size=(10, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    X = np.repeat(centers, 40, axis=0) + rng.normal(scale=0.15, size=(400, 64))
    rows = [
        (int(i), [float(x) for x in X[i]]) for i in range(len(X))
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    unblocked = _pair_set(
        cosine_neardup_pairs(
            emb.withColumn("label", F.lit(0)), threshold=0.5
        )
    )
    p2 = _pair_set(
        cosine_pairs_multiprobe(
            nearest_cells_quantized(emb, k=16, n_probes=2), threshold=0.5
        )
    )
    p1 = _pair_set(
        cosine_pairs_multiprobe(
            nearest_cells_quantized(emb, k=16, n_probes=1), threshold=0.5
        )
    )
    assert p1 <= p2 <= unblocked
    r2 = len(p2) / len(unblocked)
    r1 = len(p1) / len(unblocked)
    assert r2 > 0.9, r2
    assert r1 < r2


def test_dbscan_multiprobe_partitioning_invariance(spark):
    from tvbigdataproject_spark.operators.clustering import dbscan_cosine
    from tvbigdataproject_spark.operators.similarity import (
        nearest_cells_quantized,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    probed = nearest_cells_quantized(emb, k=16, n_probes=2)
    base = sorted(
        map(
            tuple,
            dbscan_cosine(
                probed, threshold=0.2, min_pts=4, cells_col="cells"
            ).collect(),
        )
    )
    shuf = sorted(
        map(
            tuple,
            dbscan_cosine(
                probed.repartition(7), threshold=0.2, min_pts=4, cells_col="cells"
            ).collect(),
        )
    )
    assert base == shuf


# ------------------------------------------------------------------ PQ


def test_pq_assign_matches_python_model(spark):
    from tvbigdataproject_spark.operators.clustering import (
        QUANT_SCALE,
        pq_assign,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    rows = emb.select("vec_id", "embedding").collect()

    def half_away(v: float) -> int:
        # Spark HALF_UP / DuckDB round(): half away from zero —
        # Python's round() is half-EVEN and disagrees on exact ties
        import math

        return int(math.copysign(math.floor(abs(v) + 0.5), v))

    qv = {
        r.vec_id: [
            half_away(float(x) * QUANT_SCALE) for x in r.embedding
        ]
        for r in rows
    }

    def md5key(i):
        return (hashlib.md5(str(i).encode()).hexdigest(), i)

    seeds = sorted(qv, key=md5key)[:16]
    books = [qv[i] for i in seeds]  # codeword id = md5 rank

    def assign(v):
        codes, errs = [], []
        for s in range(4):
            lo = s * 16
            best = min(
                (
                    (
                        sum(
                            (v[j] - cw[j]) ** 2
                            for j in range(lo, lo + 16)
                        ),
                        ci,
                    )
                    for ci, cw in enumerate(books)
                ),
            )
            errs.append(best[0])
            codes.append(best[1])
        return codes, sum(errs)

    got = {
        r.vec_id: ((r.code0, r.code1, r.code2, r.code3), r.err_total)
        for r in pq_assign(emb).collect()
    }
    assert len(got) == len(qv)
    for vid, v in qv.items():
        codes, err = assign(v)
        assert got[vid] == (tuple(codes), err), vid


def test_pq_assign_invariant_to_partitioning(spark):
    from tvbigdataproject_spark.operators.clustering import pq_assign

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    a = sorted(map(tuple, pq_assign(emb).collect()))
    b = sorted(map(tuple, pq_assign(emb.repartition(7)).collect()))
    assert a == b


# -------------------------------------------- label dispersion


def test_label_dispersion_matches_python(spark):
    from tvbigdataproject_spark.queries.registry import REGISTRY

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").collect()
    by_label: dict = {}
    for r in emb:
        q = [int(_half_away(float(x) * (1 << 20))) for x in r.embedding]
        by_label.setdefault(r.label, []).append(q)
    want = {}
    for lb, vecs in by_label.items():
        n = len(vecs)
        cent = [
            int(__import__("math").floor(sum(v[i] for v in vecs) / n))
            for i in range(64)
        ]
        tot = sum(
            sum((v[i] - cent[i]) ** 2 for i in range(64)) for v in vecs
        )
        want[lb] = (n, tot, tot // n)
    got = {
        r.label: (r.n, r.total_disp, r.avg_disp)
        for r in REGISTRY["embed_label_dispersion"].fn(spark, SF_DIR).collect()
    }
    assert got == want


def _half_away(v: float) -> int:
    import math

    return int(math.copysign(math.floor(abs(v) + 0.5), v))
