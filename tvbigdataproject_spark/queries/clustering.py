"""Value-hash-exact k-means over the embeddings table.

kmeans_lloyd_assign runs operators/clustering.py::kmeans_lloyd — 2
synchronous Lloyd rounds, 8 md5-seeded centroids, all arithmetic in
exact BIGINT space — and the oracle replays both rounds as unrolled
SQL (the pagerank/LPA bounded-round discipline). This upgrades
clustering from the learned-IVF tier's rows-only/recall checks to full
bitwise parity: assignment, tie-breaks, the floor(sum/n) centroid
update, and the empty-cell carry are all pinned.
"""

from __future__ import annotations

from tvbigdataproject_spark.operators.clustering import (
    QUANT_SCALE,
    kmeans_lloyd,
    pq_assign,
)
from tvbigdataproject_spark.queries.embeddings import (
    _DOT as _E_DOT,
    _NORM_A as _E_NORM_A,
    _NORM_B as _E_NORM_B,
)
from tvbigdataproject_spark.queries.registry import query
from tvbigdataproject_spark.sources import read_table

_K = 8
_ITERS = 2
_DIM = 64


def _sq_dist(q: str, c: str) -> str:
    # integer squared distance, 1-indexed DuckDB lists; BIGINT exact
    return " + ".join(
        f"({q}[{i}] - {c}[{i}]) * ({q}[{i}] - {c}[{i}])"
        for i in range(1, _DIM + 1)
    )


def _assign_cte(src_q: str, cent: str, out: str) -> str:
    return f"""
    s_{out} AS (
        SELECT q.vec_id, q.qv, c.cell, {_sq_dist('q.qv', 'c.cv')} AS d
        FROM {src_q} q CROSS JOIN {cent} c
    ),
    {out} AS (
        SELECT vec_id, qv, cell, d FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                         ORDER BY d, cell) AS rn
            FROM s_{out}
        ) WHERE rn = 1
    )"""


def _update_cte(assign: str, prev_cent: str, out: str) -> str:
    sums = ", ".join(f"SUM(qv[{i}]) AS s{i}" for i in range(1, _DIM + 1))
    new_cv = ", ".join(
        f"CAST(floor(u.s{i}::DOUBLE / u.n) AS BIGINT)"
        for i in range(1, _DIM + 1)
    )
    return f"""
    u_{out} AS (
        SELECT cell, COUNT(*) AS n, {sums} FROM {assign} GROUP BY cell
    ),
    {out} AS (
        SELECT p.cell,
               CASE WHEN u.cell IS NULL THEN p.cv
                    ELSE [{new_cv}] END AS cv
        FROM {prev_cent} p LEFT JOIN u_{out} u ON p.cell = u.cell
    )"""


# the 2-round Lloyd pipeline up to the FINAL centroids (c2): shared by
# the assignment oracle (one more argmin pass) and the silhouette
# oracle (top-2 distances against the same centroids)
_KMEANS_CTES = f"""q0 AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(round(x::DOUBLE * {QUANT_SCALE}.0) AS BIGINT))
                   AS qv
        FROM embeddings
    ),
    c0 AS (
        SELECT CAST(ROW_NUMBER() OVER (
                   ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1
               AS INT) AS cell,
               qv AS cv
        FROM q0
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
        LIMIT {_K}
    ),{_assign_cte('q0', 'c0', 'a1')},{_update_cte('a1', 'c0', 'c1')},
    {_assign_cte('q0', 'c1', 'a2')},{_update_cte('a2', 'c1', 'c2')}"""

_KMEANS_SQL = f"""
    WITH {_KMEANS_CTES},
    {_assign_cte('q0', 'c2', 'a3')}
    SELECT vec_id, cell, d AS dist_q FROM a3
"""


@query(
    "kmeans_lloyd_assign",
    sql=_KMEANS_SQL,
    tags=("embeddings", "clustering", "iterative"),
)
def kmeans_lloyd_assign(spark, sf_dir):
    """Final (vec_id, cell, dist_q) after exactly 2 Lloyd rounds from
    8 md5-seeded centroids over the embeddings table — the exact-
    arithmetic clustering primitive a curation pipeline feeds SemDeDup
    or cluster-balanced mixture sampling.

    Scale shape: per round one corpus scan (assignment is a broadcast
    of ONE packed centroid row, argmin scan-local) + a 64-column
    map-side-partial aggregation whose shuffle is k rows per partition;
    centroids localCheckpoint with tracked release. The corpus itself
    never shuffles and is never cached. See
    operators/clustering.py::kmeans_lloyd.
    """
    emb = read_table(spark, sf_dir, "embeddings")
    return kmeans_lloyd(emb, k=_K, iters=_ITERS, dim=_DIM)


_T = 0.2        # cosine eps-neighborhood (NOTE: the label column carries no
                # cosine signal — same-label blocking is the ~1/10 sampling
                # floor measured in tests/test_clustering.py; the geometric
                # path is dbscan_kmeans_cells below)
_MIN_PTS = 4


@query(
    "dbscan_embeddings",
    sql=f"""
    WITH RECURSIVE
    pairs AS MATERIALIZED (
        SELECT a.vec_id AS va, b.vec_id AS vb
        FROM embeddings a JOIN embeddings b
          ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE ({_E_DOT}) / ({_E_NORM_A} * {_E_NORM_B}) >= {_T}
    ),
    nbrs AS MATERIALIZED (
        SELECT va AS nd, vb AS ot FROM pairs
        UNION ALL
        SELECT vb, va FROM pairs
    ),
    core AS MATERIALIZED (SELECT nd FROM nbrs GROUP BY nd HAVING count(*) + 1 >= {_MIN_PTS}),
    ce AS MATERIALIZED (
        SELECT n.nd AS a, n.ot AS b
        FROM nbrs n
        JOIN core c1 ON n.nd = c1.nd
        JOIN core c2 ON n.ot = c2.nd
    ),
    lab(node, label) AS (
        SELECT nd, nd FROM core
        UNION
        SELECT ce.a, lab.label FROM ce JOIN lab ON lab.node = ce.b
    ),
    clusters AS MATERIALIZED (SELECT node, min(label) AS cluster FROM lab GROUP BY node),
    border AS MATERIALIZED (
        SELECT n.nd AS node, min(c.cluster) AS cluster
        FROM nbrs n JOIN clusters c ON n.ot = c.node
        WHERE n.nd NOT IN (SELECT nd FROM core)
        GROUP BY n.nd
    )
    SELECT e.vec_id,
           CASE WHEN cl.node IS NOT NULL THEN 'core'
                WHEN b.node IS NOT NULL THEN 'border'
                ELSE 'noise' END AS role,
           COALESCE(cl.cluster, b.cluster) AS cluster
    FROM embeddings e
    LEFT JOIN clusters cl ON e.vec_id = cl.node
    LEFT JOIN border b ON e.vec_id = b.node
    """,
    tags=("embeddings", "clustering", "dedup"),
)
def dbscan_embeddings(spark, sf_dir):
    """Distributed DBSCAN over the embeddings table (cosine >= 0.2
    within the coarse cell, min_pts 4 under the classic INCLUSIVE
    neighborhood convention — the point counts itself, sklearn's
    min_samples semantics): every vector tagged core/border/noise with
    its density-connected cluster id (minimum core vec_id). Border
    points pin to the MINIMUM neighboring core cluster so the classic
    scan-order ambiguity is gone and the whole partition replays in
    the recursive-CTE oracle.

    Scale path: the only quadratic step is the cell-blocked salted pair
    join (embed_neardup_pairs' guarded plan); the iterative component
    step runs on core-core edges only. Reference's dedup surface has no
    density clustering — this is part of the beyond-reference LLM-data
    tier (cluster-then-filter corpus curation).
    """
    from tvbigdataproject_spark.operators.clustering import dbscan_cosine

    emb = read_table(spark, sf_dir, "embeddings")
    return dbscan_cosine(emb, threshold=_T, min_pts=_MIN_PTS)


_MP_CELLS = 16
_MP_PROBES = 2


@query(
    "dbscan_kmeans_cells",
    sql=f"""
    WITH RECURSIVE
    q0 AS MATERIALIZED (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(round(x::DOUBLE * {QUANT_SCALE}.0) AS BIGINT))
                   AS qv
        FROM embeddings
    ),
    seeds AS MATERIALIZED (
        SELECT CAST(ROW_NUMBER() OVER (
                   ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1
               AS INT) AS cell,
               qv AS cv
        FROM q0
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
        LIMIT {_MP_CELLS}
    ),
    probes AS MATERIALIZED (
        SELECT vec_id, cell FROM (
            SELECT v.vec_id, s.cell,
                   ROW_NUMBER() OVER (PARTITION BY v.vec_id
                                      ORDER BY {_sq_dist('v.qv', 's.cv')},
                                               s.cell) AS rn
            FROM q0 v CROSS JOIN seeds s
        ) WHERE rn <= {_MP_PROBES}
    ),
    cand AS MATERIALIZED (
        SELECT DISTINCT pa.vec_id AS va, pb.vec_id AS vb
        FROM probes pa JOIN probes pb
          ON pa.cell = pb.cell AND pa.vec_id < pb.vec_id
    ),
    pairs AS MATERIALIZED (
        SELECT c.va, c.vb FROM cand c
        JOIN embeddings a ON a.vec_id = c.va
        JOIN embeddings b ON b.vec_id = c.vb
        WHERE ({_E_DOT}) / ({_E_NORM_A} * {_E_NORM_B}) >= {_T}
    ),
    nbrs AS MATERIALIZED (
        SELECT va AS nd, vb AS ot FROM pairs
        UNION ALL
        SELECT vb, va FROM pairs
    ),
    core AS MATERIALIZED (SELECT nd FROM nbrs GROUP BY nd HAVING count(*) + 1 >= {_MIN_PTS}),
    ce AS MATERIALIZED (
        SELECT n.nd AS a, n.ot AS b
        FROM nbrs n
        JOIN core c1 ON n.nd = c1.nd
        JOIN core c2 ON n.ot = c2.nd
    ),
    lab(node, label) AS (
        SELECT nd, nd FROM core
        UNION
        SELECT ce.a, lab.label FROM ce JOIN lab ON lab.node = ce.b
    ),
    clusters AS MATERIALIZED (SELECT node, min(label) AS cluster FROM lab GROUP BY node),
    border AS MATERIALIZED (
        SELECT n.nd AS node, min(c.cluster) AS cluster
        FROM nbrs n JOIN clusters c ON n.ot = c.node
        WHERE n.nd NOT IN (SELECT nd FROM core)
        GROUP BY n.nd
    )
    SELECT e.vec_id,
           CASE WHEN cl.node IS NOT NULL THEN 'core'
                WHEN b.node IS NOT NULL THEN 'border'
                ELSE 'noise' END AS role,
           COALESCE(cl.cluster, b.cluster) AS cluster
    FROM embeddings e
    LEFT JOIN clusters cl ON e.vec_id = cl.node
    LEFT JOIN border b ON e.vec_id = b.node
    """,
    tags=("embeddings", "clustering", "dedup"),
)
def dbscan_kmeans_cells(spark, sf_dir):
    """DBSCAN over GEOMETRIC multi-probe cells — the production
    blocking path. dbscan_embeddings blocks by the ``label`` column,
    which on this corpus carries no cosine signal (within-cell and
    cross-cell cosine distributions are identical — measured in
    tests/test_clustering.py — so label-blocking keeps ~1/cells of the
    true neighbor mass). Here every vector is assigned its 2 nearest
    of 16 md5-seeded IVF cells by exact integer distance
    (nearest_cells_quantized) and a pair is a candidate when the two
    vectors share ANY probed cell — the standard IVF multi-probe
    recall lever (0.94 measured pair recall on geometrically
    clustered data; 4.4x the label-blocking recall at comparable cost
    on this isotropic corpus).

    Scale shape: assignment is a one-row packed-centroid broadcast
    (corpus never shuffles), every vector scored against all 16 cells,
    so its probes are the exact 2 nearest; candidates ride the salted
    AQE-proof shuffle-hash pair join, deduped scan-locally by the
    min-shared-cell rule (no DISTINCT shuffle on the Spark side — the
    oracle's DISTINCT is the same set by construction); components run on
    core-core edges only.
    """
    from tvbigdataproject_spark.operators.clustering import dbscan_cosine
    from tvbigdataproject_spark.operators.similarity import (
        nearest_cells_quantized,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    probed = nearest_cells_quantized(
        emb, k=_MP_CELLS, n_probes=_MP_PROBES
    )
    return dbscan_cosine(
        probed, threshold=_T, min_pts=_MIN_PTS, cells_col="cells"
    )


_PQ_SUB = 4
_PQ_CODES = 16
_PQ_SUBDIM = _DIM // _PQ_SUB


def _pq_sub_dist(s: int) -> str:
    lo = s * _PQ_SUBDIM + 1
    return " + ".join(
        f"(v.qv[{i}] - s.cv[{i}]) * (v.qv[{i}] - s.cv[{i}])"
        for i in range(lo, lo + _PQ_SUBDIM)
    )


def _pq_code_cte(s: int) -> str:
    return f"""
    k{s} AS (
        SELECT vec_id, cw AS code{s}, d AS err{s} FROM (
            SELECT v.vec_id, s.cw, {_pq_sub_dist(s)} AS d,
                   ROW_NUMBER() OVER (PARTITION BY v.vec_id
                                      ORDER BY {_pq_sub_dist(s)}, s.cw)
                       AS rn
            FROM qp v CROSS JOIN seeds s
        ) WHERE rn = 1
    )"""


_PQ_SQL = f"""
    WITH qp AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(round(x::DOUBLE * {QUANT_SCALE}.0) AS BIGINT))
                   AS qv
        FROM embeddings
    ),
    seeds AS MATERIALIZED (
        SELECT CAST(ROW_NUMBER() OVER (
                   ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1
               AS INT) AS cw,
               qv AS cv
        FROM qp
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
        LIMIT {_PQ_CODES}
    ),{','.join(_pq_code_cte(s) for s in range(_PQ_SUB))}
    SELECT k0.vec_id, code0, code1, code2, code3,
           CAST(err0 + err1 + err2 + err3 AS BIGINT) AS err_total
    FROM k0
    JOIN k1 USING (vec_id) JOIN k2 USING (vec_id) JOIN k3 USING (vec_id)
"""


@query(
    "embed_pq_codes",
    sql=_PQ_SQL,
    tags=("embeddings", "clustering", "quantization"),
)
def embed_pq_codes(spark, sf_dir):
    """Product-quantization codes for every embedding: 4 subspaces of
    16 dims, each encoded against a 16-entry md5-seeded codebook by
    exact integer squared distance (ties -> lower codeword id), plus
    the total quantization error — the compression step of an IVF-PQ
    ANN index, which replaces a 64x32-bit vector by four 4-bit codes
    (embed_quantize_int8 is the scalar tier; PQ is the product tier
    real indexes ship).

    Scale shape: ONE broadcast one-row packed codebook against a corpus
    scan; per-row work is four 16-codeword HOF argmins, all JVM-side.
    The corpus never shuffles. See operators/clustering.py::pq_assign.
    """
    emb = read_table(spark, sf_dir, "embeddings")
    return pq_assign(
        emb, n_sub=_PQ_SUB, n_codes=_PQ_CODES, dim=_DIM
    )


_SIL_SCALE = 1 << 20  # dyadic: s * 2^20 floors identically both engines


@query(
    "silhouette_kmeans_cells",
    sql=f"""
    WITH {_KMEANS_CTES},
    s_f AS (
        SELECT q.vec_id, c.cell, {_sq_dist('q.qv', 'c.cv')} AS d
        FROM q0 q CROSS JOIN c2 c
    ),
    r AS (
        SELECT vec_id, cell, d,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY d, cell) AS rn
        FROM s_f
    ),
    ab AS (
        SELECT r1.vec_id, r1.cell,
               sqrt(CAST(r1.d AS DOUBLE)) AS a,
               sqrt(CAST(r2.d AS DOUBLE)) AS b
        FROM r r1 JOIN r r2
          ON r1.vec_id = r2.vec_id AND r1.rn = 1 AND r2.rn = 2
    ),
    s AS (
        SELECT cell,
               CAST(floor(CASE WHEN greatest(a, b) > 0
                               THEN (b - a) / greatest(a, b)
                               ELSE 0.0 END * {_SIL_SCALE}.0) AS BIGINT)
                   AS s_scaled
        FROM ab
    )
    SELECT CAST(cell AS INT) AS cell, COUNT(*) AS n,
           CAST(SUM(s_scaled) AS BIGINT) AS sum_s_scaled,
           CAST(SUM(s_scaled) AS DOUBLE) / (COUNT(*) * {_SIL_SCALE}.0)
               AS mean_silhouette
    FROM s GROUP BY cell ORDER BY cell
    """,
    tags=("embeddings", "clustering", "dq"),
)
def silhouette_kmeans_cells(spark, sf_dir):
    """Per-cell SIMPLIFIED silhouette of the 2-round Lloyd clustering —
    the quality number that says whether a cell is a coherent cluster
    (near 1) or an arbitrary slice of space (near 0) before a pipeline
    trusts it for SemDeDup pruning or mixture balancing. Simplified
    silhouette (Hruschka et al.): a = distance to OWN centroid, b =
    distance to the nearest OTHER centroid, s = (b-a)/max(a,b) — the
    O(N*k) centroid form of the O(N^2) classic, the only form that
    scales.

    Exactness: squared distances are exact BIGINTs against the SAME
    final centroids kmeans_lloyd assigns with
    (kmeans_lloyd_centroids); a, b, and s are fixed row-local double
    expressions; per-row s is floored to 2^20-scaled integers BEFORE
    aggregation so the per-cell sums are order-free (the established
    scaled-integer convention — summing raw doubles would be
    partitioning-dependent).

    Scale shape: one-row packed-centroid broadcast against a corpus
    scan (the kmeans assignment shape) + one k-row aggregation. The
    corpus never shuffles.
    """
    from pyspark.sql import functions as F

    from tvbigdataproject_spark.operators.clustering import (
        kmeans_lloyd_centroids,
        quantize_vectors,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    quant = quantize_vectors(emb).select("vec_id", "qv")
    packed = kmeans_lloyd_centroids(emb, k=_K, iters=_ITERS, dim=_DIM)
    dist_of = lambda c: F.aggregate(  # noqa: E731
        F.zip_with(F.col("qv"), c["cv"], lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    top2 = F.slice(
        F.sort_array(
            F.transform(
                F.col("cents"),
                lambda c: F.struct(dist_of(c).alias("d"), c["cell"].alias("cell")),
            )
        ),
        1,
        2,
    )
    ab = (
        quant.crossJoin(F.broadcast(packed))
        .withColumn("_t2", top2)
        .select(
            "vec_id",
            F.col("_t2")[0]["cell"].alias("cell"),
            F.sqrt(F.col("_t2")[0]["d"].cast("double")).alias("a"),
            F.sqrt(F.col("_t2")[1]["d"].cast("double")).alias("b"),
        )
    )
    s = ab.select(
        "cell",
        F.floor(
            F.when(
                F.greatest("a", "b") > 0,
                (F.col("b") - F.col("a")) / F.greatest("a", "b"),
            )
            .otherwise(0.0)
            * F.lit(float(_SIL_SCALE))
        )
        .cast("long")
        .alias("s_scaled"),
    )
    return (
        s.groupBy(F.col("cell").cast("int").alias("cell"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("s_scaled").cast("long").alias("sum_s_scaled"),
        )
        .select(
            "cell",
            "n",
            "sum_s_scaled",
            (
                F.col("sum_s_scaled").cast("double")
                / (F.col("n") * F.lit(float(_SIL_SCALE)))
            ).alias("mean_silhouette"),
        )
        .orderBy("cell")
    )


_ADC_PROBES = 5
_ADC_K = 5


def _adc_dist(s: int) -> str:
    lo = s * _PQ_SUBDIM + 1
    return " + ".join(
        f"(p.qv[{i}] - s{s}.cv[{i}]) * (p.qv[{i}] - s{s}.cv[{i}])"
        for i in range(lo, lo + _PQ_SUBDIM)
    )


# shared WITH-body for the ADC search and its recall audit
_ADC_CTES = f"""qp AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(round(x::DOUBLE * {QUANT_SCALE}.0) AS BIGINT))
                   AS qv
        FROM embeddings
    ),
    seeds AS MATERIALIZED (
        SELECT CAST(ROW_NUMBER() OVER (
                   ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1
               AS INT) AS cw,
               qv AS cv
        FROM qp
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
        LIMIT {_PQ_CODES}
    ),{','.join(_pq_code_cte(s) for s in range(_PQ_SUB))},
    codes AS MATERIALIZED (
        SELECT k0.vec_id, code0, code1, code2, code3
        FROM k0 JOIN k1 USING (vec_id) JOIN k2 USING (vec_id)
        JOIN k3 USING (vec_id)
    ),
    probes AS (
        SELECT vec_id AS q_vec_id, qv FROM qp WHERE vec_id < {_ADC_PROBES}
    ),
    scored AS (
        SELECT p.q_vec_id, c.vec_id,
               CAST({' + '.join(f'({_adc_dist(s)})' for s in range(_PQ_SUB))}
                    AS BIGINT) AS adc
        FROM codes c
        CROSS JOIN probes p
        JOIN seeds s0 ON s0.cw = c.code0
        JOIN seeds s1 ON s1.cw = c.code1
        JOIN seeds s2 ON s2.cw = c.code2
        JOIN seeds s3 ON s3.cw = c.code3
        WHERE c.vec_id <> p.q_vec_id
    )"""

_ADC_SQL = f"""
    WITH {_ADC_CTES}
    SELECT q_vec_id, vec_id, adc, rn FROM (
        SELECT q_vec_id, vec_id, adc,
               ROW_NUMBER() OVER (PARTITION BY q_vec_id
                                  ORDER BY adc, vec_id) AS rn
        FROM scored
    ) WHERE rn <= {_ADC_K}
"""


@query(
    "embed_pq_adc_topk",
    sql=_ADC_SQL,
    tags=("embeddings", "ann", "quantization"),
)
def embed_pq_adc_topk(spark, sf_dir):
    """PQ asymmetric-distance top-5 for 5 probe vectors — the SEARCH
    half of the PQ index whose BUILD half is embed_pq_codes: each probe
    precomputes a 4x16 integer LUT of subspace distances to the shared
    md5-seeded codebook, and every corpus candidate is scored by four
    LUT lookups over its codes (never a 64-dim arithmetic pass).

    This is the production ANN read path at 100 TB: the scan touches
    4 ints per vector instead of 64 floats, the LUT build is bounded by
    the probe set, and the only shuffle is the per-probe top-k. The
    md5-seeded codebook keeps the whole search — quantization, encode,
    LUT, ADC sum, tie order — integer-exact and replayed verbatim by
    the DuckDB oracle (a trained codebook would be Spark-internal;
    recall-vs-exact for that tier lives in quantize_recall_topk).
    """
    from pyspark.sql import functions as F

    from tvbigdataproject_spark.operators.clustering import pq_adc_topk

    emb = read_table(spark, sf_dir, "embeddings")
    return pq_adc_topk(
        emb,
        emb.where(F.col("vec_id") < _ADC_PROBES),
        k=_ADC_K,
        n_sub=_PQ_SUB,
        n_codes=_PQ_CODES,
        dim=_DIM,
    )


def _exact_qdist() -> str:
    return " + ".join(
        f"(p.qv[{i}] - v.qv[{i}]) * (p.qv[{i}] - v.qv[{i}])"
        for i in range(1, _DIM + 1)
    )


_ADC_RECALL_SQL = f"""
    WITH {_ADC_CTES},
    ranked AS (
        SELECT q_vec_id, vec_id FROM (
            SELECT q_vec_id, vec_id,
                   ROW_NUMBER() OVER (PARTITION BY q_vec_id
                                      ORDER BY adc, vec_id) AS rn
            FROM scored
        ) WHERE rn <= {_ADC_K}
    ),
    exact AS (
        SELECT q_vec_id, vec_id FROM (
            SELECT p.q_vec_id, v.vec_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY p.q_vec_id
                       ORDER BY {_exact_qdist()}, v.vec_id) AS rn
            FROM qp v CROSS JOIN probes p
            WHERE v.vec_id <> p.q_vec_id
        ) WHERE rn <= {_ADC_K}
    )
    SELECT r.q_vec_id,
           CAST(COUNT(e.vec_id) AS BIGINT) AS n_hits,
           1000000 * COUNT(e.vec_id) // {_ADC_K} AS recall_ppm
    FROM ranked r
    LEFT JOIN exact e
      ON e.q_vec_id = r.q_vec_id AND e.vec_id = r.vec_id
    GROUP BY r.q_vec_id
"""


@query(
    "adc_recall_eval",
    sql=_ADC_RECALL_SQL,
    tags=("embeddings", "ann", "evaluation"),
)
def adc_recall_eval(spark, sf_dir):
    """Recall@5 of the PQ ADC search against the EXACT quantized-space
    top-5 per probe — the honesty audit every compressed index owes its
    users (quantize_recall_topk is the int8 scalar tier's; this is the
    product tier's). Both rankings are integer-exact with deterministic
    ties, so hits and the ppm recall replay bitwise in the oracle.

    Scale shape: the ADC side is the 4-ints-per-vector scan; the exact
    side is the brute quantized sweep over the bounded probe set (the
    embed_cosine_topk rationale — it exists to measure the ADC side,
    not to run at 100 TB).
    """
    from pyspark.sql import functions as F

    from tvbigdataproject_spark.operators.clustering import (
        pq_adc_topk,
        quantize_vectors,
    )
    from pyspark.sql import Window

    emb = read_table(spark, sf_dir, "embeddings")
    probes_df = emb.where(F.col("vec_id") < _ADC_PROBES)
    adc = pq_adc_topk(
        emb, probes_df, k=_ADC_K, n_sub=_PQ_SUB, n_codes=_PQ_CODES, dim=_DIM
    ).select("q_vec_id", "vec_id")

    qv = quantize_vectors(emb, "embedding").select("vec_id", "qv")
    pv = quantize_vectors(probes_df, "embedding").select(
        F.col("vec_id").alias("q_vec_id"), F.col("qv").alias("pqv")
    )
    d = F.aggregate(
        F.zip_with(
            F.col("qv"), F.col("pqv"), lambda a, b: (a - b) * (a - b)
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("q_vec_id").orderBy("d", "vec_id")
    exact = (
        qv.crossJoin(F.broadcast(pv))
        .where(F.col("vec_id") != F.col("q_vec_id"))
        .select("q_vec_id", "vec_id", d.alias("d"))
        .select(
            "q_vec_id", "vec_id", F.row_number().over(w).alias("rn")
        )
        .where(F.col("rn") <= _ADC_K)
        .select("q_vec_id", "vec_id")
    )
    hits = adc.join(
        exact.withColumn("_hit", F.lit(1)), ["q_vec_id", "vec_id"], "left"
    )
    return hits.groupBy("q_vec_id").agg(
        F.sum(F.coalesce("_hit", F.lit(0))).cast("long").alias("n_hits")
    ).select(
        "q_vec_id",
        "n_hits",
        F.expr(f"1000000 * n_hits div {_ADC_K}").alias("recall_ppm"),
    )
