"""Round-9 embeddings batch 3: exact covariance structure.

embed_covariance_pairs — the full upper-triangle covariance matrix of
the embedding corpus (2080 pairs at dim 64), computed the way a 100 TB
corpus has to compute it: each partition collapses its rows to ONE
(dim x dim) integer Gram matrix with a vectorized int64 matmul inside
mapInPandas, and only those 2145-row partials shuffle. The naive
posexplode + self-join form shuffles N * dim^2 rows — six orders of
magnitude more traffic at any interesting N — and is exactly the shape
the SemDeDup ladder measured super-linear.

Covariance is the embedding-health object one level up from
embed_dim_profile's per-dimension variances: off-diagonal mass is what
whitening / PCA / matryoshka truncation decisions read (a pair of
highly covariant dimensions is redundant capacity; a block of them is
a rotated subspace).

Cross-engine exactness: the fixed-point convention of
embed_dim_profile (milli units: FLOOR(float-widened * 1000) — exact
IEEE in both engines); every Gram sum is an exact int64 (numpy int64
matmul partials; products ~1e8, partition sums ~1e13); the covariance
is the identical double expression over agreed integers in both
engines.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tvbigdataproject_spark.operators.materialize import checkpoint
from tvbigdataproject_spark.queries.registry import query
from tvbigdataproject_spark.sources import read_table

_CV_DIM = 64
_CV_SCALE = 1000


@query(
    "embed_covariance_pairs",
    sql=f"""
    WITH m AS (
        SELECT vec_id, t.i AS i,
               CAST(FLOOR(embedding[t.i]::DOUBLE * {_CV_SCALE}) AS BIGINT)
                   AS v
        FROM embeddings, UNNEST(range(1, {_CV_DIM + 1})) AS t(i)
    ),
    p AS (
        SELECT a.i AS i, b.i AS j, CAST(SUM(a.v * b.v) AS BIGINT) AS s
        FROM m a JOIN m b ON a.vec_id = b.vec_id AND a.i <= b.i
        GROUP BY 1, 2
    ),
    d AS (SELECT i, CAST(SUM(v) AS BIGINT) AS si FROM m GROUP BY 1),
    t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings)
    SELECT p.i, p.j, t.n, p.s, da.si AS si, db.si AS sj,
           CAST(p.s AS DOUBLE) / t.n
               - (CAST(da.si AS DOUBLE) / t.n)
                 * (CAST(db.si AS DOUBLE) / t.n) AS cov_milli2
    FROM p
    JOIN d da ON da.i = p.i
    JOIN d db ON db.i = p.j
    CROSS JOIN t
    """,
    tags=("llm", "embeddings", "stats"),
)
def embed_covariance_pairs(spark, sf_dir):
    """Upper-triangle covariance of the embedding matrix in milli^2
    fixed-point units — 2080 (i <= j) pairs at dim {_CV_DIM}.

    The scale story IS the query: the DataFrame side runs ONE
    mapInPandas stage in which each partition computes its integer
    Gram matrix M^T M with a single vectorized int64 matmul and emits
    2145 partial rows (2080 pair sums + 64 column sums + a row count);
    the shuffle then carries partials-per-partition, NOT
    rows-x-dim^2. The DuckDB oracle brute-forces the same definition
    relationally (fine at sf0.01; the relational form is the shape
    that does NOT survive 100x, which is the point of the kernel).

    Exactness: milli fixed-point (embed_dim_profile convention) makes
    every Gram entry an exact int64 — numpy int64 matmul is exact and
    associative, so partition boundaries cannot change the sums; the
    one double expression per output column is identical text in both
    engines. The one-row count attaches by broadcast (intended NLJ
    over the bounded 2080-row pair table).
    """
    import numpy as np
    import pandas as pd

    emb = read_table(spark, sf_dir, "embeddings").select("embedding")
    iu0, iu1 = np.triu_indices(_CV_DIM)

    def partials(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            m = np.floor(
                np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
                * _CV_SCALE
            ).astype(np.int64)
            gram = m.T @ m
            yield pd.DataFrame(
                {
                    "i": np.concatenate(
                        [iu0 + 1, np.arange(1, _CV_DIM + 1), [-1]]
                    ).astype("int32"),
                    "j": np.concatenate(
                        [iu1 + 1, np.full(_CV_DIM, -1), [-1]]
                    ).astype("int32"),
                    "s": np.concatenate(
                        [gram[iu0, iu1], m.sum(axis=0), [m.shape[0]]]
                    ).astype("int64"),
                }
            )

    tot = (
        emb.mapInPandas(partials, schema="i int, j int, s long")
        .groupBy("i", "j")
        .agg(F.sum("s").cast("long").alias("s"))
    )
    pairs = tot.where(F.col("j") >= 1)
    dims = tot.where((F.col("j") == -1) & (F.col("i") >= 1)).select(
        "i", F.col("s").alias("si")
    )
    nrow = tot.where(F.col("i") == -1).select(F.col("s").alias("n"))
    return (
        pairs.join(F.broadcast(dims), "i")
        .join(
            F.broadcast(
                dims.select(F.col("i").alias("j"), F.col("si").alias("sj"))
            ),
            "j",
        )
        .crossJoin(F.broadcast(nrow))
        .select(
            "i",
            "j",
            "n",
            "s",
            "si",
            "sj",
            (
                F.col("s").cast("double") / F.col("n")
                - (F.col("si").cast("double") / F.col("n"))
                * (F.col("sj").cast("double") / F.col("n"))
            ).alias("cov_milli2"),
        )
    )


_NN_PROBES = 100


@query(
    "nn_label_agreement",
    sql=f"""
    WITH d AS (SELECT vec_id, label, embedding FROM embeddings),
    nn AS (
        SELECT q_vec_id, vec_id, q_label, b_label FROM (
            SELECT a.vec_id AS q_vec_id, b.vec_id AS vec_id,
                   a.label AS q_label, b.label AS b_label,
                   ROW_NUMBER() OVER (
                       PARTITION BY a.vec_id
                       ORDER BY ((a.embedding[1]::DOUBLE * b.embedding[1]::DOUBLE + a.embedding[2]::DOUBLE * b.embedding[2]::DOUBLE + a.embedding[3]::DOUBLE * b.embedding[3]::DOUBLE + a.embedding[4]::DOUBLE * b.embedding[4]::DOUBLE + a.embedding[5]::DOUBLE * b.embedding[5]::DOUBLE + a.embedding[6]::DOUBLE * b.embedding[6]::DOUBLE + a.embedding[7]::DOUBLE * b.embedding[7]::DOUBLE + a.embedding[8]::DOUBLE * b.embedding[8]::DOUBLE + a.embedding[9]::DOUBLE * b.embedding[9]::DOUBLE + a.embedding[10]::DOUBLE * b.embedding[10]::DOUBLE + a.embedding[11]::DOUBLE * b.embedding[11]::DOUBLE + a.embedding[12]::DOUBLE * b.embedding[12]::DOUBLE + a.embedding[13]::DOUBLE * b.embedding[13]::DOUBLE + a.embedding[14]::DOUBLE * b.embedding[14]::DOUBLE + a.embedding[15]::DOUBLE * b.embedding[15]::DOUBLE + a.embedding[16]::DOUBLE * b.embedding[16]::DOUBLE + a.embedding[17]::DOUBLE * b.embedding[17]::DOUBLE + a.embedding[18]::DOUBLE * b.embedding[18]::DOUBLE + a.embedding[19]::DOUBLE * b.embedding[19]::DOUBLE + a.embedding[20]::DOUBLE * b.embedding[20]::DOUBLE + a.embedding[21]::DOUBLE * b.embedding[21]::DOUBLE + a.embedding[22]::DOUBLE * b.embedding[22]::DOUBLE + a.embedding[23]::DOUBLE * b.embedding[23]::DOUBLE + a.embedding[24]::DOUBLE * b.embedding[24]::DOUBLE + a.embedding[25]::DOUBLE * b.embedding[25]::DOUBLE + a.embedding[26]::DOUBLE * b.embedding[26]::DOUBLE + a.embedding[27]::DOUBLE * b.embedding[27]::DOUBLE + a.embedding[28]::DOUBLE * b.embedding[28]::DOUBLE + a.embedding[29]::DOUBLE * b.embedding[29]::DOUBLE + a.embedding[30]::DOUBLE * b.embedding[30]::DOUBLE + a.embedding[31]::DOUBLE * b.embedding[31]::DOUBLE + a.embedding[32]::DOUBLE * b.embedding[32]::DOUBLE + a.embedding[33]::DOUBLE * b.embedding[33]::DOUBLE + a.embedding[34]::DOUBLE * b.embedding[34]::DOUBLE + a.embedding[35]::DOUBLE * b.embedding[35]::DOUBLE + a.embedding[36]::DOUBLE * b.embedding[36]::DOUBLE + a.embedding[37]::DOUBLE * b.embedding[37]::DOUBLE + a.embedding[38]::DOUBLE * b.embedding[38]::DOUBLE + a.embedding[39]::DOUBLE * b.embedding[39]::DOUBLE + a.embedding[40]::DOUBLE * b.embedding[40]::DOUBLE + a.embedding[41]::DOUBLE * b.embedding[41]::DOUBLE + a.embedding[42]::DOUBLE * b.embedding[42]::DOUBLE + a.embedding[43]::DOUBLE * b.embedding[43]::DOUBLE + a.embedding[44]::DOUBLE * b.embedding[44]::DOUBLE + a.embedding[45]::DOUBLE * b.embedding[45]::DOUBLE + a.embedding[46]::DOUBLE * b.embedding[46]::DOUBLE + a.embedding[47]::DOUBLE * b.embedding[47]::DOUBLE + a.embedding[48]::DOUBLE * b.embedding[48]::DOUBLE + a.embedding[49]::DOUBLE * b.embedding[49]::DOUBLE + a.embedding[50]::DOUBLE * b.embedding[50]::DOUBLE + a.embedding[51]::DOUBLE * b.embedding[51]::DOUBLE + a.embedding[52]::DOUBLE * b.embedding[52]::DOUBLE + a.embedding[53]::DOUBLE * b.embedding[53]::DOUBLE + a.embedding[54]::DOUBLE * b.embedding[54]::DOUBLE + a.embedding[55]::DOUBLE * b.embedding[55]::DOUBLE + a.embedding[56]::DOUBLE * b.embedding[56]::DOUBLE + a.embedding[57]::DOUBLE * b.embedding[57]::DOUBLE + a.embedding[58]::DOUBLE * b.embedding[58]::DOUBLE + a.embedding[59]::DOUBLE * b.embedding[59]::DOUBLE + a.embedding[60]::DOUBLE * b.embedding[60]::DOUBLE + a.embedding[61]::DOUBLE * b.embedding[61]::DOUBLE + a.embedding[62]::DOUBLE * b.embedding[62]::DOUBLE + a.embedding[63]::DOUBLE * b.embedding[63]::DOUBLE + a.embedding[64]::DOUBLE * b.embedding[64]::DOUBLE)) / ((sqrt(a.embedding[1]::DOUBLE * a.embedding[1]::DOUBLE + a.embedding[2]::DOUBLE * a.embedding[2]::DOUBLE + a.embedding[3]::DOUBLE * a.embedding[3]::DOUBLE + a.embedding[4]::DOUBLE * a.embedding[4]::DOUBLE + a.embedding[5]::DOUBLE * a.embedding[5]::DOUBLE + a.embedding[6]::DOUBLE * a.embedding[6]::DOUBLE + a.embedding[7]::DOUBLE * a.embedding[7]::DOUBLE + a.embedding[8]::DOUBLE * a.embedding[8]::DOUBLE + a.embedding[9]::DOUBLE * a.embedding[9]::DOUBLE + a.embedding[10]::DOUBLE * a.embedding[10]::DOUBLE + a.embedding[11]::DOUBLE * a.embedding[11]::DOUBLE + a.embedding[12]::DOUBLE * a.embedding[12]::DOUBLE + a.embedding[13]::DOUBLE * a.embedding[13]::DOUBLE + a.embedding[14]::DOUBLE * a.embedding[14]::DOUBLE + a.embedding[15]::DOUBLE * a.embedding[15]::DOUBLE + a.embedding[16]::DOUBLE * a.embedding[16]::DOUBLE + a.embedding[17]::DOUBLE * a.embedding[17]::DOUBLE + a.embedding[18]::DOUBLE * a.embedding[18]::DOUBLE + a.embedding[19]::DOUBLE * a.embedding[19]::DOUBLE + a.embedding[20]::DOUBLE * a.embedding[20]::DOUBLE + a.embedding[21]::DOUBLE * a.embedding[21]::DOUBLE + a.embedding[22]::DOUBLE * a.embedding[22]::DOUBLE + a.embedding[23]::DOUBLE * a.embedding[23]::DOUBLE + a.embedding[24]::DOUBLE * a.embedding[24]::DOUBLE + a.embedding[25]::DOUBLE * a.embedding[25]::DOUBLE + a.embedding[26]::DOUBLE * a.embedding[26]::DOUBLE + a.embedding[27]::DOUBLE * a.embedding[27]::DOUBLE + a.embedding[28]::DOUBLE * a.embedding[28]::DOUBLE + a.embedding[29]::DOUBLE * a.embedding[29]::DOUBLE + a.embedding[30]::DOUBLE * a.embedding[30]::DOUBLE + a.embedding[31]::DOUBLE * a.embedding[31]::DOUBLE + a.embedding[32]::DOUBLE * a.embedding[32]::DOUBLE + a.embedding[33]::DOUBLE * a.embedding[33]::DOUBLE + a.embedding[34]::DOUBLE * a.embedding[34]::DOUBLE + a.embedding[35]::DOUBLE * a.embedding[35]::DOUBLE + a.embedding[36]::DOUBLE * a.embedding[36]::DOUBLE + a.embedding[37]::DOUBLE * a.embedding[37]::DOUBLE + a.embedding[38]::DOUBLE * a.embedding[38]::DOUBLE + a.embedding[39]::DOUBLE * a.embedding[39]::DOUBLE + a.embedding[40]::DOUBLE * a.embedding[40]::DOUBLE + a.embedding[41]::DOUBLE * a.embedding[41]::DOUBLE + a.embedding[42]::DOUBLE * a.embedding[42]::DOUBLE + a.embedding[43]::DOUBLE * a.embedding[43]::DOUBLE + a.embedding[44]::DOUBLE * a.embedding[44]::DOUBLE + a.embedding[45]::DOUBLE * a.embedding[45]::DOUBLE + a.embedding[46]::DOUBLE * a.embedding[46]::DOUBLE + a.embedding[47]::DOUBLE * a.embedding[47]::DOUBLE + a.embedding[48]::DOUBLE * a.embedding[48]::DOUBLE + a.embedding[49]::DOUBLE * a.embedding[49]::DOUBLE + a.embedding[50]::DOUBLE * a.embedding[50]::DOUBLE + a.embedding[51]::DOUBLE * a.embedding[51]::DOUBLE + a.embedding[52]::DOUBLE * a.embedding[52]::DOUBLE + a.embedding[53]::DOUBLE * a.embedding[53]::DOUBLE + a.embedding[54]::DOUBLE * a.embedding[54]::DOUBLE + a.embedding[55]::DOUBLE * a.embedding[55]::DOUBLE + a.embedding[56]::DOUBLE * a.embedding[56]::DOUBLE + a.embedding[57]::DOUBLE * a.embedding[57]::DOUBLE + a.embedding[58]::DOUBLE * a.embedding[58]::DOUBLE + a.embedding[59]::DOUBLE * a.embedding[59]::DOUBLE + a.embedding[60]::DOUBLE * a.embedding[60]::DOUBLE + a.embedding[61]::DOUBLE * a.embedding[61]::DOUBLE + a.embedding[62]::DOUBLE * a.embedding[62]::DOUBLE + a.embedding[63]::DOUBLE * a.embedding[63]::DOUBLE + a.embedding[64]::DOUBLE * a.embedding[64]::DOUBLE)) * (sqrt(b.embedding[1]::DOUBLE * b.embedding[1]::DOUBLE + b.embedding[2]::DOUBLE * b.embedding[2]::DOUBLE + b.embedding[3]::DOUBLE * b.embedding[3]::DOUBLE + b.embedding[4]::DOUBLE * b.embedding[4]::DOUBLE + b.embedding[5]::DOUBLE * b.embedding[5]::DOUBLE + b.embedding[6]::DOUBLE * b.embedding[6]::DOUBLE + b.embedding[7]::DOUBLE * b.embedding[7]::DOUBLE + b.embedding[8]::DOUBLE * b.embedding[8]::DOUBLE + b.embedding[9]::DOUBLE * b.embedding[9]::DOUBLE + b.embedding[10]::DOUBLE * b.embedding[10]::DOUBLE + b.embedding[11]::DOUBLE * b.embedding[11]::DOUBLE + b.embedding[12]::DOUBLE * b.embedding[12]::DOUBLE + b.embedding[13]::DOUBLE * b.embedding[13]::DOUBLE + b.embedding[14]::DOUBLE * b.embedding[14]::DOUBLE + b.embedding[15]::DOUBLE * b.embedding[15]::DOUBLE + b.embedding[16]::DOUBLE * b.embedding[16]::DOUBLE + b.embedding[17]::DOUBLE * b.embedding[17]::DOUBLE + b.embedding[18]::DOUBLE * b.embedding[18]::DOUBLE + b.embedding[19]::DOUBLE * b.embedding[19]::DOUBLE + b.embedding[20]::DOUBLE * b.embedding[20]::DOUBLE + b.embedding[21]::DOUBLE * b.embedding[21]::DOUBLE + b.embedding[22]::DOUBLE * b.embedding[22]::DOUBLE + b.embedding[23]::DOUBLE * b.embedding[23]::DOUBLE + b.embedding[24]::DOUBLE * b.embedding[24]::DOUBLE + b.embedding[25]::DOUBLE * b.embedding[25]::DOUBLE + b.embedding[26]::DOUBLE * b.embedding[26]::DOUBLE + b.embedding[27]::DOUBLE * b.embedding[27]::DOUBLE + b.embedding[28]::DOUBLE * b.embedding[28]::DOUBLE + b.embedding[29]::DOUBLE * b.embedding[29]::DOUBLE + b.embedding[30]::DOUBLE * b.embedding[30]::DOUBLE + b.embedding[31]::DOUBLE * b.embedding[31]::DOUBLE + b.embedding[32]::DOUBLE * b.embedding[32]::DOUBLE + b.embedding[33]::DOUBLE * b.embedding[33]::DOUBLE + b.embedding[34]::DOUBLE * b.embedding[34]::DOUBLE + b.embedding[35]::DOUBLE * b.embedding[35]::DOUBLE + b.embedding[36]::DOUBLE * b.embedding[36]::DOUBLE + b.embedding[37]::DOUBLE * b.embedding[37]::DOUBLE + b.embedding[38]::DOUBLE * b.embedding[38]::DOUBLE + b.embedding[39]::DOUBLE * b.embedding[39]::DOUBLE + b.embedding[40]::DOUBLE * b.embedding[40]::DOUBLE + b.embedding[41]::DOUBLE * b.embedding[41]::DOUBLE + b.embedding[42]::DOUBLE * b.embedding[42]::DOUBLE + b.embedding[43]::DOUBLE * b.embedding[43]::DOUBLE + b.embedding[44]::DOUBLE * b.embedding[44]::DOUBLE + b.embedding[45]::DOUBLE * b.embedding[45]::DOUBLE + b.embedding[46]::DOUBLE * b.embedding[46]::DOUBLE + b.embedding[47]::DOUBLE * b.embedding[47]::DOUBLE + b.embedding[48]::DOUBLE * b.embedding[48]::DOUBLE + b.embedding[49]::DOUBLE * b.embedding[49]::DOUBLE + b.embedding[50]::DOUBLE * b.embedding[50]::DOUBLE + b.embedding[51]::DOUBLE * b.embedding[51]::DOUBLE + b.embedding[52]::DOUBLE * b.embedding[52]::DOUBLE + b.embedding[53]::DOUBLE * b.embedding[53]::DOUBLE + b.embedding[54]::DOUBLE * b.embedding[54]::DOUBLE + b.embedding[55]::DOUBLE * b.embedding[55]::DOUBLE + b.embedding[56]::DOUBLE * b.embedding[56]::DOUBLE + b.embedding[57]::DOUBLE * b.embedding[57]::DOUBLE + b.embedding[58]::DOUBLE * b.embedding[58]::DOUBLE + b.embedding[59]::DOUBLE * b.embedding[59]::DOUBLE + b.embedding[60]::DOUBLE * b.embedding[60]::DOUBLE + b.embedding[61]::DOUBLE * b.embedding[61]::DOUBLE + b.embedding[62]::DOUBLE * b.embedding[62]::DOUBLE + b.embedding[63]::DOUBLE * b.embedding[63]::DOUBLE + b.embedding[64]::DOUBLE * b.embedding[64]::DOUBLE))) DESC, b.vec_id
                   ) AS rn
            FROM d a JOIN d b ON a.vec_id <> b.vec_id
            WHERE a.vec_id < {_NN_PROBES}
        ) WHERE rn = 1
    )
    SELECT q_vec_id, q_label, vec_id AS nn_vec_id, b_label AS nn_label,
           CAST(CASE WHEN q_label = b_label THEN 1 ELSE 0 END AS INT)
               AS agree
    FROM nn
    """,
    tags=("llm", "embeddings", "evaluation"),
)
def nn_label_agreement(spark, sf_dir):
    """1-nearest-neighbor label agreement for {_NN_PROBES} probe
    vectors: does each probe's closest OTHER vector carry the same
    label? The zero-training embedding-quality probe (1-NN accuracy
    lower-bounds what any classifier can read out of the geometry);
    a drop after a model swap means the new space scrambled the label
    structure even if norms and variances look unchanged.

    Determinism: the cosine kernel and (score DESC, vec_id) tie-break
    are embed_cosine_topk's exact-baseline conventions (left-fold dot
    product spelled identically in both engines).

    Scale shape: the bounded probe set broadcasts against the
    partition-local corpus sweep (the intended brute-force NLJ of
    embed_cosine_topk); one row per probe comes back.
    """
    from tvbigdataproject_spark.operators.similarity import cosine_topk

    emb = read_table(spark, sf_dir, "embeddings")
    probes = emb.where(F.col("vec_id") < _NN_PROBES)
    top1 = cosine_topk(emb, probes, k=1)
    lab = emb.select("vec_id", "label")
    return (
        top1.join(
            lab.select(
                F.col("vec_id").alias("q_vec_id"),
                F.col("label").alias("q_label"),
            ),
            "q_vec_id",
        )
        .join(
            lab.select("vec_id", F.col("label").alias("nn_label")), "vec_id"
        )
        .select(
            "q_vec_id",
            "q_label",
            F.col("vec_id").alias("nn_vec_id"),
            "nn_label",
            F.when(F.col("q_label") == F.col("nn_label"), 1)
            .otherwise(0)
            .cast("int")
            .alias("agree"),
        )
    )


_PCA_ROUNDS = 3
_PCA_FX = 1 << 20  # fixed-point unit for the iterate and the matrix


def _pca_sql() -> str:
    from tvbigdataproject_spark.queries._stable import (
        sql_huge_to_double_wide,
    )

    rounds = []
    prev = "w0"
    for r in range(1, _PCA_ROUNDS + 1):
        rounds.append(f"""
    u{r} AS (
        SELECT c2.i, CAST(SUM(c2.c * {prev}.w) AS BIGINT) AS u
        FROM c2 JOIN {prev} ON {prev}.i = c2.j GROUP BY c2.i
    ),
    m{r} AS (SELECT GREATEST(MAX(ABS(u)), 1) AS mu FROM u{r}),
    w{r} AS (
        SELECT i,
               CAST((CAST(u AS HUGEINT) * {_PCA_FX}) // m{r}.mu AS BIGINT)
                   AS w
        FROM u{r} CROSS JOIN m{r}
    )""")
        prev = f"w{r}"
    w_last = f"w{_PCA_ROUNDS}"
    return f"""
    WITH m AS (
        SELECT vec_id, t.i AS i,
               CAST(FLOOR(embedding[t.i]::DOUBLE * {_CV_SCALE}) AS BIGINT)
                   AS v
        FROM embeddings, UNNEST(range(1, {_CV_DIM + 1})) AS t(i)
    ),
    p AS (
        SELECT a.i AS i, b.i AS j, CAST(SUM(a.v * b.v) AS BIGINT) AS s
        FROM m a JOIN m b ON a.vec_id = b.vec_id AND a.i <= b.i
        GROUP BY 1, 2
    ),
    d AS (SELECT i, CAST(SUM(v) AS BIGINT) AS si FROM m GROUP BY 1),
    t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings),
    fullm AS (
        SELECT i, j, s FROM p
        UNION ALL
        SELECT j, i, s FROM p WHERE i < j
    ),
    cn AS (
        SELECT f.i, f.j,
               CAST(t.n AS HUGEINT) * f.s
                   - CAST(da.si AS HUGEINT) * db.si AS cnum
        FROM fullm f
        JOIN d da ON da.i = f.i
        JOIN d db ON db.i = f.j
        CROSS JOIN t
    ),
    mx AS (SELECT MAX(ABS(cnum)) AS mm FROM cn),
    c2 AS (
        SELECT i, j, CAST((cnum * {_PCA_FX}) // mx.mm AS BIGINT) AS c
        FROM cn CROSS JOIN mx
    ),
    w0 AS (
        SELECT i, CAST(1 AS BIGINT) AS w FROM (SELECT DISTINCT i FROM c2)
    ),{",".join(rounds)[1:]},
    ray AS (
        SELECT CAST(SUM(CAST(wa.w * c2.c AS HUGEINT) * wb.w) AS HUGEINT)
                   AS rnum
        FROM c2
        JOIN {w_last} wa ON wa.i = c2.i
        JOIN {w_last} wb ON wb.i = c2.j
    ),
    dn AS (SELECT CAST(SUM(w * w) AS BIGINT) AS rden FROM {w_last})
    SELECT {w_last}.i AS dim, {w_last}.w AS w_fixed,
           dn.rden AS w_norm2,
           {sql_huge_to_double_wide('ray.rnum')} AS ray_num_d,
           {sql_huge_to_double_wide('ray.rnum')}
               / CAST(dn.rden AS DOUBLE) AS rayleigh_c2
    FROM {w_last} CROSS JOIN ray CROSS JOIN dn
    """


@query(
    "embed_pca_power_iteration",
    sql=_pca_sql(),
    tags=("llm", "embeddings", "iterative"),
)
def embed_pca_power_iteration(spark, sf_dir):
    """Top principal direction of the embedding covariance by
    {_PCA_ROUNDS} integer-scaled power-iteration rounds, value-compared
    BITWISE against the oracle — distributed linear algebra with a full
    correctness gate, not a rows-only waiver. The dominant eigenvector
    is what whitening, matryoshka-truncation and "is this space
    collapsing to one direction?" decisions read; the Rayleigh quotient
    (in scaled-matrix units) estimates the top eigenvalue's share.

    Determinism: the covariance numerators n*S_ij - S_i*S_j are exact
    128-bit integers (milli fixed point); the matrix normalizes
    through (cnum * 2^20) div max|cnum| and each iterate renormalizes
    through (u * 2^20) div max|u| — pure integer truncating division,
    identical in both engines (DuckDB // and Spark div both truncate
    toward zero), so every intermediate is an exact integer and the
    two final doubles are one wide split-cast + one division.

    Scale shape: ONE corpus-sized stage (the covariance partials —
    here the relational p/d aggregates; embed_covariance_pairs'
    mapInPandas Gram kernel is the 100 TB form of the same numbers);
    everything after runs on the bounded 64x64 matrix and 64-row
    iterate tables with one-row max/ray attaches (intended NLJs).
    Rounds are fixed and unrolled — the pagerank_trade_graph design.
    """
    # the corpus-sized stage is the covariance kernel (int64 Gram
    # partials in ONE mapInPandas pass); everything below runs on the
    # bounded matrix, eagerly pinned so the unrolled rounds don't
    # recompute the corpus sweep once per round
    cov = embed_covariance_pairs(spark, sf_dir).select(
        "i", "j", "n", "s", "si", "sj"
    )
    cn_up = cov.select(
        "i",
        "j",
        (
            F.col("n").cast("decimal(38,0)") * F.col("s")
            - F.col("si").cast("decimal(38,0)") * F.col("sj")
        ).alias("cnum"),
    )
    cn = cn_up.unionByName(
        cn_up.where(F.col("i") < F.col("j")).select(
            F.col("j").alias("i"), F.col("i").alias("j"), "cnum"
        )
    )
    mx = cn.agg(F.max(F.abs(F.col("cnum"))).alias("mm"))
    c2 = checkpoint(
        cn.crossJoin(F.broadcast(mx)).select(
            "i",
            "j",
            F.expr(f"CAST((cnum * {_PCA_FX}) div mm AS BIGINT)").alias("c"),
        )
    )
    w = c2.select("i").distinct().select(
        "i", F.lit(1).cast("long").alias("w")
    )
    for _ in range(_PCA_ROUNDS):
        u = (
            c2.join(
                F.broadcast(w.select(F.col("i").alias("j"), "w")), "j"
            )
            .groupBy("i")
            .agg(F.sum(F.col("c") * F.col("w")).cast("long").alias("u"))
        )
        mu = u.agg(
            F.greatest(F.max(F.abs(F.col("u"))), F.lit(1)).alias("mu")
        )
        w = (
            u.crossJoin(F.broadcast(mu))
            .select(
                "i",
                F.expr(
                    f"CAST((CAST(u AS DECIMAL(38,0)) * {_PCA_FX}) div mu"
                    " AS BIGINT)"
                ).alias("w"),
            )
        )
    ray = (
        c2.join(
            F.broadcast(w.select(F.col("i"), F.col("w").alias("wa"))), "i"
        )
        .join(
            F.broadcast(
                w.select(F.col("i").alias("j"), F.col("w").alias("wb"))
            ),
            "j",
        )
        .agg(
            F.sum(
                (F.col("wa") * F.col("c")).cast("decimal(38,0)")
                * F.col("wb")
            ).alias("rnum")
        )
    )
    dn = w.agg(F.sum(F.col("w") * F.col("w")).cast("long").alias("rden"))
    from tvbigdataproject_spark.queries._stable import dec_to_double_wide

    return (
        w.crossJoin(F.broadcast(ray))
        .crossJoin(F.broadcast(dn))
        .select(
            F.col("i").alias("dim"),
            F.col("w").alias("w_fixed"),
            F.col("rden").alias("w_norm2"),
            dec_to_double_wide(F.col("rnum")).alias("ray_num_d"),
            (
                dec_to_double_wide(F.col("rnum"))
                / F.col("rden").cast("double")
            ).alias("rayleigh_c2"),
        )
    )


def _check_whitened(spark, sf_dir, rows, cols):
    """Bounded numerical gate for the whitening transform: the sample
    covariance of the returned vectors must be the identity within
    tolerance (diagonal within 2% — ZCA on the exact sample covariance
    is algebraically exact, the slack only covers the float pipeline;
    off-diagonal |cov| below 0.02)."""
    import numpy as np

    idx = {c: i for i, c in enumerate(cols)}
    w = np.stack([np.asarray(r[idx["whitened"]], dtype=np.float64) for r in rows])
    n_src = len(
        read_table(spark, sf_dir, "embeddings").select("vec_id").collect()
    )
    if w.shape[0] != n_src:
        return f"row count {w.shape[0]} != corpus {n_src}"
    c = np.cov(w, rowvar=False, bias=True)
    dmax = float(np.abs(np.diag(c) - 1.0).max())
    off = c - np.diag(np.diag(c))
    omax = float(np.abs(off).max())
    if dmax > 0.02:
        return f"whitened diagonal deviates from 1 by {dmax:.4f}"
    if omax > 0.02:
        return f"whitened off-diagonal covariance {omax:.4f} > 0.02"
    return None


@query(
    "embed_whiten_apply",
    sql=None,  # the ZCA matrix comes from a numpy eigendecomposition —
    # no SQL twin; _check_whitened gates the OUTPUT's covariance
    tags=("llm", "embeddings", "transform"),
    check=_check_whitened,
)
def embed_whiten_apply(spark, sf_dir):
    """Apply ZCA whitening to the embedding corpus: W = C^(-1/2) from
    the exact sample covariance, x' = W (x - mean) — the decorrelation
    step that makes cosine/Euclidean retrieval treat every direction
    equally (anisotropic embedding spaces overweight dominant
    directions; embed_pca_power_iteration measures the dominance, this
    removes it). Completes the covariance tier: measure
    (embed_dim_profile) -> structure (embed_covariance_pairs) ->
    dominant direction (embed_pca_power_iteration) -> transform (here).

    Shape at scale: the covariance comes from the mapInPandas Gram
    kernel (one corpus pass, bounded partials); the 64x64
    eigendecomposition runs DRIVER-side on the collected bounded
    matrix (the fit_ivf_centers precedent — never a distributed eig);
    the transform is one broadcast of the (mean, W) pack and a second
    scan-local mapInPandas pass. Two corpus passes total, no shuffle
    in the apply.

    Gate: rows-only + bounded check — the returned vectors' sample
    covariance must be the identity within 2%.
    """
    import numpy as np
    import pandas as pd

    cov = embed_covariance_pairs(spark, sf_dir).collect()
    n = cov[0]["n"]
    C = np.zeros((_CV_DIM, _CV_DIM))
    mean = np.zeros(_CV_DIM)
    for r in cov:
        i, j = r["i"] - 1, r["j"] - 1
        C[i, j] = C[j, i] = r["cov_milli2"]
        if i == j:
            mean[i] = r["si"] / n
    # eigen floor guards rank deficiency (a dead dimension would make
    # C singular); units: milli^2 -> the whitened output is unit-less
    evals, evecs = np.linalg.eigh(C)
    evals = np.maximum(evals, 1e-9 * float(evals.max()))
    W = (evecs * (evals**-0.5)) @ evecs.T  # ZCA: C^(-1/2), symmetric
    pack = spark.sparkContext.broadcast((mean, W))

    def apply_w(batches):
        b_mean, b_w = pack.value
        for pdf in batches:
            if pdf.empty:
                continue
            m = (
                np.floor(
                    np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
                    * _CV_SCALE
                )
                - b_mean
            )
            out = m @ b_w.T
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "whitened": list(out.astype(np.float64)),
                }
            )

    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    return emb.mapInPandas(
        apply_w, schema="vec_id long, whitened array<double>"
    )
