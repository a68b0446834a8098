"""Similarity search over embedding columns (north-star surface).

Plan shapes (see queries/embeddings.py for the oracle-checked
instantiations):
  cosine_topk        brute force — broadcast query set × partitioned
                     corpus; the exact baseline every ANN is measured by
  cell_pruned_topk   IVF-style — equi-join on a coarse cell id prunes
                     the candidate set to the probed cell(s)
  cosine_neardup_pairs  near-dup pairs blocked by cell

Every operator reads an embedding table's ``vec_id`` and ``embedding``
columns.

Every per-pair score is the Arrow-batched numpy cosine
(functions/vectors.cosine_arrow): one Python fence per stage, then
memory-bandwidth math, bitwise-identical to the JVM zip_with/aggregate
form (functions/vectors.cosine_similarity — see functions/vectors.py
for the equivalence argument). A/B at sf0.1 (2026-08-14, warm medians
of 3): embed_neardup_pairs 3.51s -> 0.83s, embed_cosine_topk 1.01s ->
0.50s against the HOF form, identical rows; sf1 numbers in SCALE.md.

Cell assignment for the learned-IVF and SemDeDup family is one flat,
exact sweep: every row is scored against every centroid
(_nearest_cells, nearest_cells_quantized, assign_nearest_centroid), so
the answer is the true nearest cell at any centroid count.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from tvbigdataproject_spark.operators.clustering import (
    _ranked_cells,
    _seed_pack,
    quantize_vectors,
)
from tvbigdataproject_spark.operators.materialize import Scope, session_table
from tvbigdataproject_spark.operators.skew import shuffle_partition_count

from tvbigdataproject_spark.functions import cosine_arrow

# Salt buckets per cell of cosine_neardup_pairs / cosine_pairs_multiprobe
_SALT_BUCKETS = 8


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Exact top-k by cosine for each query vector (brute force).

    ``queries`` must be broadcast-sized (it is replicated to every
    corpus partition); ranking carries an id tiebreak so top-k is
    deterministic at any parallelism. The scoring sweep touches
    |queries| x |corpus| pairs, scored by the vectorized Arrow cosine.
    """
    q = queries.select(
        F.col("vec_id").alias("q_vec_id"), F.col("embedding").alias("q_emb")
    )
    scored = (
        corpus.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("q_vec_id"))
        .select(
            "q_vec_id",
            "vec_id",
            cosine_arrow(F.col("q_emb"), F.col("embedding")).alias("cos"),
        )
    )
    w = Window.partitionBy("q_vec_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return scored.select(
        "q_vec_id", "vec_id", "cos", F.row_number().over(w).alias("rn")
    ).where(F.col("rn") <= k)


def cell_pruned_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
) -> DataFrame:
    """IVF-style top-k: candidates restricted to the query's coarse cell.

    The cell id here is the precomputed ``label`` column; in a full IVF
    build it is the nearest-centroid assignment from a k-means pass —
    the plan shape (equi-join on cell, per-cell scan) is identical
    either way.
    """
    q = queries.select(
        F.col("vec_id").alias("q_vec_id"),
        F.col("label").alias("q_cell"),
        F.col("embedding").alias("q_emb"),
    )
    scored = (
        corpus.join(F.broadcast(q), F.col("label") == F.col("q_cell"))
        .where(F.col("vec_id") != F.col("q_vec_id"))
        .select(
            "q_vec_id",
            "vec_id",
            cosine_arrow(F.col("q_emb"), F.col("embedding")).alias("cos"),
        )
    )
    w = Window.partitionBy("q_vec_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return scored.select(
        "q_vec_id", "vec_id", "cos", F.row_number().over(w).alias("rn")
    ).where(F.col("rn") <= k)


# The IVF fit: KMeans seed and iteration cap, and the sample size above
# which the fit runs on a seeded sample instead of the whole corpus.
_IVF_SEED = 42
_IVF_MAX_ITER = 10
_IVF_SAMPLE_TARGET = 4096

# Fitted coarse-quantizer centroids, keyed by (cache_key, n_cells). An
# index build is amortized across queries in any real deployment — the
# centroids are a few KB of driver memory, so caching them is free and
# saves a multi-job KMeans fit per call. session.release_session_caches
# clears it.
_CENTER_CACHE: dict[tuple, list[list[float]]] = {}

# The assigned corpus (vec_id, emb, cell) — the IVF inverted lists —
# is a session-registry table (materialize.session_table, persisted)
# per (corpus, params). This is the index itself: ka× the corpus,
# exactly what FAISS materializes at build time. At 100 TB the same
# table is written once as cell-bucketed parquet and every query reads
# only its probed cells (partition pruning on the cell column).


def fit_ivf_centers(
    corpus: DataFrame,
    n_cells: int = 8,
    cache_key: object = None,
) -> list[list[float]]:
    """Learn an IVF coarse quantizer: seeded KMeans (public
    pyspark.ml.clustering.KMeans, seed ``_IVF_SEED``, at most
    ``_IVF_MAX_ITER`` iterations) over the L2-normalized ``embedding``
    vectors of the corpus.

    Normalizing first makes the euclidean cells cosine-aligned (on the
    unit sphere d² = 2 - 2cos), matching the metric the scorer uses.
    Returns the centroid list (n_cells × dim floats — driver-sized by
    construction; the fit is the distributed pass).

    Scale design: the fit runs on a seeded sample of ~``_IVF_SAMPLE_TARGET``
    vectors, not the full corpus — a coarse quantizer needs cluster
    *shape*, not every point, and KMeans iterations over 100 TB would
    dominate the query. Corpora at or below the target are fitted whole
    (the count() that decides is a parquet-metadata pass). When
    ``cache_key`` identifies the corpus (e.g. its path), the centroids
    are memoized per (corpus, params) so repeated queries pay the fit
    once per session — the index-build amortization every real ANN
    system does.
    """
    key = (cache_key, n_cells)
    if cache_key is not None and key in _CENTER_CACHE:
        return _CENTER_CACHE[key]

    from pyspark.ml.clustering import KMeans
    from pyspark.ml.feature import Normalizer
    from pyspark.ml.functions import array_to_vector

    fit_input = corpus
    n = corpus.count()
    if n > _IVF_SAMPLE_TARGET:
        # oversample slightly so the expected sample stays ≥ target
        fit_input = corpus.sample(
            withReplacement=False,
            fraction=min(1.0, 1.2 * _IVF_SAMPLE_TARGET / n),
            seed=_IVF_SEED,
        )
    raw = fit_input.withColumn(
        "__raw", array_to_vector(F.col("embedding").cast("array<double>"))
    )
    feats = Normalizer(inputCol="__raw", outputCol="__features", p=2.0).transform(raw)
    # r13: materialize the ≤~_IVF_SAMPLE_TARGET-row normalized sample ONCE
    # (eager localCheckpoint, tracked release) before handing it to the
    # fit — the ml KMeans init/iteration passes then read a tiny cached
    # table instead of replaying the parquet scan + sample + normalize
    # chain per internal job. Projection to the features column only;
    # same rows, same partitioning/order, so the seeded fit returns
    # bit-identical centroids.
    with Scope() as s:
        model = KMeans(
            k=n_cells, seed=_IVF_SEED, maxIter=_IVF_MAX_ITER,
            featuresCol="__features", predictionCol="__cell",
        ).fit(s.checkpoint(feats.select("__features")))
    centers = [[float(x) for x in c] for c in model.clusterCenters()]
    if cache_key is not None:
        _CENTER_CACHE[key] = centers
    return centers


def _nearest_cells(centers: list[list[float]], n: int) -> Column:
    """The ``n`` nearest cell ids of the row's ``embedding``, as an
    array<int> — a pure
    scan-local expression (centroids inlined as literals, array_sort on
    (d², cell) structs), so cell assignment shuffles nothing and scales
    as a map-only pass. The vector is L2-normalized in-expression to
    match the normalized centroids; the norm and the unit vector are
    let-bound (transform-over-singleton) so each is computed once.

    Built as ONE F.expr SQL string, not Column-API composition: the
    inlined centroids are n_cells × dim literals, and building them via
    F.lit costs one py4j round trip each (measured ~1.1 s of driver
    time per call at 8×64 — that was the entire steady-state cost of
    the learned-IVF query). A single expr string is one py4j call and
    the JVM parses it in milliseconds.
    """

    def _arr(c: list[float]) -> str:
        return "array(" + ",".join(f"{x!r}D" for x in c) + ")"

    v = "cast(embedding as array<double>)"
    # same arithmetic as functions.vectors.l2_norm (zip_with square fold)
    nrm = f"sqrt(aggregate(zip_with({v}, {v}, (x, y) -> x * y), 0.0D, (acc, x) -> acc + x))"
    d2s = ",".join(
        "named_struct('d2', aggregate(zip_with(u, " + _arr(c) + ", "
        "(a, b) -> (a - b) * (a - b)), 0.0D, (acc, x) -> acc + x), "
        f"'cell', {i})"
        for i, c in enumerate(centers)
    )
    # struct sort is lexicographic by field order: d2, then cell
    ranked = f"transform(slice(array_sort(array({d2s})), 1, {n}), s -> s.cell)"
    unit = f"transform({v}, x -> x / nn)"
    return F.expr(
        f"element_at(transform(array({nrm}), nn -> "
        f"element_at(transform(array({unit}), u -> {ranked}), 1)), 1)"
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    n_cells: int = 8,
    ka: int = 3,
    cache_key: object = None,
) -> DataFrame:
    """Learned-IVF approximate top-k: KMeans cells, corpus-side
    multi-assignment, query-side multi-probe.

    Each corpus vector is indexed under its ``ka`` nearest cells
    (FAISS/ScaNN-style spilling — ka× index storage buys recall on
    corpora with weak cluster structure); each query probes its
    ``nprobe`` nearest cells. Candidates are the equi-join of the two on
    cell id, scored by exact cosine, deduped (a pair sharing several
    cells appears once), top-k per query. nprobe = n_cells degenerates
    to exact brute force, so recall is tunable to 1. On the sf0.001
    fixture: ka=3, nprobe=2, n_cells=8 → recall 1.0 vs brute force
    (ka=1 caps at 0.62 — the synthetic corpus is near-uniform on the
    sphere).

    Plan shape at scale: one sampled KMeans fit, memoized per corpus
    when ``cache_key`` is set (see fit_ivf_centers); both cell
    assignments are the exact scan-local sweep of _nearest_cells (no
    shuffle, no window); the candidate join is a hash equi-join on cell
    with the query side broadcast; the corpus side stays partitioned
    and is touched once.
    """
    centers = fit_ivf_centers(corpus, n_cells=n_cells, cache_key=cache_key)

    def index() -> DataFrame:
        return corpus.select(
            "vec_id",
            F.col("embedding").alias("emb"),
            F.explode(_nearest_cells(centers, ka)).alias("cell"),
        )

    # materialized inverted lists: steady-state queries skip the
    # corpus-wide assignment scan, same as any built ANN index
    key = ("ivf_index", cache_key, n_cells, ka)
    assigned = (
        index()
        if cache_key is None
        else session_table(corpus.sparkSession, key, index, persist=True)
    )
    probes = queries.select(
        F.col("vec_id").alias("q_vec_id"),
        F.col("embedding").alias("q_emb"),
        F.explode(_nearest_cells(centers, nprobe)).alias("cell"),
    )
    scored = (
        assigned.join(F.broadcast(probes), "cell")
        .where(F.col("vec_id") != F.col("q_vec_id"))
        .select(
            "q_vec_id",
            "vec_id",
            cosine_arrow(F.col("q_emb"), F.col("emb")).alias("cos"),
        )
        .distinct()
    )
    w = Window.partitionBy("q_vec_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return scored.select(
        "q_vec_id", "vec_id", "cos", F.row_number().over(w).alias("rn")
    ).where(F.col("rn") <= k)


def cosine_neardup_pairs(
    corpus: DataFrame,
    threshold: float = 0.99,
    cell_col: str = "label",
) -> DataFrame:
    """Embedding-space near-duplicate pairs (cos ≥ threshold) of the
    (vec_id, embedding) rows, blocked by the coarse cell ``cell_col``
    so the pair space is per-cell, not global.

    Two scale guards, both found the hard way on the dup-heavy sf1 run
    (2026-08-13), where 10x denser cells made the per-cell pair space
    100x larger and AQE coalesced the join to ONE task for 25+ minutes:

    - **Salted pair parallelism.** The join's output is quadratic per
      cell while its *input* is tiny — per-pair scoring cost (vectorized
      numpy in the Arrow cosine), not input bytes, dominates. The
      a-side is salted into ``_SALT_BUCKETS`` hash buckets and the
      b-side replicated across them, turning each cell's pair space
      into that many independent tasks. Each pair still appears exactly
      once (it is matched only at the a-vector's salt).
    - **AQE-proof partitioning.** AQE's partition coalescing keys off
      shuffle input bytes and is blind to join fan-out; a few MB of
      vectors collapse to one partition no matter how many pairs they
      explode into. Explicit repartition-by-number (REPARTITION_BY_NUM
      origin) is exempt from coalescing and already satisfies the
      shuffle-hash join's distribution, so no extra exchange is added.

    At 100 TB also scale the cell count with corpus density (cells
    should bound vectors-per-cell, not be a constant) — the salt only
    multiplies parallelism, it cannot shrink the per-cell O(n^2).
    """
    nparts = shuffle_partition_count(corpus)
    a = corpus.select(
        F.col("vec_id").alias("vec_a"),
        F.col(cell_col).alias("cell_a"),
        F.col("embedding").alias("emb_a"),
        F.pmod(F.hash(F.col("vec_id")), F.lit(_SALT_BUCKETS)).alias("salt_a"),
    )
    b = corpus.select(
        F.col("vec_id").alias("vec_b"),
        F.col(cell_col).alias("cell_b"),
        F.col("embedding").alias("emb_b"),
        F.explode(
            F.sequence(F.lit(0), F.lit(_SALT_BUCKETS - 1))
        ).alias("salt_b"),
    )
    # corpus-sized on both sides: shuffle-hash on the (cell, salt) key,
    # never a broadcast of the full embedding table (tradeoff vs MERGE
    # under heap pressure: see operators/dedup.py docstring)
    pairs = (
        a.repartition(nparts, "cell_a", "salt_a")
        .hint("SHUFFLE_HASH")
        .join(
            b.repartition(nparts, "cell_b", "salt_b").hint("SHUFFLE_HASH"),
            (F.col("cell_a") == F.col("cell_b"))
            & (F.col("salt_a") == F.col("salt_b"))
            & (F.col("vec_a") < F.col("vec_b")),
        )
    )
    cos = cosine_arrow(F.col("emb_a"), F.col("emb_b"))
    return pairs.where(cos >= threshold).select("vec_a", "vec_b", cos.alias("cos"))


def nearest_cells_quantized(
    corpus: DataFrame,
    k: int,
    n_probes: int,
) -> DataFrame:
    """Multi-probe geometric cell assignment: for every vector, the
    ``n_probes`` nearest of ``k`` md5-seeded centroids by EXACT integer
    squared distance (the kmeans_lloyd seeding + quantization rules, so
    the whole assignment replays bit-for-bit in a SQL oracle).

    Returns the corpus with ``cells`` = array<int> of probed cell
    ids, ordered nearest-first (ties -> lower cell). Blocking pairs by
    "share at least one probed cell" is the standard IVF multi-probe
    recall lever: a point near a Voronoi boundary is visible from both
    adjacent cells, so boundary-adjacent neighbors are not lost the
    way single-cell blocking loses them (measured in
    tests/test_clustering.py: 0.94 pair recall at 2 probes on
    geometrically clustered data vs 0.69 at 1 probe).

    Scale shape: one-row packed-centroid broadcast against a corpus
    scan (the kmeans_lloyd assignment shape); the per-row top-p is a
    k-element sort_array + slice, all JVM-side. The corpus never
    shuffles. Every row is scored against all k centroids, so the
    probes are exact at any k (O(N*k) work).
    """
    quant = quantize_vectors(corpus)
    top = F.slice(F.sort_array(_ranked_cells(F.col("cents"))), 1, n_probes)
    return (
        quant.crossJoin(F.broadcast(_seed_pack(quant, k)))
        .withColumn("cells", F.transform(top, lambda s: s["cell"]))
        .drop("qv", "cents")
    )


def cosine_pairs_multiprobe(
    corpus: DataFrame,
    threshold: float,
    cells_col: str = "cells",
) -> DataFrame:
    """cosine_neardup_pairs over MULTI-PROBE cell membership: ``cells_
    col`` is an array of cell ids per vector (nearest_cells_quantized),
    and a pair is a candidate when the two vectors share ANY probed
    cell. Each candidate is scored exactly once WITHOUT a distinct
    shuffle: the pair is matched only in the MINIMUM shared cell
    (cell == array_min(array_intersect(cells_a, cells_b)) — both probe
    arrays ride along, so the dedup is a scan-local filter on the
    joined row, not a post-join aggregation).

    Same scale guards as cosine_neardup_pairs: salted pair parallelism
    and AQE-proof repartition-by-number on the (cell, salt) join key.
    Probe count multiplies the exploded input by p (not the pair space
    by p^2 — only min-shared-cell matches survive).
    """
    nparts = shuffle_partition_count(corpus)
    a = corpus.select(
        F.col("vec_id").alias("vec_a"),
        F.col(cells_col).alias("cells_a"),
        F.col("embedding").alias("emb_a"),
        F.pmod(F.hash(F.col("vec_id")), F.lit(_SALT_BUCKETS)).alias("salt_a"),
    ).withColumn("cell_a", F.explode("cells_a"))
    b = (
        corpus.select(
            F.col("vec_id").alias("vec_b"),
            F.col(cells_col).alias("cells_b"),
            F.col("embedding").alias("emb_b"),
        )
        .withColumn("cell_b", F.explode("cells_b"))
        .withColumn(
            "salt_b",
            F.explode(F.sequence(F.lit(0), F.lit(_SALT_BUCKETS - 1))),
        )
    )
    pairs = (
        a.repartition(nparts, "cell_a", "salt_a")
        .hint("SHUFFLE_HASH")
        .join(
            b.repartition(nparts, "cell_b", "salt_b").hint("SHUFFLE_HASH"),
            (F.col("cell_a") == F.col("cell_b"))
            & (F.col("salt_a") == F.col("salt_b"))
            & (F.col("vec_a") < F.col("vec_b")),
        )
        .where(
            F.col("cell_a")
            == F.array_min(F.array_intersect("cells_a", "cells_b"))
        )
    )
    cos = cosine_arrow(F.col("emb_a"), F.col("emb_b"))
    return pairs.where(cos >= threshold).select("vec_a", "vec_b", cos.alias("cos"))


def _fold_cos(vt, cmat, cnorm):
    """(n, k) cosines of (dim, n) vectors vs a (dim, k) matrix, as the
    strict per-dimension sequential left fold of the arrow kernel —
    each pair's add order is identical to the HOF form's."""
    import numpy as np

    dot = np.zeros((vt.shape[1], cmat.shape[1]), dtype=np.float64)
    na2 = np.zeros(vt.shape[1], dtype=np.float64)
    for d in range(vt.shape[0]):  # one fold step per dimension
        dot += vt[d][:, None] * cmat[d][None, :]
        na2 += vt[d] * vt[d]
    denom = np.sqrt(na2)[:, None] * cnorm[None, :]
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.where(denom > 0, dot / denom, 0.0)


def _fold_norms(cmat):
    import numpy as np

    cb2 = np.zeros(cmat.shape[1], dtype=np.float64)
    for d in range(cmat.shape[0]):
        cb2 += cmat[d] * cmat[d]
    return np.sqrt(cb2)


def assign_nearest_centroid(corpus: DataFrame, centroids: DataFrame) -> DataFrame:
    """Nearest-centroid cell assignment: for every corpus vector, the
    argmax-cosine centroid (ties -> smallest centroid id, so the
    assignment is total and engine-independent).

    ``centroids`` must be bounded (the k-means assignment-step shape:
    at 100 TB the corpus never moves, each partition scores
    |centroids| candidates per vector and keeps one). Unlike
    cosine_topk, self-pairs are kept: a centroid drawn from the corpus
    assigns to itself at cos = 1.

    Scale shape: the centroid table is collected once (bounded, the
    fit_ivf_centers precedent), shipped as a task broadcast, and each
    corpus partition runs a vectorized argmax over the (dim, k) matrix
    inside ONE mapInPandas stage — one output row per input row, NO
    per-(vector, centroid) row blowup and NO shuffle. The earlier
    crossJoin+window form was measured 5.3x/decade super-linear on the
    density-scaled SemDeDup ladder (k grows with the corpus, so N x k
    exploded rows AND the argmax window shuffled them); this form
    restored 1.0x/decade — see SCALE.md.

    Exactness: per (vector, centroid) the cosine is the SAME strict
    sequential left fold as functions/vectors.cosine_arrow, and
    centroids are scored in ascending-cid order with numpy's first-max
    argmax, which IS the smallest-cid tie rule. Every vector is scored
    against all k centroids, so the assignment is exact at any k.

    Returns (vec_id, cell, embedding) — the embedding is carried through
    so downstream per-cell passes need no join back to the corpus.
    """
    import numpy as np
    from pyspark.sql.types import StructField, StructType

    cent_rows = (
        centroids.select(F.col("vec_id").alias("cid"), "embedding")
        .orderBy("cid")
        .collect()  # bounded by contract: the centroid table only
    )
    if not cent_rows:
        raise ValueError("assign_nearest_centroid: empty centroid table")
    cids = np.array([r.cid for r in cent_rows], dtype=np.int64)
    cmat = np.ascontiguousarray(
        np.array([r["embedding"] for r in cent_rows], dtype=np.float64).T
    )  # (dim, k); float32 -> float64 widening is exact
    cnorm = _fold_norms(cmat)

    base = corpus.select("vec_id", "embedding")
    out_schema = StructType(
        list(base.schema.fields[:1])
        + [StructField("cell", centroids.schema["vec_id"].dataType, False)]
        + list(base.schema.fields[1:])
    )
    bc = corpus.sparkSession.sparkContext.broadcast((cids, cmat, cnorm))

    def assign(batches):
        k_cids, k_cmat, k_cnorm = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            vt = np.ascontiguousarray(
                np.stack(pdf["embedding"].to_numpy()).T, dtype=np.float64
            )  # (dim, n)
            cos = _fold_cos(vt, k_cmat, k_cnorm)
            best = np.argmax(cos, axis=1)  # first max = smallest cid
            out = pdf[["vec_id", "embedding"]].copy()
            out.insert(1, "cell", k_cids[best])
            yield out

    return base.mapInPandas(assign, schema=out_schema).select(
        "vec_id", "cell", "embedding"
    )


def semdedup_survivors(
    corpus: DataFrame,
    centroids: DataFrame,
    threshold: float,
) -> DataFrame:
    """SemDeDup-style semantic pruning (Abbas et al. 2023): cluster by
    nearest centroid, then inside each cluster drop every vector that
    is within ``threshold`` cosine of a LOWER-id cluster member. The
    keep rule is "dominated by any earlier member", not the paper's
    sequential greedy scan — it is order-deterministic, one-pass, and
    embarrassingly parallel (a cluster member never needs the verdict
    on another member to decide its own), at the cost of occasionally
    pruning a chain one element deeper than the greedy scan would.

    Scale shape: assignment is a broadcast sweep (corpus never
    shuffles); the within-cluster pair space rides
    cosine_neardup_pairs' salted shuffle-hash join, so cluster count
    should scale with corpus density exactly as IVF cell count does.
    The assignment sweep is exact and O(N*k); a caller whose centroid
    count grows with the corpus pays that product (the SemDeDup ladder
    in SCALE.md measured it). Returns survivors as (vec_id, cell).
    """
    assigned = assign_nearest_centroid(corpus, centroids)
    pruned = (
        cosine_neardup_pairs(assigned, threshold=threshold, cell_col="cell")
        .select(F.col("vec_b").alias("vec_id"))
        .distinct()
    )
    return assigned.join(pruned, "vec_id", "left_anti").select("vec_id", "cell")
