"""Distributed Lloyd k-means in exact integer arithmetic.

The learned-IVF tier (operators/similarity.py::fit_ivf_centers) uses
pyspark.ml KMeans, whose centers are Spark-internal — its queries can
only be rows-only/recall-checked. This operator is the value-hash
counterpart: every arithmetic step is exact and order-free, so a fixed
seed set + a fixed round count replays bit-for-bit on any partitioning
AND in a plain-SQL oracle (the unrolled-iteration discipline of
pagerank/LPA/luby_mis).

Exactness contract:
- vectors are quantized once, scan-local: q_i = round(x_i * 2^20) as
  BIGINT (power-of-two scale: x * 2^20 is an exact double, so the only
  rounding is the final half-away tie, which Spark's HALF_UP and
  DuckDB's round() agree on — the proven convention of
  queries/embeddings.py's int8 tier);
- distances are integer: sum_i (q_i - c_i)^2, associative and
  order-free (|q| <= 2^20, so a 64-dim squared distance tops out near
  2^47 — no overflow);
- the centroid update is floor(sum/n) per dimension, where the BIGINT
  sum is exact and stays below 2^53, so the one double division is
  deterministic;
- seeds are the k vectors with the smallest (md5(id), id) — the
  portable-hash sampling convention — and argmin ties break on the
  lower cell id.

Scale shape (100 TB): assignment never shuffles the corpus — the k
centroids are packed into ONE row (array of (cell, vector)) and
attached by a broadcast cross join, so the per-row argmin is
scan-local. The update step aggregates dim explicit per-dimension
BIGINT sums with map-side partials: the shuffle per iteration is
k rows per partition, not the corpus. The corpus is deliberately NOT
cached (at 100 TB a Lloyd iteration re-scans; callers with a
memory-sized corpus can persist before calling). Centroids are
localCheckpoint'ed each round (one tiny row) so lineage stays flat at
any iteration count.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from tvbigdataproject_spark.operators.materialize import Scope

QUANT_SCALE = 1 << 20  # dyadic: float * 2^20 is exact in double


def quantize_vectors(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """``df`` with ``qv``: the scan-local BIGINT quantization of the
    float-array column ``vec_col``."""
    return df.withColumn(
        "qv",
        F.transform(
            F.col(vec_col),
            lambda x: F.round(x.cast("double") * F.lit(float(QUANT_SCALE)))
            .cast("long"),
        ),
    )


def _pack_centroids(cents: DataFrame) -> DataFrame:
    """(cell, cv) rows -> ONE row holding array<struct<cell,cv>> sorted
    by cell, the broadcastable form the assignment sweep attaches."""
    return cents.agg(
        F.sort_array(F.collect_list(F.struct("cell", "cv"))).alias("cents")
    )


def _seed_pack(quant: DataFrame, k: int) -> DataFrame:
    """The packed seed centroids: the ``k`` quantized vectors with the
    smallest (md5(vec_id), vec_id), numbered 0..k-1 in that order."""
    seed_order = [F.md5(F.col("vec_id").cast("string")), F.col("vec_id")]
    # row_number's single-partition window runs over exactly k rows
    # (post-limit), so the unpartitioned window is bounded by design
    w = Window.orderBy(*seed_order)
    seeds = (
        quant.orderBy(*seed_order)
        .limit(k)  # TakeOrdered: no full sort at any corpus size
        .select(
            (F.row_number().over(w) - 1).cast("int").alias("cell"),
            F.col("qv").alias("cv"),
        )
    )
    return _pack_centroids(seeds)


def _sq_dist(a: Column, b: Column) -> Column:
    """Exact integer squared distance of two BIGINT arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _ranked_cells(cents: Column) -> Column:
    """Per packed centroid, struct(d, cell) with d its squared distance
    to the row's ``qv``: struct order is lexicographic, so the min (or
    the sorted head) is nearest-first with ties -> lower cell."""
    return F.transform(
        cents,
        lambda c: F.struct(
            _sq_dist(F.col("qv"), c["cv"]).alias("d"), c["cell"].alias("cell")
        ),
    )


def _assign(quant: DataFrame, packed: DataFrame) -> DataFrame:
    """Scan-local argmin assignment: broadcast the one-row centroid
    pack, per row reduce the k-element array."""
    best = F.array_min(_ranked_cells(F.col("cents")))
    return (
        quant.crossJoin(F.broadcast(packed))
        .withColumn("_best", best)
        .select(
            "vec_id",
            "qv",
            F.col("_best.cell").alias("cell"),
            F.col("_best.d").alias("dist_q"),
        )
    )


def kmeans_lloyd_centroids(
    corpus: DataFrame,
    k: int,
    iters: int,
    dim: int,
) -> DataFrame:
    """The Lloyd loop alone: returns the ONE-row packed centroid table
    (array<struct<cell, cv>>) after exactly ``iters`` rounds — the
    checkpointed broadcastable form `_assign` consumes. Exposed so
    quality metrics (silhouette) can score against the same centroids
    kmeans_lloyd assigns with, without re-deriving the loop."""
    quant = quantize_vectors(corpus).select("vec_id", "qv")
    return _lloyd_loop(quant, k, iters, dim)


def kmeans_lloyd(
    corpus: DataFrame,
    k: int,
    iters: int,
    dim: int,
) -> DataFrame:
    """Exactly `iters` synchronous Lloyd rounds from the md5-seeded
    centroids; returns (vec_id, cell, dist_q) — the final assignment
    and its integer squared distance. Fixed rounds are semantics (the
    bounded-round oracle discipline), not a convergence shortcut.

    A cell that loses all members keeps its previous centroid
    (coalesce on the cell spine), so k never silently shrinks.
    """
    quant = quantize_vectors(corpus).select("vec_id", "qv")
    packed = _lloyd_loop(quant, k, iters, dim)
    # the returned (lazy) plan reads only the final checkpointed pack;
    # it stays persisted — one k-row blob, the operator's live output
    return _assign(quant, packed).select("vec_id", "cell", "dist_q")


def _lloyd_loop(quant: DataFrame, k: int, iters: int, dim: int) -> DataFrame:
    with Scope() as s:

        def step(packed: DataFrame, _r: int) -> DataFrame:
            assigned = _assign(quant, packed)
            # (cell, pos)-keyed update instead of `dim` explicit sum
            # columns: the wide form built a 64-sum + 64-floor-div
            # expression tree whose per-round ANALYSIS dominated the
            # query (r12 measurement: kmeans_lloyd_assign spent 1.4 s
            # in jobs and ~2.8 s in driver planning gaps). The keyed
            # form is 3 expressions; the per-dimension BIGINT sums and
            # the floor(sum/n) division are bit-identical, and the
            # posexplode fan-out (rows x dim) partial-aggregates
            # map-side to k*dim rows before the shuffle.
            sums = (
                assigned.select("cell", F.posexplode("qv").alias("pos", "v"))
                .groupBy("cell", "pos")
                .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
            )
            upd = sums.groupBy("cell").agg(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                "pos",
                                F.floor(F.col("s").cast("double") / F.col("n"))
                                .cast("long")
                                .alias("val"),
                            )
                        )
                    ),
                    lambda st: st["val"],
                ).alias("new_cv")
            )
            spine = packed.select(F.explode("cents").alias("c")).select(
                F.col("c.cell").alias("cell"),
                F.col("c.cv").alias("prev_cv"),
            )
            # k-row spine LEFT JOIN k-row update: broadcast the build
            # (right) side — a left join cannot broadcast-build left
            stepped = spine.join(F.broadcast(upd), "cell", "left").select(
                "cell",
                F.coalesce("new_cv", "prev_cv").alias("cv"),
            )
            return _pack_centroids(stepped)

        # every round's pack is checkpointed and the previous one released
        packed, _ = s.rounds(
            s.checkpoint(_seed_pack(quant, k)), step, iters, 1
        )
        return s.keep(packed)


def dbscan_cosine(
    emb: DataFrame,
    threshold: float = 0.2,
    min_pts: int = 4,
    cells_col: str | None = None,
) -> DataFrame:
    """Distributed DBSCAN over the ``embedding`` column with cosine
    similarity >= ``threshold`` as the eps-neighborhood relation,
    blocked by the coarse cell (same neighbor contract as
    cosine_neardup_pairs — at 100 TB the cell bound keeps the pair
    space per-cell, and a production run scales the cell count with
    corpus density).

    Blocking and its measured recall (tests/test_clustering.py):
    the semantics computed is exactly "density over SAME-CELL
    neighbors", deterministic and oracle-replayable — but how well it
    approximates unblocked DBSCAN depends entirely on whether the
    cells are GEOMETRIC:

    - default (no ``cells_col``): block by the ``label`` column. If
      that column is uncorrelated with embedding geometry (the
      testdata's ``label`` is: its within-cell and cross-cell cosine
      distributions are identical), same-cell blocking keeps ~1/cells
      of the true neighbor mass — measured 0.095 pair recall at 10
      labels — i.e. it degrades to uniform pair sampling.
    - ``cells_col`` (the production path): pass an array column of
      MULTI-PROBE geometric cells (nearest_cells_quantized) and pairs
      come from cosine_pairs_multiprobe — candidates share at least
      one probed IVF cell. On geometrically clustered data 2 probes
      of 16 cells measure 0.94 pair recall at far-sub-quadratic cost.
      On isotropic data with a LOOSE threshold no sub-quadratic
      blocking can win: the eps-graph itself is Theta(n^2) dense
      (measured: cos>=0.2 holds for 5.5% of ALL pairs), so recall
      buys cost linearly (0.42 recall at 25% of brute-force pairs,
      k=16 p=2) — raise the probe count or accept the documented
      sampling semantics.

    Returns (vec_id, role, cluster): role in {'core','border','noise'};
    cluster is the minimum core vec_id of the point's density-connected
    component (NULL for noise). The core test uses the classic
    INCLUSIVE convention — the eps-neighborhood contains the point
    itself, so ``min_pts`` ports 1:1 from sklearn's ``min_samples``.
    Classic DBSCAN leaves border assignment scan-order-dependent when a
    border point touches two clusters; here it is pinned to the MINIMUM
    neighboring core cluster id, making the whole output deterministic
    and oracle-replayable.

    Plan shape: one guarded quadratic pair join (salted, AQE-proof —
    cosine_neardup_pairs), checkpointed once for its four consumers
    (degree count, two core semi-joins, border attach), then
    pointer-jumping connected components over the CORE-CORE edge
    subgraph only — the iterative cost scales with core edges, not
    corpus pairs. Isolated cores (min_pts met purely by border
    neighbors) enter the component table via self-loops.

    The cosine kernel is the sequential-fold one, so the threshold test
    is bitwise engine-portable (the embed_neardup_pairs convention).
    """
    from tvbigdataproject_spark.operators.components import (
        connected_components,
    )
    from tvbigdataproject_spark.operators.similarity import (
        cosine_neardup_pairs,
        cosine_pairs_multiprobe,
    )

    if cells_col is not None:
        raw_pairs = cosine_pairs_multiprobe(
            emb, threshold=threshold, cells_col=cells_col
        )
    else:
        raw_pairs = cosine_neardup_pairs(emb, threshold=threshold)
    with Scope() as s:
        pairs = s.checkpoint(raw_pairs.select("vec_a", "vec_b"))
        nbrs = pairs.unionByName(
            pairs.select(
                F.col("vec_b").alias("vec_a"), F.col("vec_a").alias("vec_b")
            )
        )
        # classic (sklearn min_samples) convention: the eps-neighborhood
        # INCLUDES the point itself; nbrs carries no self-pairs, so the
        # test is count + 1 >= min_pts
        core = (
            nbrs.groupBy("vec_a")
            .count()
            .where(F.col("count") + 1 >= min_pts)
            .select(F.col("vec_a").alias("node"))
        )
        core_edges = (
            pairs.join(
                core.select(F.col("node").alias("vec_a")), "vec_a", "left_semi"
            )
            .join(core.select(F.col("node").alias("vec_b")), "vec_b", "left_semi")
            .select(F.col("vec_a").alias("src"), F.col("vec_b").alias("dst"))
        )
        loops = core.select(F.col("node").alias("src"), F.col("node").alias("dst"))
        clusters = connected_components(core_edges.unionByName(loops)).select(
            F.col("node").alias("vec_id"), F.col("label").alias("core_cluster")
        )
        border = (
            nbrs.join(
                core.select(F.col("node").alias("vec_a")), "vec_a", "left_anti"
            )
            .join(
                clusters.select(
                    F.col("vec_id").alias("vec_b"),
                    F.col("core_cluster").alias("nbr_cluster"),
                ),
                "vec_b",
            )
            .groupBy(F.col("vec_a").alias("vec_id"))
            .agg(F.min("nbr_cluster").alias("border_cluster"))
        )
        out = (
            emb.select("vec_id")
            .join(clusters, "vec_id", "left")
            .join(border, "vec_id", "left")
            .select(
                "vec_id",
                F.when(F.col("core_cluster").isNotNull(), F.lit("core"))
                .when(F.col("border_cluster").isNotNull(), F.lit("border"))
                .otherwise(F.lit("noise"))
                .alias("role"),
                F.coalesce("core_cluster", "border_cluster").alias("cluster"),
            )
        )
        # one small row per vector: materialize the verdict, so the
        # scope's upstream blocks (the quadratic pairs) are dead
        return s.keep(s.checkpoint(out))


def pq_codebook_pack(corpus: DataFrame, n_codes: int = 16) -> DataFrame:
    """One-row packed PQ codebook: ``cents`` = array<struct<cell, cv>>
    sorted by codeword id (``cell``), where the codewords are the
    ``n_codes`` md5-lowest vectors' QUANTIZED forms (the kmeans_lloyd
    seeding rule — deterministic, oracle-replayable). Shared by
    pq_assign (encode) and pq_adc_topk (search) so both sides score
    against the identical codebook."""
    quant = quantize_vectors(corpus).select("vec_id", "qv")
    return _seed_pack(quant, n_codes)


def pq_assign(
    corpus: DataFrame,
    n_sub: int = 4,
    n_codes: int = 16,
    dim: int = 64,
) -> DataFrame:
    """Product-quantization code assignment: split each vector into
    ``n_sub`` contiguous subvectors and encode each against a
    ``n_codes``-entry codebook by exact-integer squared distance —
    the compression step of IVF-PQ ANN indexes (Jégou et al. 2011),
    which stores dim*32-bit vectors as n_sub small codes.

    Codebooks are the md5-seeded sample (the kmeans_lloyd seeding
    rule): the n_codes md5-lowest vectors' quantized subvectors serve
    as codewords for every subspace — deterministic and oracle-
    replayable where a trained codebook would not be (a production
    index trains each codebook with kmeans_lloyd on the subvectors;
    the assignment plan below is identical either way).

    Returns (vec_id, code0..code{n_sub-1}, err_total): per-subspace
    argmin codeword ids (ties -> lower id, via lexicographic struct
    min) and the exact total squared quantization error.

    Scale shape: ONE broadcast of a single packed codebook row against
    a scan of the corpus; every distance/argmin is a JVM higher-order
    function over n_codes elements — the corpus never shuffles and no
    Python fence exists. The intentional one-row crossJoin is the
    kmeans_lloyd_assign plan shape.
    """
    sub = dim // n_sub
    quant = quantize_vectors(corpus).select("vec_id", "qv")
    packed = pq_codebook_pack(corpus, n_codes=n_codes)

    def best(s: int):
        lo = s * sub + 1  # slice() is 1-based
        return F.array_min(
            F.transform(
                F.col("cents"),
                lambda c: F.struct(
                    _sq_dist(
                        F.slice(F.col("qv"), lo, sub), F.slice(c["cv"], lo, sub)
                    ).alias("d"),
                    c["cell"].alias("cw"),
                ),
            )
        )

    joined = quant.crossJoin(F.broadcast(packed)).select(
        "vec_id",
        *[best(s).alias(f"_b{s}") for s in range(n_sub)],
    )
    err_total = None
    for s in range(n_sub):
        d = F.col(f"_b{s}.d")
        err_total = d if err_total is None else err_total + d
    return joined.select(
        "vec_id",
        *[
            F.col(f"_b{s}.cw").cast("int").alias(f"code{s}")
            for s in range(n_sub)
        ],
        err_total.cast("long").alias("err_total"),
    )


def pq_adc_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
    n_sub: int = 4,
    n_codes: int = 16,
    dim: int = 64,
) -> DataFrame:
    """PQ asymmetric-distance (ADC) top-k search — how an IVF-PQ index
    actually ANSWERS queries (Jégou et al. 2011 §IV): the corpus is
    touched only through its n_sub small codes, and each probe
    precomputes a (n_sub x n_codes) lookup table of exact integer
    squared distances from its own UNquantized-side subvectors to every
    codeword; a candidate's distance is then n_sub table lookups, not a
    dim-wide arithmetic pass.

    Returns (q_vec_id, vec_id, adc, rn) — top ``k`` per probe by
    (adc, id), self-pairs excluded. ADC distance approximates the true
    distance (that is the storage/accuracy trade PQ makes); exactness
    here means the SCORING replays bit-for-bit in a SQL oracle: integer
    quantization, integer LUTs, integer sums, deterministic ties.

    Scale shape: building the LUTs costs |probes| x dim work on a
    BOUNDED probe set (one packed-codebook broadcast); the corpus-side
    scan reads codes only (4 ints, not 64 floats — the 16x scan-width
    saving IS the point of PQ at 100 TB), scores via element_at
    lookups, and never shuffles except the final per-probe top-k over
    candidate rows.
    """
    sub = dim // n_sub
    codes = pq_assign(corpus, n_sub=n_sub, n_codes=n_codes, dim=dim).drop(
        "err_total"
    )
    packed = pq_codebook_pack(corpus, n_codes=n_codes)
    pq = quantize_vectors(probes).select(F.col("vec_id").alias("q_vec_id"), "qv")

    def lut(s: int):
        lo = s * sub + 1
        # cents is sorted by codeword id (dense 0..n_codes-1), so
        # position id+1 IS codeword id — the LUT indexes directly by code
        return F.transform(
            F.col("cents"),
            lambda c: _sq_dist(
                F.slice(F.col("qv"), lo, sub), F.slice(c["cv"], lo, sub)
            ),
        )

    probes_lut = pq.crossJoin(F.broadcast(packed)).select(
        "q_vec_id", *[lut(s).alias(f"lut{s}") for s in range(n_sub)]
    )
    adc = None
    for s in range(n_sub):
        term = F.element_at(F.col(f"lut{s}"), F.col(f"code{s}") + 1)
        adc = term if adc is None else adc + term
    scored = (
        codes.crossJoin(F.broadcast(probes_lut))
        .where(F.col("vec_id") != F.col("q_vec_id"))
        .select("q_vec_id", "vec_id", adc.cast("long").alias("adc"))
    )
    w = Window.partitionBy("q_vec_id").orderBy("adc", "vec_id")
    return scored.select(
        "q_vec_id", "vec_id", "adc", F.row_number().over(w).alias("rn")
    ).where(F.col("rn") <= k)
