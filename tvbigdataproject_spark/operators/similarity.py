"""Similarity search over embedding columns (north-star surface).

Plan shapes (see queries/embeddings.py for the oracle-checked
instantiations):
  cosine_topk        brute force — broadcast query set × partitioned
                     corpus; the exact baseline every ANN is measured by
  cell_pruned_topk   IVF-style — equi-join on a coarse cell id prunes
                     the candidate set to the probed cell(s)
  cosine_neardup_pairs  near-dup pairs blocked by cell

Every per-pair score is the Arrow-batched numpy cosine
(functions/vectors.cosine_arrow): one Python fence per stage, then
memory-bandwidth math, bitwise-identical to the JVM zip_with/aggregate
form (functions/vectors.cosine_similarity — see functions/vectors.py
for the equivalence argument). A/B at sf0.1 (2026-08-14, warm medians
of 3): embed_neardup_pairs 3.51s -> 0.83s, embed_cosine_topk 1.01s ->
0.50s against the HOF form, identical rows; sf1 numbers in SCALE.md.

Cell assignment for the learned-IVF and SemDeDup family picks its path
from the centroid count (``_TWO_LEVEL_K``): flat and exact below it,
leader-routed two-level above it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from tvbigdataproject_spark.operators.materialize import Scope, checkpoint, session_table
from tvbigdataproject_spark.operators.skew import shuffle_partition_count

from tvbigdataproject_spark.functions import cosine_arrow

# Salt buckets per cell of cosine_neardup_pairs / cosine_pairs_multiprobe
_SALT_BUCKETS = 8


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine for each query vector (brute force).

    ``queries`` must be broadcast-sized (it is replicated to every
    corpus partition); ranking carries an id tiebreak so top-k is
    deterministic at any parallelism. The scoring sweep touches
    |queries| x |corpus| pairs, scored by the vectorized Arrow cosine.
    """
    q = queries.select(
        F.col(id_col).alias("q_vec_id"), F.col(vec_col).alias("q_emb")
    )
    scored = (
        corpus.crossJoin(F.broadcast(q))
        .where(F.col(id_col) != F.col("q_vec_id"))
        .select(
            "q_vec_id",
            F.col(id_col).alias("vec_id"),
            cosine_arrow(F.col("q_emb"), F.col(vec_col)).alias("cos"),
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
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
) -> DataFrame:
    """IVF-style top-k: candidates restricted to the query's coarse cell.

    The cell id here is a precomputed column; in a full IVF build it is
    the nearest-centroid assignment from a k-means pass — the plan shape
    (equi-join on cell, per-cell scan) is identical either way.
    """
    q = queries.select(
        F.col(id_col).alias("q_vec_id"),
        F.col(cell_col).alias("q_cell"),
        F.col(vec_col).alias("q_emb"),
    )
    scored = (
        corpus.join(F.broadcast(q), F.col(cell_col) == F.col("q_cell"))
        .where(F.col(id_col) != F.col("q_vec_id"))
        .select(
            "q_vec_id",
            F.col(id_col).alias("vec_id"),
            cosine_arrow(F.col("q_emb"), F.col(vec_col)).alias("cos"),
        )
    )
    w = Window.partitionBy("q_vec_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return scored.select(
        "q_vec_id", "vec_id", "cos", F.row_number().over(w).alias("rn")
    ).where(F.col("rn") <= k)


# Fitted coarse-quantizer centroids, keyed by (cache_key, params). An
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
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 10,
    sample_target: int = 4096,
    cache_key: object = None,
) -> list[list[float]]:
    """Learn an IVF coarse quantizer: seeded KMeans (public
    pyspark.ml.clustering.KMeans) over the L2-normalized corpus vectors.

    Normalizing first makes the euclidean cells cosine-aligned (on the
    unit sphere d² = 2 - 2cos), matching the metric the scorer uses.
    Returns the centroid list (n_cells × dim floats — driver-sized by
    construction; the fit is the distributed pass).

    Scale design: the fit runs on a seeded sample of ~``sample_target``
    vectors, not the full corpus — a coarse quantizer needs cluster
    *shape*, not every point, and KMeans iterations over 100 TB would
    dominate the query. Corpora at or below the target are fitted whole
    (the count() that decides is a parquet-metadata pass). When
    ``cache_key`` identifies the corpus (e.g. its path), the centroids
    are memoized per (corpus, params) so repeated queries pay the fit
    once per session — the index-build amortization every real ANN
    system does.
    """
    key = (cache_key, n_cells, vec_col, seed, max_iter, sample_target)
    if cache_key is not None and key in _CENTER_CACHE:
        return _CENTER_CACHE[key]

    from pyspark.ml.clustering import KMeans
    from pyspark.ml.feature import Normalizer
    from pyspark.ml.functions import array_to_vector

    fit_input = corpus
    n = corpus.count()
    if n > sample_target:
        # oversample slightly so the expected sample stays ≥ target
        fit_input = corpus.sample(
            withReplacement=False, fraction=min(1.0, 1.2 * sample_target / n), seed=seed
        )
    raw = fit_input.withColumn(
        "__raw", array_to_vector(F.col(vec_col).cast("array<double>"))
    )
    feats = Normalizer(inputCol="__raw", outputCol="__features", p=2.0).transform(raw)
    # r13: materialize the ≤~sample_target-row normalized sample ONCE
    # (eager localCheckpoint, tracked release) before handing it to the
    # fit — the ml KMeans init/iteration passes then read a tiny cached
    # table instead of replaying the parquet scan + sample + normalize
    # chain per internal job. Projection to the features column only;
    # same rows, same partitioning/order, so the seeded fit returns
    # bit-identical centroids.
    with Scope() as s:
        model = KMeans(
            k=n_cells, seed=seed, maxIter=max_iter,
            featuresCol="__features", predictionCol="__cell",
        ).fit(s.checkpoint(feats.select("__features")))
    centers = [[float(x) for x in c] for c in model.clusterCenters()]
    if cache_key is not None:
        _CENTER_CACHE[key] = centers
    return centers


def _nearest_cells(vec_col: str, centers: list[list[float]], n: int) -> Column:
    """The ``n`` nearest cell ids for a vector, as an array<int> — a pure
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

    v = f"cast({vec_col} as array<double>)"
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


# Centroid count at which every cell-assignment entry point
# (attach_nearest_cells, nearest_cells_quantized, assign_nearest_centroid
# and through it semdedup_survivors) replaces the flat, exact per-row
# k-sweep with leader-routed two-level scoring, O(sqrt(k)) per row and
# approximate at group boundaries. k is driver-known at each entry
# point, so the rule costs no job. SCALE.md brackets it: the
# attach_nearest_cells ladder is even at k=64 and routed wins 1.6x at
# k=128; the multiprobe ladder's routed 1.53 s beats flat's ~2.3 s warm
# at k=160; the SemDeDup ladder's flat wins at k=80, routed at k=800.
_TWO_LEVEL_K = 128


def attach_nearest_cells(
    df: DataFrame,
    centers: list[list[float]],
    n: int,
    vec_col: str = "embedding",
    out_col: str = "cells",
) -> DataFrame:
    """Attach ``out_col`` = the ``n`` nearest learned-centroid cell ids
    (array<int>, nearest-first, ties -> lower cell) to every row —
    the ONE cell-assignment kernel for the learned-IVF family
    (round-8 verdict: ivf_topk inlined a flat O(N*k) sweep while the
    measured O(N*sqrt(k)) routing lived only in the quantized path).

    - k < ``_TWO_LEVEL_K``: the flat inlined-literal expression
      (_nearest_cells) — EXACT n-nearest by unit-sphere distance; one
      scan-local expression, no broadcast at all.
    - k >= ``_TWO_LEVEL_K``: leader-routed two-level scoring,
      O(sqrt(k)) per row: ~sqrt(k) strided leaders
      are scored first, candidates are the two nearest leaders' member
      groups (union ~2*sqrt(k) centroids), top-n within. Centroid ->
      nearest-leader membership is computed ONCE driver-side (the
      centers list is already driver-local) and shipped as a one-row
      localCheckpoint'ed broadcast pack — the corpus never shuffles,
      and per-row work references the routing result through map
      lookups so Catalyst cannot re-evaluate it per element (the
      CollapseProject hazard measured in nearest_cells_quantized).
      APPROXIMATE w.r.t. the flat sweep (boundary vectors may probe a
      neighbor group) but deterministic and partitioning-independent.

    Ranking matches the flat path's metric — unit-sphere squared
    distance — via the expanded form d2 = 1 + |c|^2 - 2*(v.c)/|v|
    (KMeans centroids are MEANS of unit vectors, so |c| varies and a
    plain dot-product rank would disagree): |c|^2 is precomputed
    driver-side into the pack, and |v| is let-bound ONCE per row with
    the transform-over-singleton trick so Catalyst cannot re-evaluate
    the norm fold per candidate (the CollapseProject HOF hazard).
    """
    import math

    k = len(centers)
    if k < _TWO_LEVEL_K:
        return df.withColumn(out_col, _nearest_cells(vec_col, centers, n))

    gs = max(1, math.isqrt(k))
    leader_cells = [i for i in range(k) if i % gs == 0]
    # nearest-leader membership, driver-side (k x sqrt(k) float ops)
    groups: dict[int, list[int]] = {lc: [] for lc in leader_cells}
    for j, c in enumerate(centers):
        best_lc, best_d = None, None
        for lc in leader_cells:
            d = sum((a - b) * (a - b) for a, b in zip(c, centers[lc]))
            if best_d is None or d < best_d:
                best_lc, best_d = lc, d
        groups[best_lc].append(j)

    def _ent(j: int):
        cv = [float(x) for x in centers[j]]
        return (j, cv, float(sum(x * x for x in cv)))

    spark = df.sparkSession
    pack = spark.createDataFrame(
        [(
            [_ent(lc) for lc in leader_cells],
            [(lc, [_ent(j) for j in members]) for lc, members in groups.items()],
        )],
        "_leaders array<struct<cell:int, cv:array<double>, c2:double>>, "
        "_entries array<struct<key:int, "
        "value:array<struct<cell:int, cv:array<double>, c2:double>>>>",
    )
    pack = checkpoint(pack.select("_leaders", F.map_from_entries("_entries").alias("_gmap")))

    v = F.col(vec_col).cast("array<double>")
    dot_of = lambda c: F.aggregate(  # noqa: E731
        F.zip_with(v, c["cv"], lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    nrm = F.sqrt(
        F.aggregate(
            F.zip_with(v, v, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )

    def cells_of(nn):
        # score = |c|^2 - 2*(v.c)/|v| — orders exactly as unit-sphere d2
        def top_of(arr, p):
            return F.transform(
                F.slice(
                    F.sort_array(
                        F.transform(
                            arr,
                            lambda c: F.struct(
                                (c["c2"] - 2.0 * dot_of(c) / nn).alias("d"),
                                c["cell"].alias("cell"),
                            ),
                        )
                    ),
                    1,
                    p,
                ),
                lambda s: s["cell"],
            )

        routed2 = top_of(F.col("_leaders"), 2)
        cands = F.flatten(
            F.transform(
                routed2, lambda cell: F.element_at(F.col("_gmap"), cell)
            )
        )
        return top_of(cands, n)

    out = F.element_at(F.transform(F.array(nrm), cells_of), 1)
    return (
        df.crossJoin(F.broadcast(pack))
        .withColumn(out_col, out)
        .drop("_leaders", "_gmap")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    n_cells: int = 8,
    ka: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
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
    assignments go through attach_nearest_cells — scan-local flat
    sweep below the measured crossover (_TWO_LEVEL_K), leader-routed
    O(N*sqrt(k)) two-level scoring above it (no shuffle, no window
    either way); the candidate join is a hash equi-join on cell with
    the query side broadcast; the corpus side stays partitioned and is
    touched once.
    """
    centers = fit_ivf_centers(
        corpus, n_cells=n_cells, vec_col=vec_col, seed=seed, cache_key=cache_key
    )

    def index() -> DataFrame:
        return attach_nearest_cells(
            corpus.select(
                F.col(id_col).alias("vec_id"), F.col(vec_col).alias("emb")
            ),
            centers,
            ka,
            vec_col="emb",
            out_col="_cells",
        ).select("vec_id", "emb", F.explode("_cells").alias("cell"))

    # materialized inverted lists: steady-state queries skip the
    # corpus-wide assignment scan, same as any built ANN index
    key = ("ivf_index", cache_key, n_cells, ka, vec_col, seed)
    assigned = (
        index()
        if cache_key is None
        else session_table(corpus.sparkSession, key, index, persist=True)
    )
    probes = attach_nearest_cells(
        queries.select(
            F.col(id_col).alias("q_vec_id"), F.col(vec_col).alias("q_emb")
        ),
        centers,
        nprobe,
        vec_col="q_emb",
        out_col="_cells",
    ).select("q_vec_id", "q_emb", F.explode("_cells").alias("cell"))
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
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
) -> DataFrame:
    """Embedding-space near-duplicate pairs (cos ≥ threshold), blocked by
    the coarse cell so the pair space is per-cell, not global.

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
        F.col(id_col).alias("vec_a"),
        F.col(cell_col).alias("cell_a"),
        F.col(vec_col).alias("emb_a"),
        F.pmod(F.hash(F.col(id_col)), F.lit(_SALT_BUCKETS)).alias("salt_a"),
    )
    b = corpus.select(
        F.col(id_col).alias("vec_b"),
        F.col(cell_col).alias("cell_b"),
        F.col(vec_col).alias("emb_b"),
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
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "cells",
) -> DataFrame:
    """Multi-probe geometric cell assignment: for every vector, the
    ``n_probes`` nearest of ``k`` md5-seeded centroids by EXACT integer
    squared distance (the kmeans_lloyd seeding + quantization rules, so
    the whole assignment replays bit-for-bit in a SQL oracle).

    Returns the corpus with ``out_col`` = array<int> of probed cell
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
    shuffles.

    From k = ``_TWO_LEVEL_K`` centroids up this runs the DENSITY-SCALED
    path (the SemDeDup-study discipline, SCALE.md): when k scales with
    the corpus, the flat per-row k-element sweep is O(N*k) —
    super-linear by construction. Two-level routing scores ~sqrt(k) group LEADERS first (the
    lowest-cell centroid of each contiguous ceil(sqrt(k))-sized cell
    group), then takes the top-p within the routed group only —
    O(N*sqrt(k)) per decade instead of O(N*k). APPROXIMATE w.r.t. the
    flat top-p (a vector near a group boundary probes only its routed
    group) but deterministic and partitioning-independent: routing is
    a pure function of the row (integer distances, ties -> lower
    leader cell). n_probes is capped by the group size.
    """
    import math

    from tvbigdataproject_spark.operators.clustering import quantize_vectors

    quant = quantize_vectors(corpus, vec_col)
    seed_order = [F.md5(F.col(id_col).cast("string")), F.col(id_col)]
    w = Window.orderBy(*seed_order)
    cents = (
        quant.orderBy(*seed_order)
        .limit(k)
        .select(
            (F.row_number().over(w) - 1).cast("int").alias("cell"),
            F.col("qv").alias("cv"),
        )
    )
    packed = cents.agg(
        F.sort_array(F.collect_list(F.struct("cell", "cv"))).alias("_cents")
    )
    dist_of = lambda c: F.aggregate(  # noqa: E731
        F.zip_with(F.col("qv"), c["cv"], lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )

    def top_of(arr, p):
        return F.slice(
            F.sort_array(
                F.transform(
                    arr,
                    lambda c: F.struct(
                        dist_of(c).alias("d"), c["cell"].alias("cell")
                    ),
                )
            ),
            1,
            p,
        )

    if k < _TWO_LEVEL_K:
        top = top_of(F.col("_cents"), n_probes)
        return (
            quant.crossJoin(F.broadcast(packed))
            .withColumn(out_col, F.transform(top, lambda s: s["cell"]))
            .drop("qv", "_cents")
        )

    # ~sqrt(k) leaders (the gs-strided seed cells); every centroid
    # belongs to its NEAREST leader's group — geometric coherence is
    # what makes routing lose little recall (grouping by cell-id RANGES
    # was measured at 0.655 pair recall vs flat on clustered data; the
    # nearest-leader grouping restores it — tests/test_clustering.py).
    # The membership is computed ONCE inside the packed one-row table
    # (centroid-to-leader integer distances), not per corpus row.
    gs = max(1, math.isqrt(k))
    cdist = lambda cv, lv: F.aggregate(  # noqa: E731
        F.zip_with(cv, lv, lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    leaders_of = lambda cents: F.filter(  # noqa: E731
        cents, lambda c: c["cell"] % gs == 0
    )
    grouped = packed.select(
        F.col("_cents"),
        leaders_of(F.col("_cents")).alias("_leaders"),
    ).select(
        F.transform(
            F.col("_cents"),
            lambda c: F.struct(
                c["cell"].alias("cell"),
                c["cv"].alias("cv"),
                F.array_min(
                    F.transform(
                        F.col("_leaders"),
                        lambda l: F.struct(
                            cdist(c["cv"], l["cv"]).alias("d"),
                            l["cell"].alias("cell"),
                        ),
                    )
                )["cell"].alias("g"),
            ),
        ).alias("_cents"),
        F.col("_leaders"),
    )
    # Reshape to (leader -> member array) MAP form and MATERIALIZE the
    # one-row pack (localCheckpoint, the kmeans pack convention) so the
    # k x sqrt(k) x dim membership computation runs exactly once.
    #
    # Per-row plan-shape hazard, measured on the density ladder at
    # c10/k=160: expressing the candidate set as
    # filter(cents, c -> array_contains(routed2, c.g)) ran 18.9s vs
    # flat's 2.0s — CollapseProject substitutes the routing expression
    # into the filter LAMBDA, re-evaluating the sqrt(k)-leader scoring
    # once per ARRAY ELEMENT (k x sqrt(k) per row). The map form
    # references the routing result once: flatten(transform(routed2,
    # cell -> gmap[cell])) — two map lookups per row, routing runs
    # once even if Catalyst inlines it.
    gmap = F.map_from_entries(
        F.transform(
            F.col("_leaders"),
            lambda l: F.struct(
                l["cell"].alias("key"),
                F.filter(
                    F.col("_cents"), lambda c: c["g"] == l["cell"]
                ).alias("value"),
            ),
        )
    )
    packed_map = checkpoint(grouped.select(gmap.alias("_gmap"), F.col("_leaders")))
    # route to the TOP-2 leaders, not one: the flat top-p's nearest
    # cells straddle a leader boundary often enough that single-group
    # routing measured only 0.65 pair recall vs flat on clustered data;
    # probing the union of the two nearest leaders' groups restores
    # 0.94 while staying O(sqrt(k)) per row (2 groups of ~sqrt(k)).
    routed2 = F.transform(
        F.slice(
            F.sort_array(
                F.transform(
                    F.col("_leaders"),
                    lambda c: F.struct(
                        dist_of(c).alias("d"), c["cell"].alias("cell")
                    ),
                )
            ),
            1,
            2,
        ),
        lambda s: s["cell"],
    )
    cands = F.flatten(
        F.transform(routed2, lambda cell: F.element_at(F.col("_gmap"), cell))
    )
    top = top_of(cands, n_probes)
    return (
        quant.crossJoin(F.broadcast(packed_map))
        .withColumn(out_col, F.transform(top, lambda s: s["cell"]))
        .drop("qv", "_gmap", "_leaders")
    )


def cosine_pairs_multiprobe(
    corpus: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
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
        F.col(id_col).alias("vec_a"),
        F.col(cells_col).alias("cells_a"),
        F.col(vec_col).alias("emb_a"),
        F.pmod(F.hash(F.col(id_col)), F.lit(_SALT_BUCKETS)).alias("salt_a"),
    ).withColumn("cell_a", F.explode("cells_a"))
    b = (
        corpus.select(
            F.col(id_col).alias("vec_b"),
            F.col(cells_col).alias("cells_b"),
            F.col(vec_col).alias("emb_b"),
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


def assign_nearest_centroid(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
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
    argmax, which IS the smallest-cid tie rule.

    From k = ``_TWO_LEVEL_K`` centroids up (k is the length of the
    collected table, so the rule costs no job) the assignment routes
    hierarchically: nearest of ~sqrt(k) leader centroids first, then
    argmax within that leader's member group — O(N*sqrt(k)) instead of
    O(N*k) scoring, the IVF/hierarchical-k-means standard for
    density-scaled k. It is APPROXIMATE w.r.t. the flat argmax: a
    vector near a group boundary can land in the neighbor cell. It
    stays deterministic and partitioning-independent (routing is fixed
    driver-side; per-row decisions are row-local; the first-max rule
    applies per stage and member lists stay in ascending-cid order),
    and a centroid still self-assigns at cos = 1 (every centroid is a
    member of its own leader's group).

    Returns (id_col, cell, vec_col) — the embedding is carried through
    so downstream per-cell passes need no join back to the corpus.
    """
    import math

    import numpy as np
    from pyspark.sql.types import StructField, StructType

    cent_rows = (
        centroids.select(F.col(id_col).alias("cid"), F.col(vec_col))
        .orderBy("cid")
        .collect()  # bounded by contract: the centroid table only
    )
    if not cent_rows:
        raise ValueError("assign_nearest_centroid: empty centroid table")
    cids = np.array([r.cid for r in cent_rows], dtype=np.int64)
    cmat = np.ascontiguousarray(
        np.array([r[vec_col] for r in cent_rows], dtype=np.float64).T
    )  # (dim, k); float32 -> float64 widening is exact
    cnorm = _fold_norms(cmat)

    groups = None
    k = cmat.shape[1]
    if k >= _TWO_LEVEL_K:
        b = max(1, math.isqrt(k - 1) + 1)  # ceil(sqrt(k))
        lead = np.ascontiguousarray(cmat[:, :b])  # first b by cid
        lnorm = cnorm[:b]
        # route every centroid to its nearest leader (driver-side,
        # k x b — bounded); members stay in ascending-cid order
        route = np.argmax(_fold_cos(cmat, lead, lnorm), axis=1)
        member_idx = [np.where(route == g)[0] for g in range(b)]
        groups = (lead, lnorm, member_idx)

    base = corpus.select(id_col, vec_col)
    out_schema = StructType(
        list(base.schema.fields[:1])
        + [StructField("cell", centroids.schema[id_col].dataType, False)]
        + list(base.schema.fields[1:])
    )
    bc = corpus.sparkSession.sparkContext.broadcast(
        (cids, cmat, cnorm, groups)
    )

    def assign(batches):
        k_cids, k_cmat, k_cnorm, k_groups = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            vt = np.ascontiguousarray(
                np.stack(pdf[vec_col].to_numpy()).T, dtype=np.float64
            )  # (dim, n)
            if k_groups is None:
                cos = _fold_cos(vt, k_cmat, k_cnorm)
                best = np.argmax(cos, axis=1)  # first max = smallest cid
            else:
                lead, lnorm, member_idx = k_groups
                # an empty leader group is unreachable: group g is empty
                # only when leader g duplicates an earlier leader, and
                # then first-max argmax can never select g for any row
                gidx = np.argmax(_fold_cos(vt, lead, lnorm), axis=1)
                best = np.empty(vt.shape[1], dtype=np.int64)
                for g in np.unique(gidx):
                    rows = np.where(gidx == g)[0]
                    m = member_idx[g]
                    sub = np.ascontiguousarray(vt[:, rows])
                    cos_g = _fold_cos(sub, k_cmat[:, m], k_cnorm[m])
                    best[rows] = m[np.argmax(cos_g, axis=1)]
            out = pdf[[pdf.columns[0], vec_col]].copy()
            out.insert(1, "cell", k_cids[best])
            yield out

    return base.mapInPandas(assign, schema=out_schema).select(
        id_col, "cell", vec_col
    )


def semdedup_survivors(
    corpus: DataFrame,
    centroids: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
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
    should scale with corpus density exactly as IVF cell count does —
    and from ``_TWO_LEVEL_K`` centroids up assign_nearest_centroid's
    sweep is O(N*sqrt(k)) hierarchical routing, not the quadratic flat
    argmax (the SemDeDup ladder's measured residual, SCALE.md).
    Returns survivors as (id_col, cell).
    """
    assigned = assign_nearest_centroid(
        corpus, centroids, id_col=id_col, vec_col=vec_col
    )
    pruned = (
        cosine_neardup_pairs(
            assigned,
            threshold=threshold,
            id_col=id_col,
            vec_col=vec_col,
            cell_col="cell",
        )
        .select(F.col("vec_b").alias(id_col))
        .distinct()
    )
    return assigned.join(pruned, id_col, "left_anti").select(id_col, "cell")
