"""Deduplication operators over document tables (north-star surface).

Four tiers, all pure DataFrame algebra over the md5-portable sketches in
functions/hashing.py (see queries/dedup.py for the oracle-checked
instantiations and the per-operator scale notes):

  exact_dedup_groups   one hash-groupBy — O(n) shuffle of digests
  ngram_jaccard_pairs  exact near-dup via shared-shingle equi-join
  minhash_lsh_pairs    MinHash+LSH candidates, candidate-local verify
  simhash_pairs        SimHash + pigeonhole banding (never a cross join)

Each reads a document table's ``doc_id`` and ``text`` columns.

On the SHUFFLE_HASH pins (here and in operators/components.py,
operators/graph.py, operators/similarity.py, queries/graph.py): every
corpus×corpus join in this engine pins SHUFFLE_HASH as a *measured
choice, not dogma*. What the pin buys: no broadcast of an unbounded
side on a size misestimate (driver OOM at 100 TB), and no corpus-wide
sort on either side (warm A/B on the ngram scorer: 1.5 s pinned vs
3.7 s unpinned). What it costs: a shuffled-hash join builds its
per-partition hash map in memory and, unlike sort-merge, degrades
abruptly under heap pressure (spill support for shuffled-hash is
coarser than sort-merge's streaming merge). SCALE.md's hub-skew
ablation measured MERGE ≈ pinned-hash on the skewed case, so when a
deployment's partitions outgrow executor heaps (shrinking
maxPartitionBytes / raising shuffle.partitions is the first lever),
switching the pin to MERGE costs little and buys robustness headroom.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from tvbigdataproject_spark.functions import lsh_bands, minhash_signature, shingles
from tvbigdataproject_spark.functions.hashing import hex_bits_hash


def exact_dedup_groups(df: DataFrame) -> DataFrame:
    """(text_hash, keep_doc_id, n_copies) over the (doc_id, text) rows:
    group by content digest, keep the minimum id. Hash before shuffling
    so the exchange carries 32-byte digests, not document bodies."""
    return (
        df.select(F.md5("text").alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def _shingled(df: DataFrame, n: int, spread: bool = True) -> DataFrame:
    """(doc_id, shs): the distinct word ``n``-gram shingles of each
    document's ``text``; documents without one are dropped."""
    # restore row parallelism before the per-document shingling work:
    # on the single-row-group TESTDATA files the scan is ONE task, and
    # shingles() (split + n-gram zip + array_distinct per document) ran
    # single-threaded for the whole prefix/minhash family. No-op
    # whenever the scan is already parallel (production many-file case).
    #
    # ``spread`` is caller-gated (r12 driver finding): the exchange
    # carries full document text, which pays off only when per-row
    # scan-side work DOMINATES (signature folds, array attaches). The
    # count-based jaccard/containment path is join-bound — its shingle
    # explode feeds straight into a shuffle that restores parallelism
    # anyway, so the extra full-text exchange made dedup_containment
    # 40% slower (PERF_r12) and is skipped there.
    if spread:
        from tvbigdataproject_spark.sources import scan_spread

        df = scan_spread(df.select("doc_id", "text"), "doc_id")
    return df.select("doc_id", shingles(F.col("text"), n).alias("shs")).where(
        F.size("shs") > 0
    )


def _score_pairs(cand: DataFrame, with_sh: DataFrame, threshold: float) -> DataFrame:
    """Exact Jaccard for candidate pairs via array_intersect on attached
    shingle arrays — candidate-local, no shingle self-join."""
    shs_a = with_sh.select(F.col("doc_id").alias("doc_a"), F.col("shs").alias("shs_a"))
    shs_b = with_sh.select(F.col("doc_id").alias("doc_b"), F.col("shs").alias("shs_b"))
    # the attach sides are one-row-per-document (corpus-sized): a size
    # misestimate must not broadcast them — shuffle-hash on the doc id
    # is right at every scale
    attached = (
        cand.hint("SHUFFLE_HASH")
        .join(shs_a.hint("SHUFFLE_HASH"), "doc_a")
        .join(shs_b.hint("SHUFFLE_HASH"), "doc_b")
    )
    i = F.size(F.array_intersect(F.col("shs_a"), F.col("shs_b")))
    union_size = F.size("shs_a") + F.size("shs_b") - i
    return (
        attached.select("doc_a", "doc_b", (i.cast("double") / union_size).alias("jacc"))
        .where(F.col("jacc") >= threshold)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.4,
) -> DataFrame:
    """Exact near-dup pairs by shingle Jaccard.

    Count-based: the shared-shingle self-join's group counts ARE the
    intersection sizes, and each side's set size |A| rides along with
    its exploded shingle rows (the shingle array is already distinct,
    so size(shs) is computed in the scan stage — no separate sizes
    table, no size-attach joins). Each co-occurring pair is scored from
    three integers, never by materializing shingle arrays per pair;
    map-side partial aggregation absorbs the co-occurrence fan-out
    before the shuffle. Net plan: ONE self-equi-join + one groupBy —
    at corpus scale that is two fewer full shuffles than the
    sizes-table formulation.
    """
    inter = _ngram_pair_counts(df, n)
    scored = inter.select(
        "doc_a",
        "doc_b",
        (F.col("i") / (F.col("na") + F.col("nb") - F.col("i"))).alias("jacc"),
    )
    return scored.where(F.col("jacc") >= threshold)


def ngram_containment_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.6,
) -> DataFrame:
    """Near-dup pairs by shingle CONTAINMENT |A∩B| / min(|A|, |B|).

    Containment catches the subset/superset relations Jaccard dilutes: a
    short document fully embedded in a long one (quote farms, wrapper
    boilerplate around a copied article) can have Jaccard ≪ threshold
    while its containment is ~1. Same candidate generation and count-
    based scoring as ngram_jaccard_pairs — only the final score
    expression differs, so the plan shape (one self-equi-join + one
    groupBy) and its scale properties are identical.
    """
    inter = _ngram_pair_counts(df, n)
    scored = inter.select(
        "doc_a",
        "doc_b",
        (F.col("i") / F.least(F.col("na"), F.col("nb"))).alias("containment"),
    )
    return scored.where(F.col("containment") >= threshold)


def ngram_jaccard_pairs_prefix(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.4,
) -> DataFrame:
    """Exact near-dup pairs by shingle Jaccard with PREFIX FILTERING —
    same answer as ngram_jaccard_pairs, far fewer candidates.

    Prefix-filtering principle (Chaudhuri et al. ICDE'06; Xiao et al.
    WWW'08 "PPJoin"): order every document's shingles by a global total
    order (rarest first — ascending corpus frequency, shingle text as
    tie-break) and keep only the first |A| - ceil(t*|A|) + 1 as its
    *prefix*; any pair with Jaccard >= t must share at least one prefix
    shingle. Candidates therefore come from a self-join of the PREFIX
    table only, and because prefixes are built rarest-first they live in
    the thin tail of the frequency distribution — exactly the shingles
    that collide least. A boilerplate shingle shared by a million
    documents lands in nobody's prefix, so the quadratic blowup the
    full shared-shingle join suffers on common shingles never happens.
    Candidates are then verified exactly (array_intersect on attached
    shingle sets, the same verify stage the MinHash tier uses) — the
    filter is lossless, which the oracle checks by comparing against
    the same brute-force SQL as the plain operator.

    Cost model vs ngram_jaccard_pairs: adds one global frequency
    aggregate and a per-document top-(prefix) window (both shuffle on
    shingle/doc — partial aggs absorb the fan-out) and buys a candidate
    set that shrinks as duplication concentrates in common shingles.
    At 100 TB the full-join variant's candidate volume is dominated by
    the most frequent shingle's collision count; this variant's is
    bounded by collisions among RARE shingles only. The verify join is
    candidate×corpus, shuffle-hash pinned like every pair join.

    Measured on sf0.1 (2026-08-13): 1,130,536 full-join candidate pairs
    vs 522,276 prefix candidates (2.2x) — and that corpus has near-
    uniform shingle frequencies (random-word synthetic docs), the
    prefix filter's worst case. Real corpora are Zipfian in shingle
    frequency, which is where the bound-by-rare-collisions property
    pays off.

    REGIME DEPENDENCE (measured on the dup-heavy generated sf1, where
    every document has ~10 near-identical copies): clustered duplication
    weakens plain prefix filtering — copies share the same RARE
    shingles, so prefix candidates alone ballooned to 52.5M pairs vs
    250,600 true pairs and the array-attach verify made the first
    version 6x slower than ngram_jaccard_pairs end-to-end. The PPJoin
    length + positional filters below close most of that gap
    losslessly: on dup-heavy copies=3 data the filtered variant runs
    within ~10% of the full join (12.7s vs 11.3s, identical output)
    where the unfiltered prefix version took 1.9x longer. Prefer THIS
    variant when the corpus' pathology is a few ultra-hot boilerplate
    shingles (the full join's quadratic case); the count-based full
    join remains marginally better when duplication is purely
    clustered.
    """
    from pyspark.sql import Window

    with_sh = _shingled(df, n)
    sh = with_sh.select(
        "doc_id", F.size("shs").alias("n_sh"), F.explode("shs").alias("s")
    )
    freq = sh.groupBy("s").agg(F.count(F.lit(1)).alias("freq"))
    w = Window.partitionBy("doc_id").orderBy("freq", "s")
    prefix_len = F.col("n_sh") - F.ceil(F.col("n_sh") * threshold) + 1
    ranked = (
        sh.hint("SHUFFLE_HASH")
        .join(freq.hint("SHUFFLE_HASH"), "s")
        .withColumn("rn", F.row_number().over(w))
    )
    prefix = ranked.where(F.col("rn") <= prefix_len).select(
        "doc_id", "s", "rn", "n_sh"
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    na, nb = F.col("a.n_sh"), F.col("b.n_sh")
    ra, rb = F.col("a.rn"), F.col("b.rn")
    # PPJoin-style pruning, both lossless for jaccard >= t:
    # - length filter: jacc <= min/max, so min(|A|,|B|) >= t*max(|A|,|B|)
    # - positional filter: shared shingles keep their relative order
    #   under the global (freq, s) sort, so a match at full-order ranks
    #   (ra, rb) bounds the overlap at min(ra,rb) + min(|A|-ra, |B|-rb);
    #   a pair survives only if its TIGHTEST bound (min over matches)
    #   reaches the required overlap alpha = ceil(t(|A|+|B|)/(1+t)).
    #   The 1e-9 slack keeps the float ceil conservative — alpha may
    #   only ever round DOWN, or a true pair could be pruned.
    matches = a.hint("SHUFFLE_HASH").join(
        b.hint("SHUFFLE_HASH"),
        (F.col("a.s") == F.col("b.s"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
        & (na >= threshold * nb)
        & (nb >= threshold * na),
    )
    bound = F.least(ra, rb) + F.least(na - ra, nb - rb)
    alpha = F.ceil(
        threshold * (na + nb) / (1.0 + threshold) - F.lit(1e-9)
    )
    cand = (
        matches.select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            bound.alias("bound"),
            alpha.alias("alpha"),
        )
        .groupBy("doc_a", "doc_b", "alpha")
        .agg(F.min("bound").alias("min_bound"))
        .where(F.col("min_bound") >= F.col("alpha"))
        .select("doc_a", "doc_b")
    )
    return _score_pairs(cand, with_sh, threshold)


def _ngram_pair_counts(df: DataFrame, n: int) -> DataFrame:
    """Candidate pairs with (na, nb, i) set-size/intersection counts —
    the shared core of the Jaccard and containment scorers."""
    # spread=False: this path is join-bound (the explode feeds the
    # shingle self-join's own exchange); see _shingled.
    with_sh = _shingled(df, n, spread=False)
    sh = with_sh.select(
        "doc_id", F.size("shs").alias("n_sh"), F.explode("shs").alias("s")
    )
    return (
        # both sides are the full exploded shingle table: an AQE broadcast
        # here ships the corpus to the driver (OOM at scale) and defeats
        # exchange reuse, recomputing the shingle expression twice.
        # SHUFFLE_HASH partitions both sides by shingle — the identical
        # exchanges collapse to one via ReusedExchange.
        sh.alias("a")
        .hint("SHUFFLE_HASH")
        .join(
            sh.alias("b").hint("SHUFFLE_HASH"),
            (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        # n_sh is functionally dependent on doc_id — grouping by it is
        # free and keeps the sizes available without any re-join
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n_sh").alias("na"),
            F.col("b.n_sh").alias("nb"),
        )
        .agg(F.count(F.lit(1)).alias("i"))
    )


def _minhash_candidates(
    df: DataFrame, n: int, num_hashes: int, bands: int
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(shingled docs, (doc_id, sig) MinHash signatures, (doc_a, doc_b)
    LSH candidate pairs): signatures computed in the scan stage, zero
    shuffles; candidates from the banded bucket self-join."""
    rows_per_band = num_hashes // bands
    with_sh = _shingled(df, n)
    sig = with_sh.select(
        "doc_id", minhash_signature(F.col("shs"), num_hashes=num_hashes).alias("sig")
    )
    band_df = sig.select(
        "doc_id",
        F.explode(lsh_bands(F.col("sig"), bands=bands, rows_per_band=rows_per_band)).alias("bk"),
    )
    cand = (
        # corpus-sized band table on both sides: never broadcast (see
        # ngram_jaccard_pairs) — shuffle-hash on the band key
        band_df.alias("a")
        .hint("SHUFFLE_HASH")
        .join(
            band_df.alias("b").hint("SHUFFLE_HASH"),
            (F.col("a.bk") == F.col("b.bk")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    return with_sh, sig, cand


def minhash_lsh_pairs(
    df: DataFrame,
    n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.4,
) -> DataFrame:
    """Approximate near-dup pairs: MinHash signatures (computed in the
    scan stage, zero shuffles), banded LSH bucket join for candidates,
    candidate-local exact-Jaccard verify."""
    with_sh, _, cand = _minhash_candidates(df, n, num_hashes, bands)
    return _score_pairs(cand, with_sh, threshold)


SIMHASH_BITS = 32


def simhash_values(df: DataFrame) -> DataFrame:
    """(doc_id, simhash): 32-bit SimHash over the whitespace tokens of
    ``text``,
    frequency-weighted (standard SimHash: a token voting k times moves
    the majority by k — on corpora with a small shared vocabulary,
    distinct-token sketches collapse to near-identical values and the
    hamming graph degenerates; weighting by occurrence restores
    discrimination).

    Computed entirely row-locally: the token hashes are a let-bound array
    and each bit's majority vote is a filter-count over it — no explode,
    no shuffle, the sketch is born in the scan stage. (An explode +
    32-way SUM groupBy computes the same thing with a full shuffle of
    every token.)

    32 bits (vs a narrower sketch) keeps hamming ≤ 2 meaningful at
    corpus scale: random doc pairs collide with probability ~(1+32+496)/2³²
    ≈ 1e-7, so candidate volume tracks true near-dups, not noise.
    """
    from tvbigdataproject_spark.functions.text import _bind

    toks = F.split(F.lower("text"), " ")

    def body(hs: Column) -> Column:
        n = F.size(hs)
        sim = None
        for j in range(SIMHASH_BITS):
            def bit_set(shift: int):
                return lambda h: F.shiftright(h, shift).bitwiseAND(1) == 1

            n_set = F.size(F.filter(hs, bit_set(j)))
            # majority vote: sum of (2*bit-1) > 0  ⇔  2*n_set - n > 0
            term = F.when(2 * n_set - n > 0, F.lit(1).cast("long")).otherwise(0) * (1 << j)
            sim = term if sim is None else sim + term
        return sim

    hashes = F.transform(toks, lambda t: hex_bits_hash(t, 8))
    return df.select("doc_id", _bind(hashes, body).alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    max_hamming: int = 2,
) -> DataFrame:
    """(doc_a, doc_b, hamming ≤ max_hamming) via pigeonhole banding: the
    32-bit sketch splits into 3 chunks (11/11/10 bits); hamming ≤ 2 ⇒ at
    least one chunk matches exactly, so candidates come from a single
    self-equi-join on (band position, chunk value) over the posexploded
    chunk table — never an O(n²) cross join. (For max_hamming k, use k+1
    chunks.)

    One composite-key join replaces the previous three per-chunk joins:
    one shuffle instead of three and no persist() to leak — the round-1
    version cached the chunk table for the session lifetime on every
    call.

    Two plan-hygiene moves keep the expensive sketch expression to one
    evaluation per join side (measured 3.3x on sf0.1):
    - null-text rows are filtered up front and the sketch wrapped in
      coalesce(.., 0) so it is non-nullable — otherwise the join key's
      inferred IsNotNull(chunk) constraint re-inlines the full 32-term
      majority-vote expression as a Filter next to the Project.
      (Null-text docs never paired anyway: their null chunk failed the
      equi-join; the explicit filter preserves that.)
    - SHUFFLE_HASH join hints: the banded table is one-row-per-(doc,
      chunk) — corpus-sized — so Spark's size estimate must not pick a
      broadcast (the build side is the whole corpus: driver OOM at
      scale); shuffle-hash on (band, chunk) is the strategy that is
      right at every scale, with AQE still handling skewed chunks.
    """
    # spread before the per-document token-hash folds in simhash_values
    # (single-task scans otherwise — the _shingled rationale)
    from tvbigdataproject_spark.sources import scan_spread

    df = scan_spread(df.select("doc_id", "text"), "doc_id")
    sim = simhash_values(df.where(F.col("text").isNotNull())).select("doc_id", F.coalesce(F.col("simhash"), F.lit(0)).alias("simhash"))
    banded = sim.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                F.col("simhash").bitwiseAND(0x7FF),
                F.shiftright("simhash", 11).bitwiseAND(0x7FF),
                F.shiftright("simhash", 22).bitwiseAND(0x3FF),
            )
        ).alias("band", "chunk"),
    )
    cands = (
        banded.alias("a")
        .hint("SHUFFLE_HASH")
        .join(
            banded.alias("b").hint("SHUFFLE_HASH"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sim_a"),
            F.col("b.simhash").alias("sim_b"),
        )
    )
    dist = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (
        cands.distinct()
        .select("doc_a", "doc_b", dist.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
    )


def max_dup_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
) -> DataFrame:
    """Cross-document MAXIMAL repeated spans — the upgrade of the
    fixed-granularity dup-span signal to what production substring
    dedup removes (Lee et al. "Deduplicating Training Data Makes
    Language Models Better"; RefinedWeb): for every document, the
    maximal contiguous token regions in which EVERY token is covered
    by some word n-gram that also occurs in another document.

    Returns (doc_id, span_start, span_end, n_tokens, n_grams) with
    1-based inclusive token positions; one row per maximal span.

    Suffix arrays don't distribute; sorted-shingle run merging does,
    and computes the same removable regions:

    1. posexplode the (non-distinct) n-gram shingles — (doc, pos, gram)
       with pos in token units; the gram travels as its md5 digest so
       the two gram-keyed shuffles carry 32-byte keys, not 8-word
       strings (same discipline as exact_dedup_groups);
    2. grams in >= 2 distinct documents = duplicated (one digest-keyed
       distinct + count — document frequency, not raw occurrences, so
       a phrase repeated only inside one doc doesn't self-justify);
    3. semi-join the positions against the duplicated digests, then
       merge runs per document: the gram at pos covers tokens
       [pos, pos+n-1], so coverage is contiguous exactly while
       pos - prev_pos <= n; a lag/cumsum window over (doc, pos)
       assigns run ids without any self-join.

    Every shuffle keys on the gram digest or the doc id — nothing is
    all-pairs, and the per-doc window state is bounded by document
    length. At 100 TB the digest tables dominate; they are O(total
    tokens) rows of (16B digest, 8B id, 4B pos) and partition freely.
    """
    toks_shingles = shingles(F.col(text_col), n=n, distinct=False)
    sh = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(toks_shingles).alias("pos", "s"),
    ).select("doc_id", "pos", F.md5("s").alias("g"))
    dup_grams = (
        sh.select("g", "doc_id")
        .distinct()
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("df_"))
        .where(F.col("df_") >= 2)
        .select("g")
    )
    dup_pos = sh.join(dup_grams, "g", "left_semi").select("doc_id", "pos")
    w_ord = Window.partitionBy("doc_id").orderBy("pos")
    brk = F.when(
        F.col("pos") - F.lag("pos").over(w_ord) > n, F.lit(1)
    ).otherwise(F.lit(0))
    runs = dup_pos.withColumn("brk", brk).withColumn(
        "run_id",
        F.sum("brk").over(
            w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    spans = runs.groupBy("doc_id", "run_id").agg(
        (F.min("pos") + 1).cast("long").alias("span_start"),
        (F.max("pos") + n).cast("long").alias("span_end"),
        F.count(F.lit(1)).alias("n_grams"),
    )
    return spans.select(
        "doc_id",
        "span_start",
        "span_end",
        (F.col("span_end") - F.col("span_start") + 1).alias("n_tokens"),
        "n_grams",
    )


def apply_span_removal(
    docs: DataFrame,
    spans: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Materialize the span-clipped corpus: cut every token range in
    ``spans`` (1-based inclusive [span_start, span_end] over the
    whitespace tokens of ``lower(text)`` — max_dup_spans' coordinate
    system) out of each document and re-join the survivors with single
    spaces. Production substring dedup emits the cleaned corpus, not
    just the spans (Lee et al. "Deduplicating Training Data Makes
    Language Models Better"; RefinedWeb) — this is that emission step.

    Returns (doc_id, n_tokens_kept, clean_text); every input document
    appears, including fully-clipped ones (n_tokens_kept = 0,
    clean_text = '').

    Fully relational — no UDF, no per-row Python:

    1. posexplode the token array — (doc, pos, tok), O(total tokens);
    2. explode each span to its covered positions — O(covered tokens),
       bounded by total tokens since merged spans never overlap;
    3. one (doc, pos)-keyed anti-join drops covered tokens;
    4. per-doc reassembly: collect the surviving (pos, tok) structs,
       array_sort (pos leads the struct, so order is positional), and
       concat — state bounded by document length, the same bound every
       per-doc window in this module already carries.

    Both heavy joins key on (doc_id, pos) / doc_id — nothing all-pairs,
    so the plan scales with corpus size like the span detector itself.
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.lower(F.col(text_col)), " ")).alias(
            "pos0", "tok"
        ),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    covered = spans.select(
        "doc_id",
        F.explode(
            F.sequence(F.col("span_start"), F.col("span_end"))
        ).alias("pos"),
    )
    kept = toks.join(covered, ["doc_id", "pos"], "left_anti")
    agg = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
        ).alias("clean_text"),
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_tokens_kept"), F.lit(0).cast("long")).alias(
                "n_tokens_kept"
            ),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        )
    )
