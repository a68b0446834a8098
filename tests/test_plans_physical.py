"""Physical-plan invariants — the scale contract, asserted.

These tests read explain() output: correctness says what a query
returns, these say how it may execute. They are the regressions that
matter at 100 TB (a dropped pushdown or a surprise nested-loop join is
invisible at sf0.01 and fatal at scale).
"""

from __future__ import annotations

import contextlib
import io
import re

import pytest

from _querycache import registry_df

from tvbigdataproject_spark.queries import REGISTRY

SF_DIR = "/root/testdata/sf0.001"

# formatted-plan memo: explain() re-runs physical planning every call,
# and the full-registry audits below render most plans twice more after
# the per-query fences — one string per (query) is enough for all of
# them. The underlying DataFrames are shared with the smoke executor
# via tests/_querycache.py (an iterative query's fn() executes real
# jobs at call time, so duplicate builds replay whole loops).
_PLAN_CACHE: dict[str, str] = {}


def _plan(spark, name: str) -> str:
    if name not in _PLAN_CACHE:
        df = registry_df(spark, name, SF_DIR)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        _PLAN_CACHE[name] = buf.getvalue()
    return _PLAN_CACHE[name]


def test_filter_and_projection_reach_parquet_scan(spark):
    plan = _plan(spark, "filter_pushdown_project")
    assert "PushedFilters: [" in plan
    assert "l_returnflag" in plan.split("PushedFilters")[1][:200]
    # column pruning: read schema carries only the 5 needed columns
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    for col in ("l_orderkey", "l_partkey", "l_extendedprice", "l_discount", "l_quantity"):
        assert col in read_schema
    assert "l_comment" not in read_schema and "l_shipdate" not in read_schema


def test_timestamp_filter_pushdown(spark):
    plan = _plan(spark, "pricing_summary")
    assert "PushedFilters: [" in plan and "l_shipdate" in plan.split("PushedFilters")[1][:200]


def test_dim_joins_are_broadcast(spark):
    for name in ("join_inner_agg", "join_broadcast_dims", "two_hop_neighborhood"):
        plan = _plan(spark, name)
        assert "BroadcastHashJoin" in plan, name
        assert "SortMergeJoin" not in plan, name


def test_nested_loop_joins_only_where_intended(spark):
    # three intentional nested-loop shapes: the non-equi range join (no
    # hash-join form exists), the brute-force ANN baseline (a cross join
    # over a broadcast 10-row query set IS the algorithm), and
    # tfidf_top_terms' global-N attach (a broadcast cross join with a
    # one-row aggregate — a literal-key equi-join constant-folds back to
    # this plan, so the cross join is written explicitly). Everything
    # else must never fall back to a nested loop — the reference's
    # disjunctive-predicate report join did (SURVEY.md J5), and staying
    # free of accidental ones is part of the rewrite's contract.
    # decile_assign_range_join joins against a bounded 10-row percentile
    # bands table on a non-equi condition — same intended broadcast-NLJ
    # shape as range_join_bands
    intended = {
        "range_join_bands",
        "embed_cosine_topk",
        "tfidf_top_terms",
        "decile_assign_range_join",
        # one-row corpus-total attach, same shape as tfidf_top_terms
        "rare_term_score",
        # one-row scalar-subquery attaches compared by INEQUALITY (Q11
        # fraction-of-total, Q22 avg threshold): a broadcast cross join
        # with a one-row aggregate is the decorrelated plan. (The Q15
        # max attach is an EQUALITY — Catalyst rewrites crossJoin +
        # equality filter into a broadcast hash join, so it is not here.)
        "important_part_value",
        "idle_customer_balance",
        # one-row grand-total / global-stats attaches (same shape as
        # tfidf_top_terms)
        "basket_lift_pairs",
        "bigram_lift",
        "zscore_anomaly_days",
        # one-row min/max extent attach for equi-width bucket edges
        "histogram_equiwidth_value",
        # one-row global-max-date anchor attach for dyadic decay ages
        "decayed_event_score",
        # three one-row argmax-merge attaches — the BPE round structure
        "bpe_merge_rounds",
        # same argmax-merge attaches re-derived for the encode path
        "bpe_encode_tokens",
        # one-row corpus-stats (N, avgdl) attach, tfidf_top_terms' shape
        "bm25_topk",
        # one-row query-vector + one-row-per-round selection attaches
        "mmr_diverse_topk",
        # broadcast 5-probe set x corpus, exact AND quantized sweeps —
        # the same brute-force rationale as embed_cosine_topk
        "quantize_recall_topk",
        # broadcast bounded probe set x corpus sketches IS the
        # brute-force top-k algorithm (same rationale as
        # embed_cosine_topk)
        "simhash_hamming_topk",
        # (skyline_parts' phase-2 dominance anti-join is the same
        # intended broadcast-NLJ shape, but its guarded path now runs
        # eagerly and returns a checkpointed result whose plan is a
        # scan — the finisher choice is asserted in test_skyline.py
        # via the skyline_finisher attribute instead)
        # one-row Bloom-filter attach (128 longs) — the constant-size
        # sketch broadcast IS the decontamination algorithm
        "bloom_contamination_probe",
        # (semdedup_prune's centroid sweep WAS a broadcast crossJoin
        # here; the density-scaled ladder measured that shape
        # 5.3x/decade super-linear, so assignment is now a scan-local
        # mapInPandas argmax — no NLJ, no window; see SCALE.md)
        # ONE-row packed-centroid attach per Lloyd sweep — the corpus
        # never shuffles for assignment (operators/clustering.py)
        "kmeans_lloyd_assign",
        # same one-row packed-codebook attach for PQ code assignment
        "embed_pq_codes",
        # codebook attach + broadcast bounded probe-LUT x corpus codes —
        # the ADC search shape (embed_cosine_topk's rationale, 16x
        # narrower scan)
        "embed_pq_adc_topk",
        # ADC shape + the exact brute quantized sweep it audits against
        "adc_recall_eval",
        # hard_negative_mining blocks on PQ code0 — same codebook attach
        "hard_negative_mining",
        # double-sweep final assembly: three one-row broadcast attaches
        # (seed node, sweep-1 pivot, eccentricity tail) — each side is
        # exactly one row by construction (graph6.py)
        "graph_diameter_sweep",
        # one-row global n_min attach (same shape as tfidf_top_terms)
        "mixture_temperature_sample",
        # one-row key-mass totals attach under the top-k (tfidf shape)
        "skew_key_profile",
        # broadcast bounded 100-query set x corpus — the brute-force
        # truncation-audit baseline, embed_cosine_topk's exact shape
        "matryoshka_prefix_nn",
        # one-row totals + one-row denominator + 7-row lag-spine
        # attaches (tfidf shape over the bounded day grid)
        "acf_daily_revenue",
        # one-row grand-total attach (tfidf shape)
        "benford_price_audit",
        # one-row corpus-total + one-row leftover-slots attaches; the
        # allocation itself runs on the bounded source table
        "quota_sample_allocation",
        # one-row packed-centroid attach (the kmeans_lloyd_assign shape)
        "silhouette_kmeans_cells",
        # one-row chance-agreement attach (tfidf shape)
        "cohen_kappa_langid",
        # one-row packed source-counts attach for the closed-form
        # interleave position
        "interleave_sources_order",
        # one-row rank-sum / total attaches (tfidf shape)
        "gini_customer_spend",
        # one-row totals + ties + sorted-fold attaches
        "kruskal_wallis_value",
        # one-row (na, nb) totals attach over the bounded length grid
        "ks_doclen_lang",
        # one-row count / median / fold attaches over the day grid
        "runs_test_daily_revenue",
        # bounded 5x20 margin cross join + one-row n/chi2 attaches
        "cramers_v_lang_source",
        # one-row session-count / max attaches over the sweep
        "max_concurrent_sessions",
        # one-row total-weight attach (tfidf shape)
        "attribution_time_decay",
        # bounded 5-row k-ladder broadcast joined on a non-equi degree
        # threshold (twice) — the intended rich-club sweep
        "rich_club_coefficient",
        # one-row (vmin, vmax, d0, n_days) bounds attach before binning
        # (tfidf shape)
        "tvd_value_drift",
        # one-row count attach over the bounded 2080-row pair table
        "embed_covariance_pairs",
        # 7-row lag-spine cross over the calendar-bounded day grid
        # (the acf_daily_revenue shape)
        "xcorr_lead_lag_types",
        # bounded QI-group x band-domain grid fill + one-row N / D
        # attaches (tfidf shape)
        "t_closeness_audit",
        # broadcast bounded 100-probe set x corpus — embed_cosine_topk's
        # brute-force baseline shape
        "nn_label_agreement",
        # one-row max/ray/norm attaches around the checkpointed bounded
        # 64x64 matrix and 64-row iterate tables
        "embed_pca_power_iteration",
        # --- round-9 session-2 (portable-kernel tier): every entry
        # below is the tfidf-shaped ONE-ROW (or label-bounded) totals
        # attach unless noted otherwise
        "mutual_info_lang_source",    # one-row N attach on the cell table
        "dsir_importance_topk",       # one-row (S, T) totals on 256 buckets
        "js_divergence_by_source",    # one-row token-total attach
        "tfidf_log_topk",             # one-row n_docs attach
        "bm25_log_topk",              # one-row (n_docs, tot) stats attach
        "pmi_collocations",           # one-row bigram-total attach
        "info_gain_lang_features",    # one-row lang-margin + total attaches
        "log_odds_dirichlet_terms",   # one-row (A, B, V) totals attach
        "ndcg_bm25_eval",             # one-row IDCG attach (+ bm25 stats)
        "cross_entropy_lang_matrix",  # one-row vocab-size attach
        "ngram_entropy_ladder",       # one-row prefix-sum attach per order
        "psi_value_drift",            # one-row bounds + period totals on 10 bins
        "mann_whitney_pvalue",        # one-row tie-sum attach on the base stat
        "ks_doclen_pvalue",           # inherits ks_doclen_lang's totals attach
        "kruskal_wallis_pvalue",      # inherits kruskal_wallis_value's attaches
        "calibration_ece_quality",    # one-row N attach on the 10-bin table
        "logistic_irls_fit",          # one-row beta attach per Newton step
        "km_na_survival_weekly",      # one-row max-date attach
        "logrank_repurchase_segments",  # one-row max-date attach
        "poisson_bootstrap_ci",       # 39-row resample grid x corpus IS the bootstrap fan-out
        "block_jackknife_ci",         # one-row totals on the 32-block table
        "pr_curve_quality",           # 21-row threshold grid x corpus IS the sweep
        "transition_entropy_events",  # one-row pair-total attach
        "fdr_bh_qvalues",             # one-row global-moments attach
        "good_turing_token_mass",     # one-row gram-total attach
        "markov_stationary_types",    # one-row type-count attach
        "stratified_ate_priority",    # one-row pivoted-ATE attach
        "borda_source_ranking",       # one-row source-count attach
        "permutation_test_segments",  # one-row observed-diff attach
        "eb_shrunk_return_rates",     # one-row Beta-prior attach
        "ipf_raking_weights",         # one-row grand-total attach (x3 rounds)
        # round 11
        "holm_stepdown_family",       # one-row global-moments attach (fdr twin)
        "untapped_customer_balance",  # one-row avg-balance + cutoff-date attaches
        "kneser_ney_bigram_topk",     # one-row bigram-type-count attach
        "hill_tail_index_orders",     # one-row k-th-order-stat attach
        "timed_funnel_conversion",    # one-row stage-count attaches
        "bcubed_dedup_eval",          # one-row corpus-size attach
        "binseg_two_changepoints",    # one-row first-split attach on the day grid
        "nation_homophily_trade",     # one-row margin-product attach
        # round 12 (all bounded by construction: one-row aggregate
        # attaches, literal lag/lambda/term grids, or the day-grid
        # range join — audited via the full-registry NLJ sweep)
        "anderson_darling_doclen",    # one-row pooled-total attach
        "capture_recapture_users",    # one-row min-date anchor attach
        "cvm_doclen_lang",            # one-row pooled-total attach
        "entropy_rate_markov",        # one-row type-count attach
        "graph_reciprocity",          # one-row edge-total attach
        "community_conductance",      # one-row total-volume attach
        "huber_irls_location",        # one-row iterate attach (x3 rounds)
        "hurst_rs_daily",             # bounded per-scale leg attaches
        "isotonic_weekly_trend",      # one-row PAVA state attach
        "ljung_box_daily",            # one-row variance attach + 3-row lag grid
        "minhash_scurve_design",      # one-row neighbor-count attach
        "neyman_allocation_segments", # one-row total-allocation attach
        "pacf_daily_revenue",         # one-row moments attach + 3-row lag grid
        "page_hinkley_drift",         # one-row running-min attach
        "query_likelihood_dirichlet", # literal query-term grid + one-row totals
        "ridge_path_qty_discount",    # one-row Gram attach x literal lambda grid
        "tail_dependence_nations",    # one-row quantile/total attaches
        "ts_motif_pairs",             # day-grid non-equi range join (no hash form)
    }
    for name in intended:
        assert "BroadcastNestedLoopJoin" in _plan(spark, name), name
    for name in sorted(REGISTRY):
        if name not in intended:
            assert "NestedLoopJoin" not in _plan(spark, name), name


_BOUNDED_GLOBAL_WINDOWS = {
    # one-line bound rationale per query whose OPTIMIZED plan carries a
    # Window with an empty partition spec. An unpartitioned window
    # always coalesces its input to ONE task, so each entry must name
    # why that input is bounded at ANY scale factor.
    "benford_first_digit": "global share over the <=9-row leading-digit table",
    "chi2_lang_source": "grand total over the lang x source contingency table (label-domain product)",
    "compaction_bins": "bucket-offset running sum over the derived-width bin table (~4k rows at any SF)",
    "domain_mixture_weights": "corpus-share window over the domain table (bounded by #domains)",
    "embed_pq_codes": "k-row kmeans seed ranking (operators/clustering.py seed window)",
    "embed_pq_adc_topk": "k-row codebook seed rankings (encode + LUT sides)",
    "adc_recall_eval": "k-row codebook seed rankings (ADC + exact audit sides)",
    "global_row_numbers": "bucket-offset running sum; derived width keeps ~4k rows at any SF (operators/sequence.py)",
    "hard_negative_mining": "k-row seed rankings for the two PQ codebook trainings",
    "histogram_equidepth_value": "bucket-offset running sum over the ~4k-row cents-bucket table (r8 NTILE fix)",
    "mann_whitney_u": "bucket-offset rank decomposition: running sum over the value-bucket table",
    "quota_sample_allocation": "largest-remainder ranking over the source table (bounded by #sources)",
    "rolling_corr_28d": "28-day frame over the daily grid (bounded by calendar span)",
    "spearman_rank_corr": "bucket-offset rank decomposition over frequency/spend bucket tables",
    "target_encode_smoothed": "largest-remainder ranking over the category table (bounded by #categories)",
    "wma_weekly_revenue": "weighted frame over the weekly grid (bounded by calendar span)",
    "zipf_band_mass": "bucket-offset running sum over the <=64-row log2(count) bucket table (r9 rank-free rewrite)",
    "gini_customer_spend": "bucket-offset running sum over the spend-bucket table (~dozens of rows at any SF)",
    "kruskal_wallis_value": "bucket-offset running sum over the cents-bucket table",
    "ks_doclen_lang": "ECDF cumulative over the n_chars value grid (bounded by the length domain)",
    "runs_test_daily_revenue": "median rank + lag over the bounded day grid",
    "max_concurrent_sessions": "bucket-offset running sum over the epoch-hour grid (bounded by calendar span)",
    "effective_diameter_landmarks": "cumulative + total over the <=5-row hop histogram",
    "watermark_lateness_profile": "prefix max over the <=4096-row md5-prefix bucket table",
    "zonemap_prune_stats": "per-layout file-share window over the <=3-row verdict table",
    "tvd_value_drift": "share + TVD windows over the 10-row bin grid",
    "rrf_fused_retrieval": "rank windows over the two TakeOrdered top-100 candidate lists",
    "l_moments_order_value": "cumulative over the distinct-dollar grid (bounded by the price domain)",
    "neardup_threshold_curve": "descending cumulative over the <=21-row Jaccard-band histogram",
    "ewma_daily_anomaly": "trailing-14 lag windows over the bounded day grid",
    "stl_weekly_decompose": "7-day centered frame over the bounded day grid",
    "auc_quality_langid": "bucket-cumsum over the quantized logistic-score grid (domain-bounded by the score range x 1e4)",
    "psi_value_drift": "PSI total over the 10-row bin grid (tvd_value_drift's class)",
    "calibration_ece_quality": "ECE/Brier totals over the 10-row probability-bin table",
    "km_na_survival_weekly": "at-risk/ln-S cumulatives over the bounded week grid",
    # the p-value tier composes ON the allowlisted statistic queries and
    # therefore carries the SAME bounded windows under its own name
    "mann_whitney_pvalue": "inherits mann_whitney_u's bucket-offset rank decomposition",
    "kruskal_wallis_pvalue": "inherits kruskal_wallis_value's cents-bucket running sum",
    "ks_doclen_pvalue": "inherits ks_doclen_lang's ECDF cumulative over the length domain",
    "poisson_bootstrap_ci": "rank over the 39-row resample-mean table",
    "logrank_repurchase_segments": "at-risk cumulatives over the bounded week grid",
    "lift_gain_deciles": "descending cumsum over the quantized-score grid (auc_quality_langid's class)",
    "ndcg_bm25_eval": "rank windows over the two TakeOrdered top-20 lists",
    "fdr_bh_qvalues": "BH rank + tail-min over the 25-row nation test family (dim-bounded)",
    "borda_source_ranking": "metric + consensus rank windows over the 20-row source table (label-domain bounded)",
    "sprt_daily_conversion": "cumulative LLR over the bounded day grid (rolling_corr_28d class)",
    # round 11
    "holm_stepdown_family": "Holm rank + running max over the 25-row nation test family (fdr_bh class)",
    "kendall_w_sources": "three metric-rank windows over the 20-row source table (label-domain bounded)",
    "hill_tail_index_orders": "rank window over the TakeOrdered top-100 order-stat list (rrf/ndcg class)",
    "rbo_term_rankings": "rank windows over the two TakeOrdered top-10 prefix lists (rrf/ndcg class)",
    "weibull_median_rank_fit": "bucket-offset rank decomposition over the distinct-gap grid (calendar-bounded; mann_whitney class)",
    "binseg_two_changepoints": "prefix sums + re-split windows over the bounded day grid (rolling_corr_28d class)",
    # round 12
    "anderson_darling_doclen": "ECDF cumulative over the n_chars value grid (ks_doclen_lang class)",
    "cvm_doclen_lang": "ECDF cumulative over the n_chars value grid (ks_doclen_lang class)",
    "hurst_rs_daily": "per-scale cumulative ranges over the bounded day grid (rolling_corr_28d class)",
    "isotonic_weekly_trend": "PAVA sweep over the bounded week grid (km_na class)",
    "page_hinkley_drift": "running mean/min over the bounded day grid (sprt class)",
    "rank_biserial_mwu": "bucket-offset rank decomposition over the value-bucket table (mann_whitney class)",
    "tail_dependence_nations": "quantile rank over the bounded daily nation-pair grid",
    "ts_motif_pairs": "7 LEADs over the bounded day grid (rolling_corr_28d class)",
}


def _unpartitioned_windows(df) -> list[str]:
    """First lines of Window nodes with an EMPTY partition spec in the
    optimized logical plan (py4j tree walk — the formatted physical
    explain doesn't expose the spec reliably)."""
    out: list[str] = []

    def walk(node):
        if (
            node.getClass().getSimpleName() == "Window"
            and node.partitionSpec().isEmpty()
        ):
            out.append(str(node).splitlines()[0][:120])
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(df._jdf.queryExecution().optimizedPlan())
    return out


def test_unpartitioned_windows_only_on_bounded_inputs(spark):
    # the round-8 judge finding: 176 "No Partition Defined" warnings in
    # one gate run hid a real corpus-wide single-task NTILE for four
    # rounds. Mirror the NLJ allowlist: every unpartitioned Window in a
    # query's lazy optimized plan must be declared above with a bound
    # rationale, and every declared entry must still be real (a stale
    # allowlist is how the next offender hides). Eagerly-executing
    # queries (checkpointed iterative ops) surface only their final
    # plan here; their internal seed windows are k-row by construction
    # and asserted by their own operator tests.
    offenders = {}
    stale = set(_BOUNDED_GLOBAL_WINDOWS)
    for name in sorted(REGISTRY):
        wins = _unpartitioned_windows(registry_df(spark, name, SF_DIR))
        if wins:
            if name not in _BOUNDED_GLOBAL_WINDOWS:
                offenders[name] = wins
            else:
                stale.discard(name)
    assert not offenders, (
        "unpartitioned Window over an undeclared input — single-task "
        f"sort at scale: {offenders}"
    )
    assert not stale, f"allowlist entries no longer carrying a global window: {stale}"


def test_no_forced_broadcast_on_per_entity_tables(spark):
    # any table that scales with the data (per-document/user aggregates,
    # customer, orders, part_avg) must never carry a hard F.broadcast
    # hint — at 100 TB a forced broadcast is a driver OOM. With the
    # auto-broadcast threshold disabled, only a hint can still produce a
    # broadcast join; these plans must then contain none (AQE remains
    # free to broadcast at runtime when the side is actually small).
    # NOTE: plans must be built FRESH under the flipped threshold — the
    # session-scoped _PLAN_CACHE/_querycache memos hold plans rendered
    # under the default conf (where an auto-broadcast BHJ is expected
    # and fine), and a DataFrame's physical plan is computed once per
    # QueryExecution, so cached objects would not re-plan either.
    def fresh_plan(name: str) -> str:
        df = REGISTRY[name].fn(spark, SF_DIR)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for name in (
            "dedup_ngram_jaccard",
            "jaccard_user_similarity",
            "pair_candidates_shared_parts",  # orders is fact-sized
            "join_inner_agg",                # customer is linear in SF
            "small_quantity_parts",          # part_avg: one row per partkey
        ):
            plan = fresh_plan(name)
            assert "BroadcastHashJoin" not in plan, name
            assert "BroadcastExchange" not in plan, name
        # regional_revenue keeps exactly two hinted broadcasts — nation
        # (25 rows) and region (5 rows), bounded at any SF. A third
        # exchange would mean the customer hint crept back in. Count the
        # formatted-explain node headers ("(n) BroadcastExchange") since
        # every node is printed twice (tree + detail section).
        plan = fresh_plan("regional_revenue")
        n_bx = len(re.findall(r"\(\d+\) BroadcastExchange", plan))
        assert n_bx == 2, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)


def test_corpus_self_joins_are_shuffle_hash(spark):
    # every corpus×corpus pair join (shared-shingle, LSH band, shared
    # item/part, cell-blocked embeddings) must partition both sides, not
    # let a size misestimate broadcast a per-document/user/vector table:
    # at 100 TB the build side is the whole corpus. The SHUFFLE_HASH hint
    # pins the strategy; assert the planner honored it and no sort-merge
    # crept in either (the hint also skips two corpus-wide sorts).
    # pair_candidates_shared_parts' lineitem⋈orders feeder join carries
    # no hint (orders is fact-sized) — at test SFs the size-based planner
    # may broadcast it, which is fine; the pair join itself must be the
    # shuffle-hash one.
    for name, n_shj in (
        ("dedup_ngram_jaccard", 1),
        ("dedup_minhash_lsh", 3),  # band join + two shingle attaches
        ("dedup_simhash", 1),
        ("jaccard_user_similarity", 1),
        ("embed_neardup_pairs", 1),
        ("pair_candidates_shared_parts", 1),
        ("dedup_containment", 1),
        # wedge join + closing join + 2 degree attaches, all pinned
        ("triangle_count_neardup", 4),
        # ER word-blocking self-join
        ("fuzzy_name_pairs", 1),
    ):
        plan = _plan(spark, name)
        assert plan.count("ShuffledHashJoin") >= n_shj, name
        assert "SortMergeJoin" not in plan, name


def test_simhash_leaves_no_cached_rdds(spark):
    # round-1 simhash_pairs persisted its chunk table and never released
    # it — every call leaked cached blocks for the session lifetime. The
    # banded single-join rewrite needs no cache at all; prove nothing
    # lingers after materialization. Assert no *growth* rather than exact
    # equality: the shared session may hold checkpoint RDDs from earlier
    # tests that the async ContextCleaner releases mid-test, so an exact
    # snapshot comparison is flaky by construction (it once observed
    # before=3, after=0 and failed).
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    REGISTRY["dedup_simhash"].fn(spark, SF_DIR).count()
    assert spark.sparkContext._jsc.getPersistentRDDs().size() <= before


def test_disjunctive_predicate_pushes_per_side_filters(spark):
    # Q19 shape: the three-arm cross-side disjunction must decompose
    # into per-side OR filters pushed to BOTH parquet scans (brand/size
    # arms onto part, quantity arms onto lineitem) while the join stays
    # a hash equi-join — losing either pushdown reads the full fact
    # table at 100 TB
    plan = _plan(spark, "disjunctive_brand_revenue")
    assert "NestedLoopJoin" not in plan
    pushed = plan.split("PushedFilters")
    both = "".join(s.splitlines()[0] for s in pushed[1:])
    assert "p_brand" in both and "p_size" in both
    assert "l_quantity" in both


def test_aggregates_have_partial_phase(spark):
    # partial (map-side) aggregation before the shuffle — Catalyst plans
    # HashAggregate(partial) + HashAggregate(final)
    plan = _plan(spark, "agg_count")
    assert plan.count("HashAggregate") >= 2


# Queries whose plans carry a *declared* Arrow-batched Python stage:
# the multimodal tier (mapInPandas over binary payloads) and the
# embedding pair/sweep queries, whose scoring kernel is the vectorized
# cosine_arrow pandas_udf (bitwise-equal to the JVM HOF form — see
# functions/vectors.py; chosen by A/B, 4.2x on the pair join). Every
# fence must be Arrow-batched: row-at-a-time BatchEvalPython is never
# sanctioned.
_DECLARED_MAPINPANDAS = (
    "multimodal_features", "multimodal_resize", "multimodal_frame_sample",
    # int64 Gram-matmul partials: one mapInPandas stage per corpus
    # scan is the covariance kernel (embeddings3.py); the whitening
    # apply adds its own scan-local pass. (embed_pca_power_iteration
    # composes on the same kernel but eagerly localCheckpoints the
    # bounded matrix, so its LAZY plan shows a checkpoint scan, not
    # the fence — the kernel's fence is asserted via
    # embed_covariance_pairs.)
    "embed_covariance_pairs",
    "embed_whiten_apply",
    # JL distortion audit rides the same int64-matmul kernel: one
    # mapInPandas stage emits (y2, x2) per vector, bands aggregate JVM-side
    "rp_distortion_bands",
    # skyline_parts' scan-local pareto pre-filter (operators/skyline.py)
    # is also a declared mapInPandas stage, but the guarded path now
    # returns a checkpointed result whose plan is a scan — the fence is
    # asserted on skyline_2d's lazy path in tests/test_skyline.py
)
# grouped sequential state (applyInPandas): the two-sided clamp has no
# window closed form — the group walk IS the operator
_DECLARED_GROUPED_PANDAS = (
    "clamped_inventory_balance",
    # Holt level+trend recursion has no window closed form; one group =
    # one daily series (SF-independent grid), Python never sees raw rows
    "holt_trend_revenue",
)
# GROUPED_AGG pandas UDAF (ArrowAggregatePython) and mapInArrow — the
# Arrow-bridge API-surface queries; the Python stage IS their point
_DECLARED_ARROW_AGG = ("trimmed_mean_udaf",)
_DECLARED_MAP_IN_ARROW = ("doc_bytes_arrow",)
_DECLARED_ARROW_KERNEL = (
    "embed_cosine_topk", "embed_ivf_topk", "embed_ivf_learned_topk",
    "embed_neardup_pairs",
    # centroid-assignment sweep + within-cell pair join, both on the
    # arrow cosine kernel
    "semdedup_prune",
    # full + prefix cosine over the 200k-pair probe stream — the HOF
    # kernel measured 9.5s of interpreted eval here; arrow runs ~1s
    "matryoshka_prefix_nn",
    # 1-NN label probe rides the same brute-force arrow cosine kernel
    "nn_label_agreement",
)


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_no_python_udf_fences_outside_declared(spark, name):
    # the engine's core promise: everything JVM-side except declared
    # Arrow-batched stages
    plan = _plan(spark, name)
    if name in _DECLARED_MAPINPANDAS:
        assert "MapInPandas" in plan
        return
    if name in _DECLARED_GROUPED_PANDAS:
        assert "FlatMapGroupsInPandas" in plan
        return
    if name in _DECLARED_ARROW_KERNEL:
        assert "ArrowEvalPython" in plan
        assert "BatchEvalPython" not in plan
        return
    if name in _DECLARED_ARROW_AGG:
        assert "ArrowAggregatePython" in plan
        return
    if name in _DECLARED_MAP_IN_ARROW:
        assert "MapInArrow" in plan
        return
    for fence in (
        "BatchEvalPython",
        "ArrowEvalPython",
        "MapInPandas",
        "FlatMapGroupsInPandas",
        "MapInArrow",
        "ArrowAggregatePython",
    ):
        assert fence not in plan, f"{name} has a Python fence: {fence}"


def test_whole_stage_codegen_covers_scalar_queries(spark):
    # scalar-expression queries fuse into whole-stage codegen; (array
    # higher-order functions are CodegenFallback in Spark, so HOF-heavy
    # queries like text_token_stats legitimately show a plain Project;
    # shuffle queries print as unexecuted AdaptiveSparkPlan without
    # codegen markers, so only exchange-free plans are asserted here)
    for name in ("string_funcs", "filter_pushdown_project"):
        assert "codegen id" in _plan(spark, name), name


def test_q6_is_single_scan_no_join(spark):
    # TPC-H Q6's whole point: three pushed range predicates and one
    # global aggregate — no join anywhere, and the only exchange is the
    # partial→final single-partition gather.
    plan = _plan(spark, "forecast_revenue_change")
    assert "Join" not in plan
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters")[1][:300]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, col
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 1, plan


def test_q4_exists_decorrelates_to_semi_join(spark):
    # the correlated EXISTS must become one LEFT SEMI hash join (the
    # non-equi part rides as the join residual), never a per-row probe
    # or a nested loop
    plan = _plan(spark, "order_priority_exists")
    assert "LeftSemi" in plan
    assert "NestedLoopJoin" not in plan


def test_topk_queries_use_take_ordered_not_global_sort(spark):
    # ORDER BY + LIMIT must plan as TakeOrderedAndProject: a global
    # Sort before the limit materializes the full result on one node's
    # worth of ordering work at 100 TB
    for name in ("large_volume_orders", "returned_item_losses",
                 "min_cost_supplier_per_part", "supplier_count_by_part_attr"):
        plan = _plan(spark, name)
        assert "TakeOrderedAndProject" in plan, name


def test_blocklist_join_is_broadcast(spark):
    # the term list is bounded by the query — it must never shuffle the
    # exploded token stream.
    plan = _plan(spark, "blocklist_hits")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_basket_lift_no_cartesian(spark):
    # the pair generator must key on l_orderkey (bounded per-basket
    # fan-out); a cartesian/NLJ here is quadratic in lineitems.
    plan = _plan(spark, "basket_lift_pairs")
    assert "CartesianProduct" not in plan
    # exactly one nested loop is allowed: the one-row grand-total
    # attach; the pair generator itself must be a hash/merge join
    # (formatted explain prints each node twice — tree + detail — so
    # count the numbered detail headers only).
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) <= 1
    assert re.search(r"\(\d+\) (Broadcast|Shuffled)HashJoin|SortMergeJoin", plan)


def test_cohort_retention_single_scan_keying(spark):
    # both aggregates and the join key on user_id; no nested-loop, no
    # global sort anywhere in the plan.
    plan = _plan(spark, "cohort_retention")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_simhash_topk_probe_is_broadcast(spark):
    # the probe set rides a broadcast; the corpus sketch stream must
    # not shuffle for the scoring join.
    plan = _plan(spark, "simhash_hamming_topk")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_chunking_is_scan_local(spark):
    # stride chunking is pure map work: no exchange in the plan at all.
    plan = _plan(spark, "chunk_documents_stride")
    assert "Exchange" not in plan
