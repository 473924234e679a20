"""Round benchmark: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1)
on local[$SPARK_GRAFT_CPUS].

Prints ONE COMPACT JSON line (bounded size — the round-4 lesson: a
111-entry per-query dict overflowed the driver's tail capture and round 4
lost its canonical number to `"parsed": null`; the round-12 lesson: even
the CORE `trials` dict pushed the line past the driver's tail capture in
r11, so since r13 stdout carries ONLY the headline summary and the
`trials` detail lives in BENCHDETAIL.json):
  {"metric": "...", "value": <total_sec>, "unit": "sec", "core26": ...,
   "core26_trials": N, "queries": {<CORE suite only>: sec},
   "n_queries": N, "sf": <sf>, "cpus": <defaultParallelism>,
   "master": "local[N]"}

Since r8 the CORE suite runs SPARK_GRAFT_BENCH_TRIALS (default 3) full
passes and reports the per-query MIN — the host carries external
noisy-neighbor load (r6/r7 kept this discipline in BENCHNOTES prose;
the artifact is now load-robust by construction). All trials ship in
the summary so the spread itself documents the noise.

The FULL per-query timing dict is written to BENCHDETAIL.json next to
this file; per-query lines also stream to stderr. Since round 6 the
detail file covers the ENTIRE registry (HEADLINE timed first, the
canonical stdout line printed, then every remaining registered query
swept) so a plan regression in a tail query shows up in the
round-over-round series, not just HEADLINE regressions. Set
SPARK_GRAFT_BENCH_FULL=0 for the fast HEADLINE-only mode.

The suite spans every operator family (scan/agg, star join, CDC diff,
windows, sessionization, as-of join, text, dedup incl. MinHash-LSH, ANN)
so a regression in any plan shows up in the total. Each query runs to a
driver-side count() (full materialization of the result, no I/O skew from
collecting wide rows).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from datalake_project_spark.queries import load_all  # noqa: E402
from datalake_project_spark.receipt import steal_pct, steal_ticks  # noqa: E402
from datalake_project_spark.session import get_spark  # noqa: E402

# The round-1/2 suite, frozen in content and order: its subtotal
# (`core26`) is the round-over-round comparison baseline. Append new
# queries to ADDITIONS, never insert here.
CORE = [
    "q1_pricing_summary",
    "q6_revenue_forecast",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q_snapshot_diff",
    "q_snapshot_series_diff",
    "q_gender_enrichment",
    "q_window_topn",
    "q_events_sessionize",
    "q_events_sliding_window",
    "q_asof_join",
    "q_range_join",
    "q_stream_tumbling_window",
    "q_stream_user_profile",
    "q_text_quality",
    "q_text_langid",
    "q_text_fingerprint",
    "q_dedup_exact",
    "q_dedup_ngram_jaccard",
    "q_dedup_minhash_lsh",
    "q_dedup_simhash",
    "q_dedup_embedding",
    "q_ann_cosine_topk",
    "q_ann_lsh_topk",
    "q_ann_ivf_topk",
    "q_multimodal_features",
]

ADDITIONS = [
    # round-3 additions: the end-to-end LLM-pipeline operators promoted
    # into the driver window, plus the new TPC-H shapes. Appended so
    # earlier entries stay comparable round-over-round.
    "q_dedup_resolved",
    "q_text_contamination",
    # round 4: the sharded (per-shard-window) packing formulation replaces
    # the global-window variant here, matching the driver window swap.
    "q_pack_sequences_sharded",
    "q_split_train_test",
    "q_corpus_mix",
    "q2_min_cost_supplier",
    "q16_supplier_relationship",
    # substring-level dedup family + bigram-LM scoring (round 3)
    "q_dedup_substring_spans",
    "q_dedup_winnow_pairs",
    "q_text_bigram_lm",
    # corpus-selection + analytics additions (round 3)
    "q_text_dsir_weights",
    "q_corpus_overlap_matrix",
    "q_events_retention",
    "q_corpus_chunk",
    "q_snapshot_scd2",
    # round-4 additions: hashed-key span mining, the span removal pass,
    # and the iterated BPE merge loop
    "q_dedup_substring_spans_hashed",
    "q_dedup_substring_removal",
    "q_text_bpe_train",
    "q_text_heavy_hitters",
    "q_events_gapfill",
    "q_dedup_semantic_resolved",
    "q_text_bpe_encode",
    "q_temporal_join",
    "q_text_length_ks_drift",
    "q_data_quality_audit",
    "q_events_anomaly_zscore",
    "q_graph_pagerank",
    # late round-4 additions: retrieval + ML-primitive layer
    "q_text_bm25_topk",
    "q_hybrid_retrieval_rrf",
    "q_embed_kmeans",
    "q_embed_pca_power",
    "q_text_quality_classifier",
    "q_split_embedding_leakage",
    "q_corpus_release",
    "q_group_zscore",
    "q_embed_logreg_train",
    "q_embed_pq_search",
    "q_events_active_users",
    "q_events_markov_stationary",
    # final round-4 additions: evaluation metrics (AUC / nDCG), graph
    # link-prediction + communities, windowed EWMA features, and the
    # statistical audits
    "q_classifier_auc",
    "q_retrieval_ndcg",
    "q_graph_adamic_adar",
    "q_graph_label_propagation",
    "q_events_ewma",
    "q_events_chi_squared",
    "q_benford_audit",
    "q_recs_item_knn",
    "q_pages_ingest",
    # continuation-session additions: lake MERGE, diversified
    # retrieval, and the closed-form NB classifier
    "q_merge_upsert",
    "q_retrieval_mmr",
    "q_text_nb_langid",
    "q_stream_merge_upsert",
    "q_write_audit_publish",
    "q_text_decontaminate",
    "q_graph_shortest_cost",
    "q_events_changepoint",
    "q_corpus_quota_sample",
    # continuation-session-2 additions: new Spark-4 engine surfaces
    # (built-in XML, recursive CTE, collation-aware grouping) and the
    # cross-engine-exact count-min sketch
    "q_xml_roundtrip",
    "q_recursive_month_spine",
    "q_events_cms_frequency",
    "q_collation_group",
    "q_events_kaplan_meier",
    "q_text_mojibake",
    "q_dp_noisy_counts",
    "q_ols_multivariate",
    "q_geo_radius_join",
    "q_skyline_pareto",
    "q_log_parse",
    "q_events_anova",
    "q_events_session_window_native",
    "q_pseudonymize_join_integrity",
    "q_rollup_cascade",
    "q_corpus_budget_select",
    "q_dedup_resolved_by_quality",
    "q_text_unigram_viterbi",
    "q_stream_outer_join",
    "q_sql_variables",
    "q_json_corrupt_records",
    "q_quantile_rollup",
    "q_null_safe_join",
    "q_embed_mahalanobis_outliers",
    "q_zorder_layout_roundtrip",
    "q_linkage_fellegi_sunter",
    "q_abc_classification",
    "q_classifier_conformal",
    "q_text_unigram_forward",
    "q_text_unigram_em_round",
    "q_stream_session_append",
    "q_multimodal_shard_plan",
    "q_tpch_refresh_stream",
    "q_embed_triplet_mining",
    "q_corpus_epoch_plan",
    "q_retrieval_mrr",
    # round-5 additions: the manifest-commit ACID layer, incremental
    # join maintenance, CDC changelog compaction, the re-blocked
    # Fellegi-Sunter, Kneser-Ney LM scoring, and the LATERAL / SQL-UDF
    # engine surfaces
    "q_manifest_merge_upsert",
    "q_manifest_timetravel",
    "q_manifest_version_diff",
    "q_incremental_join_maintenance",
    "q_cdc_apply_latest",
    "q_asof_tolerance_join",
    "q_text_kneser_ney",
    "q_lateral_topn",
    "q_sql_udf_margin",
    "q_snapshot_scd3",
    # round-5 continuation: robust-stats/guardrail tranche + the
    # perplexity-bucket curriculum step and linear-blocking linkage
    "q_text_ppl_buckets",
    "q_events_mad_outliers",
    "q_events_ab_srm",
    "q_text_vocab_coverage_sharded",
    "q_stats_bootstrap_ci",
    "q_text_ttr_hapax",
    "q_graph_neighbor_jaccard",
    "q_events_rolling_median",
    "q_quality_gopher_rules",
    "q_linkage_sorted_neighborhood",
    "q_events_seasonal_decompose",
    "q_events_ab_uplift_ci",
    "q_text_burstiness",
    "q_corpus_jsd_matrix",
    "q_manifest_stats_skipping",
    "q_privacy_k_anonymity",
    "q_stream_rolling_median",
    "q_sql_pipe_syntax",
    "q_graph_kcore",
    "q_embed_matryoshka_recall",
    "q_classifier_lift_gains",
    "q_events_funnel_by_variant",
    "q_sql_group_order_by_all",
    "q_corpus_tokenizer_fertility",
    "q_basket_rules",
    "q_events_user_entropy",
    # round-5 continuation-2: causal/sequential inference, privacy
    # triad completion, calibration, drift, and concentration
    "q_events_diff_in_diff",
    "q_events_bayesian_ab",
    "q_stats_jackknife_ratio",
    "q_orders_theil_sen_trend",
    "q_events_sprt",
    "q_text_keyphrase_rake",
    "q_privacy_t_closeness",
    "q_classifier_isotonic",
    "q_embed_jl_distortion",
    "q_events_shapley_attribution",
    "q_events_holt_forecast",
    "q_events_bh_fdr",
    "q_stats_median_ci",
    "q_events_psi_drift",
    "q_customer_gini_spend",
    # round-5 continuation-3: graph algorithms beyond PageRank
    "q_graph_hits",
    "q_graph_personalized_pagerank",
    "q_graph_modularity",
    # round-5 continuation-4: sequence alignment, feature engineering,
    # decision layer, scoring-rule decomposition, streaming drift
    "q_events_dtw_similarity",
    "q_text_wordpiece_merge_scores",
    "q_events_matched_att",
    "q_feature_target_encoding",
    "q_events_ucb_allocation",
    "q_split_kfold_cv",
    "q_feature_mutual_information",
    "q_classifier_brier_decomposition",
    "q_stream_psi_monitor",
    # round-5 continuation-5: optimizer statistics, SQL scripting,
    # imputation pathology, recs novelty
    "q_stats_equidepth_histogram",
    "q_stats_join_cardinality_audit",
    "q_sql_scripting_loop",
    "q_feature_imputation_audit",
    "q_recs_novelty",
    # round-5 continuation-6: runtime-filter/sketch auditing, clustering
    # evaluation, candidate-pruning theorems, randomization inference
    "q_join_bloom_prune",
    "q_sketch_countmin",
    "q_sketch_quantile_histogram",
    "q_dedup_bcubed",
    "q_dedup_prefix_filter",
    "q_stats_permutation_test",
    "q_stats_moments",
    "q_stats_eb_shrinkage",
    "q_events_cross_correlation",
    "q_events_time_weighted_avg",
    "q_recs_als_halfstep",
    "q_embed_farthest_point_init",
    "q_privacy_randomized_response",
    "q_feature_woe_iv",
    "q_text_chao1_vocab",
    "q_text_good_turing",
    # round-5 continuation-7: classifier eval completions, window-family
    # completion, sequence-randomness screen, bigram channel entropy
    "q_classifier_mcc",
    "q_classifier_pr_auc",
    "q_window_ntile_deciles",
    "q_stats_runs_test",
    "q_text_conditional_entropy",
    # round-5 continuation-8: estimator-quality audits (portable-hash
    # MinHash vs exact Jaccard, perceptual dHash), corpus diversity,
    # centroid silhouette
    "q_dedup_minhash_estimator",
    "q_multimodal_dhash",
    "q_text_distinct_n",
    "q_embed_silhouette",
    # round-5 continuation-9: agreement/effect-size statistics and
    # vocabulary-growth law
    "q_stats_cohens_kappa",
    "q_stats_cramers_v",
    "q_text_heaps_law",
    "q_events_overdispersion",
    # round-5 continuation-10: diversity/collision view, demand
    # variability classes, heavy-tail index
    "q_text_simpson_diversity",
    "q_xyz_classification",
    "q_stats_hill_tail",
    "q_stats_mann_kendall",
    "q_stats_kendall_tau",
    "q_stats_tost_equivalence",
    "q_events_session_gap_sweep",
    "q_events_dau_mau",
    "q_stats_mcnemar",
    "q_stats_gumbel_maxima",
    "q_stats_fisher_exact",
    "q_graph_local_clustering",
    "q_stats_sign_test",
    "q_stats_wilcoxon_signed_rank",
    "q_events_periodogram",
    "q_embed_intrinsic_dimension",
    "q_embed_hubness",
    "q_events_burstiness_coefficient",
    "q_text_head_coverage",
    "q_events_markov_entropy_rate",
    "q_stats_levene",
    "q_stats_effect_size",
    "q_split_adversarial_audit",
    "q_classifier_f1_sweep",
    "q_events_context_gain",
    "q_events_retention_halflife",
    "q_stats_bland_altman",
    "q_stats_odds_ratio",
    "q_retrieval_rbo",
    "q_sketch_ams_f2",
    "q_stats_g_test",
    "q_multimodal_payload_entropy",
]

HEADLINE = CORE + ADDITIONS

# Contention re-run: a query whose every trial was captured with steal%
# above RERUN_STEAL (the primary trigger: it measures ambient theft and is
# immune to the bench's own bursts) or 1-min loadavg above RERUN_LOAD (the
# backup, above typical self-load) gets one extra trial, at most RERUN_MAX
# re-runs per capture.
RERUN_STEAL = 15.0
RERUN_LOAD = 10.0
RERUN_MAX = 60


def _settle_load(threshold: float = 2.0, max_wait_s: float = 120.0,
                 poll_s: float = 5.0) -> dict:
    """Bounded wait for ambient load to settle before timing anything.

    r11 lesson (VERDICT task 2): the driver invokes bench.py directly, and
    BENCH_r11 was captured at loadavg 4.78->7.85 — a uniform ~1.3x
    inflation recorded as the round's official number. round_close.py
    already settles below loadavg 2 before benching; this ports the same
    bounded wait into bench.py itself so the receipt travels with every
    capture: wait up to ``max_wait_s`` for 1-min loadavg < ``threshold``,
    then proceed either way and record what happened.
    """
    t0 = time.monotonic()
    waited = 0.0
    start = os.getloadavg()[0]
    while os.getloadavg()[0] >= threshold:
        waited = time.monotonic() - t0
        if waited >= max_wait_s:
            break
        time.sleep(poll_s)
    return {
        "settle_load_initial": round(start, 2),
        "settle_waited_s": round(waited, 1),
        "settle_timed_out": bool(os.getloadavg()[0] >= threshold),
    }


def main() -> None:
    settle_receipt = _settle_load()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1").rstrip("/")
    # sf encoded in the directory name, e.g. .../sf0.1 -> 0.1
    base = os.path.basename(sf_dir)
    sf = float(base[2:]) if base.startswith("sf") else 0.1

    from datalake_project_spark.scratch import prune_stale
    prune_stale()

    registry = load_all()
    spark = get_spark("bench")
    # One warmup action so JVM/codegen startup isn't billed to the first query.
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    # Untimed index build: q_ann_ivf_topk is probe-only by design (the
    # build runs once per fixture lifecycle, like loading a table); a
    # regenerated fixture would otherwise bill the one-time KMeans build
    # to the first probe measurement.
    from datalake_project_spark.queries.similarity import _ivf_index_for
    _ivf_index_for(spark, sf_dir)
    # Same rationale for the Python-DataSource page fixture: the staged
    # page directory is built once per fixture lifecycle (size+mtime
    # keyed); a regenerated fixture would otherwise bill the one-time
    # page build to the first q_pages_ingest measurement.
    from datalake_project_spark.queries.formats import _pages_for
    _pages_for(sf_dir)
    # Warm the Python-DataSource lane itself (driver-side planner worker +
    # source registration): its one-time spin-up (~5 s) otherwise bills to
    # the first q_pages_ingest measurement, exactly like JVM startup would
    # bill to the first query without the warmup action above. Warm with a
    # DIFFERENT trivial query over the same source (bare count, no
    # aggregate) so the timed q_pages_ingest — like every other entry —
    # gets lane warmup but not an exact-query warm run.
    from datalake_project_spark.sources.pydatasource import register_paged_json
    register_paged_json(spark)
    (spark.read.format("paged_json")
     .option("path", _pages_for(sf_dir))
     .option("schema", "doc_id bigint, source string")
     .load().count())

    timings: dict[str, float] = {}
    # r8 (r7 verdict task #3): the CORE suite runs N full passes and each
    # query's canonical number is the per-query MIN across passes — the
    # host sees external noisy-neighbor load (r6/r7 carried the
    # min-of-trials discipline in BENCHNOTES prose; now the artifact
    # itself is load-robust). Pass structure (not back-to-back repeats)
    # so a sustained load burst can't inflate one query's all three
    # trials while sparing its neighbors'.
    n_trials = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_TRIALS", "3")))
    # r13 (r12 verdict task #3): the settle gate only protects the START
    # of the capture; BENCH receipts now carry the 1-min loadavg observed
    # at the END of every individual measurement (CORE trials and tail
    # sweep alike), so a contended reading is decidable from the file
    # alone, and any query whose EVERY trial was captured above the
    # threshold gets one extra trial (min-of-trials discipline unchanged).
    # (thresholds: RERUN_STEAL, RERUN_LOAD, at most RERUN_MAX re-runs)
    load_start = os.getloadavg()[0]
    trials: dict[str, list[float]] = {name: [] for name in CORE}
    trial_load: dict[str, list[float]] = {name: [] for name in CORE}
    trial_steal: dict[str, list[float]] = {name: [] for name in CORE}
    last_steal = [0.0]  # steal%% over the most recent timed window

    def timed(name: str, tag: str) -> float:
        spec = registry[name]
        s0 = steal_ticks()
        t0 = time.perf_counter()
        n = spec.fn(spark, sf_dir).count()
        dt = round(time.perf_counter() - t0, 3)
        last_steal[0] = steal_pct(s0, steal_ticks())
        print(f"# {tag}{name}: {dt:.3f}s ({n} rows, "
              f"steal {last_steal[0]:.1f}%)", file=sys.stderr)
        return dt

    def contended(load: float, steal: float) -> bool:
        return load > RERUN_LOAD or steal > RERUN_STEAL

    for t in range(n_trials):
        for name in CORE:
            dt = timed(name, f"[trial {t + 1}/{n_trials}] ")
            trials[name].append(dt)
            trial_load[name].append(round(os.getloadavg()[0], 2))
            trial_steal[name].append(last_steal[0])
    for name in CORE:
        # contention re-run: EVERY trial of this query was captured
        # under ambient contention (1-min loadavg above threshold, or
        # hypervisor steal above threshold during the trial's window)
        if all(contended(ld, st) for ld, st
               in zip(trial_load[name], trial_steal[name])):
            trials[name].append(timed(name, "[rerun] "))
            trial_load[name].append(round(os.getloadavg()[0], 2))
            trial_steal[name].append(last_steal[0])
        timings[name] = min(trials[name])
    # Load receipt (r9 verdict task #4): the committed number must be
    # distinguishable from a capture under background load. Spread is
    # measured over the POST-WARMUP trials only (trial 1 carries
    # JIT/codegen warmup up to 3x even on a quiet host); on a quiet
    # host the steady-state trials agree within a few percent, so a
    # median steady-spread well above 1 is the load signature
    # round_close uses to re-run the capture.
    load_end = os.getloadavg()[0]
    steady = [sorted(v[1:]) for v in trials.values() if len(v) >= 3]
    spreads = sorted(v[-1] / max(v[0], 1e-9) for v in steady)
    spread_median = (round(spreads[len(spreads) // 2], 3)
                     if spreads else None)
    # The re-run trigger: on a quiet host trials keep IMPROVING across
    # passes (JIT warmup continues into pass 2), so spread alone over-
    # fires; what background load uniquely produces is LAST trials that
    # REGRESS vs the pass before (measured: 0/26 regress >10% on a
    # quiet host, many under a noisy neighbor).
    raw = [v for v in trials.values() if len(v) >= 3]
    regress_frac = (round(sum(1 for v in raw if v[-1] > 1.10 * v[-2])
                          / len(raw), 3) if raw else None)
    load_receipt = {
        "load_avg_start": round(load_start, 2),
        "load_avg_end": round(load_end, 2),
        "steady_spread_median": spread_median,
        "last_trial_regress_frac": regress_frac,
        **settle_receipt,
    }
    tail_load: dict[str, float] = {}
    tail_steal: dict[str, float] = {}
    for name in ADDITIONS:
        timings[name] = timed(name, "")
        tail_load[name] = round(os.getloadavg()[0], 2)
        tail_steal[name] = last_steal[0]

    reruns_left = RERUN_MAX
    for name in ADDITIONS:
        if contended(tail_load[name], tail_steal[name]) and reruns_left > 0:
            reruns_left -= 1
            dt = timed(name, "[rerun] ")
            if dt < timings[name]:
                timings[name] = dt
                tail_load[name] = round(os.getloadavg()[0], 2)
                tail_steal[name] = last_steal[0]

    total = round(sum(timings.values()), 3)
    # The CORE suite is unchanged in content and order since round 2: its
    # subtotal stays comparable round-over-round even as new queries
    # append to ADDITIONS. Since r8 it is min-of-trials per query.
    core26 = round(sum(timings[n] for n in CORE), 3)
    # Stdout stays one BOUNDED line: summary + the frozen 26-entry CORE
    # dict only (~1 KB) — never the full per-query dict, and (since r13,
    # r12 verdict task #2) never the per-trial lists either: BENCH_r11's
    # line outgrew the driver's tail capture and the round lost its
    # round-over-round comparison (PERF_r12 n_common: 0). `trials`,
    # per-trial load, and the full sweep live in BENCHDETAIL.json.
    # Printed BEFORE the full-registry tail sweep below so the canonical
    # number is on stdout even if the process is killed mid-sweep (the
    # round-4 truncation lesson, generalized).
    summary = {
        "metric": "headline_suite_total",
        "value": total,
        "unit": "sec",
        "core26": core26,
        "core26_trials": n_trials,
        "queries": {n: timings[n] for n in CORE},
        "load": load_receipt,
        "n_queries": len(timings),
        "sf": sf,
        "cpus": spark.sparkContext.defaultParallelism,
        "master": spark.sparkContext.master,
    }
    print(json.dumps(summary), flush=True)

    # Full-registry tail sweep (r5 verdict task #4): every registered
    # query gets an sf0.1 wall-time in BENCHDETAIL.json each round, so a
    # plan regression in a non-HEADLINE query shows up in the series —
    # not just the HEADLINE set. Skip with SPARK_GRAFT_BENCH_FULL=0.
    if os.environ.get("SPARK_GRAFT_BENCH_FULL", "1") != "0":
        for name in registry:
            if name in timings:
                continue
            try:
                timings[name] = timed(name, "")
            except Exception as e:  # noqa: BLE001 - sweep must finish
                print(f"# {name}: ERR {type(e).__name__}: {e}",
                      file=sys.stderr)
                continue
            tail_load[name] = round(os.getloadavg()[0], 2)
            tail_steal[name] = last_steal[0]
        # contention re-runs for the single-pass sweep (r12 verdict task
        # #3: the committed r12 sweep read q_stream_stream_join at 25.2 s
        # under loadavg 8.2 — an artifact the settle gate can't prevent
        # because load climbed DURING the 7-minute sweep). Worst
        # offenders first, bounded by the shared re-run budget; the
        # recorded load/steal is the reading that accompanies the kept
        # time.
        for name in sorted((n for n in tail_load
                            if contended(tail_load[n], tail_steal[n]) and
                            n not in CORE and n not in ADDITIONS),
                           key=lambda n: -max(tail_load[n], tail_steal[n])):
            if reruns_left <= 0:
                break
            reruns_left -= 1
            try:
                dt = timed(name, "[rerun] ")
            except Exception:  # noqa: BLE001 - sweep must finish
                continue
            if dt < timings[name]:
                timings[name] = dt
                tail_load[name] = round(os.getloadavg()[0], 2)
                tail_steal[name] = last_steal[0]
        # Re-print the identical summary line AFTER the sweep: the driver
        # captures the combined tail of the run, and the 400+ stderr lines
        # of the full-registry sweep scrolled the early print out of the
        # window in round 6 (BENCH_r06 parsed=null). The early print stays
        # for kill-survival; this one is what the driver actually parses.
        summary["n_queries"] = len(timings)
        print(json.dumps(summary), flush=True)

    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "BENCHDETAIL.json"), "w") as fh:
        json.dump({"metric": "headline_suite_total", "value": total,
                   "unit": "sec", "core26": core26,
                   "core26_trials": n_trials,
                   "queries": timings, "trials": trials,
                   "trial_load": trial_load, "trial_steal": trial_steal,
                   "tail_load": tail_load, "tail_steal": tail_steal,
                   "load": load_receipt,
                   "n_queries": len(timings), "sf": sf}, fh, indent=1)
        fh.write("\n")
    spark.stop()


if __name__ == "__main__":
    main()
