#!/usr/bin/env python
"""Benchmark the headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line:
  {"metric": "...", "value": <total_sec>, "unit": "sec",
   "queries": {"q_agg_group": sec, ...}, "sf": 0.1}

Each query is forced end-to-end with a noop sink (full computation, no
driver-side collect). A warm-up pass primes the JVM/codegen so numbers
reflect steady-state engine throughput, not JVM startup; each query is
then timed N_PASSES times and the MEDIAN is reported — single-run
wall-clock on a shared machine drifts ±20% (round-2's +19.5% "regression"
reproduced as pure environmental noise: re-runs of identical code gave
27.5-29.6s vs the recorded 37.4s), and the median absorbs that without
hiding real slowdowns.

Round 13 (VERDICT r12 items 1+2, measurement additions only — the warm
medians in "queries" keep the exact prior methodology for longitudinal
comparability):

* A labelled COLD first-execution reading per key ("queries_cold" /
  "tpch_cold" / "extended_cold" on the detail line; "cold_total" on the
  compact line): before each group the artifact cache is cleared
  (artifacts.clear) and every key is timed on its FIRST execution, so
  the builds of persisted intermediates and stored artifacts — which
  the warm medians deliberately exclude — are visible per key. Caveats
  stated so the numbers are read honestly: the first keys of the first
  group also absorb residual JVM/codegen warm-up, and when several keys
  share one artifact (the lifecycle daily spine, a serving key's stored
  stats and its _b2 binding) the first sharer's cold number carries
  the build.
* "parallelism" (sc.defaultParallelism) and "master" in both JSON lines,
  so the driver can verify $SPARK_GRAFT_CPUS is honored instead of
  inferring from timing ratios.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

N_PASSES = 3

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from streaming_data_ingestion_spark.registry import all_queries
from streaming_data_ingestion_spark.session import get_spark
from streaming_data_ingestion_spark.tables import TABLES, load

# Headline set: one representative per operator family, weighted toward
# shapes that stress scan/shuffle/join/window/LLM paths.
HEADLINE = (
    "q_agg_group",           # TPC-H Q1: scan + filter + hash agg
    "q_agg_rollup",          # grouping-sets expansion
    "q_join_multi",          # 5-table join chain + agg
    "q_join_range",          # banded self-join
    "q_join_asof",           # point-in-time join (union + window)
    "q_subquery_exists",     # correlated EXISTS -> semi join
    "q_win_topk_per_group",  # window + rank filter
    "q_win_frame",           # running frames
    "q_sort_limit",          # global top-k
    "q_json_decode",         # reference-parity JSON decode
    "q_pivot",               # long -> wide conditional aggregation
    "q_stream_session",      # sessionization
    "q_sessionize",          # lag/running-sum session ordinals
    "q_stream_sliding",      # sliding windows
    "q_dedup_exact",         # hash dedup
    "q_dedup_minhash",       # LSH signatures
    "q_dedup_clusters",      # iterative connected components
    "q_ngrams",              # n-gram stats (explode-heavy)
    "q_text_tf",             # explode + agg
    "q_text_tfidf",          # two-pass tf/df + rank window
    "q_bm25",                # broadcast-stats relevance scoring
    "q_decontaminate",       # 8-gram overlap join
    "q_repetition",          # zero-shuffle higher-order fold
    "q_doc_chunk",           # higher-order chunking + posexplode
    "q_corpus_pipeline",     # composed gate+dedup+split+chunk flow
    "q_dedup_chunk",         # chunk-digest cross-doc join
    "q_sim_topk",            # brute-force cosine top-k
    "q_sim_ann_lsh",         # LSH ANN
    "q_sim_ivf",             # IVF ANN (coarse quantize + probe)
    "q_udf_pandas",          # Arrow UDF path
)

# The full TPC-H suite, timed as its own group (reported under
# "tpch"/"tpch_total", NOT mixed into the headline total, so the
# headline number stays longitudinally comparable across rounds).
TPCH = tuple(
    f"q_tpch_q{i}" for i in (1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12,
                             13, 14, 15, 16, 17, 18, 19, 20, 21, 22)
)

# Late-round-3 additions, timed as a third group ("extended"/
# "extended_total") — again separate from the headline so that number
# stays longitudinally comparable.
EXTENDED = (
    "q_quality_gopher",   # zero-shuffle rule battery
    "q_dup_substring",    # 5-gram inverted dup-span count
    "q_lang_id_eval",     # prediction + confusion-matrix agg
    "q_entropy",          # vocab-sized -p·ln p reduction
    "q_corr_matrix",      # exact-moment correlations
    "q_linreg",           # exact-moment OLS
    "q_join_interval",    # grid-binned interval-overlap join
    "q_graph_triangles",  # compact-forward triangle census
    "q_sim_knn_graph",    # within-cell k-NN graph
    "q_semdedup",         # semantic dedup decisions
    "q_lm_score",         # unigram-LM cross-entropy filter
    "q_graph_reach",      # recursive-CTE BFS over the LSH graph
    "q_agg_mode",         # deterministic per-group mode
    "q_seasonality",      # DOW seasonal profile
    "q_changepoint",      # CUSUM changepoint
    "q_rfm",              # RFM segmentation
    "q_json_variant",     # Spark 4 VARIANT decode
    "q_ttest",            # Welch two-sample readout
    "q_cohort_matrix",    # cohort-retention matrix
    "q_rolling_active",   # DAU/WAU/stickiness
    "q_multimodal_meta",  # decode-free media accounting
    "q_gram_novelty",     # novelty yield curve
    "q_pmi",              # bigram collocations
    "q_zipf",             # Zipf slope per source
    "q_funnel_time",      # time-to-convert distribution
    "q_burstiness",       # inter-event gap regularity
    "q_transition_entropy",  # successor predictability
    "q_cycle_time",       # order fulfillment latency
    "q_seasonal_decompose",  # trend/seasonal/residual
    "q_histogram_equidepth",  # distributed exact NTILE (no single-partition stage)
    "q_tpcds_rollup_rank",   # Expand + per-level rank window
    "q_tpcds_moving_dev",    # decimal window sums + lag/lead
    "q_tpcds_cumulative_lead",  # running decimal sums + full outer join
    "q_sim_ivfpq_index",     # stored-index ANN probe (partition-pruned)
    "q_sample_stratified",   # exact-fraction stratified sampler
    "q_emb_covariance",      # 2080-entry exact covariance matrix
    "q_heavy_hitters_cms",   # CMS candidates + exact verify
    "q_hll_rollup_union",    # mergeable HLL sketch re-aggregation
    "q_zorder_scan",         # 2-D range filter through the Z-ordered layout
    "q_sim_ivfpq_recall",    # stored-index partial-probe recall contract
    "q_pca2_project",        # closed-form PCA fit + broadcast-model scoring
    "q_lm_score_bigram",     # add-one bigram LM cross-entropy filter
    "q_split_leakage_audit", # near-dup pairs straddling the split boundary
    "q_source_log_odds",     # Dirichlet-prior log-odds distinctive terms
    "q_bpe_pair_stats",      # BPE merge-step pair counts over the word vocab
    "q_quality_classifier",  # hashed-bigram linear quality gate (zero shuffle)
    "q_minhash_containment", # asymmetric containment verify on LSH candidates
    "q_join_asof_nearest",   # both-direction asof carries off one sort
    "q_late_events",         # watermark late-drop audit (distributed prefix max)
    "q_roc_auc",             # grid-binned Mann-Whitney AUC (pair-count form)
    "q_ks_test",             # fixed-grid two-sample KS distance
    "q_chi2_independence",   # lang x source chi-square (decimal term sum)
    "q_mutual_information",  # MI/NMI from the same contingency reduction
    "q_gini_token",          # vocab-ranked Gini concentration
    "q_bpe_encode",          # BPE train + zero-shuffle mapInPandas encode
    "q_quantile_rollup_merge",  # shared-grid mergeable percentile rollup
    "q_forecast_holt",       # struct-fold Holt smoothing over the daily rollup
    "q_calibration_bins",    # reliability diagram + ECE on the 16-bin grid
    "q_psi_drift",           # split-half PSI drift over the 256-bin grid
    "q_cum_uniques",         # first-seen identity + triangle running total
    "q_acf",                 # lag-spine equi-join autocorrelation
    "q_survival_km",         # right-censored Kaplan-Meier conversion curve
    "q_streaks",             # gaps-and-islands longest-streak distribution
    "q_kmeans_assign",       # broadcast-centroid Lloyd assignment + WSS
    "q_decile_lift",         # distributed-NTILE gains/lift table
    "q_forecast_hw",         # Holt-Winters seasonal struct-array fold
    "q_als_user_step",       # closed-form rank-1 ALS ridge user step
    "q_winnow",              # MOSS winnowed shared-fingerprint postings
    "q_sim_pair_hist",       # cell-scoped cosine threshold calibration
    "q_assoc_rules",         # market-basket support/confidence/lift
    "q_bootstrap_ci",        # one-pass deterministic Poisson bootstrap
    "q_winnow_pairs",        # winnow-fingerprint postings pair join
    "q_missing_days",        # calendar-gap ingestion-completeness audit
    "q_type_overlap",        # audience Jaccard matrix via user self-join
    "q_backlog_curve",       # sweep-line open-order interval stabbing
    "q_emb_dim_stats",       # per-dimension embedding-health profile
    "q_dedup_agreement",     # LSH vs winnowing cross-method agreement
    "q_cohort_ltv",          # cohort-age cumulative LTV curve
    "q_readability",         # Flesch reading ease per source
    "q_jaccard_hist",        # LSH-scoped exact-Jaccard calibration
    "q_revenue_pareto",      # customer-spend Pareto concentration
    "q_anova",               # k-group exact-moment ANOVA F
    "q_xcorr",               # lag-spine cross-correlation lead/lag
    "q_interorder_gap",      # purchase-frequency gap distribution
    "q_join_asof_tol",       # tolerance-bounded asof (exact-µs staleness gate)
    "q_hist_serving",        # stored mergeable-histogram serving read
    "q_zorder_optimize_scan",  # OPTIMIZE-rewritten debris scan (compaction+Z)
    "q_cms_serving",         # stored CMS grid probe-token lookups
    "q_spearman_corr",       # tie-averaged integer-rank correlation
    "q_mann_kendall",        # pairwise-sign trend test (bounded triangle)
    "q_trimmed_mean",        # global-rank per-type robust mean
    "q_group_percentiles",   # exact per-type nearest-rank p50/p90/p99
    "q_forecast_eval",       # naive/seasonal-naive backtest MAE+SMAPE
    "q_oov_rate",            # train-vocab coverage of held-out splits
    "q_bigram_cond_entropy", # corpus next-token conditional entropy
    "q_dedup_prefix",        # boilerplate-head shared-prefix clusters
    "q_type_token_curve",    # Heaps-law vocabulary growth checkpoints
    "q_centroid_classifier", # nearest-class-centroid confusion matrix
    "q_knn_classify",        # probe-vector k-NN majority vote
    "q_label_cell_purity",   # IVF coarse-cell label purity
    "q_hhi",                 # regional supplier-concentration index
    "q_theil_index",         # customer-spend entropy inequality
    "q_rank_shift",          # YoY supplier rank movers (global-rank)
    "q_conversion_pairs",    # stream-stream join's batch twin rollup
    "q_sql_roundtrip",       # one ANSI text, two engines (SQL front door)
    "q_null_profile",        # one-scan exact column profile
    "q_sax_symbolize",       # SAX regime-transition matrix
    "q_ab_test",             # two-proportion cohort z-test
    "q_iqr_outliers",        # Tukey-fence outlier census (exact quartiles)
    "q_session_length_hist", # engagement-depth session-size histogram
    "q_hist_quantiles",      # stored-histogram quantile serving readout
    "q_type_corr_matrix",    # day-series co-movement across event types
    "q_shard_assign",        # content-addressed loader sharding audit
    "q_curriculum_order",    # length-curriculum phase boundaries
    "q_token_budget_pick",   # two-level prefix-sum budget selection
    "q_lsh_tuning",          # LSH band-config recall/cost operating curve
    "q_sim_ndcg",            # graded ANN ranking quality vs brute force
    "q_scd2_pit_join",       # temporal fact join through SCD2 history
    "q_weekly_percentiles",  # exact weekly tail-latency trend
    "q_histogram2d",         # value-band × hour heat-map grid
    "q_attribution_ushape",  # U-shaped multi-touch revenue attribution
    "q_js_divergence",       # per-source distributional alienness (JSD)
    "q_churn_cohorts",       # signup-vintage churn rates
    "q_sim_ivfpq_probe_param",  # arbitrary-vector stored-index serving probe
    "q_kendall_tau",         # tie-corrected daily concordance (tau-b)
    "q_theil_sen",           # median-pairwise-slope robust trend
    "q_benford",             # first-digit financial-DQ audit + chi2
    "q_new_vs_returning",    # DAU acquisition/retention composition
    "q_dedup_yield",         # per-source dedup survivor accounting
    "q_dedup_suffix",        # boilerplate-footer clusters
    "q_bm25_search",         # parameterized top-k retrieval serving
    "q_mix_temperature",     # sqrt-temperature data-mix multipliers
    "q_pack_efficiency",     # seq-pack fill/straddle audit
    "q_ivfpq_cell_stats",    # stored-index occupancy integrity read
    "q_bm25_serving",        # retrieval from stored streaming-merged stats
    "q_winsorized_mean",     # per-type clamped robust mean + cut values
    "q_group_linreg",        # per-type daily-volume OLS trend
    "q_length_histogram",    # digit-magnitude doc-length histogram
    "q_bucketed_join",       # shuffle-free big-big join via stored buckets
    "q_sim_ivfpq_probe_b2",  # 2nd ANN probe binding (nprobe=3, k=7)
    "q_bm25_search_b2",      # 2nd fresh-stats retrieval binding (4 terms)
    "q_bm25_serving_b2",     # 2nd stored-stats binding incl. absent term
    "q_ann_gen_probe",       # generation-lifecycle serve (pointer→probe)
    "q_ann_gen_probe_b2",    # 2nd gen-serve binding (non-corpus vector, k=7)
    "q_media_wav_decode",    # real RIFF/PCM parse inside mapInPandas
    "q_media_image_decode",  # real BMP/PPM parse inside mapInPandas
    # banded-LSH near-dup, steady-state: the warm-up pass pays the
    # persisted signature build + the auto key's corpus count, so
    # the timed medians measure the production candidate/verify path
    # (same cold-cost exclusion as the generation/bucketed builds)
    "q_emb_neardup_lsh",     # fixed-width banded-LSH near-dup binding
    "q_emb_neardup_lsh_auto",  # scale-adaptive width policy binding
    "q_heavy_hitters_cms_b2",  # law-derived 3x2048 CMS grid binding
    "q_pq_encode_np",        # Arrow-numpy PQ encode fallback (bit parity)
)


def emit_lines(
    timings: dict[str, float],
    tpch_timings: dict[str, float],
    ext_timings: dict[str, float],
    sf: float,
    cold: dict[str, float] | None = None,
    tpch_cold: dict[str, float] | None = None,
    ext_cold: dict[str, float] | None = None,
    parallelism: int | None = None,
    master: str | None = None,
) -> list[str]:
    """Output lines, full detail FIRST and a compact line LAST: the
    driver records only the final ~2000 chars of output and parses the
    last line — r4's single long line lost its leading keys (headline
    total included) to that window, so the parseable record leads with
    the totals and carries only the headline per-query map, truncated
    to the top-20 slowest if even that overflows. tests/test_bench.py
    pins the contract so a print reorder can't regress it."""
    total = round(sum(timings.values()), 3)
    detail_d = {
        "metric": "headline_query_total_runtime_detail",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "tpch": tpch_timings,
        "extended": ext_timings,
        "sf": sf,
    }
    if cold is not None:
        detail_d["queries_cold"] = cold
    if tpch_cold is not None:
        detail_d["tpch_cold"] = tpch_cold
    if ext_cold is not None:
        detail_d["extended_cold"] = ext_cold
    if parallelism is not None:
        detail_d["parallelism"] = parallelism
    if master is not None:
        detail_d["master"] = master
    detail = json.dumps(detail_d)
    compact = {
        "metric": "headline_query_total_runtime",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "tpch_total": round(sum(tpch_timings.values()), 3),
        "n_tpch": len(tpch_timings),
        "extended_total": round(sum(ext_timings.values()), 3),
        "n_extended": len(ext_timings),
        "queries": timings,
    }
    if cold is not None:
        compact["cold_total"] = round(sum(cold.values()), 3)
    if parallelism is not None:
        compact["parallelism"] = parallelism
    if master is not None:
        compact["master"] = master
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) > 1900:  # stay inside the driver's tail window
        compact["queries"] = dict(
            sorted(timings.items(), key=lambda kv: -kv[1])[:20]
        )
        compact["queries_note"] = "top-20 slowest; full map on detail line"
        line = json.dumps(compact, separators=(",", ":"))
    return [detail, line]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _time_group(
    spark, specs, sf_dir: str, names: tuple[str, ...]
) -> tuple[dict[str, float], dict[str, float]]:
    """(warm medians, cold first-execution) for one query group.

    Cold pass first: the artifact cache is cleared, so each key's FIRST
    execution pays its artifact builds (keys sharing one artifact: the
    first sharer pays it). Then the
    original warm-up pass (now the 2nd execution — steady state exactly
    as before) and N_PASSES timed passes whose MEDIAN is the warm
    number, byte-compatible with every prior round's methodology.
    """
    from streaming_data_ingestion_spark import artifacts

    artifacts.clear()
    cold: dict[str, float] = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"bench:cold:{name}")
        t0 = time.perf_counter()
        _noop(specs[name].fn(spark, sf_dir))
        cold[name] = round(time.perf_counter() - t0, 3)
    # Warm-up pass: JVM/codegen/plan caches and (rebuilt) persisted
    # intermediates are all hot after this, as in every prior round.
    for name in names:
        spark.sparkContext.setJobDescription(f"bench:warmup:{name}")
        _noop(specs[name].fn(spark, sf_dir))
    samples: dict[str, list[float]] = {name: [] for name in names}
    for _ in range(N_PASSES):
        for name in names:
            # The builder call is INSIDE the timed span: it is lazy (and
            # ~free) for declarative queries, but iterative operators
            # (connected components) run their driver-coordinated rounds
            # eagerly in the builder, and excluding that would
            # under-report them.
            spark.sparkContext.setJobDescription(f"bench:{name}")
            t0 = time.perf_counter()
            _noop(specs[name].fn(spark, sf_dir))
            samples[name].append(time.perf_counter() - t0)
    warm = {
        name: round(statistics.median(ts), 3) for name, ts in samples.items()
    }
    return warm, cold


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    spark = get_spark(app_name="sdi-bench")

    # Touch every table so parquet-footer/listing caches are paid before
    # any timed span (cold numbers measure the ENGINE's first execution,
    # not filesystem metadata warm-up).
    for t in TABLES:
        load(spark, sf_dir, t).limit(1).count()
    specs = all_queries()

    timings, cold = _time_group(spark, specs, sf_dir, HEADLINE)
    tpch_timings, tpch_cold = _time_group(spark, specs, sf_dir, TPCH)
    ext_timings, ext_cold = _time_group(spark, specs, sf_dir, EXTENDED)

    for line in emit_lines(
        timings,
        tpch_timings,
        ext_timings,
        sf,
        cold=cold,
        tpch_cold=tpch_cold,
        ext_cold=ext_cold,
        parallelism=spark.sparkContext.defaultParallelism,
        master=spark.sparkContext.master,
    ):
        print(line)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
