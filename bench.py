#!/usr/bin/env python
"""The one timing loop of this repo, and the sf0.1 benchmark built on it.

``measure(spark, sf_dir, names)`` times registered keys with fixed steps:

1. ``artifacts.clear()``, then a COLD pass: each key's first execution,
   so it pays its artifact builds (keys sharing one artifact: the first
   sharer pays it; the first keys of a process also absorb residual
   JVM/codegen warm-up).
2. One warm-up pass (JVM, codegen and rebuilt intermediates are hot
   after it).
3. ``N_PASSES`` timed passes; the warm number is their MEDIAN. Single
   runs on a shared machine drift +-20% (round 2's +19.5% "regression"
   was pure noise), and the median absorbs that without hiding real
   slowdowns.

A timed span is the builder call plus a ``noop`` write: full
computation, no driver-side collect. The builder sits inside the span
because iterative operators (connected components) run their
driver-coordinated rounds eagerly in it. A key whose cold run exceeds
``COLD_ONLY_S`` gets no warm passes (the one reading, usually a blowup
at a larger scale, is already made) and its record says so.

Each execution runs under its own job group. After a timed span ends,
never inside it, the loop reads the group's totals from Spark's status
store (``perfbench.layers.group_totals``) and, once per key, the
exchange and Python-node counts of the executed plan's tree string, so
every key gets one record: cold_s, warm_s, build_s, plan_s, jobs,
stages, tasks, executor run/CPU/GC seconds, shuffle read/write, spill,
exchanges and python. Layers are those of the pass whose time is the
warm median. ``compiles`` and ``compile_s`` are the classes Janino
compiled in that span and their compile time, the deltas of Spark's
``CodegenMetrics`` compilation-time histogram read around the span
(``compile_s`` is count times the histogram's sampled mean, so it is
approximate); a warm pass that compiles anything either missed the
codegen class cache or generated new code.

Usage:
  python bench.py                      # the three groups; two driver lines
  python bench.py --keys headline      # one group: tpch, extended, rest too
  python bench.py --keys K1,K2 --plans DIR   # + DIR/<key>.txt plans

Every run merges its records into docs/PROFILE_r{N}.json. ``--keys
rest`` (every key in no group) also writes the sweep artifact
docs/BENCH_SWEEP_r{N}.json from the cold map. With no ``--keys`` the
output is two JSON lines (see ``emit_lines``); the compact last line
carries the headline warm medians, every group total and the cold
totals, plus ``parallelism`` and ``master`` so the driver can verify
$SPARK_GRAFT_CPUS is honored.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import re
import statistics
import sys
import time

N_PASSES = 3
COLD_ONLY_S = 60.0
SWEEP_SLOW_S = 2.0  # sweep keys whose cold run exceeds this are "slow"

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.append(os.path.join(HERE, "scripts"))

from keydigest import current_round  # noqa: E402

from perfbench.layers import (  # noqa: E402
    PYTHON_NODES,
    count_exchanges,
    drain_listener_bus,
    group_totals,
    plan_nodes,
)
from streaming_data_ingestion_spark import artifacts  # noqa: E402
from streaming_data_ingestion_spark.registry import all_queries  # noqa: E402
from streaming_data_ingestion_spark.session import get_spark  # noqa: E402
from streaming_data_ingestion_spark.tables import TABLES, load  # noqa: E402

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
    total included) to that window, and r13's detail line kept only the
    tail of ``extended_cold``. So the parseable record leads with the
    totals (each group's cold total included) and carries only the
    headline per-query map, truncated to the top-20 slowest if even
    that overflows; per-key data lives in docs/PROFILE_r{N}.json.
    tests/test_bench.py pins the contract so a print reorder can't
    regress it."""
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
    for field, cold_map in (
        ("cold_total", cold),
        ("tpch_cold_total", tpch_cold),
        ("extended_cold_total", ext_cold),
    ):
        if cold_map is not None:
            compact[field] = round(sum(cold_map.values()), 3)
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


_GROUP_SEQ = itertools.count()


def _compiled(sc) -> tuple[int, float]:
    """(classes compiled, their compile milliseconds) so far in this JVM;
    the milliseconds are the count times the histogram's sampled mean."""
    h = sc._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    return h.getCount(), h.getCount() * h.getSnapshot().getMean()


def _execute(spark, fn, sf_dir: str, name: str):
    """One execution of builder ``fn`` under a fresh job group:
    (group, span seconds, builder seconds, the built frame)."""
    sc = spark.sparkContext
    group = f"bench-{next(_GROUP_SEQ)}:{name}"
    sc.setJobGroup(group, f"bench:{name}")
    try:
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        t1 = time.perf_counter()
        _noop(df)
        t2 = time.perf_counter()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return group, t2 - t0, t1 - t0, df


def _layers(sc, group: str, compiled0: tuple[int, float]) -> dict:
    """Status-store totals of every job that ran under ``group``, and
    the classes compiled since ``compiled0``."""
    drain_listener_bus(sc)
    t = group_totals(sc, group)
    n, ms = _compiled(sc)
    return {
        "jobs": t.jobs,
        "stages": t.stages,
        "tasks": t.tasks,
        "run_s": round(t.run_ms / 1000, 3),
        "cpu_s": round(t.cpu_ns / 1e9, 3),
        "gc_s": round(t.gc_ms / 1000, 3),
        "shuffle_read_bytes": t.shuffle_read_bytes,
        "shuffle_write_bytes": t.shuffle_write_bytes,
        "spill_bytes": t.spill_bytes,
        "compiles": n - compiled0[0],
        "compile_s": round(max(ms - compiled0[1], 0.0) / 1000, 3),
    }


def _plan(df, name: str, plans: str | None) -> dict:
    """Planner time and node counts of a built frame. Counts come from
    the executed plan's TREE string: the formatted explain lists each
    node twice (tree and details), which doubled every count read off
    it."""
    t0 = time.perf_counter()
    tree = df._jdf.queryExecution().executedPlan().toString()
    plan_s = time.perf_counter() - t0
    if plans:
        os.makedirs(plans, exist_ok=True)
        with open(os.path.join(plans, f"{name}.txt"), "w") as fh:
            fh.write(df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            ))
    return {
        "plan_s": round(plan_s, 3),
        "exchanges": count_exchanges(tree),
        "python": sum(n in PYTHON_NODES for n in plan_nodes(tree)),
    }


def measure(
    spark, sf_dir: str, names, plans: str | None = None
) -> dict[str, dict]:
    """One record per key of ``names`` (see the module docstring). A key
    whose builder or write raises gets ``{"error": ...}`` and sits out
    the remaining passes."""
    sc = spark.sparkContext
    specs = all_queries()
    # parquet-footer/listing caches are paid before any timed span: cold
    # numbers measure the ENGINE's first execution
    for t in TABLES:
        load(spark, sf_dir, t).limit(1).count()
    errors: dict[str, dict] = {}

    def run(name: str, read_layers: bool = True):
        if name in errors:
            return None
        compiled0 = _compiled(sc)
        try:
            group, span_s, build_s, df = _execute(
                spark, specs[name].fn, sf_dir, name
            )
        except Exception as e:  # noqa: BLE001 (recorded, not hidden)
            errors[name] = {"error": f"{type(e).__name__}: {e}"[:300]}
            return None
        # read now: the status store keeps only the latest 1000 jobs
        return span_s, build_s, df, (
            _layers(sc, group, compiled0) if read_layers else None
        )

    artifacts.clear()
    cold = {name: run(name) for name in names}
    runs = {
        name: [c] if c[0] > COLD_ONLY_S else []
        for name, c in cold.items() if c is not None
    }
    warm = [name for name, r in runs.items() if not r]
    for name in warm:
        run(name, read_layers=False)
    for _ in range(N_PASSES):
        for name in warm:
            done = run(name)
            if done is not None:
                runs[name].append(done)

    records: dict[str, dict] = {}
    for name in names:
        if name in errors:
            records[name] = errors[name]
            continue
        spans = [r[0] for r in runs[name]]
        # layers and plan of the pass whose time is the warm median
        _, build_s, df, layers = sorted(runs[name], key=lambda r: r[0])[
            len(spans) // 2
        ]
        records[name] = {
            "cold_s": round(cold[name][0], 3),
            "warm_s": round(statistics.median(spans), 3),
            "cold_only": name not in warm,
            "build_s": round(build_s, 3),
            **_plan(df, name, plans),
            **layers,
        }
    return records


def write_profile(records: dict[str, dict], sf: float, sc) -> str:
    """Merge ``records`` into docs/PROFILE_r{N}.json, one key a line, so
    a targeted ``--keys`` rerun fills gaps instead of erasing the record.
    A profile of another scale or core count is replaced, not mixed."""
    dest = os.path.join(HERE, "docs", f"PROFILE_r{current_round()}.json")
    head = {
        "metric": "bench_profile",
        "sf": sf,
        "parallelism": sc.defaultParallelism,
        "master": sc.master,
        "n_passes": N_PASSES,
        "cold_only_s": COLD_ONLY_S,
    }
    keys = {}
    if os.path.exists(dest):
        prior = json.load(open(dest))
        if all(prior.get(k) == head[k] for k in ("sf", "parallelism")):
            keys = prior["keys"]
    keys.update(records)
    body = ",\n".join(f"{json.dumps(k)}: {json.dumps(v)}" for k, v in keys.items())
    with open(dest, "w") as fh:
        fh.write(json.dumps(head)[:-1] + ', "keys": {\n' + body + "\n}}\n")
    return dest


def write_sweep(cold: dict[str, float], sf: float) -> str:
    """docs/BENCH_SWEEP_r{N}.json from a cold map — the once-per-round
    hot-spot smoke over keys in no group (tests/test_bench.py pins the
    format). Pin any ``slow`` entry in docs/BENCH_NOTES.md, or fix it."""
    ranked = dict(sorted(cold.items(), key=lambda kv: -kv[1]))
    payload = {
        "metric": "bench_sweep",
        "n": len(cold),
        "sf": sf,
        "total": round(sum(cold.values()), 3),
        "threshold": SWEEP_SLOW_S,
        "slow": {n: s for n, s in ranked.items() if s > SWEEP_SLOW_S},
        "queries": ranked,
    }
    print(json.dumps(payload))
    dest = os.path.join(HERE, "docs", f"BENCH_SWEEP_r{current_round()}.json")
    with open(dest, "w") as fh:
        json.dump(payload, fh)
        fh.write("\n")
    return dest


def select(keys: str, specs) -> list[str]:
    """Key names from a comma list of keys and group names."""
    groups = {"headline": HEADLINE, "tpch": TPCH, "extended": EXTENDED}
    grouped = {n for g in groups.values() for n in g}
    groups["rest"] = tuple(sorted(n for n in specs if n not in grouped))
    names = [n for part in keys.split(",") if part for n in groups.get(part, (part,))]
    unknown = [n for n in names if n not in specs]
    if unknown:
        raise SystemExit(f"unknown keys: {unknown}")
    return names


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument(
        "--keys", default="",
        help="comma list of keys and groups (headline, tpch, extended, "
        "rest); default: the three groups and the driver lines",
    )
    ap.add_argument(
        "--plans", default=None, metavar="DIR",
        help="write each key's formatted physical plan to DIR/<key>.txt",
    )
    args = ap.parse_args(argv)

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    spark = get_spark(app_name="sdi-bench")
    sc = spark.sparkContext

    if args.keys:
        groups = [select(args.keys, all_queries())]
    else:
        groups = [HEADLINE, TPCH, EXTENDED]
    records: dict[str, dict] = {}
    for names in groups:
        records.update(measure(spark, sf_dir, names, args.plans))
    print(f"wrote {write_profile(records, sf, sc)}", file=sys.stderr)
    errors = {n: r["error"] for n, r in records.items() if "error" in r}

    if args.keys:
        for name, rec in records.items():
            print(json.dumps({"key": name, **rec}))
        if args.keys == "rest":
            cold = {n: r["cold_s"] for n, r in records.items() if n not in errors}
            print(f"wrote {write_sweep(cold, sf)}", file=sys.stderr)
    elif not errors:
        warm, cold = (
            [{n: records[n][field] for n in names} for names in groups]
            for field in ("warm_s", "cold_s")
        )
        for line in emit_lines(
            *warm, sf, *cold,
            parallelism=sc.defaultParallelism, master=sc.master,
        ):
            print(line)
    spark.stop()
    if errors:
        print(f"failed keys: {json.dumps(errors)}", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
