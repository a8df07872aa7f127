"""Physical-plan regression tests.

Correctness says a query returns the right rows; these tests pin down that
it returns them with the *plan we designed for 100 TB*: filters reach the
parquet scan, scans are column-pruned, small dimensions broadcast instead
of shuffling the fact table, aggregates partial-aggregate map-side, pandas
UDFs run on the Arrow path, and nothing degenerates into a cartesian
product. A refactor that keeps results but regresses any of these is a
scale bug this file catches.
"""

from __future__ import annotations

import pytest

from streaming_data_ingestion_spark.registry import all_queries

from .conftest import SF_DIR


def plan_of(spark, name: str) -> str:
    df = all_queries()[name].fn(spark, SF_DIR)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return df._jdf.queryExecution().explainString(mode)


def drop_widening(plan: str) -> str:
    """Rename tables.spread_for_cpu's conditional widening exchange
    (``Exchange hashpartitioning(xxhash64(...)) REPARTITION_BY_NUM``) so
    shuffle-count pins keep guarding ALGORITHMIC exchanges only. The
    widening fires exclusively when a scan arrives narrower than the
    cluster (single-row-group fixture files) and is a no-op on a wide
    100 TB scan, so it is not part of the plan shape these pins defend —
    but an accidental real shuffle must still trip them, hence the
    narrow match on the xxhash64 round-robin signature."""
    import re

    for node_id in re.findall(
        r"\((\d+)\) Exchange\nInput[^\n]*\n"
        r"Arguments: hashpartitioning\(xxhash64\([^\n]*REPARTITION_BY_NUM",
        plan,
    ):
        plan = plan.replace(f"+- Exchange ({node_id})", f"+- SpreadWiden ({node_id})")
        plan = plan.replace(f":- Exchange ({node_id})", f":- SpreadWiden ({node_id})")
        plan = plan.replace(f"({node_id}) Exchange\n", f"({node_id}) SpreadWiden\n")
    # the renamed node's Arguments line still reads "hashpartitioning";
    # neutralize it so partitioning-count pins are not confused either
    plan = "\n".join(
        ln.replace("hashpartitioning(xxhash64(", "spreadwiden(xxhash64(")
        if ("hashpartitioning(xxhash64(" in ln and "REPARTITION_BY_NUM" in ln)
        else ln
        for ln in plan.splitlines()
    )
    return plan


def test_scan_project_prunes_columns(spark):
    """Projection must reach the parquet reader: ReadSchema carries only
    the selected columns, and a 4-column projection never reads the
    16-column lineitem row."""
    plan = plan_of(spark, "q_scan_project")
    assert "ReadSchema:" in plan
    assert "l_comment" not in plan  # widest column must be pruned
    assert "Exchange" not in plan  # pure scan+project: no shuffle at all


def test_filter_pushdown_reaches_scan(spark):
    """The quantity predicate must appear in PushedFilters (evaluated by
    the parquet reader against row-group stats), not only post-scan."""
    plan = plan_of(spark, "q_filter_simple")
    assert "PushedFilters:" in plan
    assert "GreaterThan" in plan.split("PushedFilters:")[1].split("\n")[0]


def test_agg_group_partial_aggregates(spark):
    """TPC-H Q1 shape: map-side partial aggregation before the single
    shuffle, so the exchange carries one row per (group × partition),
    not the fact table."""
    plan = drop_widening(plan_of(spark, "q_agg_group"))
    assert "partial_sum" in plan
    # Exactly one ALGORITHMIC shuffle: partial agg -> exchange -> final
    # agg (the conditional narrow-scan widening is discounted).
    assert plan.count("+- Exchange") == 1


def test_join_multi_broadcasts_all_dims(spark):
    """5-table star join: every dimension side must broadcast — the
    lineitem fact is scanned once and never shuffled."""
    plan = plan_of(spark, "q_join_multi")
    # tree form appears once per join; the detail section repeats the name
    assert plan.count("BroadcastHashJoin Inner BuildRight") == 4
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_join_broadcast_hint_respected(spark):
    plan = plan_of(spark, "q_join_broadcast")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_sort_limit_is_top_k(spark):
    """Global ORDER BY + LIMIT must plan as TakeOrderedAndProject —
    per-partition top-k then merge, never a full global sort."""
    plan = plan_of(spark, "q_sort_limit")
    assert "TakeOrderedAndProject" in plan


def test_minhash_single_shuffle(spark):
    """MinHash signatures: explode + hash is map-side; the only shuffle
    is the groupBy(doc_id), whose input is partially aggregated (12
    running minima per doc per partition), not the shingle stream."""
    plan = plan_of(spark, "q_dedup_minhash")
    assert "partial_min" in plan
    assert "CartesianProduct" not in plan


def test_minhash_pairs_is_equi_join(spark):
    """LSH candidate pairs must hash-join on the band key — the n² pair
    space is never materialized."""
    plan = plan_of(spark, "q_dedup_minhash_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_sim_topk_broadcasts_query_side(spark):
    """Brute-force ANN baseline: the 3-row query side broadcasts; the
    corpus streams through without a shuffle."""
    plan = plan_of(spark, "q_sim_topk")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_sim_ivf_probe_is_hash_join(spark):
    """IVF probe: candidate generation joins on the cell id (equi), with
    the tiny probe list broadcast."""
    plan = plan_of(spark, "q_sim_ivf")
    assert "CartesianProduct" not in plan
    # assignment (K centroids) and probing (6 rows) both broadcast
    assert plan.count("BroadcastExchange") >= 2


def test_pandas_udf_uses_arrow(spark):
    """The vectorized UDF must evaluate on the Arrow batch path, never
    row-at-a-time pickling."""
    plan = plan_of(spark, "q_udf_pandas")
    assert "ArrowEvalPython" in plan


def test_python_udf_not_on_join_or_agg_path(spark):
    """The row-UDF demo stays a terminal projection — no join/agg above
    it would force the Python boundary into a shuffle."""
    plan = plan_of(spark, "q_udf_python")
    assert "BatchEvalPython" in plan or "ArrowEvalPython" in plan


def test_window_topk_single_shuffle(spark):
    """Top-k per group: one hash-partition exchange on the group key
    feeds the window; the rank filter then drops all but k rows."""
    plan = plan_of(spark, "q_win_topk_per_group")
    assert "Window" in plan
    assert "CartesianProduct" not in plan


def test_doc_chunk_no_shuffle(spark):
    """Chunking is a narrow map (sequence -> transform/slice -> posexplode):
    zero exchanges, and the scan reads only doc_id + text."""
    plan = plan_of(spark, "q_doc_chunk")
    assert "Exchange" not in plan
    assert "Generate" in plan  # the posexplode
    read = plan.split("ReadSchema:")[1].split("\n")[0]
    assert "doc_id" in read and "text" in read
    assert "lang" not in read and "n_chars" not in read


def test_pii_redact_no_shuffle_and_pruned(spark):
    """Redaction is per-row regex work: no shuffle, and the scan carries
    only the three referenced columns."""
    plan = plan_of(spark, "q_pii_redact")
    assert "Exchange" not in plan
    read = plan.split("ReadSchema:")[1].split("\n")[0]
    assert "n_chars" not in read and "lang" not in read


def test_sample_hash_single_shuffle(spark):
    """Hash sampling folds into one partial+final aggregate on source:
    exactly one exchange, carrying per-source partials only."""
    plan = plan_of(spark, "q_sample_hash")
    assert plan.count("Exchange") <= 2  # formatted mode lists node + detail
    assert "partial_" in plan


def test_corpus_filter_no_shuffle_and_pruned(spark):
    """The quality gate is a pure narrow map: no exchange anywhere, and
    the scan reads only the two columns the rules touch."""
    plan = plan_of(spark, "q_corpus_filter")
    assert "Exchange" not in plan
    assert "lang" not in plan.split("ReadSchema:")[1].split("\n")[0]


def test_ngrams_single_shuffle(spark):
    """Bigram stats: the n-gram arrays are built row-side, so the only
    exchanges are the count aggregation's (partial agg on the map side)
    and the final top-k ordering."""
    plan = plan_of(spark, "q_ngrams")
    assert "partial_count" in plan
    assert "TakeOrderedAndProject" in plan  # top-k, never a global sort


def test_inverted_index_partial_aggregates(spark):
    """Posting-list build: per-doc distinct terms are computed row-side
    (no extra dedup shuffle) and the collect aggregates partially before
    its single exchange."""
    plan = drop_widening(plan_of(spark, "q_inverted_index"))
    assert plan.count("+- Exchange") == 1
    assert "partial_" in plan  # ObjectHashAggregate partial mode


def test_repetition_no_shuffle(spark):
    """Repetition gates run as one narrow projection: the run-length fold
    over the sorted bigram array replaces what would otherwise be an
    explode + groupBy + max — no ALGORITHMIC Exchange may appear (the
    conditional narrow-scan widening is discounted)."""
    plan = drop_widening(plan_of(spark, "q_repetition"))
    assert "Exchange" not in plan
    assert "Generate" not in plan  # no explode either


def test_text_tfidf_cheap_dfreq_and_rank_pushdown(spark):
    """TF-IDF: document frequency must come from its own array_distinct
    pass (vocabulary-sized shuffle), never a second (doc_id, term)
    aggregation of the full token stream; the vocabulary then broadcasts
    into the score join. WindowGroupLimit proves the top-5 rank filter
    prunes map-side before the final window shuffle."""
    plan = drop_widening(plan_of(spark, "q_text_tfidf"))
    assert "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan
    # tf + dfreq + 1-row count + window repartition = 4 plain exchanges max
    assert plan.count("+- Exchange") <= 4


def test_decontaminate_gram_join_is_hash_join(spark):
    """Decontamination: the train-gram × test-gram overlap must be an
    equi-join on the gram digest (broadcast or shuffled hash — never a
    nested loop), and per-doc gram sets dedupe row-side so each (doc,
    gram) shuffles at most once."""
    plan = plan_of(spark, "q_decontaminate")
    assert "NestedLoop" not in plan
    assert "CartesianProduct" not in plan
    assert "array_distinct" in plan


def test_emb_centroid_single_centroid_sized_shuffle(spark):
    """Centroids: posexplode happens after pruning to (label, embedding),
    partial aggregation collapses each map task to |labels|×64 rows, and
    exactly one exchange carries those partials."""
    plan = plan_of(spark, "q_emb_centroid")
    assert plan.count("+- Exchange") == 1
    assert "partial_" in plan
    read = plan.split("ReadSchema:")[1].split("\n")[0]
    assert "vec_id" not in read  # column pruning reached the scan


def test_sessionize_single_shuffle(spark):
    """Sessionization: lag flag, running-sum assignment, and the final
    per-session rollup must all share ONE exchange — the two windows use
    the same (user_id | ts, event_id) spec, and groupBy(user_id,
    session_seq) is satisfied by the existing user_id partitioning."""
    plan = plan_of(spark, "q_sessionize")
    assert plan.count("+- Exchange") == 1
    assert plan.count("Window") >= 2


def test_corpus_pipeline_two_shuffles(spark):
    """The composed corpus-prep flow (gate → dedup → split → chunk
    accounting) must cost exactly two exchanges: the digest-partitioned
    keeper window and the final (split, source) rollup. WindowGroupLimit
    shows the rn=1 keeper filter pruning map-side before the shuffle."""
    plan = plan_of(spark, "q_corpus_pipeline")
    assert plan.count("+- Exchange") == 2
    assert "WindowGroupLimit" in plan
    assert "partial_" in plan


def test_bm25_no_explode_single_stats_broadcast(spark):
    """BM25: term frequencies are per-row filter+size (no Generate), and
    corpus stats arrive via one broadcast — the doc side never
    shuffles."""
    plan = plan_of(spark, "q_bm25")
    assert "Generate" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row stats cross join
    assert plan.count("+- Exchange") <= 1  # the stats aggregate only


def test_zscore_stats_broadcast_back(spark):
    """Standardization: the per-source moments reduce to |sources| rows
    and broadcast back; the corpus is scanned, never shuffled."""
    plan = plan_of(spark, "q_zscore")
    assert "BroadcastHashJoin" in plan
    assert plan.count("+- Exchange") <= 1


def test_gap_fill_small_sides_broadcast(spark):
    """Gap fill: the generated day spine and the type dimension are both
    broadcast; the fact-side daily aggregate is the only shuffle."""
    plan = plan_of(spark, "q_gap_fill")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastExchange") >= 2


def test_emb_outlier_corpus_never_shuffles(spark):
    """Outlier scoring: every join is broadcast (docs dim into the
    embeddings scan; centroid table back over the corpus); the only
    plain exchanges belong to the centroid aggregation, so the corpus
    itself is never repartitioned."""
    plan = plan_of(spark, "q_emb_outlier")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("+- Exchange") <= 2  # (source,dim) partials + collect


def test_minhash_jaccard_bounded_scope(spark):
    """Estimate-vs-truth runs on the candidate scope only: every join is
    an equi hash join (band buckets, signatures, shingle sets) — no
    nested loop may appear anywhere."""
    plan = plan_of(spark, "q_minhash_jaccard")
    assert "NestedLoop" not in plan
    assert "CartesianProduct" not in plan


def test_tpch_q3_pushdown_and_topk(spark):
    """Q3: both date predicates reach their parquet scans; customer rides
    as a broadcast; the top-10 is TakeOrderedAndProject, not a global
    sort of the aggregate."""
    plan = plan_of(spark, "q_tpch_q3")
    assert "PushedFilters:" in plan
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_tpch_q14_no_fact_shuffle(spark):
    """Q14: part broadcasts and the conditional aggregate partials
    map-side — the only exchange carries one pre-aggregated row per
    partition, never lineitem rows."""
    plan = plan_of(spark, "q_tpch_q14")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "partial_sum" in plan


def test_tpch_q18_single_lineitem_pass(spark):
    """Q18 (r13 re-grain): sum_qty is read off the HAVING aggregate
    itself, so lineitem appears in exactly ONE scan (the old shape
    re-joined it and re-aggregated), nothing fact-sized shuffles after
    the grouped aggregate (both attach joins broadcast), and top-100 is
    a TakeOrderedAndProject."""
    plan = plan_of(spark, "q_tpch_q18")
    assert plan.count("lineitem.parquet") == 1
    assert "SortMergeJoin" not in plan
    assert plan.count(") BroadcastHashJoin") == 2  # big→orders, customer
    assert "TakeOrderedAndProject" in plan


def test_sim_pq_adc_plan_contract(spark):
    """q_sim_pq_adc is in _SWEEP_SKIP (its builder runs an eager bounded
    3-row pushed-filter collect per plan build — the house checklist for
    eager bounded-collect builders), so the invariants the global sweeps
    would have checked are asserted HERE, paying that bounded job once:
    the only Python surface is the certified numpy encode kernel, the
    only nested-loop join is the allowlisted 3-row LUT fan-out, and the
    per-query top-5 is a window cut, not a collect."""
    plan = plan_of(spark, "q_sim_pq_adc")
    # formatted plans name each operator twice (tree + numbered detail);
    # count the detail headers
    assert plan.count(") MapInPandas") == 1  # pq_encode_np kernel only
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert plan.count(") BroadcastNestedLoopJoin") == 1  # 3-row LUT side
    assert "CartesianProduct" not in plan
    assert "Window" in plan


def test_ngram_jaccard_verify_is_equi_join_only(spark):
    """Exact-Jaccard verify must consume the LSH collision set: every
    join carries an equality condition (band key, then doc_id lookups) —
    an all-pairs nested loop over a document scope is the 100 TB
    anti-pattern this pins against."""
    plan = plan_of(spark, "q_dedup_ngram_jaccard")
    assert "NestedLoop" not in plan
    assert "CartesianProduct" not in plan


def test_edit_distance_verify_is_equi_join_only(spark):
    """Levenshtein verify: same contract — candidates come from the band
    join, text arrives via doc_id equi hash joins, no nested loop."""
    plan = plan_of(spark, "q_dedup_edit_distance")
    assert "NestedLoop" not in plan
    assert "CartesianProduct" not in plan


def test_tpch_q1_pushdown_single_agg(spark):
    """Q1: the shipdate cutoff reaches the parquet scan; ONE
    partial+final hash exchange carries the fact aggregation (Catalyst
    dedupes the avg sums into the same partials), and the only other
    exchange is the ~6-row range sort."""
    plan = drop_widening(plan_of(spark, "q_tpch_q1"))
    assert "PushedFilters:" in plan
    assert "partial_sum" in plan
    assert plan.count("hashpartitioning") == 1
    assert plan.count("+- Exchange") == 2  # hash agg + trivial range sort


def test_tpch_q5_single_fact_shuffle(spark):
    """Q5: region/nation/supplier/customer all ride broadcasts; the only
    sort-merge-eligible join is lineitem⋈orders, and nothing degenerates
    into a nested loop."""
    plan = plan_of(spark, "q_tpch_q5")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tpch_q6_all_filters_pushed(spark):
    """Q6 is pure predicate selectivity: date range, discount band, and
    quantity cap must ALL reach the parquet scan so row-group stats can
    skip — and the scan reads only the four referenced columns."""
    plan = plan_of(spark, "q_tpch_q6")
    pushed = plan.split("PushedFilters:")[1].split("\n")[0]
    assert "l_shipdate" in pushed
    assert "l_discount" in pushed
    assert "l_quantity" in pushed
    read = plan.split("ReadSchema:")[1].split("\n")[0]
    assert "l_orderkey" not in read and "l_returnflag" not in read


def test_seq_pack_single_shuffle(spark):
    """Sequence packing is one prefix-sum window per source: exactly one
    hash exchange, and the scan reads only doc_id/source/text."""
    plan = plan_of(spark, "q_seq_pack")
    assert plan.count("+- Exchange") == 1
    assert "Window" in plan
    read = plan.split("ReadSchema:")[1].split("\n")[0]
    assert "n_chars" not in read and "lang" not in read


def test_emb_quantize_no_shuffle(spark):
    """Quantization is a pure narrow map — per-vector scale is a row-side
    array fold, so no Exchange may appear anywhere."""
    plan = plan_of(spark, "q_emb_quantize")
    assert "Exchange" not in plan


def test_skew_profile_single_fact_agg(spark):
    """The skew census aggregates the fact table exactly once (partial
    map-side), broadcasts the 1-row total back, and takes the top-10 with
    TakeOrderedAndProject — the fact stream never shuffles twice."""
    plan = plan_of(spark, "q_skew_profile")
    assert "partial_count" in plan
    assert "BroadcastNestedLoopJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_tpch_q19_extracts_single_side_conjuncts(spark):
    """Q19's disjunction spans both join sides and cannot fully push, but
    Catalyst must still extract the per-side common conjuncts — the part
    scan gets brand/size filters pushed, the join stays a broadcast hash
    join, and nothing degenerates into a nested loop."""
    plan = plan_of(spark, "q_tpch_q19")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "p_brand" in plan.split("PushedFilters:")[1]


def test_json_malformed_single_agg(spark):
    """Corrupt-slice accounting is one partial+final aggregate; the
    mangling + decode is a narrow map that never shuffles raw JSON."""
    plan = plan_of(spark, "q_json_malformed")
    assert plan.count("+- Exchange") == 1
    assert "partial_count" in plan


def test_scd2_single_shuffle(spark):
    """SCD2 interval build: change flag, version numbering, per-version
    rollup, and the interval-closing lead() all reuse ONE user_id
    partitioning — exactly one Exchange across three Window ops."""
    plan = plan_of(spark, "q_scd2_intervals")
    assert plan.count("+- Exchange") == 1
    assert plan.count("Window (") >= 2


def test_time_weighted_avg_single_shuffle(spark):
    """TWA: the lead() window and the weighted aggregate share the
    user_id partitioning — one Exchange end-to-end."""
    plan = plan_of(spark, "q_time_weighted_avg")
    assert plan.count("+- Exchange") == 1


# Queries whose plan legitimately contains a 1-row or tiny-side
# nested-loop/cross join (broadcast stats rows, scalar maxima, query-side
# fan-out) — everything else must be free of cartesian shapes.
_CARTESIAN_OK = {
    "q_dq_audit",          # six 1-row audit counters cross-joined
    "q_bm25",              # 1-row corpus stats broadcast
    "q_zscore",            # per-source stats broadcast (BNLJ fallback ok)
    "q_sim_topk",          # 3-row query side fan-out (BroadcastNestedLoop)
    "q_sim_pq_adc",        # same 3-row query fan-out over the code table
    "q_sim_range",         # same broadcast fan-out
    "q_sim_ivf",           # 6-row nprobe probe list broadcast fan-out
    "q_sim_recall",        # composes q_sim_topk
    "q_sim_ndcg",          # composes q_sim_topk + q_sim_ann_lsh
    "q_skew_profile",      # 1-row total broadcast
    "q_lm_score",          # 1-row token-total broadcast onto the vocab
    "q_lm_score_bigram",   # 1-row vocabulary-size broadcast (V smoothing)
    "q_source_log_odds",   # 1-row corpus-total broadcast (Dirichlet prior)
    "q_rfm",               # 1-row corpus max-ts broadcast
    "q_ttest",             # 1-row × 1-row group-moment cross join
    "q_pmi",               # two 1-row corpus-total broadcasts
    "q_agg_global",        # global aggregate scalar joins
    "q_subquery_scalar",   # scalar subquery rewrites to 1-row join
    "q_tpch_q14",          # single-row ratio
    "q_tpch_q15",          # 1-row max broadcast
    "q_tpch_q11",          # 1-row total broadcast for the HAVING threshold
    "q_tpch_q22",          # 1-row avg-balance broadcast (scalar subquery)
    "q_text_tfidf",        # 1-row doc-count broadcast
    "q_text_rarity",       # 1-row corpus size broadcast
    "q_mix_weights",       # window over |sources| rows
    "q_minhash_jaccard",   # bounded candidate scope composition
    "q_gap_fill",          # generated spine × type dimension (tiny)
    "q_approx_error",      # scalar comparisons
    "q_emb_outlier",       # centroid table broadcast
    "q_histogram",         # bin spine broadcast
    "q_sim_ivfpq_recall",  # 8-row centroid fan-out + 3-row query truth side
    "q_pca2_project",      # 1-row fitted-model broadcast back over the scan
    "q_backlog_curve",     # 1-row horizon broadcast + running-sum
    #                        triangle join on the calendar-bounded
    #                        sweep-line delta relation
    "q_cum_uniques",       # running total via triangle join on the
    #                        calendar-bounded daily relation (days² pairs)
    "q_xcorr",             # 1-row mean/denominator broadcasts onto the
    #                        calendar-bounded two-series relation
    "q_acf",               # 1-row mean/denominator broadcasts onto the
    #                        calendar-bounded daily relation
    "q_survival_km",       # 1-row horizon broadcast + at-risk/cumulative
    #                        triangle joins on the calendar-bounded
    #                        (duration, observed) count table
    "q_anova",             # 1-row totals broadcast onto the |types|-row
    #                        group-moment relation
    "q_dedup_agreement",   # three 1-row count aggregates cross-joined
    #                        into the single summary row
    "q_bootstrap_ci",      # rank triangle join on the 64-row replica
    #                        relation + 1-row full-mean broadcast (the
    #                        data pass is the map-side replica fan-out)
    "q_assoc_rules",       # 1-row basket-total broadcast onto the
    #                        pair relation (pair expansion itself is an
    #                        equi self-join on the basket key)
    "q_revenue_pareto",    # triangle join + 1-row total on the 10-row
    #                        spend-decile relation (fact pass = ranked
    #                        exchange inside with_global_rank)
    "q_decile_lift",       # triangle join + 1-row totals on the 10-row
    #                        decile relation (the fact pass is the ranged
    #                        exchange inside with_global_rank)
    "q_roc_auc",           # pair-count inequality join between the two
    #                        <=1024-row score-grid sides + 1-row totals —
    #                        grid-bounded by construction, never data-sized
    "q_ks_test",           # 1-row min/max bounds broadcast + ECDF triangle
    #                        join on the <=512-row bin grid
    "q_chi2_independence",  # 1-row grand-total broadcast onto the
    #                        group-sized contingency cells
    "q_mutual_information",  # same contingency skeleton: 1-row total +
    #                        1-row entropy broadcasts
    "q_quantile_rollup_merge",  # 1-row grid-bounds broadcasts; the ECDF
    #                        pass itself is scope-equi (hash join)
    "q_calibration_bins",  # 1-row total + 1-row ECE broadcasts onto the
    #                        16-row confidence grid
    "q_psi_drift",         # 1-row bounds/span broadcast + 1-row totals
    "q_js_divergence",     # 1-row corpus-total broadcast onto the sparse
    #                        (source, term) relation (absent-term q-mass
    #                        folds into the closed-form correction)
    "q_churn_cohorts",     # 1-row horizon broadcast onto the user table
    "q_shard_assign",      # 1-row corpus-total broadcast (balance ratio)
    "q_token_budget_pick",  # bounded triangle join on the 16-row
    #                        hex-prefix cell spine (exact offsets)
    "q_kendall_tau",       # triangle join on the calendar-bounded daily
    #                        relation + 1-row n_days broadcast
    "q_theil_sen",         # same bounded daily triangle + 1-row n_days
    "q_benford",           # 1-row total + 1-row chi2 broadcasts onto the
    #                        9-row digit spine
    "q_mix_temperature",   # 1-row token/sqrt-mass totals broadcast onto
    #                        the sources-sized relation
    "q_bm25_search",       # 1-row corpus-stats broadcast (the q_bm25 shape)
    "q_bm25_search_b2",    # same shape, second binding (4 terms)
    "q_bm25_serving",      # 1-row STORED-stats broadcast (the q_bm25 shape
    #                        with the aggregation read from the store)
    "q_bm25_serving_b2",   # same stored shape, second binding (absent term)
    "q_ivfpq_cell_stats",  # 1-row total broadcast onto the K-row cell
    #                        occupancy relation
    "q_type_corr_matrix",  # dense calendar×|types| grid build (bounded
    #                        cross join) + day-keyed bounded pair join
    "q_hist_quantiles",    # 3-row pct spine × ≤258-row stored histogram
    #                        range probe + 1-row total broadcast
    "q_sax_symbolize",     # 1-row μ/σ broadcasts onto the calendar-
    #                        bounded daily relation
    "q_theil_index",       # 1-row spend-total broadcast onto the
    #                        customer spend relation (μ attach)
    "q_knn_classify",      # 3-row probe side broadcast fan-out (the
    #                        q_sim_topk BroadcastNestedLoop shape)
    "q_bigram_cond_entropy",  # 1-row bigram-total broadcast onto the
    #                        vocab-sized term relation
    "q_type_token_curve",  # 1-row doc-id bounds broadcast + cumulative
    #                        triangle join on the constant 10-row spine
    "q_mann_kendall",      # triangle join on the calendar-bounded daily
    #                        revenue relation (days² sign pairs) + 1-row
    #                        count broadcast
    "q_cms_serving",       # 1-row total broadcast onto the 8-row probe
    #                        watchlist (grid lookups are broadcast hash
    #                        joins against the 4096-row stored grid)
    "q_heavy_hitters_cms",  # 1-row occurrence-total broadcast (φ cut);
    #                        candidate lookup itself is 4 broadcast HASH
    #                        joins against the 4096-row grid, no vocab
    #                        shuffle (see test_cms_candidate_pass below)
    "q_heavy_hitters_cms_b2",  # same scalar-attach idiom through the
    #                        same builder (3x2048 law-derived grid)
}
# Iterative operators execute driver-coordinated jobs eagerly at build
# time — too expensive for a plan sweep. The stored-IVFPQ serving keys
# run their ADC stage eagerly (bounded ≤ rerank collect feeding the
# vec_id point fetch), so the returned plan no longer contains the probe
# stage the sweeps would want to see — their stage-level guards
# (codes-only ReadSchema, PartitionFilters, no cartesian/Python, scalar
# output schema) live in tests/test_ivfpq.py instead.
_SWEEP_SKIP = {
    "q_dedup_clusters",
    "q_sim_ivfpq_recall",
    "q_sim_ivfpq_probe_param",
    "q_sim_ivfpq_probe_b2",
    # eager bounded-collect serving paths like the probes above; their
    # ADC stage plan contracts are asserted directly in tests/test_ivfpq.py
    # and tests/test_streaming.py (generation lifecycle)
    "q_ann_gen_probe",
    "q_ann_gen_probe_b2",
    # r12 gave this builder an eager bounded 3-row pushed-filter collect
    # (the per-query ADC LUTs); per the house checklist its plan contract
    # moves to a dedicated test (test_sim_pq_adc_plan_contract below)
    # instead of running a real scan job in every global sweep
    "q_sim_pq_adc",
}
# q_bucketed_join is DELIBERATELY not in _SWEEP_SKIP (verdict r9 nit):
# unlike the probes above, its returned plan — the exchange-free
# SortMergeJoin over the stored buckets — is exactly what the sweeps
# exist to inspect. The price is that the first plan build in a fresh
# process writes both bucketed fixtures eagerly (~2 s at sf0.001, once
# per fixture snapshot via artifacts.stored in queries/layout_q.py; all
# three sweeps in one pytest session share that single build).


def test_no_accidental_cartesian_anywhere(spark):
    """Global guard: building EVERY registered query's physical plan,
    none outside the explicit allowlist may contain a CartesianProduct
    or BroadcastNestedLoopJoin. A future refactor that silently turns an
    equi-join into an n x m join fails here, not at 100 TB."""
    bad = {}
    for name in sorted(all_queries()):
        if name in _SWEEP_SKIP or name in _CARTESIAN_OK:
            continue
        try:
            plan = plan_of(spark, name)
        except Exception as e:  # rows-only queries must still plan
            bad[name] = f"plan build failed: {e}"
            continue
        if "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan:
            bad[name] = "cartesian/nested-loop join in plan"
    assert not bad, bad


def test_oracled_outputs_are_scalar_only(spark):
    """Driver-canonicalizer safety: the driver sorts/hashes result frames
    with pandas, which cannot handle list/map/struct/binary cells
    (round 4's only two red rows were bare array<int> columns from
    q_pq_encode/q_emb_quantize). Every ORACLED query must therefore emit
    scalar columns only — arrays are serialized with array_join (Spark) /
    array_to_string (DuckDB), the q_agg_collect idiom. Rows-only queries
    (no oracle) are exempt: the driver only counts their rows."""
    from pyspark.sql import types as T

    bad = {}
    for name, spec in sorted(all_queries().items()):
        if spec.oracle is None or name in _SWEEP_SKIP:
            continue
        try:
            schema = spec.fn(spark, SF_DIR).schema
        except Exception as e:
            bad[name] = f"schema build failed: {e}"
            continue
        complex_cols = [
            f.name
            for f in schema.fields
            if isinstance(
                f.dataType,
                (T.ArrayType, T.MapType, T.StructType, T.BinaryType),
            )
        ]
        if complex_cols:
            bad[name] = complex_cols
    assert not bad, bad


def test_cms_candidate_pass(spark):
    """q_heavy_hitters_cms's candidate selection must be row-side: the
    whole depth×width cell grid folds into ONE broadcast row (a dense
    count array + the token total) attached via the allowlisted 1-row
    broadcast cross join, so each occurrence's estimate is `depth`
    positional array lookups — and the only token-keyed exchange in the
    whole plan is the final exact count over surviving occurrences,
    never a vocabulary-sized distinct. (The previous shape attached the
    grid via `depth` broadcast HASH joins whose build sides each re-ran
    the full cell aggregate — depth+1 token-stream passes at corpus
    scale; the 1-row fold is two.) The claim 'shuffle ≤ grid·partitions
    + survivors, never the vocabulary' is enforced here end-to-end."""
    plan = plan_of(spark, "q_heavy_hitters_cms")
    assert plan.count("BroadcastNestedLoopJoin Cross BuildRight") == 1
    assert "element_at" in plan  # dense-array O(1) lookups, not a map scan
    token_exchanges = [
        ln
        for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln and "token" in ln
    ]
    assert len(token_exchanges) <= 1, token_exchanges


def test_cms_bindings_keep_separate_persist_entries(spark):
    """r13: the two registered CMS grids persist their token tables
    under SHAPE-QUALIFIED cache kinds. When they shared one kind, every
    alternating execution (each bench pass) evicted and rebuilt the
    other binding's corpus-sized intermediate — the warm 'steady state'
    silently included a full tokenize+hash pass per execution."""
    from streaming_data_ingestion_spark.artifacts import _LIVE
    from streaming_data_ingestion_spark.registry import all_queries

    qs = all_queries()
    qs["q_heavy_hitters_cms"].fn(spark, SF_DIR)
    qs["q_heavy_hitters_cms_b2"].fn(spark, SF_DIR)
    keys = [k for k in _LIVE if k.startswith("q_heavy_hitters_cms.tokb")]
    assert len(keys) == 2, keys


def test_sample_topk_hash_prunes_map_side(spark):
    """Exact-K stratified sample: WindowGroupLimit must prune to K rows
    per input partition BEFORE the single source exchange."""
    plan = plan_of(spark, "q_sample_topk_hash")
    assert "WindowGroupLimit" in plan
    assert plan.count("+- Exchange") == 1


def test_markov_transitions_single_fact_shuffle(spark):
    """Transition matrix: the fact table shuffles once (user window);
    the pair aggregate and share window act on a ≤|types|² relation."""
    plan = plan_of(spark, "q_markov_transitions")
    assert "CartesianProduct" not in plan
    assert plan.count("Window (") >= 1
    assert "partial_count" in plan


def test_tpch_q4_exists_is_semi_join(spark):
    """Q4's correlated EXISTS must plan as ONE semi join (equi key +
    residual lateness predicate) — not a join-then-distinct, which would
    duplicate fact rows before collapsing them."""
    plan = plan_of(spark, "q_tpch_q4")
    assert "LeftSemi" in plan
    assert "HashAggregate" in plan


def test_tpch_q21_exists_pair_as_counters(spark):
    """Q21's EXISTS/NOT-EXISTS pair is one per-order aggregate: the fact
    table must appear in exactly one scan (no self-joins), and the late-
    supplier counters ride the (order, supplier)-grain pre-aggregate —
    NO count-distinct Expand tripling the join output (r12: the
    two-level aggregate replaced the multi-count_distinct plan)."""
    plan = plan_of(spark, "q_tpch_q21")
    assert plan.count("lineitem.parquet") == 1
    assert "Expand" not in plan  # pair grain instead of count_distinct


def test_tpch_q16_excludes_via_broadcast_anti(spark):
    """Q16's NOT IN supplier exclusion must be a broadcast ANTI join and
    the part slice a broadcast; r13 dropped the redundant fact-sized
    DISTINCT-pair exchange (COUNT DISTINCT dedups map-side), so the fact
    flows straight from the scan through the broadcast joins into the
    distinct aggregate — no exchange before the part filter has pruned."""
    plan = plan_of(spark, "q_tpch_q16")
    assert "LeftAnti" in plan and "BroadcastHashJoin" in plan
    assert plan.count("lineitem.parquet") == 1
    # exactly three exchanges survive: (group, supp) dedup grain, group
    # grain, and the final ORDER BY range exchange — the old
    # pre-distinct added a fourth, fact-sized one before the part filter
    assert plan.count(") Exchange") == 3


def test_tpch_q22_anti_join_no_fact_shuffle(spark):
    """Q22: the NOT EXISTS is a broadcast ANTI join against the distinct
    recent-orderer keys; customer rows never shuffle for it."""
    plan = plan_of(spark, "q_tpch_q22")
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin LeftAnti" in plan


def test_tpch_q17_decorrelated_avg_broadcasts_back(spark):
    """Q17: the per-part AVG side must come back as a broadcast (equi
    join on partkey), so the sliced fact is scanned twice, shuffled never."""
    plan = plan_of(spark, "q_tpch_q17")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_tpch_q2_min_window_after_agg(spark):
    """Q2: the min-per-part window must run over the (part,supplier)
    aggregate, i.e. the plan has a hash aggregate BELOW the window."""
    plan = plan_of(spark, "q_tpch_q2")
    assert "Window" in plan
    i_agg = plan.index("HashAggregate")
    i_win = plan.index("Window")
    assert i_win < i_agg  # formatted plan prints top-down: window above agg


def test_runtime_bloom_filter_prunes_fact_side(spark):
    """Runtime row-level filtering: with a selective dimension side and a
    non-broadcast join, Catalyst must inject a Bloom filter built from
    the dimension keys into the fact scan (`might_contain` on
    l_orderkey) — at 100 TB this is what keeps a sort-merge join from
    shuffling fact rows that can never match. Fixture sizes are below
    the default thresholds, so the test pins the *capability* with
    thresholds relaxed, then restores the session confs."""
    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "100GB",
        )
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
            "0",
        )
        from pyspark.sql import functions as F
        from streaming_data_ingestion_spark.tables import load

        o = load(spark, SF_DIR, "orders").filter(
            (F.col("o_orderpriority") == "1-URGENT")
            & (F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp"))
        )
        li = load(spark, SF_DIR, "lineitem")
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
        plan = j._jdf.queryExecution().explainString(mode)
        assert "might_contain" in plan  # fact-side membership probe
        assert "bloom_filter_agg" in plan  # dimension-side filter build
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_quality_gopher_no_shuffle_and_pruned(spark):
    """The Gopher rule battery is a pure scan-side projection: no Exchange,
    no Generate, and the parquet read prunes to (doc_id, text)."""
    plan = plan_of(spark, "q_quality_gopher")
    assert "Exchange" not in plan
    assert "Generate" not in plan
    assert "text" in plan and "n_chars" not in plan.split("ReadSchema")[1][:300]


def test_dup_substring_digest_shuffle_only(spark):
    """Duplicated-span detection: the shingle pass runs ONCE (one Arrow
    kernel, no explode at all since r12), the count comes from a window
    over the single gram-keyed Exchange (no join-back recompute), and
    nothing degenerates into a nested-loop."""
    plan = plan_of(spark, "q_dup_substring")
    assert plan.count("- MapInPandas") == 1  # tree form: one shingle pass
    assert "- Generate" not in plan  # shingles never explode JVM-side
    assert "Window" in plan
    assert "Join" not in plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_join_interval_is_binned_equi_join(spark):
    """The interval-overlap join must plan as an equi hash join on the
    grid cell with the overlap predicate as a residual — never a
    BroadcastNestedLoopJoin over the interval pairs."""
    plan = plan_of(spark, "q_join_interval")
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_histogram_equidepth_has_no_single_partition_stage(spark):
    """The equi-depth histogram must rank the fact table through the
    distributed range-exchange construction, NOT an unpartitioned window
    (which drags every row through one task): the executed plan contains
    no window operator and no single-partition exchange; the range
    exchange that does appear is the parallel distributed sort."""
    plan = plan_of(spark, "q_histogram_equidepth")
    assert "Window" not in plan
    assert "Exchange SinglePartition" not in plan
    assert "rangepartitioning" in plan


def _final_section(plan: str) -> str:
    return plan.split("== Initial Plan ==")[0]


def test_minhash_bands_single_signature_subtree(spark):
    """The 3 LSH band rows per doc must explode from ONE signature
    computation: a union-of-selects regression would triplicate the
    12-minhash subtree in every dedup consumer's plan."""
    # formatted explain prints each node twice (tree + details): one
    # physical scan = 2 occurrences
    plan = _final_section(plan_of(spark, "q_dedup_minhash"))
    assert plan.count("Scan parquet") <= 2, plan.count("Scan parquet")
    # the self-join pair build reads the (1-scan) band subtree twice
    plan = _final_section(plan_of(spark, "q_dedup_minhash_pairs"))
    assert plan.count("Scan parquet") <= 4


def test_funnel_is_single_scan_single_shuffle(spark):
    """q_funnel's window-chain formulation: one events scan, stage
    windows + per-user rollup sharing one user_id exchange — the
    per-stage filtered-aggregate chain scanned events 6 times."""
    plan = _final_section(plan_of(spark, "q_funnel"))
    assert plan.count("Scan parquet") <= 2
    assert plan.count("Exchange hashpartitioning") <= 2


def test_quality_classifier_zero_shuffle(spark):
    """The hashed-bigram linear quality gate is the cheapest possible
    model pass: a single parquet scan with row-local weight folds —
    no Exchange, no Generate, no Join anywhere in the plan."""
    plan = plan_of(spark, "q_quality_classifier")
    assert "Exchange" not in plan
    assert "Generate" not in plan
    assert "Join" not in plan


def test_bpe_pair_stats_vocab_sized_second_pass(spark):
    """BPE pair counting must collapse to the word vocabulary BEFORE
    exploding char pairs (the classic trainer optimization): exactly two
    hash exchanges — word counts (corpus-sized input, map-side combined)
    then pair counts (vocab-sized input) — a top-k TakeOrdered, and no
    join/nested-loop. (Formatted mode renders the partition spec in the
    node's Arguments detail, not inline.)"""
    plan = plan_of(spark, "q_bpe_pair_stats")
    assert plan.count("Arguments: hashpartitioning") == 2
    assert "TakeOrderedAndProject" in plan
    assert "Join" not in plan and "CartesianProduct" not in plan


def test_join_asof_nearest_single_sort_both_directions(spark):
    """The nearest as-of join feeds BOTH window frames (backward carry +
    forward carry) from ONE Window node over ONE sort — a second Window
    or Sort would mean the two directions re-shuffled separately. Two
    exchanges total: the purchase (user_id, ts) dedup aggregate and the
    user_id window partitioning."""
    plan = plan_of(spark, "q_join_asof_nearest")
    assert plan.count("Arguments: hashpartitioning") <= 2
    assert plan.count("- Sort") == 1
    assert plan.count("- Window") == 1


def test_late_events_no_unpartitioned_window(spark):
    """The watermark audit's running max over batches must never fall
    into a single-partition window: every Window node carries a
    partition spec (the repo-wide ban), and the per-batch carry joins
    back via broadcast, not shuffle."""
    plan = plan_of(spark, "q_late_events")
    for seg in plan.split("Arguments: ")[1:]:
        if not seg.lstrip().startswith("[windowdefinition"):
            continue
        # windowdefinition(partcols..., sortcols...): an unpartitioned
        # window renders as windowdefinition(sortorder... with no
        # leading partition column list
        assert "windowdefinition(_pid" in seg or "windowdefinition(" not in seg
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


# queries whose CONTRACT is a Python execution surface (the UDF family
# itself, the Arrow mapInPandas multimodal decode, and the BPE
# tokenizer-apply pass — a greedy merge loop with the kilobyte merge
# table in the task closure, the same execution shape HF/SentencePiece
# tokenizer passes have; zero-shuffle Arrow scan, not a hot join/agg)
_PYTHON_OK = {
    "q_udf_python",
    "q_udf_pandas",
    "q_udf_grouped",
    "q_udtf",
    "q_multimodal_features",
    "q_bpe_encode",
    # real container codecs (numpy BMP/PPM/WAV parse) — byte munging is
    # the operator's contract; Arrow mapInPandas, zero-shuffle decode
    # stage, only tiny stat rows leave the pass
    "q_media_wav_decode",
    "q_media_image_decode",
    # numpy PQ-encode fallback — the Arrow surface IS the contract
    # (bit-parity replay of the HOF fold order; same oracle as
    # q_pq_encode), kept certified so the swap at the next decade step
    # is a flag flip, not a rewrite
    "q_pq_encode_np",
    # r12: the ADC query path encodes its corpus codes through the same
    # certified numpy kernel (bit-parity pinned); the scoring itself
    # stays JVM-side (broadcast LUT element_at sums)
    "q_sim_pq_adc",
    # r12: the shingle projection is the shared Arrow kernel
    # _shingle_grams_np — tokenize stays JVM, the kernel only re-joins
    # byte slices (gram strings identical to the HOF form by
    # construction, asserted row-for-row at sf0.1 before the swap); the
    # HOF transform was CodegenFallback and dominated both keys
    "q_dup_substring",
    "q_gram_novelty",
}


def test_no_python_in_any_hot_path(spark):
    """Global guard: outside the declared UDF-surface family, NO
    registered query's plan may evaluate Python (BatchEvalPython /
    ArrowEvalPython / FlatMapGroupsInPandas / MapInPandas / PythonUDTF).
    Every analytical operator stays JVM-side in whole-stage codegen —
    the single biggest 100 TB throughput invariant this repo claims,
    now checked mechanically instead of by review."""
    markers = (
        "BatchEvalPython",
        "ArrowEvalPython",
        "FlatMapGroupsInPandas",
        "MapInPandas",
        "PythonUDTF",
    )
    bad = {}
    for name in sorted(all_queries()):
        if name in _SWEEP_SKIP or name in _PYTHON_OK:
            continue
        try:
            plan = plan_of(spark, name)
        except Exception as e:
            bad[name] = f"plan build failed: {e}"
            continue
        hits = [m for m in markers if m in plan]
        if hits:
            bad[name] = hits
    assert not bad, bad


def test_broadcast_threshold_governs_join_strategy(spark):
    """The engine leans on size-based strategy selection (SCALE.md
    documents removing broadcast hints at real scale): the SAME
    unhinted join must broadcast when the dimension fits under
    autoBroadcastJoinThreshold and fall back to a shuffle join when
    the threshold is 0 — proving strategy is config/size-driven, not
    baked into the operators."""
    from streaming_data_ingestion_spark.tables import load

    def planned():
        # rebuild per call: a DataFrame memoizes its QueryExecution, so
        # strategy must be re-derived after each threshold change
        nation = load(spark, SF_DIR, "nation")
        customer = load(spark, SF_DIR, "customer")
        j = customer.join(nation, customer.c_nationkey == nation.n_nationkey)
        return j._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )

    before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        assert "BroadcastHashJoin" in planned()
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        p = planned()
        assert "BroadcastHashJoin" not in p
        assert "SortMergeJoin" in p or "ShuffledHashJoin" in p
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", before)


def test_roc_auc_single_data_pass(spark):
    """q_roc_auc: the documents table is scanned for ONE map-side-combined
    grid aggregate; every join below the output is broadcast (the
    inequality pair join and the 1-row totals are both grid-bounded).
    No data-sized shuffle may appear beyond the single bin exchange."""
    plan = plan_of(spark, "q_roc_auc")
    assert "partial_sum" in plan or "partial_count" in plan
    # only the bin-grid exchanges (grid agg + two tiny re-aggs), never a
    # doc-keyed or score-keyed data shuffle
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln:
            assert "bin" in ln, ln
    assert "SortMergeJoin" not in plan


def test_gini_token_no_unpartitioned_window(spark):
    """q_gini_token ranks the vocabulary via the range-exchange ranking
    construction — the plan must contain a range repartition and NO
    window operator at all (the closed form needs only the rank column
    with_global_rank synthesizes arithmetically)."""
    plan = plan_of(spark, "q_gini_token")
    assert "rangepartitioning" in plan or "RangePartitioning" in plan
    assert "Window" not in plan


def test_fanout_heavy_scans_are_spread(spark):
    """Operators whose hot stage is per-row compute ABOVE the scan
    (replica fan-out, per-doc gram hashing) must spread the single-file
    fixture scan across cores — q_bootstrap_ci ran its entire 64x
    fan-out in ONE task before round 5's fix (16.6 s -> 1.8 s at
    sf0.1). The spread shows as a round-robin exchange below the
    fan-out (since r12, a deterministic xxhash64 hash repartition — the
    keyless round-robin form paid a single-task sort-before-repartition
    of the whole input first)."""
    for key in ("q_bootstrap_ci", "q_winnow", "q_sim_pair_hist"):
        plan = plan_of(spark, key)
        assert (
            "roundrobin" in plan.lower()
            or "hashpartitioning(xxhash64(" in plan
        ), (
            f"{key}: no widening spread below the fan-out — the hot "
            "per-row stage would run in one task on single-file input"
        )


def test_no_session_conf_overwrite_mode_in_streaming_modules():
    """Inside foreachBatch the batch DataFrame executes on a CLONED
    SparkSession whose conf is frozen at query start — a
    ``spark.conf.set("spark.sql.sources.partitionOverwriteMode", ...)``
    there mutates the OUTER session and leaves the actual write in
    STATIC mode, truncating the whole table every epoch
    (streaming/growth.py, round-5 incident: the first-seen index was
    wiped to _SUCCESS-only by any zero-new-user batch). House pattern is
    the per-write ``.option("partitionOverwriteMode", "dynamic")``
    (streaming/sink.overwrite_partitions) — ban the session-conf
    form from the streaming package outright."""
    import pathlib

    import streaming_data_ingestion_spark.streaming as pkg

    pkg_dir = pathlib.Path(pkg.__file__).parent
    offenders = []
    for src in sorted(pkg_dir.glob("*.py")):
        text = src.read_text()
        if (
            "conf.set(" in text
            and "partitionOverwriteMode" in text
            and any(
                "partitionOverwriteMode" in ln and "conf.set" in ln
                for ln in text.splitlines()
            )
        ):
            offenders.append(src.name)
    assert offenders == [], (
        f"session-conf partitionOverwriteMode in streaming modules "
        f"{offenders}: use the per-write .option(...) form instead"
    )


def test_epoch_protocol_stays_inside_sink():
    """streaming/sink.py is the one home of the epoch protocol: no other
    package module imports one of its private (``_``-prefixed) names, and
    none drops a commit marker itself — an append-only writer commits
    through ``sink.commit_epoch``, which writes the marker after the
    epoch's last write."""
    import ast
    import pathlib

    import streaming_data_ingestion_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    sink = root / "streaming" / "sink.py"
    private_imports, markers = [], []
    for src in sorted(root.rglob("*.py")):
        if src == sink:
            continue
        for node in ast.walk(ast.parse(src.read_text())):
            if isinstance(node, ast.ImportFrom) and (
                node.module or ""
            ).endswith("streaming.sink"):
                private_imports += [
                    f"{src.name}:{a.name}"
                    for a in node.names
                    if a.name.startswith("_")
                ]
            if isinstance(node, ast.Call):
                f = node.func
                called = f.attr if isinstance(f, ast.Attribute) else getattr(
                    f, "id", None
                )
                if called == "mark_epoch_committed":
                    markers.append(f"{src.name}:{node.lineno}")
    assert private_imports == [], private_imports
    assert markers == [], markers


def test_assoc_rules_apriori_prune_is_exact_and_in_plan(spark):
    """q_assoc_rules must filter infrequent items BEFORE the quadratic
    pair self-join (the apriori prune that bounds Σ basket² against hot
    baskets at scale) — and the prune must be exactly result-preserving:
    a pair co-occurring in ≥ minsup baskets needs both items in ≥ minsup
    baskets, so the unpruned plan yields the identical rule set."""
    from pyspark.sql import functions as F

    from streaming_data_ingestion_spark.queries.basket import (
        _MIN_PAIR,
        q_assoc_rules,
    )
    from streaming_data_ingestion_spark.tables import load

    got = q_assoc_rules(spark, SF_DIR)
    # the executed plan carries the pre-join support filter
    assert f">= {_MIN_PAIR}" in plan_of(spark, "q_assoc_rules")

    # unpruned twin, same shape minus the item filter
    li = load(spark, SF_DIR, "lineitem")
    b = li.select(
        F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("p")
    ).distinct()
    n = b.agg(F.countDistinct("k").cast("long").alias("n_orders"))
    item = b.groupBy("p").agg(F.count(F.lit(1)).cast("long").alias("n_i"))
    a, c = b.alias("a"), b.alias("c")
    pair = (
        a.join(c, (F.col("a.k") == F.col("c.k")) & (F.col("a.p") < F.col("c.p")))
        .groupBy(F.col("a.p").alias("part_a"), F.col("c.p").alias("part_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
        .where(F.col("n_ab") >= _MIN_PAIR)
    )
    ia = item.select(F.col("p").alias("part_a"), F.col("n_i").alias("n_a"))
    ib = item.select(F.col("p").alias("part_b"), F.col("n_i").alias("n_b"))
    want = (
        pair.join(ia, "part_a")
        .join(ib, "part_b")
        .crossJoin(F.broadcast(n))
        .select(
            "part_a", "part_b", "n_ab", "n_a", "n_b",
            (F.col("n_ab").cast("double") / F.col("n_orders").cast("double")).alias("support"),
            (F.col("n_ab").cast("double") / F.col("n_a").cast("double")).alias("confidence"),
            ((F.col("n_ab").cast("double") * F.col("n_orders").cast("double"))
             / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))).alias("lift"),
        )
        .orderBy(F.desc("lift"), F.asc("part_a"), F.asc("part_b"))
        .limit(100)
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
