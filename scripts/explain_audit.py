#!/usr/bin/env python
"""Generate docs/PLANS.md: formatted physical plans for the flagship
queries with the scale-relevant reading of each.

Run after changing any operator: the committed document is the reviewable
record that plans still have the shape the engine is designed around
(tests/test_plans.py asserts the same properties mechanically).

Usage: python scripts/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from streaming_data_ingestion_spark.registry import all_queries
from streaming_data_ingestion_spark.session import get_spark

AUDITED = (
    (
        "q_agg_group",
        "TPC-H Q1 shape. Read: pushed l_shipdate filter + 7-column pruned "
        "scan; partial_sum before the single Exchange — the shuffle carries "
        "one row per (group × partition), never the fact table.",
    ),
    (
        "q_join_multi",
        "5-table star join. Read: every dimension side is a "
        "BroadcastExchange; the lineitem scan feeds four BroadcastHashJoins "
        "with zero fact-table shuffles before the final aggregate.",
    ),
    (
        "q_join_asof",
        "As-of join. Read: both sides union into ONE Exchange on user_id + "
        "one Sort + Window (carry-forward) — no nested-loop, no range "
        "explosion; cost is a sort per user partition.",
    ),
    (
        "q_dedup_minhash",
        "MinHash LSH signatures. Read: Generate (explode) and all hashing "
        "happen before partial_min; the Exchange moves 12 longs per "
        "document per partition, not the shingle stream.",
    ),
    (
        "q_sim_ivf",
        "IVF ANN probe. Read: centroid assignment and probe list are both "
        "BroadcastExchanges; candidate generation is a broadcast hash join "
        "on the cell id — the corpus never shuffles.",
    ),
    (
        "q_sort_limit",
        "Global top-k. Read: TakeOrderedAndProject — per-partition heaps "
        "merged on the driver, never a full global sort.",
    ),
    (
        "q_doc_chunk",
        "Overlapping token chunking. Read: one column-pruned scan, "
        "higher-order chunk build, Generate (posexplode) — zero Exchange; "
        "output rows stream straight from each input split.",
    ),
    (
        "q_pii_redact",
        "PII redaction. Read: narrow per-row regex projection over a "
        "3-column pruned scan; no shuffle anywhere.",
    ),
    (
        "q_corpus_filter",
        "Composite quality gate. Read: all four heuristic rules fold into "
        "one narrow codegen'd projection over a 2-column pruned scan; "
        "filtering is scan-bound with zero Exchange.",
    ),
    (
        "q_ngrams",
        "Bigram statistics. Read: n-gram arrays are built row-side "
        "(zip-of-slices, no shuffle), then Generate → partial_count → one "
        "Exchange → TakeOrderedAndProject for the top-k — never a global "
        "sort.",
    ),
    (
        "q_inverted_index",
        "Inverted index. Read: per-document array_distinct happens "
        "row-side, so the exploded stream carries each (doc, term) once; "
        "ObjectHashAggregate partial-aggregates the posting lists before "
        "the single Exchange.",
    ),
    (
        "q_dedup_clusters",
        "Connected components (final stanza only — the min-label rounds "
        "run eagerly before this plan). Read: the corpus left-joins the "
        "converged label set; AQE chooses broadcast when the LSH collision "
        "set is small.",
    ),
    (
        "q_repetition",
        "Repetition gates. Read: a single codegen'd projection — the "
        "run-length fold over sort_array(bigrams) computes the max bigram "
        "count per row, so there is no Generate, no Exchange, nothing but "
        "the scan.",
    ),
    (
        "q_text_tfidf",
        "TF-IDF top-5. Read: tf shuffles once on (doc_id, term); doc_freq "
        "is its own array_distinct pass whose vocabulary-sized result "
        "broadcasts into the score join; WindowGroupLimit prunes to 5 rows "
        "per doc map-side before the final window Exchange.",
    ),
    (
        "q_decontaminate",
        "8-gram decontamination. Read: per-doc gram sets dedupe row-side "
        "(array_distinct before Generate); the test-gram set reduces "
        "through one Exchange and joins the train grams as a hash join on "
        "the digest; the flag rejoins docs via broadcast left-outer.",
    ),
    (
        "q_corpus_pipeline",
        "Composed corpus-prep flow. Read: gate + split + chunk accounting "
        "are all narrow, so the whole pipeline is two Exchanges — the "
        "digest keeper window (WindowGroupLimit prunes rn=1 map-side) and "
        "the final (split, source) rollup.",
    ),
    (
        "q_sessionize",
        "Gap sessionization. Read: ONE Exchange feeds a shared Sort, both "
        "Windows (lag flag, running sum), and the per-session rollup — the "
        "groupBy key is a superset of the window partitioning, so no "
        "second shuffle.",
    ),
    (
        "q_emb_outlier",
        "Embedding outlier scoring. Read: every join is broadcast — the "
        "docs dimension into the embeddings scan, the |sources|-row "
        "centroid table back over the corpus; the two plain Exchanges "
        "belong to the centroid aggregation, so the corpus is never "
        "repartitioned.",
    ),
    (
        "q_emb_centroid",
        "Embedding centroids. Read: scan prunes to (label, embedding) "
        "before posexplode; partial HashAggregate collapses each task to "
        "|labels|×64 rows, so the single Exchange is centroid-sized at "
        "any corpus size.",
    ),
    (
        "q_tpch_q1",
        "TPC-H Q1 exact spec. Read: shipdate cutoff pushed to the scan; "
        "Catalyst dedupes the avg numerators into the sum partials (6 "
        "aggregate functions for 8 outputs); one hash Exchange carries "
        "per-group partials, the trailing range Exchange sorts ~6 rows.",
    ),
    (
        "q_tpch_q5",
        "TPC-H Q5 6-table star. Read: region→nation→supplier reduce on "
        "the broadcast path BEFORE the fact join (supplier set shrinks "
        "~5×); lineitem⋈orders is the single big-big shuffle; customer "
        "broadcasts with the same-nation equality in its join key.",
    ),
    (
        "q_tpch_q19",
        "Disjunctive-predicate join. Read: the OR-of-conjunctions spans "
        "both sides, but the extractable brand/size conjuncts still reach "
        "the part scan's PushedFilters; the join stays a broadcast hash "
        "join with the residual disjunction as its filter.",
    ),
    (
        "q_dedup_ngram_jaccard",
        "Exact Jaccard verify. Read: candidates come from the LSH band "
        "equi-join (collision-sized, never n²); token sets arrive via two "
        "doc_id hash joins; no non-equi join appears anywhere.",
    ),
    (
        "q_seq_pack",
        "Sequence packing. Read: one Exchange on source feeds a single "
        "Sort + Window prefix-sum; pack assignment is pure projection "
        "arithmetic on the running total — no bin-packing iteration.",
    ),
    (
        "q_emb_quantize",
        "Int8 quantization. Read: per-vector scale and the quantized "
        "array are row-side higher-order folds over a 2-column pruned "
        "scan — zero Exchange, runs at scan speed.",
    ),
    (
        "q_skew_profile",
        "Key-skew census. Read: one partial+final count aggregate over "
        "the fact table; the 1-row total returns as a "
        "BroadcastNestedLoopJoin; TakeOrderedAndProject keeps 10 rows.",
    ),
    (
        "q_tpch_q21",
        "Waiting-supplier counters. Read: the EXISTS/NOT-EXISTS pair is "
        "ONE per-order aggregate — the fact table appears in exactly one "
        "scan; Expand feeds the two count_distincts; supplier/nation "
        "broadcast; TakeOrderedAndProject keeps 100 rows.",
    ),
    (
        "q_tpch_q2",
        "Min-cost supplier. Read: part slice and the region-scoped "
        "supplier dimension broadcast into the fact scan; the hash "
        "aggregate is (part, supplier)-keyed, and the min-per-part "
        "Window runs ABOVE it — on the aggregated relation, never on "
        "fact rows.",
    ),
    (
        "q_time_rollup",
        "Multi-grain rollup. Read: Expand duplicates each event once per "
        "grain (2×), then ONE partial+final HashAggregate covers hour "
        "and day buckets together — half the scans of grain-per-query.",
    ),
    (
        "q_sim_pq_adc",
        "PQ asymmetric-distance top-k. Read: codes are encoded inline "
        "here (the oracle-checkable form), so the scan still reads "
        "embeddings — the stored-codes path where ADC reads ~3% of the "
        "vector bytes is ml/ivfpq.py's index. The 3-row query side is a "
        "BroadcastNestedLoopJoin fan-out; Window top-5 per query; no "
        "corpus shuffle.",
    ),
    (
        "q_media_wav_decode",
        "Real container decode (numpy RIFF/PCM parse). Read: ONE "
        "MapInPandas over a doc_id-only pruned scan — synthesis, "
        "encode, and decode all live executor-side inside the Arrow "
        "pass; only the 9-column per-doc stat rows reach the join and "
        "the grouped aggregate, so the shuffle is O(docs), never "
        "O(media bytes).",
    ),
    (
        "q_dup_substring",
        "Duplicated-span fraction. Read: 5-gram shingling, md5 hashing and "
        "array_distinct are all row-side before the ONE Generate; the "
        "digest stream shuffles once into a gram-partitioned count Window "
        "(no join-back — the agg+join form would recompute the whole "
        "shingle pass for the stream's second consumer), then the per-doc "
        "rollup partial-aggregates before its doc_id Exchange.",
    ),
    (
        "q_quality_gopher",
        "Gopher rule battery. Read: all five rules and the verdict are "
        "one narrow codegen'd projection over a 2-column pruned scan — "
        "zero Exchange; a 100 TB pass is scan-bound.",
    ),
    (
        "q_semdedup",
        "Semantic dedup decisions. Read: unit-normalization is a row-side "
        "fold BEFORE the label equi-join, so the quadratic path is one "
        "dot product per candidate; the max-per-vector aggregate "
        "partial-combines map-side and the corpus rejoin is a "
        "broadcast-sized id→max table.",
    ),
    (
        "q_lm_score",
        "Unigram-LM scoring. Read: the vocabulary count table reduces "
        "through one partial+final aggregate, rides back as a "
        "BroadcastExchange onto the token stream (the 1-row total is the "
        "only BroadcastNestedLoopJoin), and each document folds to one "
        "decimal-summed mean — no token-stream shuffle anywhere.",
    ),
    (
        "q_changepoint",
        "CUSUM changepoint. Read: ONE fact-table aggregate reduces to the "
        "daily relation; the deviation, running-sum and argmax windows "
        "all share the event_type partitioning, so the plan re-sorts "
        "within partitions but never re-shuffles the fact table.",
    ),
    (
        "q_dataset_card",
        "Per-source report card. Read: ONE source-keyed Exchange; the "
        "Expand feeds distinct-digest and distinct-lang partials "
        "map-side; every card statistic comes out of the same aggregate.",
    ),
    (
        "q_histogram_equidepth",
        "Distributed exact NTILE. Read: Exchange rangepartitioning (the "
        "PARALLEL distributed sort) + broadcast of the partition-offset "
        "table; NO Window operator and NO Exchange SinglePartition — the "
        "unpartitioned-window formulation this replaced dragged the whole "
        "fact table through one task.",
    ),
    (
        "q_tpcds_rollup_rank",
        "TPC-DS q67 shape. Read: Expand (4 grouping sets) feeds ONE "
        "partial+final hash aggregate of the fact join; the rank Window "
        "runs after the aggregate on the group-sized relation, "
        "partitioned by grouping level.",
    ),
    (
        "q_tpcds_cumulative_lead",
        "TPC-DS q51 shape. Read: two week-grain aggregates, running "
        "DECIMAL sums in priority-partitioned Windows (parallel — no "
        "global sort), one SortMergeJoin FullOuter on (priority, wk).",
    ),
    (
        "q_emb_covariance",
        "Gram-matrix moments. Read: posexplode then ONE vec_id-keyed "
        "sort-merge self join; the pair products partial-aggregate "
        "map-side so the shuffle after the join carries 2080 groups, and "
        "the mean join-backs are BroadcastExchanges.",
    ),
    (
        "q_bpe_pair_stats",
        "BPE merge-step pair counts. Read: the FIRST exchange collapses "
        "the corpus to (word, freq) — the only corpus-sized pass; the "
        "pair Generate sits ABOVE that aggregate, so the second exchange "
        "carries pair rows of the distinct-word vocabulary only.",
    ),
    (
        "q_quality_classifier",
        "Hashed-bigram linear quality gate. Read: a single parquet scan "
        "and one Project — no Exchange, no Generate, no Join; the whole "
        "model pass (bigram build, md5 weight lookup, integer fold) is "
        "inside one WholeStageCodegen span.",
    ),
    (
        "q_join_asof_nearest",
        "Nearest as-of join. Read: ONE user_id Exchange + ONE Sort feed "
        "a single Window node computing all four carries (backward "
        "last/forward first × id/ts); the nearest pick is the Project "
        "above it. The purchase-dedup aggregate is the only other "
        "exchange.",
    ),
    (
        "q_late_events",
        "Watermark late-data audit. Read: batch aggregate exchange, "
        "range exchange for batch order, PARTITIONED prefix window, and "
        "the partition-carry + per-batch watermark come back as "
        "BroadcastExchanges — no unpartitioned window, no batch-keyed "
        "shuffle of the event stream beyond the batch aggregate.",
    ),
    (
        "q_minhash_containment",
        "Asymmetric containment verify. Read: candidates come from the "
        "persisted LSH band equi-join (collision-sized); the only new "
        "work is two doc_id BroadcastHashJoins and row-local set "
        "arithmetic — no new shuffle of the corpus.",
    ),
    (
        "q_survival_km",
        "Kaplan-Meier with right-censoring. Read: ONE user-keyed "
        "aggregate is the only fact-sized exchange; everything above it "
        "(at-risk sets, hazard factors, the exp-sum-ln cumulative "
        "product) runs as BroadcastNestedLoopJoins over the "
        "calendar-bounded (duration, observed) count relation.",
    ),
    (
        "q_kmeans_assign",
        "Lloyd assignment step. Read: posexplode feeds a BroadcastHashJoin "
        "on the dimension index against the 8x64 centroid side; the "
        "(vec, cid) distance aggregate partial-combines map-side; the "
        "argmin Window is PARTITIONED by vec_id.",
    ),
    (
        "q_bootstrap_ci",
        "Poisson bootstrap. Read: the 64x replica Generate sits INSIDE "
        "the map stage — the exchange above it carries 64 partial rows "
        "per partition, not the fanned-out stream; the percentile cut "
        "is a BroadcastNestedLoopJoin over the 64-row replica relation.",
    ),
    (
        "q_assoc_rules",
        "Market-basket rules. Read: the pair expansion is a "
        "SortMergeJoin/ShuffledHashJoin EQUI join on the basket key "
        "(never a cartesian); item supports come back as "
        "BroadcastHashJoins; the basket total is a 1-row "
        "BroadcastNestedLoopJoin.",
    ),
    (
        "q_backlog_curve",
        "Sweep-line interval stabbing. Read: per-order close aggregate + "
        "one order-keyed join build the spans; the +-1 deltas net in a "
        "day-keyed aggregate and the running sum is a "
        "BroadcastNestedLoopJoin over the calendar-bounded delta "
        "relation — no day x order join anywhere.",
    ),
    (
        "q_winnow",
        "MOSS winnowing. Read: grams, hashes, and window minima are all "
        "higher-order array expressions inside the scan's projection "
        "(zero shuffle); the ONLY exchange is the map-side-combined "
        "count over the winnowed fingerprint vocabulary.",
    ),
    (
        "q_trimmed_mean",
        "Per-group exact ranks WITHOUT a per-group window. Read: one "
        "rangepartitioning exchange on the composite (type, value, id) "
        "key — never a |groups|-partition window that would single-task "
        "each group; per-type offsets ride a tiny broadcast back.",
    ),
    (
        "q_assoc_rules",
        "Apriori-pruned market basket. Read: the frequent-item filter "
        "(n_i >= 2) sits BELOW the pair self-join, bounding the "
        "quadratic stage against hot baskets; the basket relation is an "
        "InMemoryTableScan (artifacts.cached) feeding all six consumers "
        "from one distinct pass.",
    ),
    (
        "q_hist_serving",
        "Stored mergeable-sketch serving. Read: the scan is the <=258-row "
        "histogram TABLE, not the fact — the fact-sized work happened "
        "incrementally in the streaming merge; everything here is "
        "grid-bounded.",
    ),
    (
        "q_conversion_pairs",
        "Stream-stream join's batch twin. Read: user_id equi hash join "
        "with the attribution time-range as a residual filter condition "
        "on the SAME join node — never a BroadcastNestedLoopJoin over "
        "the time predicate.",
    ),
    (
        "q_centroid_classifier",
        "Broadcast-model scoring. Read: the centroid relation "
        "(|labels| x 64) builds map-side from the same exploded scan and "
        "broadcasts back; per-vector distances partial-aggregate before "
        "the single (vec, class) exchange; the argmin window is "
        "partitioned by vec_id, never global.",
    ),
    (
        "q_token_budget_pick",
        "Multi-level distributed prefix sum. Read: two 16-row spine "
        "builds (BroadcastNestedLoop over the bounded triangle is fine "
        "at 16 rows) take/drop whole hex-prefix cells; the ONLY per-row "
        "Window is partitioned by the 2-digit prefix and its input is "
        "the single straddling sub-cell, <= 16^-2 of the corpus.",
    ),
    (
        "q_emb_neardup",
        "Within-cell quadratic stage. Read: the vector norm is a Project "
        "below the self-join (one 64-wide fold per ROW); the join itself "
        "is a hash join on the label cell, so each pair pays one dot "
        "product — never a re-derived norm, never a cartesian.",
    ),
    (
        "q_emb_neardup_lsh",
        "Banded-LSH near-dup — the bounded-candidate twin of "
        "q_emb_neardup. Read: the signature stage (Generate/posexplode "
        "of 4 bucket longs per vector; planes are plan-time literals — "
        "no join, no Python) lands in an InMemoryRelation that BOTH "
        "sides of the candidate self-join read, so each vector pays its "
        "40 sign folds once, not once per side; the candidate stage is "
        "a hash self-join on (band, bucket) carrying ONLY id pairs; "
        "HashAggregate dedups pairs BEFORE the two vec_id hash joins "
        "re-fetch embeddings for the verify cosine, so the 64-float "
        "arrays never ride the quadratic-side shuffle.",
    ),
    (
        "q_emb_neardup_lsh_auto",
        "Scale-adaptive binding of the banded-LSH near-dup: identical "
        "plan SHAPE to q_emb_neardup_lsh — the width policy changes "
        "only the number of plane folds per row (8 bits at this "
        "fixture's n=500 vs the fixed binding's 10). Read: the derived "
        "width appears as fewer transform lambdas in the signature "
        "Project; everything downstream (persisted signature relation, "
        "(band,bucket) hash self-join on id pairs, dedup-then-refetch "
        "verify) is the same audited plan. The corpus count that picks "
        "the width is a separate 1-scalar job BEFORE this plan exists — "
        "invisible here by design (a production run reads it from the "
        "stats catalog).",
    ),
    (
        "q_bucketed_join",
        "Co-bucketed big-big join through stored bucketed tables. Read: "
        "at fixture scale AQE may still broadcast the small side, but "
        "with broadcast disabled the plan is a SortMergeJoin with ZERO "
        "hashpartitioning exchanges below the 5-group aggregate "
        "(asserted on these fixtures in tests/test_layout.py) — the "
        "write-time bucket shuffle is the only one ever paid.",
    ),
    (
        "q_sim_ivfpq_probe_param",
        "Arbitrary-vector stored-index probe — TWO scans since r8. The "
        "ADC stage (runs eagerly; plan pinned in tests/test_ivfpq.py) "
        "reads codes-only behind the probed-cell PartitionFilter and "
        "cuts to <= rerank via TakeOrderedAndProject; the plan shown "
        "HERE is the re-rank fetch: PartitionFilters on cell plus the "
        "survivor vec_id IN-list in PushedFilters (row-group skipping), "
        "so float bytes are read for <= rerank rows. Rank Window input "
        "is <= k rows.",
    ),
    (
        "q_bm25_serving",
        "Stored-stats retrieval. Read: the stats scan collapses the "
        "vocab-sized store to ONE row (partial_max before its exchange) "
        "that BroadcastExchanges onto the document scan; the corpus side "
        "is a single pass with row-side tf computation, top-k via "
        "TakeOrderedAndProject.",
    ),
    (
        "q_ann_gen_probe",
        "Generation-lifecycle serve — same two-scan shape as the ivfpq "
        "probes, routed through the _latest pointer and the committed-"
        "epoch bound. The ADC stage runs eagerly (bounded by the <=512-"
        "row sampled corpus; codes-only + PartitionFilters pinned in "
        "tests/test_streaming.py's stage guards); the plan shown HERE "
        "is the re-rank fetch with the survivor vec_id IN-list in "
        "PushedFilters, then a <=10-row rank Window.",
    ),
)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(app_name="explain-audit")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    specs = all_queries()

    out = [
        "# PLANS — physical-plan audit of the flagship queries",
        "",
        f"Generated by `scripts/explain_audit.py` at `{sf_dir}`. "
        "Each section: what to look for in the plan, then the plan itself "
        "(`.explain('formatted')`). `tests/test_plans.py` asserts these "
        "properties mechanically on every run.",
        "",
    ]
    for name, reading in AUDITED:
        df = specs[name].fn(spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(mode)
        # keep the tree + scan details; drop the long per-node tail
        tree = plan.split("\n\n\n")[0]
        out += [f"## {name}", "", reading, "", "```", tree.rstrip(), "```", ""]

    dest = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "docs",
        "PLANS.md",
    )
    os.makedirs(os.path.dirname(dest), exist_ok=True)
    with open(dest, "w") as f:
        f.write("\n".join(out))
    print(f"wrote {dest}")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
