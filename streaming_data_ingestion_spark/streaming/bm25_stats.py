"""Streaming retrieval-stats maintenance: the BM25 corpus statistics
(N, Σdl, per-term document frequency) incrementally merged over a
document stream.

q_bm25/q_bm25_search recompute (N, Σdl, df) with a corpus pass per
query. A GROWING 100 TB corpus cannot re-aggregate history per search —
but every BM25 statistic is mergeable by ADDITION (doc counts, token
totals, and document frequencies are plain sums), so the streaming form
stores ONE stats table and each micro-batch:

1. computes ITS OWN partial (batch-sized work, map-side combined):
   per-term distinct-doc counts plus a two-row meta partition
   (n_docs, sum_dl) — :func:`bm25_stats_partial`, the same tokenizer as
   the batch scorer so counts are bit-compatible;
2. merges it into the stored table by summing, through the same
   idempotent merge as the incremental MVs (streaming/sink.py):
   per-partition epoch markers namespaced by the checkpoint's query id
   make at-least-once redelivery a no-op.

Maintained invariant (pinned by tests/test_streaming.py and — through
queries/serving.py's q_bm25_serving — by the driver's hash check):
after any sequence of micro-batches, with replays injected anywhere,
the stored stats EQUAL the one-shot batch aggregation over the
cumulative prefix exactly, so a BM25 score computed FROM THE STORE is
bit-identical to one computed from a fresh corpus pass.

This is the q_hist_serving/q_cms_serving mergeable-artifact discipline
applied to retrieval — the third leg of the maintain→store→serve story
(distribution sketch, frequency sketch, now ranking statistics).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from streaming_data_ingestion_spark.queries.llm_text import _tokens
from streaming_data_ingestion_spark.streaming.sink import merge_additive, start

# Stored schema: (kind, term, n). kind='df' rows carry per-term document
# frequencies; kind='meta' rows carry term∈{'n_docs','sum_dl'}. The kind
# column disambiguates a real corpus token that happens to spell
# 'n_docs' from the meta row, and doubles as the (2-directory) partition
# column for the per-partition epoch markers.


def bm25_stats_partial(batch_df: DataFrame) -> DataFrame:
    """This batch's additive contribution to the stored stats table."""
    base = batch_df.select(_tokens().alias("t"))
    df_rows = (
        base.select(F.explode(F.array_distinct("t")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select(F.lit("df").alias("kind"), "term", "n")
    )
    meta = base.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.coalesce(F.sum(F.size("t")), F.lit(0)).cast("long").alias(
            "sum_dl"
        ),
    ).selectExpr(
        "stack(2, 'n_docs', n_docs, 'sum_dl', sum_dl) AS (term, n)"
    ).select(F.lit("meta").alias("kind"), "term", "n")
    return df_rows.unionByName(meta)


def merge_bm25_stats(table_path: str, run_ns: str | None = None):
    """foreachBatch writer: sum this batch's stats partial into the
    stored table, partitioned by ``kind``. Idempotent under epoch replay
    via the shared per-partition marker protocol."""

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        merge_additive(
            bm25_stats_partial(batch_df),
            table_path,
            key_cols=["kind", "term"],
            sum_cols=["n"],
            part_cols=["kind"],
            epoch_id=epoch_id,
            run_ns=run_ns,
        )

    return write_batch


def maintain_bm25_stats(
    docs_stream: DataFrame,
    table_path: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Continuously maintain the BM25 corpus statistics from a documents
    stream. Read the table as plain parquet at ``table_path``; serve
    scores with queries/serving.py's stored-stats scorer."""
    return start(docs_stream, merge_bm25_stats(table_path), checkpoint_dir)
