"""Incremental EXACT dedup with a growing persistent digest index.

`dedup_stream.py` answers "is this a NEAR-dup of history?" against a
static index; this module answers the exact-dedup half with an index
that GROWS as the stream lands: each micro-batch keeps only documents
whose normalized-text digest has never been seen — not in any earlier
batch, not earlier in this batch — and appends the novel digests to the
index so later batches (and later runs over the same checkpoint) dedup
against them.

Exactly-once mechanics (streaming/sink.commit_epoch): each micro-batch
is one append-only epoch. The index append and the survivor output land
in the epoch's own ``__epoch=<ns>-<E>`` partitions, and one commit
marker follows both writes. The membership probe reads only committed
index epochs — so a failed attempt's partial append is invisible to its
replay, which converges to the same bytes, and a fresh checkpoint (a new
namespace) dedups against every earlier run's digests instead of
overwriting them.

Scale shape: the only per-batch wide work is one anti join of the
batch's digests (64-hex keys, not document bodies) against the stored
index — at 100 TB/day the index is digest-count-sized and bucketed by
digest; everything else is row-local hashing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from streaming_data_ingestion_spark.streaming.sink import (
    EPOCH_COL,
    commit_epoch,
    committed,
    overwrite_partitions,
    read_if_exists,
    start,
)


def _digest(col: str = "text"):
    # identical normalization to q_dedup_exact (queries/llm_text.py): the
    # streaming keeper decision matches the batch operator's
    return F.sha2(F.lower(F.trim(F.col(col))), 256)


def dedup_against_index(
    docs_stream: DataFrame,
    index_path: str,
    out_path: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Emit only never-seen-before documents; grow the digest index."""

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        # within-batch keeper: smallest doc_id per digest, deterministic
        novel = (
            batch_df.withColumn("digest", _digest())
            .groupBy("digest")
            .agg(
                F.min("doc_id").alias("doc_id"),
                F.first("text").alias("text"),
            )
        )
        seen = read_if_exists(batch_df.sparkSession, index_path)
        if seen is not None:
            novel = novel.join(
                seen.filter(committed(index_path)).select("digest"),
                "digest",
                "left_anti",
            )
        novel = novel.persist()

        def write(rows: DataFrame, token: str) -> None:
            overwrite_partitions(
                novel.select("doc_id", "text", "digest").withColumn(
                    EPOCH_COL, F.lit(token)
                ),
                out_path,
                EPOCH_COL,
            )
            # the index last: a write to a path drops every cached plan
            # that reads it, so writing it first would recompute `novel`
            overwrite_partitions(rows, index_path, EPOCH_COL)

        try:
            commit_epoch(
                novel.select("digest"), index_path, epoch_id, write=write
            )
        finally:
            novel.unpersist()

    return start(docs_stream, write_batch, checkpoint_dir)
