"""Incremental EXACT dedup with a growing persistent digest index.

`dedup_stream.py` answers "is this a NEAR-dup of history?" against a
static index; this module answers the exact-dedup half with an index
that GROWS as the stream lands: each micro-batch keeps only documents
whose normalized-text digest has never been seen — not in any earlier
batch, not earlier in this batch — and appends the novel digests to the
index so later batches (and later runs over the same checkpoint) dedup
against them.

Exactly-once mechanics (streaming/sink.overwrite_partitions): both the
survivor output and the index append land in ``epoch=N`` partitions via
dynamic overwrite, so a replayed micro-batch rewrites ITS OWN
partitions instead of double-appending.
The membership probe reads the index as of the PREVIOUS epochs — a
failed attempt's partial epoch partition is overwritten by its replay
before any later epoch can exist, so replays converge to the same
bytes.

Scale shape: the only per-batch wide work is one anti join of the
batch's digests (64-hex keys, not document bodies) against the stored
index — at 100 TB/day the index is digest-count-sized and bucketed by
digest; everything else is row-local hashing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException
from pyspark.sql.streaming import StreamingQuery

from streaming_data_ingestion_spark.streaming.sink import (
    overwrite_partitions,
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
        spark = batch_df.sparkSession
        # within-batch keeper: smallest doc_id per digest, deterministic
        batch = (
            batch_df.withColumn("digest", _digest())
            .groupBy("digest")
            .agg(
                F.min("doc_id").alias("doc_id"),
                F.first("text").alias("text"),
            )
        )
        try:
            seen = (
                spark.read.parquet(index_path)
                .filter(F.col("epoch") < epoch_id)
                .select("digest")
            )
            novel = batch.join(seen, "digest", "left_anti")
        except AnalysisException as e:
            # ONLY the genuinely-missing-index case may be treated as
            # "everything is novel" — swallowing a transient read error
            # here would silently re-emit the whole corpus as new
            # (the bare-except-overwrites-history bug class)
            if "PATH_NOT_FOUND" not in str(e):
                raise
            novel = batch  # first epoch ever: no index yet
        novel = novel.persist()
        try:
            overwrite_partitions(
                novel.select("doc_id", "text", "digest").withColumn(
                    "epoch", F.lit(epoch_id)
                ),
                out_path,
                "epoch",
            )
            overwrite_partitions(
                novel.select("digest").withColumn("epoch", F.lit(epoch_id)),
                index_path,
                "epoch",
            )
        finally:
            novel.unpersist()

    return start(docs_stream, write_batch, checkpoint_dir)
