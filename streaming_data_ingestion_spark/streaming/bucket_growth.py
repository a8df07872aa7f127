"""Streaming growth of a bucketed fact table — facts land ALREADY
co-bucketed on their join key, epoch by epoch.

The batch layout (layout.write_bucketed, registered read path
q_bucketed_join) pays the bucket shuffle once at write time so every
later orderkey join is exchange-free. This maintainer extends that to
ingestion: each micro-batch appends into the SAME bucket hash space
under its own ``__epoch=<ns>-<E>`` hive partition, so

- the join guarantee never degrades as the corpus grows (Spark unions a
  bucket's files across epoch partitions; scans stay hash-distributed
  on the bucket key — pinned in tests/test_layout.py);
- replay is deterministic: an epoch is exactly one partition directory,
  so a crashed/retried micro-batch REPLACES its directory instead of
  double-appending.

Replay protocol: each epoch is one streaming/sink.commit_epoch, the
append-only discipline shared with every epoch-partition writer. The
token's namespace is the stream's query id, so the epoch's directory is
this run's own; a replay of a committed epoch is a no-op, and a replay
of an UNCOMMITTED epoch first deletes its partial directory (crash
debris), then appends the batch whole. NEVER use ``insertInto`` here:
on a bucketed catalog table it can silently bypass the bucket spec and
(with mode=overwrite) truncate sibling partitions — files that lie about
their bucket id make the exchange-free merge join return WRONG rows
while the plan still looks correct.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from streaming_data_ingestion_spark.streaming.sink import (
    EPOCH_COL,
    commit_epoch,
    committed,
)


def bucketed_growth_writer(
    table: str,
    path: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
    run_ns: str | None = None,
):
    """Return a ``write_batch(batch_df, epoch_id)`` callable (the
    foreachBatch shape) that appends each epoch into ``table`` —
    partitioned by ``__epoch``, bucketed ``n_buckets`` ways on
    ``bucket_cols`` — idempotently under micro-batch replay."""

    def append(rows: DataFrame, token: str) -> None:
        spark = rows.sparkSession
        part_dir = os.path.join(path, f"{EPOCH_COL}={token}")
        if os.path.exists(part_dir):
            # uncommitted partial write from this run's crashed attempt:
            # the epoch owns its directory, so replace it whole. (The
            # catalog entry may not exist yet if the very first epoch
            # crashed between writing data files and registering the
            # table — REFRESH would then raise and wedge the stream.)
            shutil.rmtree(part_dir)
            if spark.catalog.tableExists(table):
                spark.sql(f"REFRESH TABLE {table}")
        mode = "append" if spark.catalog.tableExists(table) else "overwrite"
        w = (
            rows.write.mode(mode)
            .partitionBy(EPOCH_COL)
            .bucketBy(n_buckets, *bucket_cols)
        )
        if sort_cols:
            w = w.sortBy(*sort_cols)
        w.option("path", path).saveAsTable(table, format="parquet")

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        commit_epoch(batch_df, path, epoch_id, run_ns=run_ns, write=append)

    return write_batch


def read_committed_facts(
    spark: SparkSession, table: str, path: str
) -> DataFrame:
    """Consistent snapshot of the growing bucketed fact table: only rows
    of committed epochs — across ALL run namespaces, so a reader
    needs no knowledge of which stream wrote which epoch. The same
    torn-read hazard as the ANN fold-in (streaming/ann_stream.py)
    applies here — crash debris or an in-flight append leaves an
    uncommitted ``__epoch`` directory that a raw ``spark.table`` read
    would include. The ``sink.committed`` bound is a PartitionFilter (the
    torn directory is pruned unread), and filtering a partition column
    does NOT disturb the bucket-hash distribution on the join key — joins
    through this view stay exchange-free (pinned in tests/test_layout.py)."""
    return spark.table(table).filter(committed(path))
