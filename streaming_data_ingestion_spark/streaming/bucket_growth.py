"""Streaming growth of a bucketed fact table — facts land ALREADY
co-bucketed on their join key, epoch by epoch.

The batch layout (layout.write_bucketed, registered read path
q_bucketed_join) pays the bucket shuffle once at write time so every
later orderkey join is exchange-free. This maintainer extends that to
ingestion: each micro-batch appends into the SAME bucket hash space
under its own ``epoch=N`` hive partition, so

- the join guarantee never degrades as the corpus grows (Spark unions a
  bucket's files across epoch partitions; scans stay hash-distributed
  on the bucket key — pinned in tests/test_layout.py);
- replay is deterministic: an epoch is exactly one partition directory,
  so a crashed/retried micro-batch REPLACES its directory instead of
  double-appending.

Replay protocol (streaming/sink.py's commit log for append-only
sinks, shared with the ANN fold-in): a completed epoch leaves a commit
marker; a replay of a committed epoch is a no-op, and a replay of an
UNCOMMITTED epoch first deletes the partial ``epoch=N`` directory (crash
debris), then appends the batch whole. NEVER use ``insertInto`` here: on a bucketed catalog
table it can silently bypass the bucket spec and (with mode=overwrite)
truncate sibling partitions — files that lie about their bucket id make
the exchange-free merge join return WRONG rows while the plan still
looks correct.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from streaming_data_ingestion_spark.streaming.sink import (
    _epoch_token,
    committed_epochs,
    mark_epoch_committed,
)

_EPOCH_PART = "epoch"


def _epoch_of(token: str) -> int:
    return int(token.rpartition("-")[2])


def bucketed_growth_writer(
    table: str,
    path: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
    run_ns: str = "default",
):
    """Return a ``write_batch(batch_df, epoch_id)`` callable (the
    foreachBatch shape) that appends each epoch into ``table`` —
    partitioned by epoch, bucketed ``n_buckets`` ways on
    ``bucket_cols`` — idempotently under micro-batch replay."""

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        token = _epoch_token(run_ns, epoch_id)
        done = [tok for _, tok in committed_epochs(path)]
        if token in done:
            return  # completed-epoch replay: no-op
        spark = batch_df.sparkSession
        part_dir = os.path.join(path, f"{_EPOCH_PART}={int(epoch_id)}")
        if os.path.exists(part_dir):
            # the "crash debris" claim is only safe if the directory is
            # OURS: epoch ids restart at 0 per checkpoint, so a second
            # run (different run_ns) writing this table would land its
            # epoch in the same directory — deleting it here would be
            # silent data loss, not recovery. One epoch id, one owner.
            foreign = [t for t in done if _epoch_of(t) == int(epoch_id)]
            if foreign:
                raise ValueError(
                    f"epoch {epoch_id} of table {table!r} is committed by "
                    f"another run namespace ({foreign[0]}); refusing to "
                    "replace it — use a fresh run_ns per logical stream, "
                    "or a fresh table for an independent rebuild"
                )
            # uncommitted partial write from OUR crashed attempt: the
            # epoch owns its directory, so replace it whole. (The catalog
            # entry may not exist yet if the very first epoch crashed
            # between writing data files and registering the table —
            # REFRESH would then raise and wedge the stream forever.)
            shutil.rmtree(part_dir)
            if spark.catalog.tableExists(table):
                spark.sql(f"REFRESH TABLE {table}")
        mode = (
            "append" if spark.catalog.tableExists(table) else "overwrite"
        )
        w = (
            batch_df.withColumn(_EPOCH_PART, F.lit(int(epoch_id)))
            .write.mode(mode)
            .partitionBy(_EPOCH_PART)
            .bucketBy(n_buckets, *bucket_cols)
        )
        if sort_cols:
            w = w.sortBy(*sort_cols)
        w.option("path", path).saveAsTable(table, format="parquet")
        mark_epoch_committed(path, epoch_id, run_ns)

    return write_batch


def read_committed_facts(
    spark: SparkSession, table: str, path: str
) -> DataFrame:
    """Consistent snapshot of the growing bucketed fact table: only rows
    of committed epochs — across ALL run namespaces, so a reader
    needs no knowledge of which stream wrote which epoch (a
    namespace-scoped cap would silently return an empty snapshot to any
    consumer guessing the wrong namespace). The same torn-read hazard as
    the ANN fold-in (streaming/ann_stream.py) applies here — crash
    debris or an in-flight append leaves an uncommitted ``epoch=N``
    directory that a raw ``spark.table`` read would include. ``epoch``
    is the partition column and the committed set is a literal IN-list
    over it, so the bound is a PartitionFilter (the torn directory is
    pruned unread), and filtering a partition column does NOT disturb
    the bucket-hash distribution on the join key — joins through this
    view stay exchange-free (pinned in tests/test_layout.py)."""
    epochs = sorted({_epoch_of(tok) for _, tok in committed_epochs(path)})
    bound = F.col(_EPOCH_PART).isin(epochs) if epochs else F.lit(False)
    return spark.table(table).filter(bound)
