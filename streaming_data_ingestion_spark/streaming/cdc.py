"""CDC apply sink: a change stream maintains a partitioned parquet table.

The missing piece between the ingest pipeline (append-only) and the
maintenance primitives (batch backfill/upsert/delete): a stream of
change records ``(op: 'upsert'|'delete', <key>, <attrs…>, <part_col>)``
applied per micro-batch through ``backfill.upsert_partitioned`` /
``delete_keys_partitioned`` — so the stored table continuously tracks a
mutable source without a transactional table format.

Semantics and guarantees:

- per batch, DELETES apply after UPSERTS (a key both upserted and
  deleted in one batch ends deleted — the CDC convention for a
  tombstone following an update in the same window);
- both primitives touch only the partitions named by the batch's rows
  and are individually idempotent, so Spark's epoch replay (re-running
  a failed micro-batch) converges to the same table;
- ordering ACROSS batches is the stream's order, as in any CDC apply.

Scale: per batch the work is proportional to the touched partitions,
never the table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from streaming_data_ingestion_spark.backfill import (
    delete_keys_partitioned,
    upsert_partitioned,
)
from streaming_data_ingestion_spark.streaming.sink import start


def apply_cdc_stream(
    changes: DataFrame,
    table_path: str,
    key: str,
    part_col: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Start the apply loop; ``changes`` must carry an ``op`` column."""

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        ups = batch_df.filter(F.col("op") == "upsert").drop("op")
        if ups.limit(1).count():
            upsert_partitioned(spark, table_path, ups, key, part_col)
        dels = batch_df.filter(F.col("op") == "delete").select(
            key, part_col
        )
        if dels.limit(1).count():
            delete_keys_partitioned(spark, table_path, dels, key, part_col)

    return start(changes, apply_batch, checkpoint_dir)
