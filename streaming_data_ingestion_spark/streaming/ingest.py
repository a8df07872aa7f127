"""The reference's ingestion pipeline, rebuilt Spark-first.

Reference dataflow (/root/reference/spark-streaming.py): Kafka scan →
CAST(value AS STRING) (:169) → from_json with declared schema (:159-170) →
select('data.*') flatten (:171) → foreachBatch sink (:180-197,216-221).

Defects fixed (each cited in SURVEY.md §2A):
- ``user_id`` primary key was never populated (:87 vs :169-173) → we
  synthesize it with ``uuid()`` engine-side;
- ``postcode`` declared LongType against a string wire value (:163) →
  declared StringType (alphanumeric postcodes survive);
- no checkpointLocation (:216-221) → always checkpointed, so restarts
  resume from offsets instead of re-ingesting the topic;
- ``epoch_id`` ignored in the sink (:180) → the checkpoint prevents
  re-processing across restarts, and every micro-batch lands as one
  ``sink.commit_epoch``, so even a batch retried mid-write lands exactly
  once, and a fresh checkpoint's epochs land beside an earlier run's.

The source is pluggable: the file JSON stream in tests, Kafka in
production (sources/kafka.py) — everything from decode onward is shared.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from streaming_data_ingestion_spark.sources.json_stream import USERS_WIRE_SCHEMA
from streaming_data_ingestion_spark.streaming.sink import (
    commit_epoch,
    overwrite_partitions,
    start,
)


def decode_users(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """Wire JSON string → typed, flattened, keyed user records.

    from_json + ``select('data.*')`` is the reference's own idiom
    (/root/reference/spark-streaming.py:170-171); ``uuid()`` fixes the
    never-populated primary key.

    Reference-parity caveat: a malformed wire line decodes to an all-null
    row that still receives a synthesized uuid (PERMISSIVE from_json, the
    reference's behavior). Production ingest should use the DLQ variant
    (``run_ingest_with_dlq``), which routes such lines to a dead-letter
    sink instead of the main table.
    """
    return (
        raw.select(
            F.from_json(F.col(value_col), USERS_WIRE_SCHEMA).alias("data")
        )
        .select("data.*")
        .withColumn("user_id", F.expr("uuid()"))
    )


def decode_users_from_files(stream: DataFrame) -> DataFrame:
    """Same decode for a file-source stream that already parsed the JSON
    (schema declared at read): only key synthesis is needed."""
    return stream.withColumn("user_id", F.expr("uuid()"))


def ingest_users_from_json_dir(
    spark: SparkSession, in_dir: str, out_dir: str, checkpoint_dir: str
) -> StreamingQuery:
    """End-to-end: JSON-lines dir → decode → keyed records → parquet.

    foreachBatch keeps the reference's sink shape
    (/root/reference/spark-streaming.py:216-221) — per-batch bridge to a
    batch writer — with the checkpoint the reference forgot, and each
    batch committed once under ``__epoch=<query id>-<E>``.
    ``availableNow`` drains everything currently available then stops:
    the Spark-native replacement for the reference's 30-second wall-clock
    producer loop (/root/reference/dags/kafka-streamer.py:38-49).
    """
    from streaming_data_ingestion_spark.sources.json_stream import read_json_stream

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        commit_epoch(batch_df, out_dir, epoch_id)

    stream = read_json_stream(spark, in_dir)
    return start(decode_users_from_files(stream), write_batch, checkpoint_dir)


def split_users_with_raw(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """Decode wire JSON while KEEPING the raw line alongside the parsed
    struct — the prerequisite for dead-letter routing (a dropped raw line
    is an unreproducible bug report)."""
    return raw.select(
        F.col(value_col).alias("_raw"),
        F.from_json(F.col(value_col), USERS_WIRE_SCHEMA).alias("data"),
    )


def dlq_writer(out_dir: str, dlq_dir: str):
    """foreachBatch writer that routes each micro-batch in ONE pass:
    parseable records (business key present) → the main sink, everything
    else → a dead-letter sink with the verbatim raw line and the epoch.

    The batch is cached for the two writes so the decode runs once. A
    100 TB ingest with a misbehaving producer must quantify and preserve
    its corrupt slice — FAILFAST aborts the pipeline, silent PERMISSIVE
    dropping destroys the evidence; a DLQ does neither.

    Both sinks are epoch-partitioned dynamic overwrites: a retried
    micro-batch rewrites its own ``__epoch`` partition instead of
    appending duplicates — with synthesized uuid keys a blind append's
    duplicates would be undetectable downstream. The partitions carry the
    bare epoch number, not a namespaced ``sink.commit_epoch`` token, so a
    fresh checkpoint over the same directories overwrites an earlier
    run's epochs.
    """

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.persist()
        try:
            ok = F.col("data").isNotNull() & F.col("data.full_name").isNotNull()
            overwrite_partitions(
                batch_df.filter(ok)
                .select("data.*")
                .withColumn("user_id", F.expr("uuid()"))
                .withColumn("__epoch", F.lit(int(epoch_id))),
                out_dir,
                "__epoch",
            )
            overwrite_partitions(
                batch_df.filter(~ok).select(
                    F.col("_raw").alias("raw"),
                    F.lit(int(epoch_id)).alias("epoch"),
                ),
                dlq_dir,
                "epoch",
            )
        finally:
            batch_df.unpersist()

    return write_batch


def run_ingest_with_dlq(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    dlq_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """End-to-end ingest with dead-letter routing: raw text lines →
    decode-with-raw → valid records to the main sink, malformed lines to
    the DLQ — checkpointed, so neither path re-processes on restart."""
    raw = spark.readStream.text(in_dir)
    return start(
        split_users_with_raw(raw), dlq_writer(out_dir, dlq_dir), checkpoint_dir
    )
