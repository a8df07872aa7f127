"""Incremental materialized-view maintenance via foreachBatch merge.

The pattern: a streaming source feeds an AGGREGATE table (here: daily
event counts per type) that downstream dashboards/joins read as plain
parquet. Instead of recomputing the aggregate from all history every
time (a full 100 TB scan per refresh), each micro-batch:

1. partially aggregates ITS OWN rows (micro-batch-sized work),
2. reads back only the affected partition keys from the table,
3. merges (sum) and dynamically overwrites exactly those partitions.

Cost per refresh is O(batch + touched-partition), independent of table
history — the property that makes a continuously-maintained 100 TB
rollup feasible. Exactly-once under replay: a read-merge-overwrite is
NOT naturally idempotent (re-running an epoch whose write already landed
would re-add the delta), so each merge goes through
``streaming/sink.merge_additive``: every stored row carries a
``last_epoch`` marker ``"<query id>:<epoch>"``, and a replayed epoch
skips any PARTITION TUPLE already stamped with its own marker. The query
id is the one the checkpoint records, so a new checkpoint whose epochs
restart at 0 never collides with an earlier run's stamps.

The invariant the test pins: after any sequence of micro-batches, the
maintained table EQUALS the from-scratch batch aggregate over the same
input (modulo the ``last_epoch`` metadata column) — streaming prefix
consistency materialized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from streaming_data_ingestion_spark.compat import DEC
from streaming_data_ingestion_spark.streaming.sink import merge_additive, start


def _daily_counts(df: DataFrame) -> DataFrame:
    return (
        df.select(F.col("ts").cast("date").alias("day"), "event_type")
        .groupBy("day", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def merge_daily_counts(table_path: str, run_ns: str | None = None):
    """foreachBatch writer: merge this batch's partial daily counts into
    the parquet table, touching only the affected day partitions."""

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        merge_additive(
            _daily_counts(batch_df),
            table_path,
            key_cols=["day", "event_type"],
            sum_cols=["n"],
            part_cols=["day"],
            epoch_id=epoch_id,
            run_ns=run_ns,
        )

    return write_batch


def maintain_daily_counts(
    events_stream: DataFrame,
    table_path: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Continuously maintain the daily (day, event_type, n) rollup from
    an events stream. Read the result as plain parquet at ``table_path``."""
    return start(
        events_stream, merge_daily_counts(table_path), checkpoint_dir
    )


# --------------------------------------------------------------------------
# Multi-grain rollup maintenance — the incremental twin of the batch
# q_time_rollup (queries/streaming_analogs.py): hour AND day grains
# maintained in one foreachBatch merge.
# --------------------------------------------------------------------------

def _rollup(df: DataFrame) -> DataFrame:
    """Both grains of the time rollup for ONE batch of events — the same
    GROUPING SETS single-pass shape as q_time_rollup, but the value sum
    stays DECIMAL(38,10): decimal addition is associative, so merging
    per-batch partials in any order lands bit-identical to the one-shot
    batch aggregate (a double sum would drift with merge order)."""
    ev = df.select(
        F.date_trunc("day", "ts").alias("d"),
        F.date_trunc("hour", "ts").alias("h"),
        "event_type",
        F.col("value").cast(DEC).alias("v"),
    )
    return (
        ev.groupingSets(
            [["d", "event_type"], ["d", "h", "event_type"]],
            "d",
            "h",
            "event_type",
        )
        .agg(
            F.grouping("h").cast("int").alias("_g_h"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum("v").alias("sum_value"),
        )
        .select(
            F.when(F.col("_g_h") == 1, "1d").otherwise("1h").alias("grain"),
            F.coalesce("h", "d").alias("bucket_start"),
            F.col("d").cast("date").alias("day"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def merge_rollup(table_path: str, run_ns: str | None = None):
    """foreachBatch writer: merge this batch's partial two-grain rollup
    into the parquet table, dynamically overwriting only the touched
    (grain, day) partitions — O(batch + touched-partition) per refresh,
    independent of history, and idempotent under micro-batch replay
    (replay-skip keyed on the full (grain, day) tuple, so a crash that
    landed one grain of a day but not the other heals on replay)."""

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        merge_additive(
            _rollup(batch_df),
            table_path,
            key_cols=["grain", "bucket_start", "day", "event_type"],
            sum_cols=["n_events", "sum_value"],
            part_cols=["grain", "day"],
            epoch_id=epoch_id,
            run_ns=run_ns,
        )

    return write_batch


def maintain_time_rollup(
    events_stream: DataFrame,
    table_path: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Continuously maintain the two-grain time rollup. Readers see the
    identical relation the batch q_time_rollup computes (modulo the
    decimal value type and the partition-key day column), partitioned by
    (grain, day) so a dashboard's "today, hourly" read prunes to one
    directory."""
    return start(events_stream, merge_rollup(table_path), checkpoint_dir)


# --------------------------------------------------------------------------
# Sweep-line backlog maintenance — the incremental twin of the batch
# q_backlog_curve (queries/basket.py): the ±1 interval deltas are plain
# integer sums, hence mergeable per micro-batch with the same
# replay-idempotent machinery as the daily counts.
# --------------------------------------------------------------------------


def _backlog_deltas(spans: DataFrame) -> DataFrame:
    """Net sweep-line deltas for ONE batch of order spans
    (``open_day``/``close_day`` DATE columns): +1 at open, −1 the day
    after close, summed per day. Addition is associative, so per-batch
    partials merged in any order equal the one-shot batch aggregate —
    the same argument as the daily counts, with a month partition key
    so a merge touches ~2 directories per batch, not the history."""
    return (
        spans.select(F.col("open_day").alias("day"), F.lit(1).alias("d"))
        .unionAll(
            spans.select(
                F.date_add("close_day", 1).alias("day"), F.lit(-1).alias("d")
            )
        )
        .groupBy("day")
        .agg(F.sum("d").cast("long").alias("d"))
        .withColumn("month", F.date_trunc("month", "day").cast("date"))
    )


def merge_backlog_deltas(table_path: str, run_ns: str | None = None):
    """foreachBatch writer: merge this batch's net deltas into the
    parquet delta table, dynamically overwriting only touched month
    partitions; idempotent under micro-batch replay."""

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        merge_additive(
            _backlog_deltas(batch_df),
            table_path,
            # month is functionally dependent on day; listing it as a key
            # keeps it in the merged schema so it can be the partition col
            key_cols=["month", "day"],
            sum_cols=["d"],
            part_cols=["month"],
            epoch_id=epoch_id,
            run_ns=run_ns,
        )

    return write_batch


def maintain_backlog(
    spans_stream: DataFrame,
    table_path: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Continuously maintain the sweep-line delta table from a stream of
    order spans. The stored relation is (day, d, month) net deltas —
    O(calendar) rows regardless of order volume — and any reader gets
    the live backlog curve from :func:`backlog_from_deltas` without
    rescanning order history."""
    return start(
        spans_stream, merge_backlog_deltas(table_path), checkpoint_dir
    )


def backlog_from_deltas(spark: SparkSession, table_path: str) -> DataFrame:
    """(day, n_open) backlog curve from the maintained delta table — the
    same calendar-bounded triangle-join running sum as q_backlog_curve,
    reading O(calendar) stored rows instead of the order fact table."""
    deltas = spark.read.parquet(table_path).select("day", "d")
    a, b = deltas.alias("a"), deltas.alias("b")
    return (
        a.join(F.broadcast(b), F.col("b.day") <= F.col("a.day"))
        .groupBy(F.col("a.day").cast("timestamp").alias("day"))
        .agg(F.sum("b.d").cast("long").alias("n_open"))
    )
