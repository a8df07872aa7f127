"""Incremental growth accounting: the streaming twin of q_cum_uniques
(queries/lifecycle.py).

q_cum_uniques computes daily new-user counts from the first-seen
identity — each user counts once, on their first-seen day. Batch-side
that is one user-keyed MIN aggregate; this module maintains the same
relation INCREMENTALLY from an event stream: a growing (user_id,
first_day) index answers "is this user new?" per micro-batch without
ever rescanning history, and a (day, new_users) table accumulates the
growth curve a dashboard reads directly.

Exactly-once mechanics are streaming/sink.py's: each micro-batch is one
``commit_epoch`` — the index append lands in the epoch's own
``__epoch=<ns>-<E>`` partition, the day counts go through
``merge_additive``'s replay-skip merge, and one commit marker follows
both writes. "Is this user new?" reads only committed epochs, so a
replay never sees its own failed attempt's partial append, and a fresh
checkpoint (a new namespace) sees every earlier run's users.

Scale shape: the only per-batch wide work is one user-keyed aggregate
over the batch plus one anti join of the batch's candidate users
(user-id keys, not event rows) against the stored index — at 10⁹ users
the index is user-count-sized and would be bucketed by user_id; the
growth table stays calendar-bounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from streaming_data_ingestion_spark.streaming.sink import (
    EPOCH_COL,
    commit_epoch,
    committed,
    merge_additive,
    overwrite_partitions,
    read_if_exists,
    start,
)


def first_seen_batch_writer(
    index_path: str,
    daily_path: str,
    run_ns: str | None = None,
):
    """foreachBatch writer for the first-seen index + daily growth table
    (exposed separately, ``mv.merge_daily_counts``-style, so tests can
    drive epoch replay directly)."""

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        # batch-local first-seen candidates: one user-keyed MIN aggregate
        cand = batch_df.groupBy("user_id").agg(
            F.min(F.to_date("ts")).alias("first_day")
        )
        prior = read_if_exists(spark, index_path)
        if prior is not None:
            cand = cand.join(
                prior.filter(committed(index_path)).select("user_id"),
                "user_id",
                "left_anti",
            )
        cand = cand.persist()

        def write(rows: DataFrame, _token: str) -> None:
            merge_additive(
                cand.groupBy(F.col("first_day").alias("day")).agg(
                    F.count(F.lit(1)).cast("long").alias("new_users")
                ),
                daily_path,
                key_cols=["day"],
                sum_cols=["new_users"],
                part_cols=["day"],
                epoch_id=epoch_id,
                run_ns=run_ns,
            )
            # the index last: a write to a path drops every cached plan
            # that reads it, so writing it first would recompute `cand`
            overwrite_partitions(rows, index_path, EPOCH_COL)

        try:
            commit_epoch(cand, index_path, epoch_id, run_ns=run_ns, write=write)
        finally:
            cand.unpersist()

    return write_batch


def maintain_first_seen(
    events_stream: DataFrame,
    index_path: str,
    daily_path: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Maintain the first-seen user index + the daily new-user table.

    Readers get q_cum_uniques' ``daily`` relation from ``daily_path``
    (sum ``new_users`` by day ascending for the cumulative curve) and
    per-user signup days from ``index_path`` — both O(users/calendar),
    no event-history rescan ever.
    """
    return start(
        events_stream,
        first_seen_batch_writer(index_path, daily_path),
        checkpoint_dir,
    )


def cum_uniques_from_daily(spark: SparkSession, daily_path: str) -> DataFrame:
    """(day, new_users, cum_users) from the maintained daily table — the
    same triangle-join running total as q_cum_uniques, over O(calendar)
    stored rows."""
    daily = spark.read.parquet(daily_path).select("day", "new_users")
    a, b = daily.alias("a"), daily.alias("b")
    return (
        a.join(F.broadcast(b), F.col("b.day") <= F.col("a.day"))
        .groupBy(
            F.col("a.day").cast("timestamp").alias("day"),
            F.col("a.new_users").alias("new_users"),
        )
        .agg(F.sum("b.new_users").cast("long").alias("cum_users"))
    )
