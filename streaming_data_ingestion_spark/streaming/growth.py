"""Incremental growth accounting: the streaming twin of q_cum_uniques
(queries/lifecycle.py).

q_cum_uniques computes daily new-user counts from the first-seen
identity — each user counts once, on their first-seen day. Batch-side
that is one user-keyed MIN aggregate; this module maintains the same
relation INCREMENTALLY from an event stream: a growing (user_id,
first_day) index answers "is this user new?" per micro-batch without
ever rescanning history, and a (day, new_users) table accumulates the
growth curve a dashboard reads directly.

Exactly-once mechanics are streaming/sink.py's: the index appends land
in ``epoch=N`` partitions via ``overwrite_partitions``, so a replayed
micro-batch rewrites ITS OWN partition instead of double-appending; the
day counts go through ``merge_additive``'s replay-skip merge.

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
from pyspark.sql.utils import AnalysisException

from streaming_data_ingestion_spark.streaming.sink import (
    merge_additive,
    overwrite_partitions,
    start,
)


def _prior_index(spark: SparkSession, index_path: str, epoch_id: int):
    """First-seen index as of PREVIOUS epochs (a replayed batch must not
    see its own failed attempt's partial append)."""
    try:
        idx = spark.read.parquet(index_path)
    except AnalysisException as e:
        # ONLY the genuinely-missing-index case may be treated as "no
        # prior users" — swallowing a transient read error here would
        # silently re-count the whole user base as new (the
        # bare-except-overwrites-history bug class; see
        # streaming/dedup_index.py for the motivating incident)
        if "PATH_NOT_FOUND" not in str(e):
            raise
        return None
    return idx.where(F.col("epoch") < F.lit(epoch_id))


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
        prior = _prior_index(spark, index_path, epoch_id)
        if prior is not None:
            cand = cand.join(
                prior.select("user_id"), "user_id", "left_anti"
            )
        cand = cand.withColumn("epoch", F.lit(epoch_id)).persist()
        try:
            # index append: replayed epochs overwrite their own partition
            overwrite_partitions(cand, index_path, "epoch")
            # daily growth counts: replay-skip merge keyed on (day)
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
