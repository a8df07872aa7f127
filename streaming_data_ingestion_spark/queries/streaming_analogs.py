"""Batch analogs of the streaming windowed aggregations (SURVEY.md §2B
"Streaming-only" rows).

Structured Streaming's windowed aggregates are prefix-consistent with the
same query run in batch, so the DuckDB-checkable batch analogs below pin the
*semantics* (window assignment, session merging), while
``streaming_data_ingestion_spark/streaming`` runs the same shapes through
``readStream`` and asserts batch-equivalence in tests.

Scale note: tumbling/sliding windows are plain hash aggregates on a derived
key — one shuffle. Session windows in streaming keep per-key state bounded
by the watermark; in batch they are a sort-within-user + running break sum.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from streaming_data_ingestion_spark import artifacts
from streaming_data_ingestion_spark.compat import dsum, sql_dsum
from streaming_data_ingestion_spark.registry import query
from streaming_data_ingestion_spark.tables import load

# --------------------------------------------------------------------------
# q_stream_tumbling — window(ts, '1 hour').
# --------------------------------------------------------------------------


@query(
    "q_stream_tumbling",
    oracle=f"""
SELECT
  time_bucket(INTERVAL '1 hour', ts) AS window_start,
  time_bucket(INTERVAL '1 hour', ts) + INTERVAL 1 HOUR AS window_end,
  event_type,
  COUNT(*) AS n_events,
  {sql_dsum("value", "sum_value")}
FROM events
GROUP BY 1, 2, 3
""",
    tags=("streaming-analog",),
)
def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window × event_type counts/sums."""
    ev = load(spark, sf_dir, "events")
    w = F.window("ts", "1 hour")
    return (
        ev.groupBy(w.alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


# --------------------------------------------------------------------------
# q_stream_sliding — window(ts, '1 hour', '30 minutes').
# --------------------------------------------------------------------------


@query(
    "q_stream_sliding",
    oracle=f"""
WITH assigned AS (
  SELECT time_bucket(INTERVAL '30 minutes', ts) AS window_start, value
  FROM events
  UNION ALL
  SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL 30 MINUTE
           AS window_start, value
  FROM events
)
SELECT
  window_start,
  window_start + INTERVAL 1 HOUR AS window_end,
  COUNT(*) AS n_events,
  {sql_dsum("value", "sum_value")}
FROM assigned
GROUP BY 1, 2
""",
    tags=("streaming-analog",),
)
def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1-hour window, 30-minute slide: each event lands in two
    windows (Spark expands this internally; the oracle expands it with a
    UNION ALL of the two bucket starts)."""
    ev = load(spark, sf_dir, "events")
    w = F.window("ts", "1 hour", "30 minutes")
    return (
        ev.groupBy(w.alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
            "sum_value",
        )
    )


# --------------------------------------------------------------------------
# q_stream_session — session_window(ts, '30 minutes') per user.
# --------------------------------------------------------------------------


@query(
    "q_stream_session",
    oracle=f"""
WITH marked AS (
  SELECT
    user_id, ts, event_id, value,
    CASE WHEN lag(ts) OVER w IS NULL
           OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
         THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
),
sessions AS (
  SELECT *,
    -- the running sum MUST use the same total order as the window that
    -- computed brk: ordered by ts alone, rows TIED on ts take an
    -- arbitrary order relative to their session-starting row, splitting
    -- or merging groups nondeterministically. Latent while every
    -- (user_id, ts) was unique; caught by the sf1 decade-step fixtures,
    -- whose replicas share timestamps (round 10).
    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                   ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked
)
SELECT
  user_id,
  MIN(ts) AS session_start,
  MAX(ts) + INTERVAL 30 MINUTE AS session_end,
  COUNT(*) AS n_events,
  {sql_dsum("value", "sum_value")}
FROM sessions
GROUP BY user_id, session_id
""",
    tags=("streaming-analog",),
)
def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-minute-gap sessions per user via session_window.

    Spark merges events whose windows [ts, ts+gap) overlap, so a gap of
    exactly 30 minutes starts a NEW session (end-exclusive) — the oracle's
    gaps-and-islands formulation breaks on ``>= INTERVAL 30 MINUTE`` to
    match. session_end = last event + gap, Spark's definition.
    """
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "sum_value"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


# --------------------------------------------------------------------------
# q_time_rollup — multi-resolution time rollup (hypertable continuous
# aggregate shape): hour and day grains in ONE pass via GROUPING SETS.
# --------------------------------------------------------------------------


@query(
    "q_time_rollup",
    oracle=f"""
SELECT
  CASE WHEN GROUPING(h) = 1 THEN '1d' ELSE '1h' END AS grain,
  COALESCE(h, d) AS bucket_start,
  event_type,
  CAST(COUNT(*) AS BIGINT) AS n_events,
  {sql_dsum("value", "sum_value")}
FROM (
  SELECT
    date_trunc('day', ts) AS d,
    date_trunc('hour', ts) AS h,
    event_type,
    value
  FROM events
)
GROUP BY GROUPING SETS ((d, event_type), (d, h, event_type))
ORDER BY grain, bucket_start, event_type
""",
    tags=("streaming-analog", "agg"),
)
def q_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution time rollup — the hypertable / continuous-
    aggregate shape: hourly AND daily per-type aggregates computed in
    ONE pass over the fact table with GROUPING SETS, instead of two
    scans (or a second rollup job re-reading the hourly output).

    Plan: Expand replicates each row once per grain (2×), then a single
    partial+final hash aggregate covers both grains — at 100 TB this
    halves scan cost vs grain-per-query, and the per-grain outputs are
    exactly what a materialized rollup table would store (the streaming
    twin maintains the same rollup incrementally via
    streaming/mv.py). GROUPING() distinguishes the day rows
    from hour rows; the bucket column is the finest non-null grain.
    """
    ev = load(spark, sf_dir, "events").select(
        F.date_trunc("day", "ts").alias("d"),
        F.date_trunc("hour", "ts").alias("h"),
        "event_type",
        "value",
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
            dsum("value", "sum_value"),
        )
        .select(
            F.when(F.col("_g_h") == 1, "1d").otherwise("1h").alias("grain"),
            F.coalesce("h", "d").alias("bucket_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
        .orderBy("grain", "bucket_start", "event_type")
    )


# --------------------------------------------------------------------------
# q_late_events — watermark late-data accounting (batch twin of the
# streaming watermark drop rule).
# --------------------------------------------------------------------------

# The fixture's ingest id is perfectly time-ordered (zero inversions), so a
# deterministic md5 jitter of up to 350 sequence positions stands in for the
# out-of-order delivery a real ingest exhibits; production would use the
# actual arrival offset (Kafka offset / ingest sequence) column directly.
_LATE_JITTER = "(ascii(substr(md5(CAST(event_id AS VARCHAR)), 1, 1)) % 8) * 50"
_LATE_BATCH = 1000
_LATE_DELAY = "INTERVAL 5 MINUTE"


@query(
    "q_late_events",
    oracle=f"""
WITH arr AS (
  SELECT ts, event_id + {_LATE_JITTER} AS arrival_seq FROM events
),
e AS (
  SELECT ts, CAST(floor(arrival_seq / {_LATE_BATCH}) AS BIGINT) AS batch_id
  FROM arr
),
b AS (SELECT batch_id, MAX(ts) AS batch_max FROM e GROUP BY 1),
wm AS (
  SELECT batch_id,
    MAX(batch_max) OVER (ORDER BY batch_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    - {_LATE_DELAY} AS watermark
  FROM b
)
SELECT e.batch_id, wm.watermark,
  CAST(COUNT(*) AS BIGINT) AS n_events,
  CAST(coalesce(SUM(CASE WHEN e.ts < wm.watermark THEN 1 END), 0) AS BIGINT)
    AS n_late
FROM e JOIN wm USING (batch_id)
GROUP BY 1, 2
""",
    tags=("streaming-analog", "watermark"),
)
def q_late_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-arrival audit under Structured Streaming's watermark rule:
    per arrival micro-batch, how many events would the 5-minute
    watermark (high-water event time of all PRIOR batches, minus the
    delay) have dropped? The capacity-planning readout behind choosing
    ``withWatermark`` — too small a delay and this count is data loss.

    Scale shape — the running max over batches never runs through one
    task (the repo bans unpartitioned windows): batches are range-
    exchanged on batch_id, the within-partition prefix max is a
    PARTITIONED window, and the cross-partition carry is a partition-
    count-sized collect prefix-maxed on the driver and broadcast back —
    the ranking.with_global_rank construction (ranking.py:42) applied
    to prefix-max. Events then equi-join their batch's watermark (AQE
    picks broadcast when the batch relation fits) and the late flag is
    row-local. Batch relation is |events|/1000; every stage parallel.
    """
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    e = ev.select(
        "ts",
        F.floor(
            (
                F.col("event_id")
                + (
                    F.ascii(
                        F.substring(
                            F.md5(F.col("event_id").cast("string").cast("binary")),
                            1,
                            1,
                        )
                    )
                    % 8
                )
                * 50
            )
            / _LATE_BATCH
        ).alias("batch_id"),
    )
    p = int(spark.conf.get("spark.sql.shuffle.partitions"))

    def _ranged() -> DataFrame:
        return (
            e.groupBy("batch_id")
            .agg(F.max("ts").alias("batch_max"))
            .repartitionByRange(p, F.asc("batch_id"))
            .sortWithinPartitions("batch_id")
            .withColumn("_pid", F.spark_partition_id())
        )

    ranged = artifacts.cached("q_late_events.ranged", sf_dir, _ranged)
    stats = ranged.groupBy("_pid").agg(F.max("batch_max").alias("pmax")).collect()
    run = None
    recs = []
    for r in sorted(stats, key=lambda r: r["_pid"]):
        recs.append((r["_pid"], run))
        run = r["pmax"] if run is None or r["pmax"] > run else run
    carry = spark.createDataFrame(recs, "_pid int, carry_max timestamp")

    w = (
        Window.partitionBy("_pid")
        .orderBy("batch_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wm = (
        ranged.withColumn("local_prefix", F.max("batch_max").over(w))
        .join(F.broadcast(carry), "_pid")
        .select(
            "batch_id",
            (
                F.greatest(
                    F.coalesce("local_prefix", "carry_max"),
                    F.coalesce("carry_max", "local_prefix"),
                )
                - F.expr("INTERVAL 5 MINUTES")
            ).alias("watermark"),
        )
    )
    return (
        e.join(wm, "batch_id")
        .groupBy("batch_id", "watermark")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.coalesce(
                F.sum(F.when(F.col("ts") < F.col("watermark"), 1)), F.lit(0)
            )
            .cast("bigint")
            .alias("n_late"),
        )
    )
