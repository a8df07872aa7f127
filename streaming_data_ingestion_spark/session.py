"""SparkSession factory.

Mirrors the intent of the reference's session bootstrap
(/root/reference/spark-streaming.py:111-127) — master URL, graceful streaming
shutdown, explicit shuffle width — minus its defects (mixed-Scala jars,
Windows-only native paths), and adds the scale-oriented defaults the
reference lacks: AQE (runtime re-planning, skew-join handling, partition
coalescing), Arrow for pandas interchange, UTC session time zone (required
for cross-engine result stability), and a broadcast threshold so small
dimensions never shuffle.

At 100 TB these settings are the difference between a plan that works and
one that falls over: AQE coalesces the post-shuffle partitions to match the
actual data volume, skew-join splitting bounds the largest task, and the
shuffle width is configured per-deployment rather than hard-coded to the
reference's 4 (/root/reference/spark-streaming.py:118).

AQE coalesces persisted plans too: by default a cached plan keeps every
shuffle partition, so a few hundred cached rows (the LSH pair set, a sink
epoch's delta) ran 32-task stages and wrote one file per partition
(docs/BENCH_NOTES.md, round 15). Large ones keep advisory-size partitions.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "streaming-data-ingestion-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-sane defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``)
    for single-node runs; on a real cluster, pass ``None`` and let
    spark-submit supply the master.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Shuffle width: ~cores locally; AQE coalesces down when volume is small.
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: runtime partition coalescing, join re-planning, skew splitting.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        # Arrow for pandas UDFs / toPandas — the only acceptable Python boundary.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Deterministic cross-engine timestamps (DuckDB is UTC-naive).
        .config("spark.sql.session.timeZone", "UTC")
        # Broadcast small dims (region/nation/supplier) instead of shuffling facts.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Graceful stop for streaming queries (reference parity:
        # /root/reference/spark-streaming.py:117).
        .config("spark.streaming.stopGracefullyOnShutdown", "true")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
