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

Generated code stays compiled across passes. Spark keeps the classes
Janino compiles for whole-stage codegen in one LRU cache whose default
size is 100. One pass over the eight perfbench analytic keys emits
150-170 distinct classes and one over the registry about 3,600, so a
program that cycles through its keys evicted each class before its next
use and recompiled every stage on every pass; a class compiled afresh
also starts interpreted, so the JIT never warmed it. The cache is sized
to the measured working set instead, and bench.py records the classes
each key compiles (docs/BENCH_NOTES.md, round 17).
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
        # Codegen class cache: the smallest power of two above the
        # working set of generated classes (bench.py's grouped run
        # compiles 3,108 classes at sf0.1, all 300 keys 3,780;
        # keeping them costs about 16 KB of non-heap each, +55 MB over
        # the registry: BENCH_NOTES round 17). A static conf: it takes
        # effect only when the JVM starts.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
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
