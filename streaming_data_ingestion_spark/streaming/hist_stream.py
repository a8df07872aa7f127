"""Streaming quantile maintenance: an incrementally-merged fixed-boundary
histogram over a value stream.

Third member of the mergeable-sketch trio the streaming modules maintain:
Count-Min (frequency, cms_stream.py), Datasketches HLL (cardinality,
q_hll_rollup_union's pattern), and here a fixed-boundary histogram for
DISTRIBUTIONS — the p50/p95/p99 latency dashboard over a stream that can
never afford to rescan history. Like the CMS grid, bin counts are
mergeable by plain ADDITION, so each micro-batch:

1. bins ITS OWN rows into the fixed [lo, hi)×bins grid (map-side
   combined to ≤ bins+2 rows, under/overflow bins included),
2. sums the partial into the stored histogram through the idempotent
   merge (streaming/sink.merge_additive) — replay-safe via
   per-partition epoch markers.

Quantiles are then served from the ≤ bins+2-row table with linear
interpolation inside the hit bin: a rank-error bound of one bin width,
fixed at write time, independent of stream length. The invariant the
test pins: after any batch split with replays anywhere, the stored
histogram equals the one-shot batch histogram BIT-FOR-BIT (counts are
exact integers), so quantile readouts are identical too.

Boundaries are fixed up front (lo, hi, bins) because mergeability
demands it — adaptive boundaries (t-digest style) would need a custom
merge UDAF; the fixed grid is what Spark's built-ins express exactly,
and at 100 TB the value domain of a metric column is known.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from streaming_data_ingestion_spark.streaming.sink import merge_additive, start

_BINS = 256
_PART_WIDTH = 64  # bins per storage partition directory


def hist_partial(
    df: DataFrame, col: str, lo: float, hi: float, bins: int = _BINS
) -> DataFrame:
    """Fixed-boundary bin counts of ONE slice: (pk, bin, n BIGINT).
    bin −1 holds underflow, ``bins`` overflow; NULLs are dropped (a
    NULL metric is absence, not a value). ``pk`` groups bins into
    storage partitions so the merge's dynamic overwrite touches a
    handful of directories."""
    width = (float(hi) - float(lo)) / bins
    x = F.col(col).cast("double")
    b = (
        F.when(x < lo, F.lit(-1))
        .when(x >= hi, F.lit(bins))
        .otherwise(F.floor((x - lo) / width).cast("int"))
    )
    return (
        df.filter(x.isNotNull())
        .select(b.alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .select(
            F.floor((F.col("bin") + 1) / _PART_WIDTH).cast("int").alias("pk"),
            "bin",
            "n",
        )
    )


def merge_value_hist(
    table_path: str,
    col: str,
    lo: float,
    hi: float,
    bins: int = _BINS,
    run_ns: str | None = None,
):
    """foreachBatch writer: sum this batch's bin counts into the stored
    histogram. Idempotent under epoch replay via the shared marker
    protocol."""

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        merge_additive(
            hist_partial(batch_df, col, lo, hi, bins),
            table_path,
            key_cols=["pk", "bin"],
            sum_cols=["n"],
            part_cols=["pk"],
            epoch_id=epoch_id,
            run_ns=run_ns,
        )

    return write_batch


def maintain_value_hist(
    stream: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    col: str,
    lo: float,
    hi: float,
    bins: int = _BINS,
) -> StreamingQuery:
    """Continuously maintain the value histogram from a stream. Read the
    table as plain parquet; answer quantiles with
    :func:`quantiles_from_hist`."""
    return start(
        stream,
        merge_value_hist(table_path, col, lo, hi, bins),
        checkpoint_dir,
    )


def quantiles_from_hist(
    spark: SparkSession,
    table_path: str,
    qs: list[float],
    lo: float,
    hi: float,
    bins: int = _BINS,
) -> dict[float, float]:
    """Quantile readout: cumulative walk over the ≤ bins+2-row stored
    histogram with linear interpolation inside the hit bin. Rank error
    ≤ one bin's mass; value error ≤ one bin width for in-range data.
    Under/overflow bins clamp to the boundary values."""
    rows = sorted(
        (
            (r["bin"], r["n"])
            for r in spark.read.parquet(table_path)
            .select("bin", "n")
            .collect()
        ),
    )
    total = sum(n for _, n in rows)
    if total == 0:
        return {q: float("nan") for q in qs}
    width = (float(hi) - float(lo)) / bins
    out: dict[float, float] = {}
    for q in sorted(qs):
        target = q * total
        cum = 0
        val = float(hi)
        for b, n in rows:
            if cum + n >= target:
                if b < 0:
                    val = float(lo)
                elif b >= bins:
                    val = float(hi)
                else:
                    frac = (target - cum) / n if n else 0.0
                    val = lo + (b + frac) * width
                break
            cum += n
        out[q] = val
    return out
