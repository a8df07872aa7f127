"""Stream-STREAM event-time interval join: click→purchase conversion
attribution where BOTH sides are unbounded streams.

Every other join in the repo has at least one bounded side
(stream-static: streaming/windows.py; batch asof/range: queries/
joins.py). The genuinely two-stream case needs Structured Streaming's
stream-stream join machinery: each side is watermarked, the join
carries an event-time RANGE constraint, and the state store retains
only rows young enough (by watermark + constraint) to still find a
partner — Spark derives the state eviction bound from the constraint,
which is why an UNBOUNDED stream-stream join (no time range) is
rejected for append sinks.

Scale shape: state is bounded by (watermark lag + join window) × input
rate per side — independent of stream history; the join itself shuffles
both sides on the equi key (user_id), exactly the batch plan, applied
incrementally.

Exactly-once: the parquet sink + checkpoint pair gives end-to-end
exactly-once for append-mode stream-stream inner joins (file-sink
manifest commits per epoch); no custom idempotence machinery needed —
this is the one sink shape where Spark's own guarantee suffices, in
contrast to the foreachBatch modules (mv.py et al.) which need the
epoch-marker protocol because they do multi-table merges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

# Conversion window: a purchase attributes to a click at most this many
# seconds before it.
DEFAULT_WINDOW_S = 3600


def conversion_pairs(
    clicks: DataFrame,
    purchases: DataFrame,
    window_s: int = DEFAULT_WINDOW_S,
    watermark: str = "30 days",
    how: str = "inner",
) -> DataFrame:
    """(click_id, purchase_id, user_id, click_ts, purchase_ts) pairs
    where the purchase follows the click within ``window_s`` seconds,
    per user — works on two STREAMING frames (watermarked, range
    constraint bounds the state) and, identically, on two batch frames
    (the test twin: same expression tree, no watermarks needed).

    The full outer-join matrix Spark supports for stream-stream joins is
    exposed through ``how``: ``left_outer`` additionally emits
    unconverted clicks with NULL purchase columns, ``right_outer`` emits
    orphan purchases (no attributable click — the fraud/direct-traffic
    readout) with NULL click columns, and ``full_outer`` emits both.
    Streaming semantics differ by construction: the inner part emits as
    matches arrive, but an UNMATCHED row can only emit once the
    watermark proves no future partner can still match — for a click,
    when click_ts + window < watermark; for a purchase, when
    purchase_ts < watermark (a later click could otherwise still land
    inside [purchase_ts − window, purchase_ts]). So at any finite point
    the streamed outer result covers matched pairs completely but NULL
    rows only for provably-expired orphans (each mode pinned in
    tests/test_streaming.py::test_stream_stream_{left,right,full}_outer_join).

    ``user_id`` is taken from whichever side is present
    (coalesce(c_user, p_user)) so outer rows always carry the user.
    """
    c = clicks.select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
    )
    p = purchases.select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
    )
    if clicks.isStreaming:
        c = c.withWatermark("click_ts", watermark)
        p = p.withWatermark("purchase_ts", watermark)
    cond = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr(f"INTERVAL {window_s} SECONDS")
        )
    )
    return c.join(p, cond, how).select(
        "click_id",
        "purchase_id",
        F.coalesce(F.col("c_user"), F.col("p_user")).alias("user_id"),
        "click_ts",
        "purchase_ts",
    )


def maintain_conversions(
    clicks_stream: DataFrame,
    purchases_stream: DataFrame,
    out_path: str,
    checkpoint_dir: str,
    window_s: int = DEFAULT_WINDOW_S,
    watermark: str = "30 days",
    how: str = "inner",
) -> StreamingQuery:
    """Continuously materialize the conversion-pair table from two event
    streams. Append-mode parquet sink: Spark's file-sink manifest gives
    exactly-once; rows land once their watermark window closes."""
    pairs = conversion_pairs(
        clicks_stream, purchases_stream, window_s, watermark, how
    )
    return (
        pairs.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
