"""Streaming heavy-hitter maintenance: an incrementally-merged Count-Min
grid over a document stream.

The batch sketch (queries/sketches.py q_heavy_hitters_cms) answers "which
tokens exceed φ of all occurrences" with one corpus pass. A 100 TB corpus
that GROWS cannot re-pass history per refresh — but a CMS grid is
mergeable by ADDITION (cell counts are plain sums), so the streaming form
stores one 4×1024 grid table and each micro-batch:

1. computes ITS OWN grid partial (batch-sized work, map-side combined to
   ≤ 4096 rows — queries/sketches.cms_grid_partial, the same tokenization
   and hashing as the batch sketch, so grids are bit-compatible),
2. merges it into the stored grid by summing cell counts, through the
   same idempotent merge as the incremental MVs (streaming/sink.py):
   per-partition epoch markers namespaced by the checkpoint's query id
   make at-least-once redelivery a no-op.

The maintained invariant (pinned by tests/test_streaming.py): after any
sequence of micro-batches, with replays injected anywhere, the stored
grid EQUALS the batch grid over the cumulative prefix bit-for-bit — so
any candidate's min-cell estimate, and the φ cut itself, are identical to
what the one-shot sketch would report. The total occurrence count needs
no separate state: every occurrence contributes exactly one bucket per
sketch row, so Σ n over any single row r IS the total.

This is the same mergeable-sketch pattern as the HLL rollup
(q_hll_rollup_union) applied to frequency instead of cardinality — the
two sketches a streaming corpus dashboard maintains side by side.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from streaming_data_ingestion_spark.queries.sketches import (
    _CMS_DEPTH,
    _bucket,
    cms_grid_partial,
)
from streaming_data_ingestion_spark.streaming.sink import (
    merge_additive,
    read_if_exists,
    start,
)


def _shape_path(table_path: str) -> str:
    """Sidecar parquet holding the ONE (width, depth) the grid at
    ``table_path`` is maintained with — a sibling path, so the grid
    table's own reader glob never sees it."""
    return table_path.rstrip("/") + "_shape"


def _read_shape(spark: SparkSession, table_path: str) -> tuple[int, int] | None:
    """The persisted grid shape, or None ONLY when the sidecar does not
    exist (a table that predates it). Any other failure — a transient
    read error, a corrupt sidecar — re-raises (``sink.read_if_exists``):
    swallowing it would let a mis-configured writer treat the table as
    legacy, publish ITS shape over the correct sidecar, and merge
    mis-shaped partials — the exact corruption the guard exists to
    prevent."""
    sidecar = read_if_exists(spark, _shape_path(table_path))
    if sidecar is None:
        return None
    row = sidecar.collect()[0]
    return int(row["width"]), int(row["depth"])


def _publish_shape(
    spark: SparkSession, table_path: str, width: int, depth: int
) -> tuple[int, int] | None:
    """Publish the grid shape atomically: write a temp directory, then
    rename it into place, so a reader sees no sidecar or a whole one —
    never a half-written directory. If another writer published first,
    the rename fails and its shape is returned for validation."""
    final = _shape_path(table_path)
    tmp = f"{final}.tmp-{uuid.uuid4().hex}"
    spark.createDataFrame(
        [(int(width), int(depth))], "width int, depth int"
    ).coalesce(1).write.parquet(tmp)
    try:
        os.rename(tmp, final)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
        return _read_shape(spark, table_path)
    return int(width), int(depth)


def merge_cms_grid(
    table_path: str,
    run_ns: str | None = None,
    width: int | None = None,
    depth: int | None = None,
):
    """foreachBatch writer: sum this batch's grid partial into the stored
    cell table (default shape 4×1024), partitioned by sketch row ``r``
    (``depth`` directories; a batch touches each at most once).
    Idempotent under epoch replay via the shared per-partition marker
    protocol. One ``table_path`` holds ONE grid shape: partials of
    different (width, depth) must never be summed into the same table —
    summing mis-shaped partials corrupts the grid unrecoverably — so the
    shape is PERSISTED with the grid (a one-row parquet sidecar at
    ``<table_path>_shape``, published before the first merge) and every
    writer validates its configured shape against it: a writer configured
    differently than the table was maintained with raises instead of
    merging. Pass the shape explicitly when maintaining a non-default
    grid; the error-law guard (queries/sketches.check_cms_params) sizes
    it."""
    from streaming_data_ingestion_spark.queries import sketches as _sk

    w = _sk._CMS_WIDTH if width is None else width
    d = _CMS_DEPTH if depth is None else depth
    shape_ok: list[bool] = []  # per-writer memo: validate/publish once

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if not shape_ok:
            spark = batch_df.sparkSession
            stored = _read_shape(spark, table_path) or _publish_shape(
                spark, table_path, w, d
            )
            if stored != (w, d):
                raise ValueError(
                    f"grid at {table_path} is maintained with shape "
                    f"{stored[1]}x{stored[0]} (depth x width) but this "
                    f"writer is configured {d}x{w} — refusing to merge "
                    f"mis-shaped partials"
                )
            shape_ok.append(True)
        merge_additive(
            cms_grid_partial(batch_df, width=w, depth=d),
            table_path,
            key_cols=["r", "bucket"],
            sum_cols=["n"],
            part_cols=["r"],
            epoch_id=epoch_id,
            run_ns=run_ns,
        )

    return write_batch


def maintain_cms_grid(
    docs_stream: DataFrame,
    table_path: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Continuously maintain the Count-Min grid from a documents stream.
    Read the grid as plain parquet at ``table_path``; estimate with
    :func:`estimate_tokens`."""
    return start(docs_stream, merge_cms_grid(table_path), checkpoint_dir)


def estimate_tokens(
    spark: SparkSession,
    table_path: str,
    tokens: DataFrame,
    phi_denom: int = 200,
    width: int | None = None,
    depth: int | None = None,
) -> DataFrame:
    """CMS point queries against the stored grid: for each (token) row,
    the min-cell estimate ``est`` (≥ the true count, never less) and
    ``is_heavy`` — est·phi_denom ≥ total — using the integer
    cross-multiplied threshold of the batch sketch.

    Plan: the grid is ≤ depth·width rows + depth markers — read once,
    the per-row slices broadcast; each probe token computes its bucket
    ids row-side and looks its cells up via broadcast hash joins. Zero
    shuffles beyond the probe set itself, any number of probes.
    width/depth must match the shape the grid was MAINTAINED with
    (defaults = the registered 4×1024): a mismatch probes the wrong
    buckets, and a grid maintained NARROWER than declared would pass an
    observed-range check yet coalesce missing cells to 0 — silently
    under-estimating and breaking the est ≥ true invariant. The guard
    therefore compares against the shape PERSISTED with the grid (the
    ``<table_path>_shape`` sidecar the maintainer publishes) in BOTH
    directions; only a legacy table without a sidecar falls back to the
    one-directional observed-range heuristic.
    """
    from streaming_data_ingestion_spark.queries import sketches as _sk

    w = _sk._CMS_WIDTH if width is None else width
    d = _CMS_DEPTH if depth is None else depth
    grid = spark.read.parquet(table_path)
    stored = _read_shape(spark, table_path)
    if stored is not None:
        if stored != (w, d):
            raise ValueError(
                f"grid at {table_path} is maintained with shape "
                f"{stored[1]}x{stored[0]} (depth x width) but the probe "
                f"declares {d}x{w}; probe with the maintainer's shape"
            )
    else:  # legacy table without a sidecar: observed-range heuristic
        shape = grid.agg(
            F.max("r").alias("rmax"), F.max("bucket").alias("bmax")
        ).collect()[0]
        if shape["rmax"] is not None and (
            shape["rmax"] >= d or shape["bmax"] >= w
        ):
            raise ValueError(
                f"stored grid at {table_path} has r<= {shape['rmax']}, "
                f"bucket <= {shape['bmax']} — inconsistent with declared "
                f"shape {d}x{w}; probe with the shape the maintainer used"
            )
    # total = sum over one sketch row (every occurrence hits each row once)
    total = int(
        grid.filter(F.col("r") == 0)
        .agg(F.sum("n").cast("bigint").alias("t"))
        .collect()[0]["t"]
        or 0
    )
    out = tokens
    for r in range(d):
        grid_r = grid.filter(F.col("r") == r).select(
            F.col("bucket").alias(f"_b{r}"), F.col("n").alias(f"_n{r}")
        )
        out = out.withColumn(f"_b{r}", _bucket(F.col("token"), r, w)).join(
            F.broadcast(grid_r), f"_b{r}", "left"
        )
    est = F.least(
        *[F.coalesce(F.col(f"_n{r}"), F.lit(0)) for r in range(d)]
    ).cast("bigint")
    return out.select(
        "token",
        est.alias("est"),
        (est * phi_denom >= F.lit(total)).alias("is_heavy"),
    )
