"""Distributed exact global ranking — the scale-safe substitute for a
single-partition window.

``Window.orderBy(...)`` with no partition spec moves the ENTIRE input
through one task (Spark even warns: "No Partition Defined for Window
operation"); exact row numbering, NTILE binning, and top-fraction cuts
over a fact table therefore cannot use it at 100 TB. The classic
distributed construction used here instead:

1. ``repartitionByRange`` on the order key — a PARALLEL range exchange
   (sampled boundaries), the same machinery behind a distributed ORDER
   BY; partition ids come out ascending in key order.
2. ``sortWithinPartitions`` + ``monotonically_increasing_id`` — a local
   per-partition dense sequence in sorted order. Beyond the documented
   "ascending within a partition" contract, the offset arithmetic
   additionally relies on the ids being CONSECUTIVE within each
   partition (true of the current implementation: base = pid << 33 plus
   a per-row counter). That stronger assumption is CHECKED, not
   trusted: the stats pass also aggregates max(id) and fails loudly if
   any partition has max − min + 1 ≠ count, so a future Spark that
   introduced gaps would raise instead of silently producing
   overlapping ranks.
3. One tiny aggregate (rows = #partitions) collects per-partition counts
   and id bases; the driver prefix-sums counts into offsets and
   broadcast-joins them back. global rank = offset + (id − base) + 1.

Cost: ONE range shuffle of the input plus a partition-count-sized
aggregate and broadcast — every stage parallel, nothing single-partition.
Determinism: with a unique order key the within-partition order is fully
determined, so ranks are reproducible on any cluster layout.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from streaming_data_ingestion_spark import artifacts

_PID = "__rank_pid"
_MID = "__rank_mid"


def with_global_rank(
    df: DataFrame,
    order_cols: list[str],
    rank_col: str = "rank",
    num_partitions: int | None = None,
    cache: tuple[str, str] | None = None,
    group_col: str | None = None,
):
    """Append an exact 1-based global row number by ``order_cols``.

    ``order_cols`` should end in a unique tie-break (a primary key) so
    the total order — and therefore every rank — is deterministic.
    Returns ``(df_with_rank, total_row_count)``; the count rides along
    for free from the offset pass (NTILE-style consumers need it).

    ``cache=(kind, sf_dir)`` routes the ranged intermediate through
    ``artifacts.cached`` (one live entry per kind, keyed on the snapshot
    of ``sf_dir``); without it the intermediate is plain-persisted and
    lives until the session drops it.

    ``group_col`` (must be ``order_cols[0]``): additionally returns a
    small offsets DataFrame ``(group_col, __grp_base, __grp_n)`` —
    per-group min rank and count — as a THIRD tuple element, derived
    from the SAME single stats job. Per-group consumers previously ran
    their own ``groupBy(group).agg(min(rank), count)`` pass over the
    ranked cache; but with the group leading the range-sort order a
    group's rows are contiguous in the total order, so its base/count
    fall out of the per-(partition, group) counts the offset pass
    already collects — one job instead of two, values identical by
    construction (base = the global position of the group's first row).
    """
    spark = df.sparkSession
    p = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    if group_col is not None and (
        not order_cols or order_cols[0] != group_col
    ):
        raise ValueError("group_col must lead order_cols")

    def _build() -> DataFrame:
        return (
            df.repartitionByRange(p, *[F.asc(c) for c in order_cols])
            .sortWithinPartitions(*order_cols)
            .select(
                "*",
                F.spark_partition_id().alias(_PID),
                F.monotonically_increasing_id().alias(_MID),
            )
        )

    # persist: the offset pass and the final consumer must see the SAME
    # physical layout (it is deterministic either way with a unique key,
    # but persisting avoids paying the range shuffle twice)
    if cache is not None:
        tagged = artifacts.cached(cache[0], cache[1], _build)
    else:
        tagged = _build().persist()
    grp_keys = [_PID] + ([group_col] if group_col is not None else [])
    stats = tagged.groupBy(*grp_keys).agg(
        F.count(F.lit(1)).alias("n"),
        F.min(_MID).alias("m0"),
        F.max(_MID).alias("m1"),
    ).collect()
    # fold group rows up to per-pid rows for the offset walk + the
    # consecutive-id check (groups tile a partition, so the pid span is
    # [min m0, max m1] and the pid count is Σ group counts)
    by_pid: dict[int, list] = {}
    for r in stats:
        by_pid.setdefault(r[_PID], []).append(r)
    offset = 0
    recs = []
    grp_base: dict = {}
    grp_n: dict = {}
    for pid in sorted(by_pid):
        rows = by_pid[pid]
        m0 = min(r["m0"] for r in rows)
        m1 = max(r["m1"] for r in rows)
        n = sum(r["n"] for r in rows)
        if m1 - m0 + 1 != n:
            raise AssertionError(
                "monotonically_increasing_id produced non-consecutive ids "
                f"within partition {pid} (span {m1 - m0 + 1} "
                f"!= count {n}); global-rank offsets would be wrong"
            )
        recs.append((pid, offset, m0))
        if group_col is not None:
            for r in rows:
                g = r[group_col]
                base = offset + (r["m0"] - m0) + 1
                if g not in grp_base or base < grp_base[g]:
                    grp_base[g] = base
                grp_n[g] = grp_n.get(g, 0) + r["n"]
        offset += n
    total = offset
    offsets = spark.createDataFrame(
        recs, f"{_PID} int, __rank_off long, __rank_m0 long"
    )
    out = (
        tagged.join(F.broadcast(offsets), _PID)
        .withColumn(
            rank_col,
            F.col("__rank_off") + (F.col(_MID) - F.col("__rank_m0")) + F.lit(1),
        )
        .drop(_PID, _MID, "__rank_off", "__rank_m0")
    )
    if group_col is None:
        return out, total
    gtype = tagged.schema[group_col].dataType.simpleString()
    # None-first sort key: repartitionByRange(asc) routes null-group rows
    # into the stats (nulls first), and a plain sorted() raises TypeError
    # when None meets a non-null value (ADVICE r12). Current callers pass
    # non-null group columns; this keeps the helper generic.
    goffs = spark.createDataFrame(
        [
            (g, grp_base[g], grp_n[g])
            for g in sorted(grp_base, key=lambda g: (g is not None, g))
        ],
        f"`{group_col}` {gtype}, __grp_base long, __grp_n long",
    )
    return out, total, goffs


def ntile_of_rank(rank: Column, n_total: int, n_tiles: int) -> Column:
    """SQL NTILE(n_tiles) bin of a 1-based global rank over n_total rows.

    NTILE semantics: the first ``n_total mod n_tiles`` bins hold
    ``ceil(n/t)`` rows, the rest ``floor(n/t)`` — reproduced here as a
    closed-form expression over the rank, bit-identical to the window
    function on the same total order.
    """
    q, m = divmod(n_total, n_tiles)
    if q == 0:
        return rank.cast("int")
    big = m * (q + 1)  # rows covered by the (q+1)-sized leading bins
    return (
        F.when(rank <= big, F.ceil(rank / F.lit(q + 1)))
        .otherwise(F.lit(m) + F.ceil((rank - F.lit(big)) / F.lit(q)))
        .cast("int")
    )
