"""Layout-proving queries: operators whose value is the PHYSICAL layout
they read through, verified end-to-end on a registered (oracle-checked)
path.

q_sim_ivfpq_index already proves the hive-partitioned + PartitionFilters
layout; this module does the same for the Z-ORDER clustering layout
(layout.write_zordered): a lineitem table clustered on
(shipdate, partkey) answers a two-dimensional range filter by skipping
most files on parquet footer min/max statistics. The RESULT is layout-
independent — so unlike the index query this one is fully hash-checked
against DuckDB running the identical filter over the RAW table.

Reference parity note: the reference (292-LoC ingest pipeline,
spark-streaming.py) has no storage-layout layer at all; this is part of
the §2B/north-star analytical surface.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from streaming_data_ingestion_spark import artifacts
from streaming_data_ingestion_spark.compat import dsum, sql_dsum
from streaming_data_ingestion_spark.registry import query
from streaming_data_ingestion_spark.tables import load

# 2-D predicate rectangle: ~4% of the shipdate span (fixture lineitem
# ships 1995-01..2001-11) × a low-partkey band (fixture partkeys start
# at 0: 12.5% of the domain at sf0.001, proportionally less at larger
# sf). Non-empty at every fixture scale.
_SHIP_LO, _SHIP_HI = "1996-01-01", "1996-03-31"
_PART_LO, _PART_HI = 0, 24


def zordered_lineitem_path(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per snapshot; the build is an action, a full write)
    and return the Z-ordered lineitem layout for
    ``sf_dir``: clustered on (days-since-epoch(l_shipdate), l_partkey)
    so each parquet file covers a small rectangle of that key space.
    The helper column used for interleaving is dropped before write;
    the stored schema is exactly the source lineitem schema."""

    def _build(path: str) -> str:
        from streaming_data_ingestion_spark.layout import zorder_value

        li = load(spark, sf_dir, "lineitem")
        # store date columns as DATE: the fixture ships them as
        # timestamps, which Spark writes as INT96 — a physical type with
        # NO parquet statistics, i.e. zero min/max skipping on the very
        # column the layout clusters. DATE lands as INT32 with full
        # stats (and 3× smaller); values are midnight-exact either way.
        for c in ("l_shipdate", "l_commitdate", "l_receiptdate"):
            if c in li.columns:
                li = li.withColumn(c, F.col(c).cast("date"))
        days = F.datediff(F.col("l_shipdate"), F.lit("1992-01-01"))
        bounds = li.agg(
            F.min(days).alias("d_lo"),
            F.max(days).alias("d_hi"),
            F.min("l_partkey").alias("p_lo"),
            F.max("l_partkey").alias("p_hi"),
        ).collect()[0]
        if bounds["d_lo"] is None:  # empty table: nothing to cluster
            li.write.mode("overwrite").parquet(path)
        else:
            z = zorder_value(
                [days, F.col("l_partkey")],
                [bounds["d_lo"], bounds["p_lo"]],
                [bounds["d_hi"], bounds["p_hi"]],
            )
            (
                li.withColumn("_z", z)
                .repartitionByRange(16, F.col("_z"))
                .sortWithinPartitions("_z")
                .drop("_z")
                .write.mode("overwrite")
                .parquet(path)
            )
        return path

    return artifacts.stored("lineitem_zorder", sf_dir, _build)


@query(
    "q_zorder_scan",
    oracle=f"""
SELECT
  l_returnflag,
  CAST(COUNT(*) AS BIGINT) AS n_rows,
  {sql_dsum("l_quantity", "sum_qty")},
  {sql_dsum("l_extendedprice", "sum_price")},
  CAST(MIN(l_partkey) AS BIGINT) AS min_part,
  CAST(MAX(l_partkey) AS BIGINT) AS max_part
FROM lineitem
WHERE l_shipdate BETWEEN DATE '{_SHIP_LO}' AND DATE '{_SHIP_HI}'
  AND l_partkey BETWEEN {_PART_LO} AND {_PART_HI}
GROUP BY l_returnflag
""",
    tags=("layout", "scan", "tpch"),
)
def q_zorder_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-dimensional range scan THROUGH the Z-ordered lineitem layout:
    filter on (l_shipdate × l_partkey), aggregate per return flag.

    Why this layout (and not partitioning or bucketing): hive
    partitioning prunes on ONE coarse key and bucketing serves ONE join
    key, but a scan filtered on TWO range dimensions needs files whose
    footer min/max rectangles are SMALL IN BOTH — exactly what the
    Morton interleave produces. Both predicates push down to the parquet
    reader (plan-asserted in tests/test_layout.py), which skips whole
    row groups/files whose stats miss the rectangle;
    test_zorder_layout_skips_files proves the skip set is a strict
    subset vs. a round-robin layout of the same data. At 100 TB this is
    the difference between scanning ~2 files and scanning the fact
    table.

    The RESULT is layout-independent, so the oracle hash-checks it
    against DuckDB over the raw table — the layout only has to be
    faster, never different. Sums use the compat.dsum decimal discipline
    for cross-engine bit-exactness.
    """
    path = zordered_lineitem_path(spark, sf_dir)
    li = spark.read.parquet(path)
    return (
        li.filter(
            F.col("l_shipdate").between(_SHIP_LO, _SHIP_HI)
            & F.col("l_partkey").between(_PART_LO, _PART_HI)
        )
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_price"),
            F.min("l_partkey").cast("bigint").alias("min_part"),
            F.max("l_partkey").cast("bigint").alias("max_part"),
        )
    )


# --------------------------------------------------------------------------
# q_bucketed_join — the co-bucketed BIG⋈BIG join as a registered, driver-
# hashed read path. docs/SCALE.md's central big-join claim (bucket both
# fact tables on the join key once; every subsequent join plans with
# ZERO Exchange) was previously proven only on toy frames in
# tests/test_layout.py — this key runs it through STORED bucketed copies
# of the actual sf fixtures, so the driver hash certifies
# write-bucketed → catalog read → joined result end-to-end.
# --------------------------------------------------------------------------

_BUCKETS = 8

# NOTE (verdict r9): q_bucketed_join stays OUT of tests/test_plans.py's
# _SWEEP_SKIP on purpose — its exchange-free join plan is what the
# sweeps inspect — so the FIRST plan build of each snapshot pays the two
# bucketed writes eagerly; every later build of it is free.


def bucketed_pair_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Build (once per snapshot) lineitem and orders bucketed INTO THE
    SAME hash space — 8 buckets on the orderkey — and return the two
    table names. The write-time shuffle is the one unavoidable exchange,
    paid once; every later orderkey join between them is co-located.
    Files live under one artifact directory; the catalog entries, named
    after it, carry the bucket spec."""

    def _build(root: str) -> tuple[str, str]:
        from streaming_data_ingestion_spark.layout import write_bucketed

        tables = []
        for src, key in (("lineitem", "l_orderkey"), ("orders", "o_orderkey")):
            name = f"{src}_{os.path.basename(root)}"
            write_bucketed(
                load(spark, sf_dir, src),
                name,
                [key],
                _BUCKETS,
                sort_cols=[key],
                path=os.path.join(root, src),
            )
            tables.append(name)
        return tuple(tables)

    return artifacts.stored("bucketed_pair", sf_dir, _build)


@query(
    "q_bucketed_join",
    oracle=f"""
SELECT
  o_orderpriority,
  CAST(COUNT(*) AS BIGINT) AS n_items,
  {sql_dsum("l_quantity", "sum_qty")},
  {sql_dsum("l_extendedprice * (1 - l_discount)", "revenue")}
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o_orderpriority
""",
    tags=("layout", "join", "tpch"),
)
def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem ⋈ orders on the orderkey THROUGH stored co-bucketed
    tables, aggregated per order priority.

    The two fact tables are the big-big join Spark cannot broadcast at
    real scale; bucketing both on the join key at write time makes the
    join a per-bucket merge with NO Exchange on either side —
    tests/test_layout.py::test_registered_bucketed_join_no_shuffle
    asserts exactly that on THESE stored fixtures (broadcast disabled so
    layout, not size, decides the plan; the only exchange left is the
    5-group aggregation above the join). The RESULT is layout-
    independent, so the oracle hash-checks it against DuckDB over the
    raw tables — the bucketed path has to be shuffle-free, never
    different. Sums use the compat.dsum decimal discipline.

    At 100 TB: the write-time shuffle amortizes over every downstream
    orderkey join/aggregation; sortBy on the bucket key additionally
    lets single-file buckets skip the per-task sort (Spark keeps the
    sort when a bucket spans files).
    """
    lt, ot = bucketed_pair_tables(spark, sf_dir)
    li = spark.table(lt)
    od = spark.table(ot)
    return (
        li.join(od, li["l_orderkey"] == od["o_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
            dsum("l_quantity", "sum_qty"),
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")),
                "revenue",
            ),
        )
    )
