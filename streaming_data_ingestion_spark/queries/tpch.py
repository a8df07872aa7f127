"""TPC-H classic query shapes over the driver fixtures (SURVEY.md §2B).

The reference repo has no analytical queries at all (its one dataflow is
JSON decode → project → sink, `/root/reference/spark-streaming.py:159-171`),
so this family is north-star mandate: the canonical multi-join +
aggregate + top-k shapes every warehouse user runs, adapted to the fixture
schema (no partsupp table; no l_shipmode/o_shippriority columns — the
nearest fixture column stands in and the adaptation is noted per query).

Scale posture shared by all five:
- the fact-side filter is applied BEFORE any join so the parquet scan
  prunes (PushedFilters) and the shuffle only carries surviving rows;
- dimensions (customer at 1.5 M rows/sf, part, supplier, nation) ride as
  broadcasts — the lineitem fact table never shuffles for them;
- lineitem⋈orders is the one genuine big-big join: both sides shuffle on
  the order key once, and AQE coalesces/skew-splits at runtime;
- every top-k carries a total-order tie-breaker so results are
  deterministic under any partitioning;
- revenue aggregates go through DECIMAL(38,10) (compat.dsum) so the hash
  matches DuckDB bit-for-bit regardless of summation order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from streaming_data_ingestion_spark import artifacts
from streaming_data_ingestion_spark.compat import (
    DEC,
    davg,
    dsum,
    sql_davg,
    sql_dec_to_double,
    sql_dsum,
)
from streaming_data_ingestion_spark.registry import query
from streaming_data_ingestion_spark.tables import load, spread_for_cpu

_REVENUE = "l_extendedprice * (1 - l_discount)"


def _revenue_col() -> F.Column:
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


# --------------------------------------------------------------------------
# q_tpch_q1 — pricing summary report (the TPC-H flagship aggregate).
# --------------------------------------------------------------------------

_CHARGE = "l_extendedprice * (1 - l_discount) * (1 + l_tax)"


@query(
    "q_tpch_q1",
    oracle=f"""
SELECT
  l_returnflag,
  l_linestatus,
  {sql_dsum("l_quantity", "sum_qty")},
  {sql_dsum("l_extendedprice", "sum_base_price")},
  {sql_dsum(_REVENUE, "sum_disc_price")},
  {sql_dsum(_CHARGE, "sum_charge")},
  {sql_davg("l_quantity", "avg_qty")},
  {sql_davg("l_extendedprice", "avg_price")},
  {sql_davg("l_discount", "avg_disc")},
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-08-06 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
    tags=("tpch", "agg"),
)
def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 (pricing summary): the full spec aggregate set — four
    sums, three averages, a count — per (returnflag, linestatus), with
    the spec's trailing-90-day shipdate cutoff adapted to the fixture's
    date range (max l_shipdate 2001-11-04 → cutoff 2001-08-06).

    Plan: the cutoff pushes into the parquet scan; ONE partial+final
    hash aggregate over ~6 groups — the shuffle carries one row per
    (group × partition), never fact rows. Row-level charge math stays in
    double (bit-identical per row), aggregation goes through
    DECIMAL(38,10) so partial-aggregation order cannot change the hash.
    """
    # ~12 decimal partial sums per surviving row are CPU-dominant, so the
    # filtered scan spreads to full parallelism when it arrives
    # single-row-group (spread_for_cpu is a no-op on a wide 100 TB scan);
    # the pushed filter stays at the scan, below the widening exchange.
    l = spread_for_cpu(
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") <= F.lit("2001-08-06").cast("timestamp"))
        .select(
            "l_returnflag", "l_linestatus", "l_quantity",
            "l_extendedprice", "l_discount", "l_tax",
        )
    )
    charge = _revenue_col() * (1 + F.col("l_tax"))
    return (
        l.groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            dsum(_revenue_col(), "sum_disc_price"),
            dsum(charge, "sum_charge"),
            davg("l_quantity", "avg_qty"),
            davg("l_extendedprice", "avg_price"),
            davg("l_discount", "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# --------------------------------------------------------------------------
# q_tpch_q3 — shipping priority: top-10 unshipped orders by revenue.
# --------------------------------------------------------------------------


@query(
    "q_tpch_q3",
    oracle=f"""
SELECT
  l.l_orderkey,
  {sql_dsum(_REVENUE, "revenue")},
  o.o_orderdate,
  o.o_orderpriority
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l.l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, o.o_orderdate ASC, l.l_orderkey ASC
LIMIT 10
""",
    tags=("tpch", "join", "agg", "topk"),
)
def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping priority): revenue of ordered-but-unshipped
    orders for one market segment, top 10.

    Adaptation: the fixture has no o_shippriority; o_orderpriority is
    carried instead (same role: a small attribute riding the group key).

    Plan: segment filter on customer → broadcast into orders; date
    filters push into both parquet scans; one shuffled join
    lineitem⋈orders; hash agg on the order key; TakeOrderedAndProject
    for the top 10 (no global sort materialization).
    """
    c = load(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    l = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(_revenue_col(), "revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(
            F.col("revenue").desc(),
            F.col("o_orderdate").asc(),
            F.col("l_orderkey").asc(),
        )
        .limit(10)
    )


# --------------------------------------------------------------------------
# q_tpch_q5 — local supplier volume: revenue by nation within one region.
# --------------------------------------------------------------------------


@query(
    "q_tpch_q5",
    oracle=f"""
SELECT
  n.n_name,
  {sql_dsum(_REVENUE, "revenue")}
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND c.c_nationkey = s.s_nationkey
  AND o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n.n_name
ORDER BY revenue DESC, n.n_name ASC
""",
    tags=("tpch", "join", "agg"),
)
def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 (local supplier volume): yearly revenue per nation from
    lineitems where the customer and supplier share the nation, scoped
    to one region — the 6-table star-join classic.

    Plan: region filter → nation prunes to the 5 regional nations on the
    driver-free broadcast path; supplier pre-joins that tiny nation set
    (cutting ~4/5 of suppliers BEFORE the fact join) and broadcasts into
    lineitem; the year filter prunes the orders scan; lineitem⋈orders is
    the single big-big shuffle; customer broadcasts with the
    same-nation equality as part of the join key. One nation-count-sized
    aggregate.
    """
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = load(spark, sf_dir, "nation")
    asian_n = n.join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    ).select("n_nationkey", "n_name")
    s = (
        load(spark, sf_dir, "supplier")
        .join(
            F.broadcast(asian_n),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    l = load(spark, sf_dir, "lineitem")
    c = load(spark, sf_dir, "customer")
    return (
        l.join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(
            F.broadcast(c),
            (F.col("o_custkey") == c.c_custkey)
            & (c.c_nationkey == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(dsum(_revenue_col(), "revenue"))
        .orderBy(F.col("revenue").desc(), F.col("n_name").asc())
    )


# --------------------------------------------------------------------------
# q_tpch_q6 — forecasting revenue change: the pure-pushdown aggregate.
# --------------------------------------------------------------------------


@query(
    "q_tpch_q6",
    oracle=f"""
SELECT {sql_dsum("l_extendedprice * l_discount", "revenue")}
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
    tags=("tpch", "agg"),
)
def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecasting revenue change): revenue that would have
    been gained by eliminating small discounts on low-quantity items.

    The whole query is predicate selectivity: ALL three filters (date
    range, discount band, quantity cap) must reach the parquet scan as
    PushedFilters so row groups outside the year are skipped on
    min/max stats — at 100 TB this query reads a fraction of one column
    stripe, not the table. One global decimal sum, no group keys.
    """
    l = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return l.agg(dsum(F.col("l_extendedprice") * F.col("l_discount"), "revenue"))


# --------------------------------------------------------------------------
# q_tpch_q10 — returned-item reporting: top-20 customers by lost revenue.
# --------------------------------------------------------------------------


@query(
    "q_tpch_q10",
    oracle=f"""
SELECT
  c.c_custkey,
  c.c_name,
  {sql_dsum(_REVENUE, "revenue")},
  c.c_acctbal,
  n.n_name
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE o.o_orderdate >= TIMESTAMP '1997-10-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
ORDER BY revenue DESC, c.c_custkey ASC
LIMIT 20
""",
    tags=("tpch", "join", "agg", "topk"),
)
def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 (returned items): which customers returned the most
    revenue in one quarter — the classic churn-investigation query.

    Plan: quarter filter prunes the orders scan, return-flag filter
    prunes lineitem (both pushed to parquet); lineitem⋈orders is the one
    shuffle; customer and nation broadcast; top-20 via
    TakeOrderedAndProject with c_custkey tie-break.
    """
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    l = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(dsum(_revenue_col(), "revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


# --------------------------------------------------------------------------
# q_tpch_q14 — promotion effect: promo share of monthly revenue.
# --------------------------------------------------------------------------


@query(
    "q_tpch_q14",
    oracle=f"""
SELECT
  100.0 * {sql_dec_to_double(
      f"SUM(CASE WHEN p.p_type = 'PROMO' "
      f"THEN CAST({_REVENUE} AS DECIMAL(38,10)) "
      f"ELSE CAST(0 AS DECIMAL(38,10)) END)"
  )}
  / {sql_dec_to_double(f"SUM(CAST({_REVENUE} AS DECIMAL(38,10)))")}
    AS promo_revenue_pct
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l.l_shipdate < TIMESTAMP '1997-02-01 00:00:00'
""",
    tags=("tpch", "join", "agg"),
)
def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promotion effect): percent of one month's revenue that
    came from promotional parts.

    The fixture's p_type enum contains a literal 'PROMO' value, so the
    predicate is equality instead of the spec's LIKE 'PROMO%' — same
    conditional-aggregate shape.

    Plan: month filter prunes the lineitem scan; part broadcasts (it is
    a dimension); a single partial+final conditional aggregate — no
    shuffle of fact rows at all, just the two decimal sums, then ONE
    IEEE division so the ratio is bit-identical cross-engine.
    """
    p = load(spark, sf_dir, "part")
    l = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-02-01").cast("timestamp"))
    )
    rev_dec = _revenue_col().cast(DEC)
    zero_dec = F.lit(0).cast(DEC)
    promo = F.when(F.col("p_type") == "PROMO", rev_dec).otherwise(zero_dec)
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .agg(
            F.sum(promo).cast("double").alias("_promo"),
            F.sum(rev_dec).cast("double").alias("_total"),
        )
        .select(
            (100.0 * F.col("_promo") / F.col("_total")).alias(
                "promo_revenue_pct"
            )
        )
    )


# --------------------------------------------------------------------------
# q_tpch_q15 — top supplier(s) by quarterly revenue.
# --------------------------------------------------------------------------


@query(
    "q_tpch_q15",
    oracle=f"""
WITH rev AS (
  SELECT
    l_suppkey AS supplier_no,
    SUM(CAST({_REVENUE} AS DECIMAL(38,10))) AS r
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT
  s.s_suppkey,
  s.s_name,
  {sql_dec_to_double("rev.r")} AS total_revenue
FROM rev
JOIN supplier s ON s.s_suppkey = rev.supplier_no
WHERE rev.r = (SELECT MAX(r) FROM rev)
ORDER BY s.s_suppkey ASC
""",
    tags=("tpch", "join", "agg", "subquery"),
)
def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier): supplier(s) whose quarterly revenue
    equals the maximum — the spec's view + scalar-subquery shape.

    The max comparison happens on the exact DECIMAL revenue (ties are
    real equality, not float luck); the double cast is output-only.

    Plan: quarter filter prunes the scan; one hash agg keyed on
    l_suppkey (supplier-count-sized result); the 1-row global max
    cross-joins back as a broadcast; supplier dimension broadcasts.
    """
    l = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    s = load(spark, sf_dir, "supplier")

    # Persist the supplier-count-sized revenue view: the 1-row max and
    # the equality filter are separate plan branches that each re-ran
    # the quarter-pruned fact aggregate without it (2 corpus passes → 1).
    rev = artifacts.cached(
        "q_tpch_q15.rev",
        sf_dir,
        lambda: l.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
            F.sum(_revenue_col().cast(DEC)).alias("r")
        ),
    )
    top = rev.agg(F.max("r").alias("r_max"))
    return (
        rev.join(F.broadcast(top), rev.r == top.r_max)
        .join(F.broadcast(s), F.col("supplier_no") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.col("r").cast("double").alias("total_revenue"),
        )
        .orderBy(F.col("s_suppkey").asc())
    )


# --------------------------------------------------------------------------
# q_tpch_q18 — large-volume customers (the HAVING-subquery classic).
# --------------------------------------------------------------------------


@query(
    "q_tpch_q18",
    oracle=f"""
WITH big AS (
  SELECT l_orderkey
  FROM lineitem
  GROUP BY l_orderkey
  HAVING SUM(CAST(l_quantity AS DECIMAL(38,10))) > 300
)
SELECT
  c.c_name,
  c.c_custkey,
  o.o_orderkey,
  o.o_orderdate,
  o.o_totalprice,
  {sql_dsum("l.l_quantity", "sum_qty")}
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderkey IN (SELECT l_orderkey FROM big)
GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
ORDER BY o.o_totalprice DESC, o.o_orderkey ASC
LIMIT 100
""",
    tags=("tpch", "join", "agg", "subquery", "topk"),
)
def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume customers): orders whose total quantity
    exceeds a threshold, with their customers, top-100 by price.

    The quantity threshold is 300 (fixture p99 ≈ 262, max ≈ 458, so the
    filter is selective like the spec's). The HAVING sum is exact
    decimal, so the cut is deterministic cross-engine.

    Plan (r13 re-grain, guide §2.4): the query's output grain IS the
    order, and the `big` HAVING aggregate already computes each order's
    exact-decimal quantity total — so `sum_qty` is read off `big`
    instead of re-joining lineitem and re-aggregating. That removes the
    second lineitem scan, the fact-sized o_orderkey shuffle join, and
    the final re-aggregation outright: lineitem is read ONCE (grouped
    map-side on l_orderkey), the tiny surviving-order set broadcasts
    into orders, customer broadcasts, top-100 via TakeOrderedAndProject.
    Bit-identical: grouping the joined rows at order grain summed
    exactly one order's lineitems — the very total `big` computed — and
    orders/customer are unique on their keys, so no row can duplicate
    or drop; the decimal sum is cast to double identically (dsum).
    """
    l = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast(DEC)).alias("q"))
        .filter(F.col("q") > 300)
    )
    return (
        o.join(F.broadcast(big), F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == c.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            F.col("q").cast("double").alias("sum_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(100)
    )


# --------------------------------------------------------------------------
# q_tpch_q19 — discounted revenue: the disjunctive-predicate join classic.
# --------------------------------------------------------------------------


_Q19_BANDS = (
    ("Brand#12", 1, 5, 1.0, 11.0),
    ("Brand#23", 1, 10, 10.0, 20.0),
    ("Brand#34", 1, 15, 20.0, 30.0),
)


@query(
    "q_tpch_q19",
    oracle=f"""
SELECT {sql_dsum(_REVENUE, "revenue")}, CAST(COUNT(*) AS BIGINT) AS n_items
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE
  {" OR ".join(
      f"(p.p_brand = '{b}' AND p.p_size BETWEEN {s0} AND {s1} "
      f"AND l.l_quantity BETWEEN {q0} AND {q1})"
      for b, s0, s1, q0, q1 in _Q19_BANDS
  )}
""",
    tags=("tpch", "join", "agg"),
)
def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 (discounted revenue): an OR of three (brand, size-band,
    quantity-band) conjunctions across the lineitem⋈part join — the
    canonical disjunctive-predicate stress test.

    Adaptation: the fixture's Brand#N space replaces the spec's
    Brand#NM; the container/shipmode legs are absent from the fixture so
    the disjunction is (brand, size, quantity), which preserves the
    planning challenge — a predicate that references BOTH sides of the
    join and cannot be fully pushed to either scan alone. The
    single-side conjuncts Catalyst CAN extract (brand/size on part,
    quantity bounds on lineitem) should still prune; part broadcasts;
    one conditional aggregate, no fact shuffle.
    """
    p = load(spark, sf_dir, "part")
    l = load(spark, sf_dir, "lineitem")
    cond = None
    for b, s0, s1, q0, q1 in _Q19_BANDS:
        leg = (
            (F.col("p_brand") == b)
            & F.col("p_size").between(s0, s1)
            & F.col("l_quantity").between(q0, q1)
        )
        cond = leg if cond is None else (cond | leg)
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(
            dsum(_revenue_col(), "revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# --------------------------------------------------------------------------
# q_cycle_time — order fulfillment latency distribution per priority.
# --------------------------------------------------------------------------


@query(
    "q_cycle_time",
    oracle="""
WITH first_ship AS (
  SELECT l_orderkey, MIN(l_shipdate) AS first_ship
  FROM lineitem GROUP BY l_orderkey
)
SELECT
  o.o_orderpriority,
  CAST(COUNT(*) AS BIGINT) AS n_orders,
  CAST(MIN(date_diff('day', o.o_orderdate, f.first_ship)) AS BIGINT)
    AS min_days,
  quantile_cont(date_diff('day', o.o_orderdate, f.first_ship), 0.5)
    AS p50_days,
  quantile_cont(date_diff('day', o.o_orderdate, f.first_ship), 0.95)
    AS p95_days,
  CAST(MAX(date_diff('day', o.o_orderdate, f.first_ship)) AS BIGINT)
    AS max_days
FROM orders o JOIN first_ship f ON o.o_orderkey = f.l_orderkey
GROUP BY o.o_orderpriority
""",
    tags=("tpch", "analytics"),
)
def q_cycle_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-first-shipment cycle time per order priority: the
    operational latency distribution (count, min/p50/p95/max days) —
    the supply-chain question the TPC-H schema exists to answer but no
    classic query asks directly.

    One fact aggregate reduces lineitem to per-order first-ship dates
    (orderkey-keyed, co-bucketable with orders at scale), one join, one
    exact-percentile rollup on integer day differences — `percentile` ≡
    DuckDB `quantile_cont` bit-exact on integers.
    """
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    first_ship = li.groupBy("l_orderkey").agg(
        F.min("l_shipdate").alias("first_ship")
    )
    days = F.datediff(F.col("first_ship"), F.col("o_orderdate"))
    return (
        o.join(first_ship, o.o_orderkey == first_ship.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min(days).cast("bigint").alias("min_days"),
            F.expr(
                "percentile(datediff(first_ship, o_orderdate), 0.5)"
            ).alias("p50_days"),
            F.expr(
                "percentile(datediff(first_ship, o_orderdate), 0.95)"
            ).alias("p95_days"),
            F.max(days).cast("bigint").alias("max_days"),
        )
    )
