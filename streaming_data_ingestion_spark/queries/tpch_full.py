"""TPC-H suite completion: the 13 classic shapes not in tpch.py.

With these, all 22 TPC-H query *shapes* are registered (tpch.py carries
Q1/Q3/Q5/Q6/Q10/Q14/Q15/Q18/Q19). The reference repo has no analytical
queries (its one dataflow is JSON decode → project → sink,
/root/reference/spark-streaming.py:159-171), so, like tpch.py, this family
is north-star mandate: the remaining canonical warehouse shapes —
correlated EXISTS / NOT EXISTS, anti joins, scalar-subquery HAVING,
min-per-group selection, distribution-of-counts — adapted to the fixture
schema.

Fixture adaptations (the fixture has no partsupp table and no
l_commitdate / l_receiptdate / l_shipmode / c_phone / comment /
p_container / p_mfgr columns; every substitution below preserves the
original query's *plan shape*, which is what the suite exists to test):

- part↔supplier linkage (Q2/Q11/Q16/Q20): derived from lineitem — the
  fact table IS the association, exactly how a warehouse without an
  explicit partsupp dimension would express these queries.
- "supply cost" (Q2): min per-row unit price ``l_extendedprice /
  l_quantity`` (a per-row IEEE division — bit-identical cross-engine, and
  MIN is order-independent, so no decimal detour is needed).
- "late delivery" (Q4/Q12/Q21): ``l_shipdate > o_orderdate + INTERVAL``
  stands in for ``l_commitdate < l_receiptdate``.
- l_shipmode (Q12/Q16 groupings): l_returnflag / part attributes.
- c_phone country code (Q22): ``c_nationkey`` is the country code.
- comment filters (Q13/Q16/Q20): an attribute predicate with similar
  selectivity (order priority / negative account balance / name prefix).

Scale posture is tpch.py's: fact-side filters before joins (pushed
scans), dimensions broadcast, lineitem⋈orders as the only big-big
shuffle, decimal (compat.dsum) aggregation for cross-engine hash
stability, total-order tie-breakers under every LIMIT.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from streaming_data_ingestion_spark import artifacts
from streaming_data_ingestion_spark.compat import (
    DEC,
    sql_davg,
    sql_dec_to_double,
    sql_dsum,
    davg,
    dsum,
)
from streaming_data_ingestion_spark.registry import query
from streaming_data_ingestion_spark.tables import load

_REVENUE = "l_extendedprice * (1 - l_discount)"


def _revenue_col() -> F.Column:
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


def _nations_of_region(spark: SparkSession, sf_dir: str, r_name: str) -> DataFrame:
    """nation rows of one region — a ≤25-row broadcast building block."""
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == r_name)
    n = load(spark, sf_dir, "nation")
    return n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
        "n_nationkey", "n_name"
    )


# --------------------------------------------------------------------------
# q_tpch_q2 — minimum-cost supplier per part (min-per-group selection).
# --------------------------------------------------------------------------


@query(
    "q_tpch_q2",
    oracle="""
WITH cost AS (
  SELECT
    p.p_partkey, p.p_name,
    s.s_suppkey, s.s_name, s.s_acctbal,
    n.n_name,
    MIN(l.l_extendedprice / l.l_quantity) AS unit_price
  FROM lineitem l
  JOIN part p ON l.l_partkey = p.p_partkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  WHERE p.p_size BETWEEN 10 AND 15
    AND p.p_type = 'STANDARD'
    AND r.r_name = 'EUROPE'
  GROUP BY p.p_partkey, p.p_name, s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_name, unit_price
FROM (
  SELECT *, MIN(unit_price) OVER (PARTITION BY p_partkey) AS best
  FROM cost
)
WHERE unit_price = best
ORDER BY s_acctbal DESC, n_name ASC, s_name ASC, p_partkey ASC
LIMIT 100
""",
    tags=("tpch", "join", "window", "topk"),
)
def q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 (minimum-cost supplier): for each part in a size/type
    slice, the EUROPE supplier(s) offering the lowest unit price.

    Adaptation: no partsupp → the part↔supplier association and its cost
    come from lineitem; ps_supplycost → MIN(l_extendedprice/l_quantity)
    (per-row IEEE division then MIN — both order-independent, so the
    cross-engine hash needs no decimal detour).

    Plan: part slice and the region-scoped supplier⋈nation both
    broadcast into the fact scan; one hash agg keyed (part, supplier);
    the min-per-part window runs on that already-aggregated
    |parts|×|suppliers|-bounded relation, never on fact rows.
    """
    p = load(spark, sf_dir, "part").filter(
        F.col("p_size").between(10, 15) & (F.col("p_type") == "STANDARD")
    )
    s = (
        load(spark, sf_dir, "supplier")
        .join(
            F.broadcast(_nations_of_region(spark, sf_dir, "EUROPE")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    l = load(spark, sf_dir, "lineitem")
    cost = (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .groupBy("p_partkey", "p_name", "s_suppkey", "s_name", "s_acctbal", "n_name")
        .agg(
            F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias(
                "unit_price"
            )
        )
    )
    best = F.min("unit_price").over(Window.partitionBy("p_partkey"))
    return (
        cost.withColumn("best", best)
        .filter(F.col("unit_price") == F.col("best"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_name", "unit_price")
        .orderBy(
            F.col("s_acctbal").desc(),
            F.col("n_name").asc(),
            F.col("s_name").asc(),
            F.col("p_partkey").asc(),
        )
        .limit(100)
    )


# --------------------------------------------------------------------------
# q_tpch_q4 — order-priority checking (correlated EXISTS → semi join).
# --------------------------------------------------------------------------


@query(
    "q_tpch_q4",
    oracle="""
SELECT
  o.o_orderpriority,
  CAST(COUNT(*) AS BIGINT) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1999-07-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1999-10-01 00:00:00'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_shipdate > o.o_orderdate + INTERVAL 120 DAY
  )
GROUP BY o.o_orderpriority
ORDER BY o.o_orderpriority
""",
    tags=("tpch", "join", "agg", "subquery"),
)
def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 (order-priority checking): one quarter's orders with at
    least one late line item, counted per priority.

    Adaptation: no l_commitdate/l_receiptdate → "late" is
    ``l_shipdate > o_orderdate + 120 days``.

    Plan: the quarter filter prunes the orders scan; the EXISTS becomes
    a LEFT SEMI join on the order key with the lateness comparison as a
    residual join condition — one shuffle, no duplicate-then-distinct;
    the final aggregate is 5 groups.
    """
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1999-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1999-10-01").cast("timestamp"))
    )
    l = load(spark, sf_dir, "lineitem")
    return (
        o.join(
            l,
            (F.col("o_orderkey") == l.l_orderkey)
            & (l.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 120 DAYS")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# q_tpch_q7 — volume shipping between two nations.
# --------------------------------------------------------------------------


@query(
    "q_tpch_q7",
    oracle=f"""
SELECT
  n1.n_name AS supp_nation,
  n2.n_name AS cust_nation,
  CAST(EXTRACT(YEAR FROM l.l_shipdate) AS INTEGER) AS l_year,
  {sql_dsum(_REVENUE, "revenue")}
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
WHERE l.l_shipdate >= TIMESTAMP '1999-01-01 00:00:00'
  AND l.l_shipdate < TIMESTAMP '2001-01-01 00:00:00'
  AND (
    (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_18')
    OR (n1.n_name = 'NATION_18' AND n2.n_name = 'NATION_3')
  )
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
""",
    tags=("tpch", "join", "agg"),
)
def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 (volume shipping): bilateral trade volume between two
    nations per shipment year — supplier nation on one axis, customer
    nation on the other.

    Plan: both nation scopes resolve to tiny broadcast dimensions
    (supplier⋈nation, customer⋈nation) BEFORE touching the fact join, so
    the disjunctive nation-pair predicate only sees surviving rows;
    the two-year shipdate band prunes the lineitem scan;
    lineitem⋈orders is the single big-big shuffle; the aggregate is
    2 pairs × 2 years.
    """
    n = load(spark, sf_dir, "nation")
    s = (
        load(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
        .filter(F.col("supp_nation").isin("NATION_3", "NATION_18"))
    )
    c = (
        load(spark, sf_dir, "customer")
        .join(F.broadcast(n), F.col("c_nationkey") == n.n_nationkey)
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
        .filter(F.col("cust_nation").isin("NATION_3", "NATION_18"))
    )
    l = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1999-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("2001-01-01").cast("timestamp"))
    )
    o = load(spark, sf_dir, "orders")
    return (
        l.join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .join(o, F.col("l_orderkey") == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .filter(
            ((F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_18"))
            | ((F.col("supp_nation") == "NATION_18") & (F.col("cust_nation") == "NATION_3"))
        )
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(dsum(_revenue_col(), "revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


# --------------------------------------------------------------------------
# q_tpch_q8 — national market share within a region.
# --------------------------------------------------------------------------


@query(
    "q_tpch_q8",
    oracle=f"""
SELECT
  CAST(EXTRACT(YEAR FROM o.o_orderdate) AS INTEGER) AS o_year,
  {sql_dec_to_double(
      f"SUM(CASE WHEN n1.n_name = 'NATION_18' "
      f"THEN CAST({_REVENUE} AS DECIMAL(38,10)) "
      f"ELSE CAST(0 AS DECIMAL(38,10)) END)"
  )}
  / {sql_dec_to_double(f"SUM(CAST({_REVENUE} AS DECIMAL(38,10)))")}
    AS mkt_share
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN part p ON l.l_partkey = p.p_partkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
JOIN region r ON n2.n_regionkey = r.r_regionkey
WHERE r.r_name = 'AMERICA'
  AND p.p_type = 'ECONOMY'
  AND o.o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '2001-01-01 00:00:00'
GROUP BY o_year
ORDER BY o_year
""",
    tags=("tpch", "join", "agg"),
)
def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (national market share): the share of one supplier
    nation in a region's yearly revenue for one part type.

    Plan: part-type slice, supplier⋈nation, and the region-scoped
    customer side all broadcast; the order-date band prunes the orders
    scan; one lineitem⋈orders shuffle; per-year conditional decimal
    sums with ONE IEEE division each at the end (cross-engine
    bit-stable, same pattern as q_tpch_q14).
    """
    p = load(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    n = load(spark, sf_dir, "nation")
    s = (
        load(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    c = (
        load(spark, sf_dir, "customer")
        .join(
            F.broadcast(_nations_of_region(spark, sf_dir, "AMERICA")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey")
    )
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("2001-01-01").cast("timestamp"))
    )
    l = load(spark, sf_dir, "lineitem")
    rev_dec = _revenue_col().cast(DEC)
    zero_dec = F.lit(0).cast(DEC)
    nation_rev = F.when(F.col("supp_nation") == "NATION_18", rev_dec).otherwise(
        zero_dec
    )
    return (
        l.join(F.broadcast(p), F.col("l_partkey") == p.p_partkey)
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .join(o, F.col("l_orderkey") == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.sum(nation_rev).cast("double").alias("_n"),
            F.sum(rev_dec).cast("double").alias("_t"),
        )
        .select(
            "o_year", (F.col("_n") / F.col("_t")).alias("mkt_share")
        )
        .orderBy("o_year")
    )


# --------------------------------------------------------------------------
# q_tpch_q9 — product-type profit by nation and year.
# --------------------------------------------------------------------------

_PROFIT = (
    "l_extendedprice * (1 - l_discount) - 0.6 * p_retailprice * l_quantity"
)


@query(
    "q_tpch_q9",
    oracle=f"""
SELECT
  n.n_name AS nation,
  CAST(EXTRACT(YEAR FROM o.o_orderdate) AS INTEGER) AS o_year,
  {sql_dsum(_PROFIT, "sum_profit")}
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN part p ON l.l_partkey = p.p_partkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE p.p_name LIKE '%gear%'
GROUP BY nation, o_year
ORDER BY nation ASC, o_year DESC
""",
    tags=("tpch", "join", "agg"),
)
def q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (product-type profit): profit on one product line per
    supplier nation per year.

    Adaptation: no partsupp → ``ps_supplycost`` becomes the
    deterministic cost proxy ``0.6 * p_retailprice`` (part dimension
    attribute), keeping the row-level profit expression and the
    nation×year rollup intact; the spec's LIKE '%green%' name filter
    maps to the fixture's '%gear%' noun.

    Plan: the name-sliced part dimension broadcasts (filter applied
    before the fact join), supplier⋈nation broadcasts, lineitem⋈orders
    is the single shuffle; the profit expression is per-row double math
    (bit-identical cross-engine) and only the SUM goes through decimal.
    """
    p = load(spark, sf_dir, "part").filter(F.col("p_name").like("%gear%"))
    n = load(spark, sf_dir, "nation")
    s = (
        load(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    o = load(spark, sf_dir, "orders")
    l = load(spark, sf_dir, "lineitem")
    profit = _revenue_col() - 0.6 * F.col("p_retailprice") * F.col("l_quantity")
    return (
        l.join(F.broadcast(p), F.col("l_partkey") == p.p_partkey)
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .join(o, F.col("l_orderkey") == o.o_orderkey)
        .groupBy("nation", F.year("o_orderdate").alias("o_year"))
        .agg(dsum(profit, "sum_profit"))
        .orderBy(F.col("nation").asc(), F.col("o_year").desc())
    )


# --------------------------------------------------------------------------
# q_tpch_q11 — important stock (scalar-subquery HAVING).
# --------------------------------------------------------------------------


@query(
    "q_tpch_q11",
    oracle=f"""
WITH scoped AS (
  SELECT
    l.l_partkey,
    SUM(CAST({_REVENUE} AS DECIMAL(38,10))) AS v
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  WHERE r.r_name = 'EUROPE'
  GROUP BY l.l_partkey
)
SELECT l_partkey, {sql_dec_to_double("v")} AS part_value
FROM scoped
WHERE v * 1000 > (SELECT SUM(v) FROM scoped)
ORDER BY part_value DESC, l_partkey ASC
""",
    tags=("tpch", "join", "agg", "subquery"),
)
def q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 (important stock): parts whose EUROPE-supplied value
    exceeds 0.1% of the total — the scalar-subquery HAVING classic.

    Adaptation: no partsupp → "stock value" is the revenue supplied for
    the part by EUROPE suppliers, derived from lineitem.

    Plan: region→nation→supplier reduces to a broadcast BEFORE the fact
    scan; one hash agg keyed l_partkey; the global total is a 1-row
    reaggregation of that (already part-count-sized) relation broadcast
    back for the threshold — the comparison happens on exact decimals
    scaled by an integer (``v*1000 > total``), so the cut is
    deterministic cross-engine; the double cast is output-only.
    """
    s = (
        load(spark, sf_dir, "supplier")
        .join(
            F.broadcast(_nations_of_region(spark, sf_dir, "EUROPE")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey")
    )

    l = load(spark, sf_dir, "lineitem")
    # Persist the part-count-sized value rollup: the 1-row total and the
    # threshold filter are separate plan branches that each re-ran the
    # fact join+aggregate without it (2 corpus passes → 1).
    scoped = artifacts.cached(
        "q_tpch_q11.scoped",
        sf_dir,
        lambda: (
            l.join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
            .groupBy("l_partkey")
            .agg(F.sum(_revenue_col().cast(DEC)).alias("v"))
        ),
    )
    total = scoped.agg(F.sum("v").alias("v_total"))
    return (
        scoped.crossJoin(F.broadcast(total))
        .filter(F.col("v") * 1000 > F.col("v_total"))
        .select("l_partkey", F.col("v").cast("double").alias("part_value"))
        .orderBy(F.col("part_value").desc(), F.col("l_partkey").asc())
    )


# --------------------------------------------------------------------------
# q_tpch_q12 — shipping modes and order priority.
# --------------------------------------------------------------------------


@query(
    "q_tpch_q12",
    oracle="""
SELECT
  l.l_returnflag,
  CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
           THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
  CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
           THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE l.l_returnflag IN ('A', 'R')
  AND l.l_shipdate >= TIMESTAMP '1999-01-01 00:00:00'
  AND l.l_shipdate < TIMESTAMP '2000-01-01 00:00:00'
  AND l.l_shipdate > o.o_orderdate + INTERVAL 120 DAY
GROUP BY l.l_returnflag
ORDER BY l.l_returnflag
""",
    tags=("tpch", "join", "agg"),
)
def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 (shipping modes / order priority): late line items per
    class, split into high- and low-priority order counts.

    Adaptation: no l_shipmode → l_returnflag is the mode axis; no
    commit/receipt dates → "late" is shipdate > orderdate + 120 days
    (same cross-table comparison shape).

    Plan: flag + year filters prune the lineitem scan; one
    lineitem⋈orders shuffle with the lateness predicate as a residual
    condition; conditional counts aggregate to 2 groups.
    """
    l = load(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag").isin("A", "R")
        & (F.col("l_shipdate") >= F.lit("1999-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("2000-01-01").cast("timestamp"))
    )
    o = load(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(
            o,
            (F.col("l_orderkey") == o.o_orderkey)
            & (F.col("l_shipdate") > o.o_orderdate + F.expr("INTERVAL 120 DAYS")),
        )
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("long").alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# q_tpch_q13 — customer order-count distribution.
# --------------------------------------------------------------------------


@query(
    "q_tpch_q13",
    oracle="""
WITH per_cust AS (
  SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
  FROM customer c
  LEFT JOIN orders o
    ON c.c_custkey = o.o_custkey
   AND o.o_orderpriority <> '4-NOT SPECIFIED'
  GROUP BY c.c_custkey
)
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM per_cust
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
""",
    tags=("tpch", "join", "agg"),
)
def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (customer distribution): the histogram of
    orders-per-customer, keeping zero-order customers via the left
    join.

    Adaptation: the spec's ``o_comment NOT LIKE`` exclusion maps to an
    order-priority exclusion of similar selectivity.

    Plan: the exclusion filter pushes to the orders scan; ONE shuffle
    keyed on the customer key for the left join + count (Spark reuses
    the partitioning for both); the second aggregate runs on a
    |distinct counts|-sized relation.
    """
    c = load(spark, sf_dir, "customer").select("c_custkey")
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "4-NOT SPECIFIED"
    )
    return (
        c.join(o, F.col("c_custkey") == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


# --------------------------------------------------------------------------
# q_tpch_q16 — supplier count per part attribute slice.
# --------------------------------------------------------------------------


@query(
    "q_tpch_q16",
    oracle="""
SELECT
  p.p_brand, p.p_type, p.p_size,
  CAST(COUNT(DISTINCT ps.l_suppkey) AS BIGINT) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
JOIN part p ON ps.l_partkey = p.p_partkey
WHERE p.p_brand <> 'Brand#1'
  AND p.p_type <> 'PROMO'
  AND p.p_size IN (1, 4, 9, 14, 19, 24, 29, 34)
  AND ps.l_suppkey NOT IN (
    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
  )
GROUP BY p.p_brand, p.p_type, p.p_size
ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
""",
    tags=("tpch", "join", "agg", "subquery"),
)
def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 (parts/supplier relationship): how many distinct
    suppliers can provide each (brand, type, size) slice, excluding
    flagged suppliers.

    Adaptation: no partsupp → the part↔supplier association is the
    DISTINCT (l_partkey, l_suppkey) projection of lineitem; the spec's
    complaint-comment exclusion maps to negative account balance.

    Plan (r13, guide §2.3/§2.4): the explicit DISTINCT-pair projection
    was a redundant fact-sized exchange — COUNT(DISTINCT l_suppkey)
    already dedups map-side at the (brand, type, size, suppkey) grain,
    and duplicate pairs cannot change a distinct count — so the fact
    rows flow straight through the broadcast part join (which drops
    ~84% of them BEFORE any exchange; the old shape shuffled the full
    pair relation first and filtered after) and the tiny broadcast
    anti join into the distinct aggregate. Two fact-sized exchanges
    become one exchange carrying only surviving distinct combinations.
    """
    li = load(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    p = load(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 14, 19, 24, 29, 34)
    )
    bad = load(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == p.p_partkey)
        .join(
            F.broadcast(bad), F.col("l_suppkey") == bad.s_suppkey, "left_anti"
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct(F.col("l_suppkey")).alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(), F.col("p_brand"), F.col("p_type"), F.col("p_size")
        )
    )


# --------------------------------------------------------------------------
# q_tpch_q17 — small-quantity-order revenue (correlated AVG per part).
# --------------------------------------------------------------------------


@query(
    "q_tpch_q17",
    oracle=f"""
WITH pq AS (
  SELECT
    l.l_partkey,
    {sql_davg("l.l_quantity", "avg_qty")}
  FROM lineitem l
  JOIN part p ON l.l_partkey = p.p_partkey
  WHERE p.p_brand = 'Brand#3' AND p.p_size <= 12
  GROUP BY l.l_partkey
)
SELECT
  {sql_dec_to_double("SUM(CAST(l.l_extendedprice AS DECIMAL(38,10)))")} / 7.0
    AS avg_yearly
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
JOIN pq ON l.l_partkey = pq.l_partkey
WHERE p.p_brand = 'Brand#3' AND p.p_size <= 12
  AND l.l_quantity < 0.5 * pq.avg_qty
""",
    tags=("tpch", "join", "agg", "subquery"),
)
def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (small-quantity-order revenue): yearly revenue lost if
    below-half-average-quantity orders of one part slice were dropped.

    Adaptation: the spec's p_container slice maps to a size band.

    Plan: the correlated per-part AVG decorrelates into one hash agg
    keyed l_partkey on the (part-sliced, broadcast-pruned) fact subset,
    broadcast back for the threshold comparison — the fact table is
    scanned twice but never shuffled; the AVG is decimal-sum / count
    (one IEEE division, same both engines) and the final SUM is decimal
    with one trailing /7.0.
    """
    p = load(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#3") & (F.col("p_size") <= 12)
    )
    l = load(spark, sf_dir, "lineitem")
    # Persist the part-sliced fact subset (3 columns, brand+size-
    # selective): the per-part AVG and the threshold pass are separate
    # plan branches that each re-ran the scan+broadcast join without it
    # (2 corpus passes → 1).
    sliced = artifacts.cached(
        "q_tpch_q17.sliced",
        sf_dir,
        lambda: l.join(
            F.broadcast(p), F.col("l_partkey") == p.p_partkey
        ).select("l_partkey", "l_quantity", "l_extendedprice"),
    )
    pq = sliced.groupBy(F.col("l_partkey").alias("pq_partkey")).agg(
        davg("l_quantity", "avg_qty")
    )
    return (
        sliced.join(F.broadcast(pq), F.col("l_partkey") == F.col("pq_partkey"))
        .filter(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .agg(
            (F.sum(F.col("l_extendedprice").cast(DEC)).cast("double") / 7.0).alias(
                "avg_yearly"
            )
        )
    )


# --------------------------------------------------------------------------
# q_tpch_q20 — potential part promotion (nested correlated quantities).
# --------------------------------------------------------------------------


@query(
    "q_tpch_q20",
    oracle="""
WITH per_sp AS (
  SELECT
    l.l_suppkey,
    l.l_partkey,
    SUM(CAST(l.l_quantity AS DECIMAL(38,10))) AS q_total,
    SUM(CASE WHEN l.l_shipdate >= TIMESTAMP '2000-01-01 00:00:00'
              AND l.l_shipdate < TIMESTAMP '2001-01-01 00:00:00'
             THEN CAST(l.l_quantity AS DECIMAL(38,10))
             ELSE CAST(0 AS DECIMAL(38,10)) END) AS q_year
  FROM lineitem l
  WHERE l.l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
  GROUP BY l.l_suppkey, l.l_partkey
)
SELECT s.s_name, s.s_acctbal
FROM supplier s
JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE n.n_name = 'NATION_21'
  AND s.s_suppkey IN (
    SELECT l_suppkey FROM per_sp WHERE q_year * 2 > q_total
  )
ORDER BY s.s_name
""",
    tags=("tpch", "join", "agg", "subquery"),
)
def q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 (potential part promotion): suppliers in one nation
    who moved more than half of their all-time volume of a
    name-prefixed part line within one year.

    Adaptation: no partsupp → ``ps_availqty > 0.5 × shipped`` becomes
    "the year's shipped quantity exceeds half the supplier's all-time
    shipped quantity for that part" (``2·q_year > q_total`` on exact
    decimals — integer scaling, no division); the spec's 'forest%'
    prefix maps to the fixture's 'red%'.

    Plan: the part-name slice broadcasts as a semi join into the fact
    scan; one hash agg keyed (supplier, part) computes both windows in
    a single pass (conditional sum); the qualifying supplier set is
    tiny and semi-joins into the nation-filtered supplier dimension.
    """
    red = load(spark, sf_dir, "part").filter(F.col("p_name").like("red%")).select(
        "p_partkey"
    )
    l = load(spark, sf_dir, "lineitem")
    in_year = (
        F.col("l_shipdate") >= F.lit("2000-01-01").cast("timestamp")
    ) & (F.col("l_shipdate") < F.lit("2001-01-01").cast("timestamp"))
    qty_dec = F.col("l_quantity").cast(DEC)
    zero_dec = F.lit(0).cast(DEC)
    per_sp = (
        l.join(F.broadcast(red), F.col("l_partkey") == red.p_partkey, "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(
            F.sum(qty_dec).alias("q_total"),
            F.sum(F.when(in_year, qty_dec).otherwise(zero_dec)).alias("q_year"),
        )
    )
    qualifying = (
        per_sp.filter(F.col("q_year") * 2 > F.col("q_total"))
        .select("l_suppkey")
        .distinct()
    )
    n = load(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_21")
    s = load(spark, sf_dir, "supplier")
    return (
        s.join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .join(
            F.broadcast(qualifying),
            F.col("s_suppkey") == F.col("l_suppkey"),
            "left_semi",
        )
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    )


# --------------------------------------------------------------------------
# q_tpch_q21 — suppliers who kept orders waiting.
# --------------------------------------------------------------------------


@query(
    "q_tpch_q21",
    oracle="""
WITH order_stats AS (
  SELECT
    l.l_orderkey,
    COUNT(DISTINCT l.l_suppkey) AS n_supp,
    COUNT(DISTINCT CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
                        THEN l.l_suppkey END) AS n_late,
    MAX(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
             THEN l.l_suppkey END) AS late_supp
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderstatus = 'F'
  GROUP BY l.l_orderkey
)
SELECT
  s.s_name,
  CAST(COUNT(*) AS BIGINT) AS numwait
FROM order_stats
JOIN supplier s ON order_stats.late_supp = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE order_stats.n_supp > 1
  AND order_stats.n_late = 1
  AND n.n_name = 'NATION_19'
GROUP BY s.s_name
ORDER BY numwait DESC, s.s_name ASC
LIMIT 100
""",
    tags=("tpch", "join", "agg", "subquery", "topk"),
)
def q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 (suppliers who kept orders waiting): suppliers in one
    nation who were the SOLE late supplier on a multi-supplier finished
    order, ranked by how often.

    Adaptation: no commit/receipt dates → "late" is shipdate >
    orderdate + 60 days. The spec's correlated EXISTS ("another
    supplier participated") / NOT EXISTS ("no other supplier was late")
    pair is expressed as one per-order aggregate — ``n_supp > 1 AND
    n_late = 1 AND late_supp = s`` is exactly equivalent and replaces
    two additional self-joins of the fact table with counters computed
    in the join pass itself.

    Plan: orders(status F) filter prunes the scan; ONE lineitem⋈orders
    join feeds a TWO-LEVEL aggregate — (order, supplier) grain first,
    then per-order counters over the collapsed pair relation. The
    single-level form had two COUNT(DISTINCT ...) over different
    children, which Spark plans as an Expand tripling the join output
    through the partial aggregate; the pair grain is exactly equivalent
    (n_supp = #pair groups, n_late = #pair groups with a late line,
    late_supp = max supplier over pair groups with a late line) and the
    pair-keyed shuffle carries each distinct pair once. The second
    aggregate's input is pair-count-sized; supplier and nation
    broadcast; top-100 via TakeOrderedAndProject.
    """
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    l = load(spark, sf_dir, "lineitem")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    per_os = (
        l.join(o, F.col("l_orderkey") == o.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(F.when(late, 1).otherwise(0)).alias("any_late"))
    )
    stats = (
        per_os.groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_supp"),
            F.sum("any_late").alias("n_late"),
            F.max(
                F.when(F.col("any_late") == 1, F.col("l_suppkey"))
            ).alias("late_supp"),
        )
        .filter((F.col("n_supp") > 1) & (F.col("n_late") == 1))
    )
    n = load(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_19")
    s = load(spark, sf_dir, "supplier").join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
    )
    return (
        stats.join(F.broadcast(s), F.col("late_supp") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
        .limit(100)
    )


# --------------------------------------------------------------------------
# q_tpch_q22 — global sales opportunity (anti join + scalar threshold).
# --------------------------------------------------------------------------

_Q22_NATIONS = (3, 8, 13, 18, 19, 21, 24)


@query(
    "q_tpch_q22",
    oracle=f"""
WITH candidates AS (
  SELECT c.c_nationkey AS cntrycode, c.c_custkey, c.c_acctbal
  FROM customer c
  WHERE c.c_nationkey IN {_Q22_NATIONS}
), threshold AS (
  SELECT {sql_davg("c_acctbal", "avg_bal")}
  FROM candidates
  WHERE c_acctbal > 0.0
)
SELECT
  cand.cntrycode,
  CAST(COUNT(*) AS BIGINT) AS numcust,
  {sql_dsum("cand.c_acctbal", "totacctbal")}
FROM candidates cand, threshold
WHERE cand.c_acctbal > threshold.avg_bal
  AND NOT EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = cand.c_custkey
      AND o.o_orderdate >= TIMESTAMP '2000-07-01 00:00:00'
  )
GROUP BY cand.cntrycode
ORDER BY cand.cntrycode
""",
    tags=("tpch", "join", "agg", "subquery"),
)
def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 (global sales opportunity): well-funded customers in
    selected countries who have gone dormant, per country.

    Adaptation: no c_phone → the nation key IS the country code; every
    fixture customer has at least one order, so "never ordered" becomes
    "no order in the trailing year" (same NOT EXISTS anti-join shape,
    non-degenerate on the fixture).

    Plan: the in-list prunes the customer scan; the positive-balance
    average is a 1-row broadcast (scalar subquery shape, like
    q_subquery_scalar); the NOT EXISTS is a broadcast ANTI join against
    the distinct recent-orderer keys (date filter pushed to the orders
    scan, projected to one column, collapsed before broadcast); one
    country-count-sized aggregate.
    """
    cand = load(spark, sf_dir, "customer").filter(
        F.col("c_nationkey").isin(*_Q22_NATIONS)
    ).select(
        F.col("c_nationkey").alias("cntrycode"), "c_custkey", "c_acctbal"
    )
    threshold = cand.filter(F.col("c_acctbal") > 0.0).agg(
        davg("c_acctbal", "avg_bal")
    )
    recent = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-07-01").cast("timestamp"))
        .select("o_custkey")
        .distinct()
    )
    return (
        cand.crossJoin(F.broadcast(threshold))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(
            F.broadcast(recent),
            F.col("c_custkey") == F.col("o_custkey"),
            "left_anti",
        )
        .groupBy("cntrycode")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            dsum("c_acctbal", "totacctbal"),
        )
        .orderBy("cntrycode")
    )
