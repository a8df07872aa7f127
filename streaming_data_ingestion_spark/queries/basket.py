"""Market-basket / association-rule mining over the order fact table
(SURVEY.md §2B breadth — the classic retail-OLAP workload family the
reference's ingest pipeline feeds but never computes).

Scale design: frequent-itemset mining at 100 TB is support-pruned
BEFORE pair expansion (the apriori property: a pair can only be
frequent if both items are), so the pair self-join runs over the
frequent-item-filtered basket relation — Σ basket² pairs of a reduced
alphabet, shuffled on the basket key (an equi-join, never a cartesian).
Counts stay BIGINT end-to-end; support/confidence/lift are single IEEE
divisions of exact integer products (< 2^53), written token-identically
in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from streaming_data_ingestion_spark import artifacts
from streaming_data_ingestion_spark.registry import query
from streaming_data_ingestion_spark.tables import load

# --------------------------------------------------------------------------
# q_assoc_rules — pairwise association rules (support / confidence / lift).
# --------------------------------------------------------------------------

_MIN_PAIR = 2  # minimum pair support (co-occurrence count)

# Per-basket width cap for the quadratic pair stage: a single
# pathological mega-basket (10^5 frequent distinct items in one order)
# would otherwise cost width² in the self-join no matter how good the
# apriori prune is. Keep the _MAX_BASKET_W most FREQUENT items per
# basket (ties by part key — a total order, so the kept set is
# deterministic), identically in both engines. Ranking by n_i DESC means
# apriori-pruned singletons always rank BEHIND frequent items, so
# prune-then-cap (Spark) and cap-then-support-floor (oracle) keep the
# exact same item set. TPC-H baskets are ≤ 7 items wide, so the cap
# never bites at fixture scale; the bite path is pinned on synthetic
# wide baskets in tests/test_round7_props.py.
_MAX_BASKET_W = 16


@query(
    "q_assoc_rules",
    oracle=f"""
WITH b AS (
  SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM lineitem
),
n AS (
  SELECT CAST(COUNT(DISTINCT k) AS BIGINT) AS n_orders FROM b
),
item AS (
  SELECT p, CAST(COUNT(*) AS BIGINT) AS n_i FROM b GROUP BY p
),
bw AS (
  SELECT b.k, b.p,
         ROW_NUMBER() OVER (PARTITION BY b.k
                            ORDER BY item.n_i DESC, b.p) AS rn
  FROM b JOIN item ON item.p = b.p
),
bc AS (SELECT k, p FROM bw WHERE rn <= {_MAX_BASKET_W}),
pair AS (
  SELECT a.p AS part_a, c.p AS part_b, CAST(COUNT(*) AS BIGINT) AS n_ab
  FROM bc a JOIN bc c ON a.k = c.k AND a.p < c.p
  GROUP BY a.p, c.p
  HAVING COUNT(*) >= {_MIN_PAIR}
)
SELECT
  pair.part_a,
  pair.part_b,
  pair.n_ab,
  ia.n_i AS n_a,
  ib.n_i AS n_b,
  CAST(pair.n_ab AS DOUBLE) / CAST(n.n_orders AS DOUBLE) AS support,
  CAST(pair.n_ab AS DOUBLE) / CAST(ia.n_i AS DOUBLE) AS confidence,
  (CAST(pair.n_ab AS DOUBLE) * CAST(n.n_orders AS DOUBLE))
    / (CAST(ia.n_i AS DOUBLE) * CAST(ib.n_i AS DOUBLE)) AS lift
FROM pair
JOIN item ia ON ia.p = pair.part_a
JOIN item ib ON ib.p = pair.part_b
CROSS JOIN n
ORDER BY lift DESC, part_a ASC, part_b ASC
LIMIT 100
""",
    tags=("lineitem", "basket"),
)
def q_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 pairwise association rules {a} → {b} over order baskets
    (basket = the distinct parts of one order), ranked by lift, with
    support, confidence, and the raw counts — the market-basket readout
    every retail OLAP engine ships (apriori's k=2 stage, which at this
    basket width captures effectively all the signal).

    Scale shape: the basket relation is one (order, part) distinct
    (map-side combinable); the pair expansion is an EQUI self-join on
    the basket key — Σ basket² pairs, never a cartesian — followed by a
    map-side-combined pair count. Item supports join back on the pair's
    two part keys (equi hash joins against the item relation); the
    basket total is a 1-row broadcast. The apriori prune runs BEFORE the
    pair self-join: items in fewer than {_MIN_PAIR} baskets cannot be in
    any pair with n_ab ≥ {_MIN_PAIR}, so dropping them is exactly
    result-preserving (the apriori property is a theorem, not a
    heuristic — the oracle needs no prune) while bounding the Σ basket²
    pair stage against hot baskets at 100×: a mega-basket contributes
    only its FREQUENT items to the quadratic stage. On top of the prune,
    a per-basket WIDTH CAP admits only each basket's {_MAX_BASKET_W}
    most frequent items (n_i DESC, part-key tie-break) into the
    self-join, so one pathological 10^5-frequent-item basket can never
    cost width² regardless of support. The cap ranks by n_i DESC, which
    makes prune-then-cap (this code) and cap-then-support-floor (the
    oracle, which needs no prune) keep the identical item set — the
    equivalence is pinned on synthetic wide baskets in
    tests/test_round7_props.py.
    All metrics are single IEEE divisions of exact
    BIGINT products (< 2^53) written token-identically in both engines;
    (lift, part_a, part_b) is a total order so LIMIT 100 is
    deterministic.
    """
    # the basket relation feeds SIX consumers (both pair sides, the
    # apriori filter, both support joins, the total) — uncached, each
    # would re-scan + re-distinct the fact table
    b = artifacts.cached(
        "q_assoc_rules.baskets",
        sf_dir,
        lambda: load(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("p"))
        .distinct(),
    )
    n = b.agg(F.countDistinct("k").cast("long").alias("n_orders"))
    item = artifacts.cached(
        "q_assoc_rules.item",
        sf_dir,
        lambda: b.groupBy("p").agg(
            F.count(F.lit(1)).cast("long").alias("n_i")
        ),
    )
    # apriori prune: only items frequent enough to possibly reach the
    # pair-support floor enter the quadratic pair stage (exactly
    # result-preserving; see docstring)
    bf = b.join(
        item.where(F.col("n_i") >= _MIN_PAIR), "p"
    ).select("k", "p", "n_i")
    # width cap + pair expansion in ONE basket-keyed aggregate: each
    # basket folds to a (n_i DESC, p)-sorted item array (array_sort on
    # (−n_i, p) structs — the same total order the earlier row_number
    # window used), sliced to its _MAX_BASKET_W head, and the ≤ C(W,2)
    # pairs explode ROW-SIDE from nested transforms. Replaces the
    # previous window-cap + basket-keyed SELF-JOIN: one exchange on k
    # instead of [window exchange + join sorts + join], and the basket
    # relation crosses the network once instead of twice — strictly
    # fewer passes at corpus scale, same Σ min(width, W)² pair bound.
    arr = bf.groupBy("k").agg(
        F.slice(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        (-F.col("n_i")).alias("negn"), F.col("p").alias("p")
                    )
                )
            ),
            1,
            _MAX_BASKET_W,
        ).alias("items")
    )
    pair = (
        arr.select(
            F.explode(
                F.flatten(
                    F.transform(
                        "items",
                        lambda x, i: F.transform(
                            F.slice(F.col("items"), i + 2, F.size("items")),
                            lambda y: F.struct(
                                F.least(x["p"], y["p"]).alias("part_a"),
                                F.greatest(x["p"], y["p"]).alias("part_b"),
                            ),
                        ),
                    )
                )
            ).alias("pr")
        )
        .select("pr.part_a", "pr.part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
        .where(F.col("n_ab") >= _MIN_PAIR)
    )
    ia = item.select(F.col("p").alias("part_a"), F.col("n_i").alias("n_a"))
    ib = item.select(F.col("p").alias("part_b"), F.col("n_i").alias("n_b"))
    return (
        pair.join(ia, "part_a")
        .join(ib, "part_b")
        .crossJoin(F.broadcast(n))
        .select(
            "part_a",
            "part_b",
            "n_ab",
            "n_a",
            "n_b",
            (F.col("n_ab").cast("double") / F.col("n_orders").cast("double")).alias(
                "support"
            ),
            (F.col("n_ab").cast("double") / F.col("n_a").cast("double")).alias(
                "confidence"
            ),
            (
                (F.col("n_ab").cast("double") * F.col("n_orders").cast("double"))
                / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), F.asc("part_a"), F.asc("part_b"))
        .limit(100)
    )


# --------------------------------------------------------------------------
# q_backlog_curve — daily open-order backlog via sweep-line deltas (the
# interval-stabbing pattern: count live intervals per day without a
# day×order join).
# --------------------------------------------------------------------------


@query(
    "q_backlog_curve",
    oracle="""
WITH closes AS (
  SELECT l_orderkey, MAX(CAST(l_shipdate AS DATE)) AS close FROM lineitem
  GROUP BY l_orderkey
),
hz AS (
  SELECT MAX(close) AS horizon FROM closes
),
spans AS (
  SELECT CAST(o.o_orderdate AS DATE) AS open_day,
         COALESCE(c.close, hz.horizon) AS close_day
  FROM orders o LEFT JOIN closes c ON c.l_orderkey = o.o_orderkey
  CROSS JOIN hz
),
deltas AS (
  SELECT day, CAST(SUM(d) AS BIGINT) AS d FROM (
    SELECT open_day AS day, 1 AS d FROM spans
    UNION ALL
    SELECT close_day + 1 AS day, -1 AS d FROM spans
  ) GROUP BY day
)
SELECT
  CAST(a.day AS TIMESTAMP) AS day,
  CAST(SUM(b.d) AS BIGINT) AS n_open
FROM deltas a JOIN deltas b ON b.day <= a.day
GROUP BY a.day
ORDER BY a.day
""",
    tags=("orders", "lineitem", "timeseries"),
)
def q_backlog_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog per day: how many orders are placed but not
    yet fully shipped on each date the backlog changes — the
    operations curve behind staffing/inventory decisions. An order is
    open from its order date through its last line shipment (orders
    with no line items are right-censored at the data horizon).

    This is the SWEEP-LINE form of interval stabbing: each order
    contributes two DELTA events (+1 at open, −1 the day after close),
    one day-keyed aggregate nets them, and the backlog is the running
    sum of net deltas — never a day×order stabbing join (which at 10⁹
    orders × 3650 days would be the classic accidental-explosion
    plan). The running sum itself is the house broadcast triangle join
    on the CALENDAR-bounded delta relation. Fact-sized stages: the
    per-order close aggregate and the order↔close equi-join — both
    map-side-combinable / hash joins on the order key.
    """
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    closes = li.groupBy(F.col("l_orderkey").alias("k")).agg(
        F.max(F.to_date("l_shipdate")).alias("close")
    )
    # horizon = max close = max ship date: read it straight off the fact
    # scan (column-pruned max, no per-order aggregate) instead of
    # re-running the `closes` groupBy for a 1-row build side
    hz = li.agg(F.max(F.to_date("l_shipdate")).alias("horizon"))
    spans = (
        orders.select(
            F.col("o_orderkey").alias("k"), F.to_date("o_orderdate").alias("open_day")
        )
        .join(closes, "k", "left")
        .crossJoin(F.broadcast(hz))
        .select("open_day", F.coalesce("close", "horizon").alias("close_day"))
    )
    # Persist the calendar-bounded delta relation: both triangle-join
    # sides consume it, and without the persist each side re-ran the
    # order↔close equi-join and the union'd fact passes (~10 scans).
    # One execution of the sweep-line build, then day-sized work only.
    deltas = artifacts.cached(
        "q_backlog_curve.deltas",
        sf_dir,
        lambda: (
            spans.select(F.col("open_day").alias("day"), F.lit(1).alias("d"))
            .unionAll(
                spans.select(
                    F.date_add("close_day", 1).alias("day"),
                    F.lit(-1).alias("d"),
                )
            )
            .groupBy("day")
            .agg(F.sum("d").cast("long").alias("d"))
        ),
    )
    a, b = deltas.alias("a"), deltas.alias("b")
    return (
        a.join(F.broadcast(b), F.col("b.day") <= F.col("a.day"))
        .groupBy(F.col("a.day").cast("timestamp").alias("day"))
        .agg(F.sum("b.d").cast("long").alias("n_open"))
        .orderBy("day")
    )


# --------------------------------------------------------------------------
# q_revenue_pareto — customer revenue concentration by decile (the 80/20
# readout: what share of revenue do the top spenders carry).
# --------------------------------------------------------------------------


@query(
    "q_revenue_pareto",
    oracle="""
WITH cust AS (
  SELECT o_custkey,
         SUM(CAST(o_totalprice AS DECIMAL(38,10))) AS spend
  FROM orders GROUP BY o_custkey
),
dec AS (
  SELECT spend,
         CAST(NTILE(10) OVER (ORDER BY spend DESC, o_custkey ASC) AS INTEGER)
           AS decile
  FROM cust
),
g AS (
  SELECT decile,
         CAST(COUNT(*) AS BIGINT) AS n_customers,
         SUM(spend) AS rev
  FROM dec GROUP BY decile
),
tot AS (SELECT SUM(rev) AS total FROM g)
SELECT
  g.decile,
  g.n_customers,
  CAST(CAST(g.rev AS DECIMAL(38,10)) AS VARCHAR)::DOUBLE AS revenue,
  CAST(CAST(g.rev AS DECIMAL(38,10)) AS VARCHAR)::DOUBLE
    / CAST(CAST(tot.total AS DECIMAL(38,10)) AS VARCHAR)::DOUBLE AS rev_share,
  CAST(CAST(SUM(b.rev) AS DECIMAL(38,10)) AS VARCHAR)::DOUBLE
    / CAST(CAST(tot.total AS DECIMAL(38,10)) AS VARCHAR)::DOUBLE
    AS cum_rev_share
FROM g
JOIN g b ON b.decile <= g.decile
CROSS JOIN tot
GROUP BY g.decile, g.n_customers, g.rev, tot.total
ORDER BY g.decile
""",
    tags=("orders", "basket"),
)
def q_revenue_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration: customers ranked by lifetime spend, cut
    into spend deciles (decile 1 = top spenders), with each decile's
    revenue share and the cumulative share — the Pareto/80-20 readout
    behind every account-tiering decision (the customer-revenue sibling
    of q_gini_token's vocabulary concentration).

    Scale shape: one customer-keyed DECIMAL rollup collapses the order
    fact table; the decile cut uses the distributed ranking module
    (range exchange + closed-form NTILE — never a single-partition
    window over customers); shares and the cumulative structure run on
    the 10-row decile relation via the house triangle join. Spend sums
    stay DECIMAL through every aggregation (order-independent), crossing
    to double only through the VARCHAR hop at the final share division.
    """
    from streaming_data_ingestion_spark.compat import DEC
    from streaming_data_ingestion_spark.ranking import (
        ntile_of_rank,
        with_global_rank,
    )

    orders = load(spark, sf_dir, "orders")
    cust = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast(DEC)).alias("spend")
    )
    ranked, n_total = with_global_rank(
        cust.select("o_custkey", "spend", (-F.col("spend")).alias("neg")),
        ["neg", "o_custkey"],
        rank_col="r",
        cache=("q_revenue_pareto.ranked", sf_dir),
    )
    g = (
        ranked.select(ntile_of_rank(F.col("r"), n_total, 10).alias("decile"), "spend")
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("spend").alias("rev"),
        )
    )
    tot = g.agg(F.sum("rev").alias("total"))
    b = g.select(F.col("decile").alias("bd"), F.col("rev").alias("brev"))
    dec_to_dbl = lambda c: c.cast(DEC).cast("string").cast("double")  # noqa: E731
    return (
        g.join(F.broadcast(b), F.col("bd") <= F.col("decile"))
        .groupBy("decile", "n_customers", "rev")
        .agg(F.sum("brev").alias("cum_rev"))
        .crossJoin(F.broadcast(tot))
        .select(
            "decile",
            "n_customers",
            dec_to_dbl(F.col("rev")).alias("revenue"),
            (dec_to_dbl(F.col("rev")) / dec_to_dbl(F.col("total"))).alias(
                "rev_share"
            ),
            (dec_to_dbl(F.col("cum_rev")) / dec_to_dbl(F.col("total"))).alias(
                "cum_rev_share"
            ),
        )
        .orderBy("decile")
    )


# --------------------------------------------------------------------------
# q_interorder_gap — days between a customer's successive orders, as a
# week-binned distribution (the purchase-frequency readout behind
# replenishment and churn-window choices).
# --------------------------------------------------------------------------


@query(
    "q_interorder_gap",
    oracle="""
WITH o AS (
  SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
         LAG(CAST(o_orderdate AS DATE)) OVER (
             PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey) AS pd
  FROM orders
),
gaps AS (
  SELECT CAST(datediff('day', pd, d) AS BIGINT) AS gap_days
  FROM o WHERE pd IS NOT NULL
)
SELECT
  CAST(FLOOR(CAST(gap_days AS DOUBLE) / 7.0) AS INTEGER) AS gap_weeks,
  CAST(COUNT(*) AS BIGINT) AS n_gaps,
  MIN(gap_days) AS min_days,
  MAX(gap_days) AS max_days
FROM gaps
GROUP BY gap_weeks
ORDER BY gap_weeks
""",
    tags=("orders", "basket", "lifecycle"),
)
def q_interorder_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of days between a customer's successive orders,
    binned by week — the purchase-frequency curve that sets
    replenishment windows and the churn-definition cutoff (a customer
    is "lost" once their gap exceeds the distribution's tail). The
    orders-domain sibling of q_burstiness's event-gap regularity.

    Scale shape: successive-order pairing is a LAG over a
    customer-PARTITIONED window (one customer-keyed exchange + sort —
    the repo-wide rule: never a global window; and no self-join — the
    previous date rides the same sorted pass); the week binning then
    collapses everything to a calendar-bounded histogram in one
    map-combined aggregate.
    """
    from pyspark.sql.window import Window

    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = (
        orders.select(
            "o_custkey",
            F.to_date("o_orderdate").alias("d"),
            F.lag(F.to_date("o_orderdate")).over(w).alias("pd"),
        )
        .where(F.col("pd").isNotNull())
        .select(F.datediff("d", "pd").cast("long").alias("gap_days"))
    )
    return (
        gaps.groupBy(
            F.floor(F.col("gap_days").cast("double") / F.lit(7.0))
            .cast("int")
            .alias("gap_weeks")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_gaps"),
            F.min("gap_days").alias("min_days"),
            F.max("gap_days").alias("max_days"),
        )
        .orderBy("gap_weeks")
    )


# --------------------------------------------------------------------------
# q_hhi — Herfindahl-Hirschman market-concentration index per region.
# --------------------------------------------------------------------------


@query(
    "q_hhi",
    oracle="""
WITH srev AS (
  SELECT r.r_name AS region, s.s_suppkey,
         SUM(CAST(l.l_extendedprice AS DECIMAL(38,10))) AS rev
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  JOIN region r ON r.r_regionkey = n.n_regionkey
  GROUP BY r.r_name, s.s_suppkey
),
rtot AS (
  SELECT region, SUM(rev) AS tot FROM srev GROUP BY region
)
SELECT
  srev.region,
  CAST(COUNT(*) AS BIGINT) AS n_suppliers,
  ROUND(CAST(CAST(SUM(CAST(
    (CAST(CAST(srev.rev AS VARCHAR) AS DOUBLE)
       / CAST(CAST(rtot.tot AS VARCHAR) AS DOUBLE))
    * (CAST(CAST(srev.rev AS VARCHAR) AS DOUBLE)
       / CAST(CAST(rtot.tot AS VARCHAR) AS DOUBLE))
  AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) * 10000.0, 6) AS hhi
FROM srev JOIN rtot ON rtot.region = srev.region
GROUP BY srev.region
ORDER BY srev.region
""",
    tags=("lineitem", "revenue", "olap"),
)
def q_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman index of supplier revenue concentration per
    region (Σ market-share², scaled ×10000 per antitrust convention:
    < 1500 competitive, > 2500 concentrated) — the market-structure
    readout next to q_revenue_pareto's customer-side concentration.

    Exactness: per-supplier and per-region revenues are exact
    DECIMAL(38,10) sums converted once (correctly-rounded VARCHAR hop);
    each share is ONE IEEE division, each share² one multiply,
    DECIMAL-summed, one scale multiply, round(6).

    Scale shape: one (region, supplier)-keyed fact aggregate (map-side
    combined; nation/region joins are broadcast dims), a regions-sized
    total re-aggregate joined back on the region key, then a
    regions-sized Σ. No data-sized shuffle beyond the first aggregate.
    """
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")

    def _srev() -> DataFrame:
        return (
            li.join(
                F.broadcast(
                    s.join(
                        F.broadcast(
                            n.join(
                                F.broadcast(r),
                                n["n_regionkey"] == r["r_regionkey"],
                            ).select("n_nationkey", "r_name")
                        ),
                        s["s_nationkey"] == F.col("n_nationkey"),
                    ).select("s_suppkey", F.col("r_name").alias("region"))
                ),
                li["l_suppkey"] == F.col("s_suppkey"),
            )
            .groupBy("region", "s_suppkey")
            .agg(
                F.sum(F.col("l_extendedprice").cast("decimal(38,10)")).alias(
                    "rev"
                )
            )
        )

    # Persist the supplier-sized revenue rollup: the regions total and
    # the final share aggregate are separate plan branches, and without
    # the persist each re-ran the fact join+aggregate — two corpus
    # passes for one rollup. Now the fact table is read exactly once.
    srev = artifacts.cached("q_hhi.srev", sf_dir, _srev)
    rtot = srev.groupBy("region").agg(F.sum("rev").alias("tot"))
    share = F.col("rev").cast("double") / F.col("tot").cast("double")
    return (
        srev.join(F.broadcast(rtot), "region")
        .groupBy("region")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_suppliers"),
            F.round(
                F.sum((share * share).cast("decimal(38,10)")).cast("double")
                * F.lit(10000.0),
                6,
            ).alias("hhi"),
        )
        .orderBy("region")
    )


# --------------------------------------------------------------------------
# q_theil_index — Theil inequality index of customer spend.
# --------------------------------------------------------------------------


@query(
    "q_theil_index",
    oracle="""
WITH spend AS (
  SELECT o_custkey,
         SUM(CAST(o_totalprice AS DECIMAL(38,10))) AS x
  FROM orders GROUP BY o_custkey
),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(CAST(SUM(x) AS VARCHAR) AS DOUBLE) AS total
  FROM spend
)
SELECT
  tot.n AS n_customers,
  ROUND(CAST(CAST(SUM(CAST(
    (CAST(CAST(spend.x AS VARCHAR) AS DOUBLE) / (tot.total / tot.n))
    * ln(CAST(CAST(spend.x AS VARCHAR) AS DOUBLE) / (tot.total / tot.n))
  AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) / tot.n, 6) AS theil
FROM spend CROSS JOIN tot
GROUP BY tot.n
""",
    tags=("orders", "revenue", "stats"),
)
def q_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality index of customer spend — T = (1/n) Σ
    (x/μ)·ln(x/μ), 0 = perfectly equal, ln(n) = one customer owns
    everything. The information-theoretic inequality measure next to
    q_revenue_pareto's decile view and q_gini_token's rank view, with
    the property the others lack: T decomposes additively across
    subgroups.

    Exactness: per-customer spend is an exact decimal sum converted
    once; μ is one division of a 1-row broadcast; each (x/μ)·ln(x/μ)
    term is a few IEEE ops + one ln written token-identically in both
    engines (the q_lm_score per-row-transcendental discipline),
    DECIMAL-summed for order independence, one final division, round(6).

    Scale shape: one customer-keyed aggregate (map-side combined), a
    1-row total broadcast, one scan-speed term map, one global sum.
    """
    o = load(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(38,10)")).alias("x")
    )
    tot = spend.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("double").alias("total"),
    )
    xd = F.col("x").cast("double")
    mu = F.col("total") / F.col("n")
    term = (xd / mu) * F.log(xd / mu)
    return (
        spend.crossJoin(F.broadcast(tot))
        .groupBy(F.col("n").alias("n_customers"))
        .agg(
            F.round(
                F.sum(term.cast("decimal(38,10)")).cast("double")
                / F.col("n_customers"),
                6,
            ).alias("theil")
        )
    )
