"""Rank-based / robust statistics and forecast evaluation (SURVEY.md
§2B breadth): the nonparametric complements of the moment-based eval
family (stats_tests.py) plus the backtest readout for the forecasting
pair (event_analytics.q_forecast_holt / q_forecast_hw).

Cross-engine exactness strategy (the house discipline): every rank is
an exact integer from a deterministic total order; tie-averaged ranks
are carried DOUBLED (2·avgrank = 2·RANK() + ties − 1, an integer) so
rank moments stay integer-exact; trend/association statistics stay in
BIGINT/DECIMAL until one final IEEE expression; round(6) only after a
sqrt. Per-group ranks at scale come from ONE composite-key
with_global_rank pass + a groups-sized offset broadcast — never a
per-group window over a data-sized relation (a |groups|-partition
window is a skew bomb at 100 TB).

Reference parity note: the reference (/root/reference, 292-LoC ingest
pipeline) has no statistics surface; this is §2B/north-star breadth.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from streaming_data_ingestion_spark import artifacts
from streaming_data_ingestion_spark.compat import DEC, sql_dec_to_double
from streaming_data_ingestion_spark.ranking import with_global_rank
from streaming_data_ingestion_spark.registry import query
from streaming_data_ingestion_spark.tables import load

# --------------------------------------------------------------------------
# q_spearman_corr — Spearman rank correlation between the daily click and
# purchase volume series (the nonparametric twin of q_corr_matrix's
# Pearson and q_xcorr's lag-0 cell).
# --------------------------------------------------------------------------


@query(
    "q_spearman_corr",
    oracle=f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS x,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS y
  FROM events GROUP BY day
),
r AS (
  SELECT
    CAST(2 * RANK() OVER (ORDER BY x)
         + COUNT(*) OVER (PARTITION BY x) - 1 AS BIGINT) AS rx2,
    CAST(2 * RANK() OVER (ORDER BY y)
         + COUNT(*) OVER (PARTITION BY y) - 1 AS BIGINT) AS ry2
  FROM daily
),
m AS (
  SELECT
    CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(rx2) AS BIGINT) AS sx,
    CAST(SUM(ry2) AS BIGINT) AS sy,
    CAST(SUM(rx2 * rx2) AS BIGINT) AS sxx,
    CAST(SUM(ry2 * ry2) AS BIGINT) AS syy,
    CAST(SUM(rx2 * ry2) AS BIGINT) AS sxy
  FROM r
)
SELECT
  n AS n_days,
  ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
        / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
           * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6) AS rho_spearman
FROM m
""",
    tags=("events", "stats", "rank"),
)
def q_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between daily click volume and daily
    purchase volume — monotone association, robust to the heavy upper
    tail that drags Pearson around. Ties get average ranks (the standard
    treatment), carried DOUBLED so they stay integers: 2·avgrank =
    2·RANK() + ties − 1. ρ is then Pearson on the doubled ranks (scale
    cancels), so every moment is an exact BIGINT and the one final
    expression (a ratio of integer-differences with two sqrts) is
    IEEE-identical in both engines; round(6) absorbs the sqrt ULP.

    Scale shape: ONE day-keyed conditional-count aggregate collapses the
    fact table to the calendar-bounded two-series relation (≤ a few
    thousand rows at ANY corpus size); the rank windows run over that
    bounded relation only — the q_xcorr/q_acf pattern.
    """
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long")
        .alias("x"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("y"),
    )
    rx2 = (
        2 * F.rank().over(Window.orderBy("x"))
        + F.count(F.lit(1)).over(Window.partitionBy("x"))
        - 1
    ).cast("long")
    ry2 = (
        2 * F.rank().over(Window.orderBy("y"))
        + F.count(F.lit(1)).over(Window.partitionBy("y"))
        - 1
    ).cast("long")
    r = daily.select(rx2.alias("rx2"), ry2.alias("ry2"))
    m = r.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("rx2").cast("long").alias("sx"),
        F.sum("ry2").cast("long").alias("sy"),
        F.sum(F.col("rx2") * F.col("rx2")).cast("long").alias("sxx"),
        F.sum(F.col("ry2") * F.col("ry2")).cast("long").alias("syy"),
        F.sum(F.col("rx2") * F.col("ry2")).cast("long").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    num = (n * F.col("sxy") - sx * sy).cast("double")
    dx = F.sqrt((n * F.col("sxx") - sx * sx).cast("double"))
    dy = F.sqrt((n * F.col("syy") - sy * sy).cast("double"))
    return m.select(
        n.alias("n_days"),
        F.round(num / (dx * dy), 6).alias("rho_spearman"),
    )


# --------------------------------------------------------------------------
# q_mann_kendall — Mann-Kendall trend test over the daily revenue series
# (is the series monotonically trending, without assuming linearity?).
# --------------------------------------------------------------------------


@query(
    "q_mann_kendall",
    oracle="""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         SUM(CAST(value AS DECIMAL(38,10))) AS rev
  FROM events GROUP BY day
),
pairs AS (
  SELECT CAST(SIGN(b.rev - a.rev) AS BIGINT) AS s
  FROM daily a JOIN daily b ON b.day > a.day
),
agg AS (
  SELECT CAST(SUM(s) AS BIGINT) AS s_stat,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM daily) AS n_days
  FROM pairs
)
SELECT
  n_days,
  s_stat,
  CAST(2 * s_stat AS DOUBLE) / CAST(n_days * (n_days - 1) AS DOUBLE) AS tau
FROM agg
""",
    tags=("events", "stats", "timeseries"),
)
def q_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend statistic over daily revenue: S = Σ_{i<j}
    sign(rev_j − rev_i) and Kendall's tau-a = 2S / (n(n−1)) — the
    nonparametric "is this series trending" test (S near +n²/2 =
    monotone growth; near 0 = no trend), complementing q_linreg's slope
    (which assumes linearity) and q_seasonal_decompose's moving trend.

    Exactness: daily revenue is an order-independent DECIMAL(38,10)
    sum, so every pairwise comparison is a comparison of EXACT decimals
    — sign() can never ULP-flip; S and n are BIGINTs and tau is one
    IEEE division of exact integers.

    Scale shape: the fact table collapses to the calendar-bounded daily
    relation first; the pairwise stage is the allowlisted triangle join
    on that bounded relation (days² pairs ≈ 3M even at 7 years —
    constant in corpus size). At 100 TB the plan is identical: one
    day-keyed aggregate, then calendar-bounded work.
    """
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.col("value").cast(DEC)).alias("rev")
    )
    a, b = daily.alias("a"), daily.alias("b")
    pairs = a.join(F.broadcast(b), F.col("b.day") > F.col("a.day")).select(
        F.signum(F.col("b.rev") - F.col("a.rev")).cast("long").alias("s")
    )
    n = daily.agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    agg = pairs.agg(F.sum("s").cast("long").alias("s_stat")).crossJoin(
        F.broadcast(n)
    )
    return agg.select(
        "n_days",
        "s_stat",
        (
            (2 * F.col("s_stat")).cast("double")
            / (F.col("n_days") * (F.col("n_days") - 1)).cast("double")
        ).alias("tau"),
    )


# --------------------------------------------------------------------------
# q_trimmed_mean — per-type 5%-trimmed mean of event values (the robust
# location estimate a metrics pipeline quotes next to the raw mean).
# --------------------------------------------------------------------------


@query(
    "q_trimmed_mean",
    oracle=f"""
WITH ranked AS (
  SELECT event_type, value,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY value, event_id) AS rt,
         COUNT(*) OVER (PARTITION BY event_type) AS nt
  FROM events
),
kept AS (
  SELECT event_type, value, nt
  FROM ranked
  WHERE rt > nt // 20 AND rt <= nt - nt // 20
)
SELECT
  event_type,
  CAST(MIN(nt) AS BIGINT) AS n,
  CAST(COUNT(*) AS BIGINT) AS n_kept,
  {sql_dec_to_double("SUM(CAST(value AS DECIMAL(38,10)))")}
    / CAST(COUNT(*) AS DOUBLE) AS trimmed_mean
FROM kept
GROUP BY event_type
ORDER BY event_type
""",
    tags=("events", "stats", "robust"),
)
def q_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5%-trimmed mean of event value per type: drop the lowest and
    highest ⌊n/20⌋ observations (by the deterministic (value, event_id)
    total order) and average the rest — the robust location estimate
    that ignores fat tails and sensor glitches where the plain mean
    cannot.

    Scale shape — per-GROUP exact ranks WITHOUT a per-group window: a
    |groups|-partition window drags each type through one task (a skew
    bomb at 100 TB). Instead ONE composite-key with_global_rank pass
    ((event_type, value, event_id): a parallel range exchange) gives
    global ranks; per-type ranks are then rank − min(rank per type) + 1
    via a types-sized offset broadcast. Trim bounds are pure integer
    arithmetic (n//20), kept values decimal-summed, one final division.
    """
    ev = load(spark, sf_dir, "events").select("event_type", "value", "event_id")
    ranked, _n, goffs = with_global_rank(
        ev, ["event_type", "value", "event_id"], rank_col="gr",
        group_col="event_type",
    )
    offs = goffs.select(
        "event_type",
        F.col("__grp_base").alias("base"),
        F.col("__grp_n").alias("nt"),
    )
    rt = (F.col("gr") - F.col("base") + 1).alias("rt")
    k = F.floor(F.col("nt") / 20)
    kept = (
        ranked.join(F.broadcast(offs), "event_type")
        .select("event_type", "value", "nt", rt)
        .where((F.col("rt") > k) & (F.col("rt") <= F.col("nt") - k))
    )
    return (
        kept.groupBy("event_type")
        .agg(
            F.min("nt").cast("long").alias("n"),
            F.count(F.lit(1)).cast("long").alias("n_kept"),
            (
                F.sum(F.col("value").cast(DEC)).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("trimmed_mean"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# q_group_percentiles — EXACT per-type p50/p90/p99 by nearest-rank (the
# exact sibling of q_approx_quantile; per-key where q_histogram_equidepth
# is global).
# --------------------------------------------------------------------------


@query(
    "q_group_percentiles",
    oracle="""
WITH ranked AS (
  SELECT event_type, value,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY value, event_id) AS rt,
         COUNT(*) OVER (PARTITION BY event_type) AS nt
  FROM events
)
SELECT
  event_type,
  CAST(MIN(nt) AS BIGINT) AS n,
  MIN(CASE WHEN rt = (50 * nt + 99) // 100 THEN value END) AS p50,
  MIN(CASE WHEN rt = (90 * nt + 99) // 100 THEN value END) AS p90,
  MIN(CASE WHEN rt = (99 * nt + 99) // 100 THEN value END) AS p99
FROM ranked
GROUP BY event_type
ORDER BY event_type
""",
    tags=("events", "stats", "quantile"),
)
def q_group_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT p50/p90/p99 of event value per type via the nearest-rank
    definition: the value at per-type rank ⌈q·n⌉ = (q%·n + 99) // 100 —
    pure integer arithmetic, so the selected rank (and therefore the
    reported value, an untouched input double) is bit-deterministic in
    both engines. The exact counterpart of q_approx_quantile's KLL
    estimates and the per-key counterpart of q_histogram_equidepth.

    Scale shape: same as q_trimmed_mean — ONE composite-key
    with_global_rank pass + a types-sized offset broadcast gives exact
    per-type ranks with no per-group window; the three target ranks are
    computed from the broadcast counts and matched row-side, then one
    types-sized pivot aggregate.
    """
    ev = load(spark, sf_dir, "events").select("event_type", "value", "event_id")
    ranked, _n, goffs = with_global_rank(
        ev, ["event_type", "value", "event_id"], rank_col="gr",
        group_col="event_type",
    )
    offs = goffs.select(
        "event_type",
        F.col("__grp_base").alias("base"),
        F.col("__grp_n").alias("nt"),
    )
    rt = F.col("gr") - F.col("base") + 1
    nt = F.col("nt")
    hit = (
        ranked.join(F.broadcast(offs), "event_type")
        .select(
            "event_type",
            "value",
            nt.alias("nt"),
            rt.alias("rt"),
        )
        .where(
            (F.col("rt") == F.expr("(50 * nt + 99) div 100"))
            | (F.col("rt") == F.expr("(90 * nt + 99) div 100"))
            | (F.col("rt") == F.expr("(99 * nt + 99) div 100"))
        )
    )
    return (
        hit.groupBy("event_type")
        .agg(
            F.min("nt").cast("long").alias("n"),
            F.min(
                F.when(
                    F.col("rt") == F.expr("(50 * nt + 99) div 100"),
                    F.col("value"),
                )
            ).alias("p50"),
            F.min(
                F.when(
                    F.col("rt") == F.expr("(90 * nt + 99) div 100"),
                    F.col("value"),
                )
            ).alias("p90"),
            F.min(
                F.when(
                    F.col("rt") == F.expr("(99 * nt + 99) div 100"),
                    F.col("value"),
                )
            ).alias("p99"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# q_forecast_eval — backtest of the two naive forecasters on the daily
# click series (the baseline every forecasting model must beat).
# --------------------------------------------------------------------------


@query(
    "q_forecast_eval",
    oracle=f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS y
  FROM events WHERE event_type = 'click' GROUP BY day
),
joined AS (
  SELECT a.day, a.y, l1.y AS yhat1, l7.y AS yhat7
  FROM daily a
  JOIN daily l1 ON l1.day = a.day - 1
  JOIN daily l7 ON l7.day = a.day - 7
),
scored AS (
  SELECT 'naive_1d' AS model, y, yhat1 AS yhat FROM joined
  UNION ALL
  SELECT 'snaive_7d' AS model, y, yhat7 AS yhat FROM joined
)
SELECT
  model,
  CAST(COUNT(*) AS BIGINT) AS n_days,
  CAST(SUM(ABS(y - yhat)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mae,
  ROUND({sql_dec_to_double(
    "SUM(CAST(2.0 * CAST(ABS(y - yhat) AS DOUBLE)"
    " / CAST(y + yhat AS DOUBLE) AS DECIMAL(38,10)))"
  )} / CAST(COUNT(*) AS DOUBLE), 6) AS smape
FROM scored
GROUP BY model
ORDER BY model
""",
    tags=("events", "timeseries", "forecast"),
)
def q_forecast_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backtest MAE + SMAPE of the two canonical naive forecasters over
    the daily click series — yesterday's value (naive_1d) and the value
    one week back (snaive_7d). These are the baselines q_forecast_holt /
    q_forecast_hw must beat to justify their state; a forecasting
    pipeline reports this table next to the model's own error.

    Exactness: the series is integer daily counts, so every |y − ŷ| is
    an exact BIGINT (MAE = one division); each SMAPE term
    2|y−ŷ|/(y+ŷ) is one IEEE multiply+divide of exact integers, written
    token-identically in both engines, decimal-summed, round(6).

    Scale shape: one day-keyed count collapses the fact table; the
    lag joins are equi-joins on the calendar-bounded daily relation
    (evaluated only where both lags exist, so both models score the
    same days and the comparison is fair).
    """
    ev = load(spark, sf_dir, "events")
    # Persist the calendar-bounded daily series: it is consumed three
    # times (anchor + two lag join build sides) and the scored union
    # re-executes the join subtree, so without the persist the fact
    # aggregate ran ~6x. One corpus pass, then day-sized work only.
    daily = artifacts.cached(
        "q_forecast_eval.daily",
        sf_dir,
        lambda: (
            ev.filter(F.col("event_type") == "click")
            .groupBy(F.to_date("ts").alias("day"))
            .agg(F.count(F.lit(1)).cast("long").alias("y"))
        ),
    )
    a, l1, l7 = daily.alias("a"), daily.alias("l1"), daily.alias("l7")
    joined = (
        a.join(
            F.broadcast(l1), F.col("l1.day") == F.date_sub(F.col("a.day"), 1)
        )
        .join(
            F.broadcast(l7), F.col("l7.day") == F.date_sub(F.col("a.day"), 7)
        )
        .select(
            F.col("a.y").alias("y"),
            F.col("l1.y").alias("yhat1"),
            F.col("l7.y").alias("yhat7"),
        )
    )
    scored = joined.select(
        F.lit("naive_1d").alias("model"),
        "y",
        F.col("yhat1").alias("yhat"),
    ).unionByName(
        joined.select(
            F.lit("snaive_7d").alias("model"),
            "y",
            F.col("yhat7").alias("yhat"),
        )
    )
    term = (
        F.lit(2.0)
        * F.abs(F.col("y") - F.col("yhat")).cast("double")
        / (F.col("y") + F.col("yhat")).cast("double")
    ).cast(DEC)
    return (
        scored.groupBy("model")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            (
                F.sum(F.abs(F.col("y") - F.col("yhat"))).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("mae"),
            F.round(
                F.sum(term).cast("double") / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("smape"),
        )
        .orderBy("model")
    )


# --------------------------------------------------------------------------
# q_iqr_outliers — Tukey-fence outlier counts per event type (exact
# nearest-rank quartiles).
# --------------------------------------------------------------------------


@query(
    "q_iqr_outliers",
    oracle="""
WITH ranked AS (
  SELECT event_type, value,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY value, event_id) AS rt,
         COUNT(*) OVER (PARTITION BY event_type) AS nt
  FROM events
),
quarts AS (
  SELECT event_type,
         MIN(nt) AS nt,
         MIN(CASE WHEN rt = (25 * nt + 99) // 100 THEN value END) AS q1,
         MIN(CASE WHEN rt = (75 * nt + 99) // 100 THEN value END) AS q3
  FROM ranked GROUP BY event_type
)
SELECT
  r.event_type,
  CAST(MIN(q.nt) AS BIGINT) AS n,
  MIN(q.q1) AS q1,
  MIN(q.q3) AS q3,
  CAST(SUM(CASE WHEN r.value < q.q1 - 1.5 * (q.q3 - q.q1)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
  CAST(SUM(CASE WHEN r.value > q.q3 + 1.5 * (q.q3 - q.q1)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_high
FROM ranked r JOIN quarts q ON q.event_type = r.event_type
GROUP BY r.event_type
ORDER BY r.event_type
""",
    tags=("events", "stats", "robust"),
)
def q_iqr_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier census per event type: exact nearest-rank
    quartiles (the q_group_percentiles construction), fences at
    Q1 − 1.5·IQR / Q3 + 1.5·IQR, counts of values beyond each fence —
    the box-plot outlier rule as a distributed operator (the
    deterministic complement of q_anomaly_mad's robust-z view).

    Exactness: quartiles are UNTOUCHED input doubles selected by pure
    integer rank arithmetic; the fences are two IEEE ops on identical
    operands; fence comparisons are therefore deterministic in both
    engines; every count is a BIGINT.

    Scale shape: per-type exact ranks via ONE composite-key
    with_global_rank pass + a types-sized offset broadcast (no per-group
    window); the fence pass re-joins the types-sized quartile relation
    broadcast onto the ranked rows — two fact-sized passes total, both
    shuffle-bounded by the ranged exchange.
    """
    ev = load(spark, sf_dir, "events").select("event_type", "value", "event_id")
    ranked, _n, goffs = with_global_rank(
        ev, ["event_type", "value", "event_id"], rank_col="gr",
        group_col="event_type",
    )
    offs = goffs.select(
        "event_type",
        F.col("__grp_base").alias("base"),
        F.col("__grp_n").alias("nt"),
    )
    rt = F.col("gr") - F.col("base") + 1
    tagged = ranked.join(F.broadcast(offs), "event_type").select(
        "event_type", "value", F.col("nt").alias("nt"), rt.alias("rt")
    )
    quarts = tagged.groupBy("event_type").agg(
        F.min("nt").alias("nt"),
        F.min(
            F.when(F.col("rt") == F.expr("(25 * nt + 99) div 100"), F.col("value"))
        ).alias("q1"),
        F.min(
            F.when(F.col("rt") == F.expr("(75 * nt + 99) div 100"), F.col("value"))
        ).alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    # The fence census needs no ranks — only raw values + the broadcast
    # types-sized quartile relation — so it reads the events scan
    # directly instead of chaining a second broadcast join over the
    # ranked intermediate (COUNT over raw rows per type equals nt by
    # definition; fence comparisons see identical operands).
    return (
        ev.join(F.broadcast(quarts.drop("nt")), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("q1").alias("q1"),
            F.min("q3").alias("q3"),
            F.sum(
                F.when(F.col("value") < F.col("q1") - 1.5 * iqr, 1).otherwise(0)
            )
            .cast("long")
            .alias("n_low"),
            F.sum(
                F.when(F.col("value") > F.col("q3") + 1.5 * iqr, 1).otherwise(0)
            )
            .cast("long")
            .alias("n_high"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# q_type_corr_matrix — pairwise Pearson correlation matrix of the daily
# volume series of ALL event types.
# --------------------------------------------------------------------------


@query(
    "q_type_corr_matrix",
    oracle=f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, event_type,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY day, event_type
),
days AS (SELECT DISTINCT day FROM daily),
types AS (SELECT DISTINCT event_type FROM daily),
grid AS (
  -- dense day×type grid: a type absent on a day counts 0, otherwise
  -- the two series' covariance would silently skip those days
  SELECT d.day, t.event_type, COALESCE(x.n, 0) AS n
  FROM days d CROSS JOIN types t
  LEFT JOIN daily x ON x.day = d.day AND x.event_type = t.event_type
),
m AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS nd,
         CAST(SUM(n) AS BIGINT) AS s,
         CAST(SUM(n * n) AS BIGINT) AS ss
  FROM grid GROUP BY event_type
),
x AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         CAST(SUM(a.n * b.n) AS BIGINT) AS sxy
  FROM grid a JOIN grid b
    ON b.day = a.day AND a.event_type < b.event_type
  GROUP BY type_a, type_b
)
SELECT
  x.type_a,
  x.type_b,
  ROUND(CAST(ma.nd * x.sxy - ma.s * mb.s AS DOUBLE)
        / (sqrt(CAST(ma.nd * ma.ss - ma.s * ma.s AS DOUBLE))
           * sqrt(CAST(mb.nd * mb.ss - mb.s * mb.s AS DOUBLE))), 6) AS corr
FROM x
JOIN m ma ON ma.event_type = x.type_a
JOIN m mb ON mb.event_type = x.type_b
ORDER BY type_a, type_b
""",
    tags=("events", "stats", "timeseries"),
)
def q_type_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix of the DAILY VOLUME series of
    every event-type pair — which behaviors move together day-to-day
    (the k×k generalization of q_xcorr's lag-0 click/purchase cell;
    q_corr_matrix correlates columns within rows, this correlates TIME
    SERIES). Absent (day, type) cells count zero via a dense grid —
    otherwise covariance silently skips exactly the days that carry the
    signal.

    Exactness: every series value is an integer count, every moment an
    exact BIGINT, the correlation one closed-form expression with two
    sqrts, round(6).

    Scale shape: one (day, type) aggregate collapses the fact table;
    the dense grid, moments, and the day-keyed pair join are all
    calendar×|types|-bounded.
    """
    ev = load(spark, sf_dir, "events")
    # Persist the calendar×types series: days/types spines, the dense
    # grid's left join, the moments pass, and both pair-join sides all
    # re-derived it (~9 fact scans without the persist). One corpus
    # pass; every later stage is calendar×|types|-bounded.
    daily = artifacts.cached(
        "q_type_corr_matrix.daily",
        sf_dir,
        lambda: ev.groupBy(F.to_date("ts").alias("day"), "event_type").agg(
            F.count(F.lit(1)).cast("long").alias("n")
        ),
    )
    def _grid() -> DataFrame:
        days = daily.select("day").distinct()
        types = daily.select("event_type").distinct()
        return (
            days.crossJoin(F.broadcast(types))
            .join(daily, ["day", "event_type"], "left")
            .select(
                "day", "event_type", F.coalesce(F.col("n"), F.lit(0)).alias("n")
            )
        )

    # the dense grid is calendar×|types|-bounded and feeds THREE plan
    # branches (moments, both pair-join sides); persisting it stops each
    # branch re-running the spine distincts + left join over the daily
    # cache (~9 bounded aggregates → 3 cache scans).
    grid = artifacts.cached("q_type_corr_matrix.grid", sf_dir, _grid)
    m = grid.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("nd"),
        F.sum("n").cast("long").alias("s"),
        F.sum(F.col("n") * F.col("n")).cast("long").alias("ss"),
    )
    a, b = grid.alias("a"), grid.alias("b")
    x = (
        a.join(
            F.broadcast(b),
            (F.col("b.day") == F.col("a.day"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.sum(F.col("a.n") * F.col("b.n")).cast("long").alias("sxy"))
    )
    ma = m.select(
        F.col("event_type").alias("type_a"),
        F.col("nd").alias("nd_a"),
        F.col("s").alias("s_a"),
        F.col("ss").alias("ss_a"),
    )
    mb = m.select(
        F.col("event_type").alias("type_b"),
        F.col("nd").alias("nd_b"),
        F.col("s").alias("s_b"),
        F.col("ss").alias("ss_b"),
    )
    num = (F.col("nd_a") * F.col("sxy") - F.col("s_a") * F.col("s_b")).cast(
        "double"
    )
    da = F.sqrt(
        (F.col("nd_a") * F.col("ss_a") - F.col("s_a") * F.col("s_a")).cast(
            "double"
        )
    )
    db = F.sqrt(
        (F.col("nd_b") * F.col("ss_b") - F.col("s_b") * F.col("s_b")).cast(
            "double"
        )
    )
    return (
        x.join(F.broadcast(ma), "type_a")
        .join(F.broadcast(mb), "type_b")
        .select(
            "type_a",
            "type_b",
            F.round(num / (da * db), 6).alias("corr"),
        )
        .orderBy("type_a", "type_b")
    )


# --------------------------------------------------------------------------
# q_weekly_percentiles — exact p50/p90 trend of event values by week.
# --------------------------------------------------------------------------


@query(
    "q_weekly_percentiles",
    oracle="""
WITH wk AS (
  SELECT date_trunc('week', CAST(ts AS DATE)) AS week, value, event_id
  FROM events
),
ranked AS (
  SELECT week, value,
         ROW_NUMBER() OVER (PARTITION BY week
                            ORDER BY value, event_id) AS rt,
         COUNT(*) OVER (PARTITION BY week) AS nt
  FROM wk
)
SELECT
  CAST(week AS TIMESTAMP) AS week,
  CAST(MIN(nt) AS BIGINT) AS n,
  MIN(CASE WHEN rt = (50 * nt + 99) // 100 THEN value END) AS p50,
  MIN(CASE WHEN rt = (90 * nt + 99) // 100 THEN value END) AS p90
FROM ranked
GROUP BY week
ORDER BY week
""",
    tags=("events", "stats", "timeseries"),
)
def q_weekly_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly p50/p90 trend of event values — the tail-latency-over-time
    dashboard (a rising p90 with a flat p50 is the classic
    degrading-tail signature), by exact nearest-rank selection per week.

    Scale shape: q_group_percentiles' construction with the calendar
    week as the group — ONE composite-key with_global_rank pass over
    (week, value, event_id) + a weeks-sized offset broadcast; no
    per-week window ever touches the fact table. Integer rank targets;
    reported values are untouched input doubles.
    """
    ev = load(spark, sf_dir, "events").select(
        F.date_trunc("week", F.to_date("ts")).alias("week"),
        "value",
        "event_id",
    )
    ranked, _n, goffs = with_global_rank(
        ev, ["week", "value", "event_id"], rank_col="gr", group_col="week"
    )
    offs = goffs.select(
        "week",
        F.col("__grp_base").alias("base"),
        F.col("__grp_n").alias("nt"),
    )
    rt = F.col("gr") - F.col("base") + 1
    hit = (
        ranked.join(F.broadcast(offs), "week")
        .select("week", "value", F.col("nt").alias("nt"), rt.alias("rt"))
        .where(
            (F.col("rt") == F.expr("(50 * nt + 99) div 100"))
            | (F.col("rt") == F.expr("(90 * nt + 99) div 100"))
        )
    )
    return (
        hit.groupBy(F.col("week").cast("timestamp").alias("week"))
        .agg(
            F.min("nt").cast("long").alias("n"),
            F.min(
                F.when(
                    F.col("rt") == F.expr("(50 * nt + 99) div 100"),
                    F.col("value"),
                )
            ).alias("p50"),
            F.min(
                F.when(
                    F.col("rt") == F.expr("(90 * nt + 99) div 100"),
                    F.col("value"),
                )
            ).alias("p90"),
        )
        .orderBy("week")
    )


# --------------------------------------------------------------------------
# q_histogram2d — fixed-grid 2-D histogram (value band × hour of day).
# --------------------------------------------------------------------------

_H2_VBINS = 16
_H2_VMAX = 512.0  # power-of-two grid: width 32, one IEEE sub/div + floor


@query(
    "q_histogram2d",
    oracle=f"""
SELECT
  CAST(CASE WHEN CAST(value AS DOUBLE) >= {_H2_VMAX} THEN {_H2_VBINS}
            ELSE CAST(FLOOR(CAST(value AS DOUBLE) / 32.0) AS INTEGER)
       END AS INTEGER) AS value_bin,
  CAST(hour(ts) AS INTEGER) AS hour,
  CAST(COUNT(*) AS BIGINT) AS n
FROM events
GROUP BY value_bin, hour
ORDER BY value_bin, hour
""",
    tags=("events", "stats", "histogram"),
)
def q_histogram2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-grid 2-D histogram of (value band × hour of day) — the
    heat-map feed behind every "when do the big ones happen" dashboard
    panel, and the 2-D generalization of q_histogram /
    q_hist_serving's fixed-boundary discipline (power-of-two bin width
    32: one IEEE divide + floor, bit-identical cross-engine; overflow
    band at {_H2_VBINS}).

    Scale shape: ONE map-side-combined aggregate to a ≤ (bins+1)×24
    grid — the whole operator is a single scan + a grid-sized shuffle
    at any corpus size. Hour extraction is on the UTC-pinned session,
    matching DuckDB's naive-UTC read.
    """
    ev = load(spark, sf_dir, "events")
    vb = (
        F.when(F.col("value").cast("double") >= _H2_VMAX, F.lit(_H2_VBINS))
        .otherwise(F.floor(F.col("value").cast("double") / F.lit(32.0)))
        .cast("int")
    )
    return (
        ev.groupBy(
            vb.alias("value_bin"),
            F.hour("ts").cast("int").alias("hour"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy("value_bin", "hour")
    )


# --------------------------------------------------------------------------
# q_kendall_tau — Kendall tau-b association between the daily click and
# purchase volume series (the concordance view of what q_spearman_corr
# measures through ranks; tau-b corrects for ties on either axis).
# --------------------------------------------------------------------------


@query(
    "q_kendall_tau",
    oracle="""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              AS BIGINT) AS x,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS y
  FROM events GROUP BY day
),
pairs AS (
  SELECT
    CASE WHEN (b.x - a.x) * (b.y - a.y) > 0 THEN 1 ELSE 0 END AS c,
    CASE WHEN (b.x - a.x) * (b.y - a.y) < 0 THEN 1 ELSE 0 END AS d,
    CASE WHEN b.x = a.x THEN 1 ELSE 0 END AS tx,
    CASE WHEN b.y = a.y THEN 1 ELSE 0 END AS ty
  FROM daily a JOIN daily b ON b.day > a.day
),
agg AS (
  SELECT
    CAST(SUM(c) AS BIGINT) AS c,
    CAST(SUM(d) AS BIGINT) AS d,
    CAST(SUM(tx) AS BIGINT) AS tx,
    CAST(SUM(ty) AS BIGINT) AS ty,
    CAST(COUNT(*) AS BIGINT) AS n0,
    (SELECT CAST(COUNT(*) AS BIGINT) FROM daily) AS n_days
  FROM pairs
)
SELECT
  n_days,
  c AS concordant,
  d AS discordant,
  ROUND(CAST(c - d AS DOUBLE)
        / sqrt(CAST((n0 - tx) * (n0 - ty) AS DOUBLE)), 6) AS tau_b
FROM agg
""",
    tags=("events", "stats", "rank"),
)
def q_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b between daily click volume and daily purchase
    volume: concordant minus discordant pairs over √((n₀−t_x)(n₀−t_y)),
    where t_x/t_y count pairs tied on either axis — the tie-corrected
    concordance coefficient (integer-count series tie often, so tau-a
    would understate the association Spearman/Pearson report).

    Exactness: the series are integer counts, so every pairwise
    comparison is exact; C, D, tie counts and n₀ are BIGINTs, and tau-b
    is one integer-difference division with one sqrt, round(6).

    Scale shape: the fact table collapses to the calendar-bounded
    (day, x, y) relation in ONE conditional-count aggregate; the
    triangle join runs over days² bounded pairs (the q_mann_kendall
    shape), never over events.
    """
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long")
        .alias("x"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("y"),
    )
    a, b = daily.alias("a"), daily.alias("b")
    prod = (F.col("b.x") - F.col("a.x")) * (F.col("b.y") - F.col("a.y"))
    pairs = a.join(b, F.col("b.day") > F.col("a.day")).select(
        F.when(prod > 0, 1).otherwise(0).alias("c"),
        F.when(prod < 0, 1).otherwise(0).alias("d"),
        F.when(F.col("b.x") == F.col("a.x"), 1).otherwise(0).alias("tx"),
        F.when(F.col("b.y") == F.col("a.y"), 1).otherwise(0).alias("ty"),
    )
    n = daily.agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    agg = pairs.agg(
        F.sum("c").cast("long").alias("c"),
        F.sum("d").cast("long").alias("d"),
        F.sum("tx").cast("long").alias("tx"),
        F.sum("ty").cast("long").alias("ty"),
        F.count(F.lit(1)).cast("long").alias("n0"),
    ).crossJoin(F.broadcast(n))
    tau = F.round(
        (F.col("c") - F.col("d")).cast("double")
        / F.sqrt(
            ((F.col("n0") - F.col("tx")) * (F.col("n0") - F.col("ty"))).cast(
                "double"
            )
        ),
        6,
    )
    return agg.select(
        "n_days",
        F.col("c").alias("concordant"),
        F.col("d").alias("discordant"),
        tau.alias("tau_b"),
    )


# --------------------------------------------------------------------------
# q_theil_sen — Theil-Sen robust trend: the median pairwise slope of the
# daily revenue series (the outlier-immune line q_linreg's OLS is not).
# --------------------------------------------------------------------------


@query(
    "q_theil_sen",
    oracle="""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         SUM(CAST(value AS DECIMAL(38,10))) AS rev
  FROM events GROUP BY day
),
slopes AS (
  SELECT a.day AS d1, b.day AS d2,
         CAST(CAST(b.rev - a.rev AS VARCHAR) AS DOUBLE)
           / CAST(b.day - a.day AS DOUBLE) AS slope
  FROM daily a JOIN daily b ON b.day > a.day
),
ranked AS (
  SELECT slope,
         ROW_NUMBER() OVER (ORDER BY slope, d1, d2) AS rn,
         CAST(COUNT(*) OVER () AS BIGINT) AS m
  FROM slopes
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days FROM daily)
SELECT
  n.n_days,
  ranked.m AS n_pairs,
  ranked.slope AS sen_slope
FROM ranked CROSS JOIN n
WHERE rn = (m + 1) // 2
""",
    tags=("events", "stats", "timeseries"),
)
def q_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen estimator over daily revenue: the MEDIAN of all
    pairwise slopes (rev_j − rev_i)/(day_j − day_i) — the robust trend
    line (breakdown point ~29%) that one promo-day revenue spike cannot
    drag the way it drags q_linreg's OLS slope. Median = the
    lower-median nearest rank (m+1)//2 of the (slope, day-pair)-ordered
    slope set, a deterministic total order.

    Exactness: daily revenue is an exact DECIMAL sum; each slope is ONE
    decimal-difference→double conversion (VARCHAR-hop on the DuckDB
    side, single-rounded both engines) divided by an exact integer day
    gap — bit-identical doubles, so both engines rank and pick the same
    slope. No rounding needed: the output is a picked value, not a sum.

    Scale shape: the fact table collapses to the calendar-bounded daily
    relation first; slopes are days² bounded pairs (the q_mann_kendall
    triangle), and the rank window runs over that bounded relation.
    """
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.col("value").cast(DEC)).alias("rev")
    )
    a, b = daily.alias("a"), daily.alias("b")
    slopes = a.join(b, F.col("b.day") > F.col("a.day")).select(
        F.col("a.day").alias("d1"),
        F.col("b.day").alias("d2"),
        (
            (F.col("b.rev") - F.col("a.rev")).cast("double")
            / F.datediff(F.col("b.day"), F.col("a.day")).cast("double")
        ).alias("slope"),
    )
    w = Window.orderBy("slope", "d1", "d2")
    ranked = slopes.select(
        "slope",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(
            Window.partitionBy(F.lit(1))
        ).cast("long").alias("m"),
    )
    n = daily.agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    return (
        ranked.crossJoin(F.broadcast(n))
        .where(F.col("rn") == F.expr("(m + 1) div 2"))
        .select("n_days", F.col("m").alias("n_pairs"), F.col("slope").alias("sen_slope"))
    )


# --------------------------------------------------------------------------
# q_winsorized_mean — per-type 5%/95% winsorized mean: the clamping
# sibling of q_trimmed_mean (outliers are pulled to the cut values
# instead of dropped, preserving n).
# --------------------------------------------------------------------------


@query(
    "q_winsorized_mean",
    oracle="""
WITH ranked AS (
  SELECT event_type, value,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY value, event_id) AS rt,
         COUNT(*) OVER (PARTITION BY event_type) AS nt
  FROM events
),
bounds AS (
  SELECT event_type,
         CAST(MIN(nt) AS BIGINT) AS n,
         MIN(CASE WHEN rt = (5 * nt + 99) // 100 THEN value END) AS lo_cut,
         MIN(CASE WHEN rt = (95 * nt + 99) // 100 THEN value END) AS hi_cut
  FROM ranked GROUP BY event_type
)
SELECT
  r.event_type,
  b.n,
  b.lo_cut,
  b.hi_cut,
  CAST(CAST(SUM(CAST(LEAST(GREATEST(r.value, b.lo_cut), b.hi_cut)
       AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE)
    / CAST(COUNT(*) AS DOUBLE) AS winsorized_mean
FROM ranked r JOIN bounds b USING (event_type)
GROUP BY r.event_type, b.n, b.lo_cut, b.hi_cut
ORDER BY r.event_type
""",
    tags=("events", "stats", "rank"),
)
def q_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5%/95% winsorized mean of event value per type: values below the
    p05 nearest-rank cut are pulled UP to it and values above p95 pulled
    DOWN — the robust location estimate that (unlike q_trimmed_mean)
    keeps every observation's vote, just caps its leverage; the pair of
    cut values is reported so the clamping is auditable.

    Exactness: cut ranks are pure integer arithmetic ((q·n+99)//100 on a
    unique ROW_NUMBER), cut values untouched input doubles, the clamp is
    LEAST/GREATEST (exact), the clamped sum DECIMAL-routed, one final
    IEEE division.

    Scale shape: the q_trimmed_mean construction — ONE composite-key
    with_global_rank pass + a types-sized offset/bounds broadcast; no
    per-group window ever touches the fact table.
    """
    ev = load(spark, sf_dir, "events").select(
        "event_type", "value", "event_id"
    )
    ranked, _n, goffs = with_global_rank(
        ev, ["event_type", "value", "event_id"], rank_col="gr",
        group_col="event_type",
    )
    offs = goffs.select(
        "event_type",
        F.col("__grp_base").alias("base"),
        F.col("__grp_n").alias("nt"),
    )
    j = ranked.join(F.broadcast(offs), "event_type").select(
        "event_type",
        "value",
        "nt",
        (F.col("gr") - F.col("base") + 1).alias("rt"),
    )
    bounds = j.groupBy("event_type").agg(
        F.min("nt").cast("long").alias("n"),
        F.min(
            F.when(F.col("rt") == F.expr("(5 * nt + 99) div 100"), F.col("value"))
        ).alias("lo_cut"),
        F.min(
            F.when(F.col("rt") == F.expr("(95 * nt + 99) div 100"), F.col("value"))
        ).alias("hi_cut"),
    )
    clamped = F.least(
        F.greatest(F.col("value"), F.col("lo_cut")), F.col("hi_cut")
    )
    # The clamp pass needs no ranks — only raw values + the broadcast
    # types-sized cut relation — so it reads the events scan directly
    # instead of chaining a second broadcast join over the ranked
    # intermediate (the decimal sum is order-independent, so values are
    # bit-identical; COUNT over raw rows per type equals nt by
    # definition). sf0.1: 1.89 s → ~1.2 s exec.
    return (
        ev.join(F.broadcast(bounds), "event_type")
        .groupBy("event_type", "n", "lo_cut", "hi_cut")
        .agg(
            (
                F.sum(clamped.cast(DEC)).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("winsorized_mean")
        )
        .select(
            "event_type", "n", "lo_cut", "hi_cut", "winsorized_mean"
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# q_group_linreg — per-type OLS trend of the daily event-count series
# (slope, intercept, r²): the grouped sibling of q_linreg.
# --------------------------------------------------------------------------


@query(
    "q_group_linreg",
    oracle="""
WITH daily AS (
  SELECT event_type,
         CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS x,
         CAST(COUNT(*) AS BIGINT) AS y
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
m AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy,
         CAST(SUM(x * y) AS BIGINT) AS sxy
  FROM daily GROUP BY event_type
)
SELECT
  event_type,
  n AS n_days,
  CAST(n * sxy - sx * sy AS DOUBLE)
    / CAST(n * sxx - sx * sx AS DOUBLE) AS slope,
  (CAST(sy AS DOUBLE) - CAST(n * sxy - sx * sy AS DOUBLE)
     / CAST(n * sxx - sx * sx AS DOUBLE) * CAST(sx AS DOUBLE))
    / CAST(n AS DOUBLE) AS intercept,
  (CAST(n * sxy - sx * sy AS DOUBLE) * CAST(n * sxy - sx * sy AS DOUBLE))
    / (CAST(n * sxx - sx * sx AS DOUBLE)
       * CAST(n * syy - sy * sy AS DOUBLE)) AS r2
FROM m
WHERE n * sxx > sx * sx AND n * syy > sy * sy
ORDER BY event_type
""",
    tags=("events", "stats", "timeseries"),
)
def q_group_linreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type OLS trend of the daily volume series: slope
    (events/day of drift), intercept at the fixed 2024-01-01 origin, and
    r² — "which event types are growing, and how linearly" in one
    grouped regression, the per-key sibling of q_linreg (one global
    fit) and the parametric counterpart of q_mann_kendall.

    Exactness: x (days since a fixed origin) and y (daily counts) are
    exact integers, so all five moments are exact BIGINTs; slope is one
    IEEE division of integer differences; intercept/r² are a few IEEE
    ops written token-identically (r²'s squares computed in doubles —
    the integer squares could exceed 2^63). Degenerate groups (constant
    x or constant y ⇒ zero denominator, which ANSI division would
    raise on) are excluded by the identical integer guard in both
    engines.

    Scale shape: the fact table collapses to the (type × day) relation
    in ONE map-side-combined aggregate; the moment rollup is
    types-sized. No windows, no joins.
    """
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    d = daily.select(
        "event_type",
        F.datediff(F.col("day"), F.lit("2024-01-01")).cast("long").alias("x"),
        "y",
    )
    m = d.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    num = (n * sxy - sx * sy).cast("double")
    dx = (n * sxx - sx * sx).cast("double")
    dy = (n * syy - sy * sy).cast("double")
    slope = num / dx
    return (
        m.where((n * sxx > sx * sx) & (n * syy > sy * sy))
        .select(
            "event_type",
            n.alias("n_days"),
            slope.alias("slope"),
            (
                (sy.cast("double") - slope * sx.cast("double"))
                / n.cast("double")
            ).alias("intercept"),
            ((num * num) / (dx * dy)).alias("r2"),
        )
        .orderBy("event_type")
    )
