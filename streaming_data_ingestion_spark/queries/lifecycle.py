"""User-lifecycle / time-series diagnostics over the event stream
(SURVEY.md §2B breadth — product-analytics readouts the reference's
ingest pipeline (`/root/reference/spark-streaming.py`) feeds into
Cassandra but never computes: growth accounting, serial dependence,
and time-to-conversion survival).

Scale design shared by the family:

* Each query's ONLY data-sized stage is one map-side-combined aggregate
  that collapses the event fact table to a CALENDAR- or USER-bounded
  relation (per-day counts, per-user first/conversion timestamps →
  per-duration counts). Everything after runs on that bounded relation.
* Cumulative / lagged / triangular structure is computed ON THE BOUNDED
  RELATION via broadcast inequality joins (the q_ks_test ECDF idiom) or
  equi-joins against an exploded lag spine — never an unpartitioned
  window over the fact table (the repo-wide ban).
* Cross-engine hash discipline is the house standard (:mod:`compat`):
  integer counts stay integer, any sum over >1 double terms goes through
  DECIMAL(38,10), single divisions/products happen identically per-row
  in both engines, and final transcendental outputs are ``round(6)`` to
  absorb libm ULP.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from streaming_data_ingestion_spark import artifacts
from streaming_data_ingestion_spark.compat import DEC, sql_dec_to_double
from streaming_data_ingestion_spark.registry import query
from streaming_data_ingestion_spark.tables import load

# --------------------------------------------------------------------------
# q_cum_uniques — cumulative distinct users by day (the growth dashboard's
# "total accounts" curve, computed incrementally-shaped).
# --------------------------------------------------------------------------


@query(
    "q_cum_uniques",
    oracle="""
WITH fs AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS day FROM events GROUP BY user_id
),
daily AS (
  SELECT day, CAST(COUNT(*) AS BIGINT) AS new_users FROM fs GROUP BY day
)
SELECT
  CAST(a.day AS TIMESTAMP) AS day,
  a.new_users,
  CAST(SUM(b.new_users) AS BIGINT) AS cum_users
FROM daily a JOIN daily b ON b.day <= a.day
GROUP BY a.day, a.new_users
ORDER BY a.day
""",
    tags=("events", "lifecycle"),
)
def q_cum_uniques(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily new-user and cumulative-unique-user counts.

    The naive formulation — COUNT(DISTINCT user) over an ever-growing
    day-window — rescans the whole history per day. This is the
    incremental identity instead: a user contributes exactly once, on
    their FIRST-SEEN day, so dashboards get ``cum(t) = Σ_{d≤t} new(d)``.

    Scale shape: one user-keyed aggregate (min day per user — map-side
    combined, users-sized shuffle) + one day-keyed aggregate → the daily
    relation is CALENDAR-bounded, and the running total is a broadcast
    triangle join on it (days² pairs ≈ nothing; at 10 years that is
    3650² = 13M pairs, still one task's work). No unpartitioned window,
    no per-day rescan.
    """
    ev = load(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("day"))
    daily = first_seen.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("new_users")
    )
    a, b = daily.alias("a"), daily.alias("b")
    return (
        a.join(F.broadcast(b), F.col("b.day") <= F.col("a.day"))
        .groupBy(
            # date → timestamp for the cross-engine compare (pandas reads
            # a Spark DATE as object; the house convention is TIMESTAMP)
            F.col("a.day").cast("timestamp").alias("day"),
            F.col("a.new_users").alias("new_users"),
        )
        .agg(F.sum("b.new_users").cast("long").alias("cum_users"))
        .orderBy("day")
    )


# --------------------------------------------------------------------------
# q_acf — autocorrelation function of daily event volume, lags 1..7
# (the serial-dependence diagnostic behind seasonality / forecast choices).
# --------------------------------------------------------------------------

_ACF_MAX_LAG = 7


@query(
    "q_acf",
    oracle=f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS cnt FROM events GROUP BY 1
),
mu AS (
  SELECT CAST(SUM(cnt) AS DOUBLE) / COUNT(*) AS mu FROM daily
),
cent AS (
  SELECT day, CAST(cnt AS DOUBLE) - mu.mu AS dev FROM daily, mu
),
den AS (
  SELECT {sql_dec_to_double("SUM(CAST(dev * dev AS DECIMAL(38,10)))")} AS denom
  FROM cent
),
lags AS (SELECT CAST(i AS BIGINT) AS lag FROM range(1, {_ACF_MAX_LAG + 1}) t(i)),
pairs AS (
  SELECT l.lag, a.dev AS da, b.dev AS db
  FROM cent a
  JOIN lags l ON TRUE
  JOIN cent b ON b.day = a.day - CAST(l.lag AS INTEGER)
)
SELECT
  lag,
  CAST(COUNT(*) AS BIGINT) AS n_pairs,
  ROUND({sql_dec_to_double("SUM(CAST(da * db AS DECIMAL(38,10)))")}
        / (SELECT denom FROM den), 6) AS acf
FROM pairs
GROUP BY lag
ORDER BY lag
""",
    tags=("events", "timeseries", "stats"),
)
def q_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample autocorrelation of the daily event-count series at lags
    1..7: ``r_k = Σ(x_t−μ)(x_{t−k}−μ) / Σ(x_t−μ)²`` — the diagnostic
    that says whether q_seasonality / q_forecast_holt have structure to
    model at all (weekly data should spike at lag 7).

    Scale shape: ONE day-keyed count collapses the fact table to the
    calendar-bounded daily relation. Lagged pairing is an EQUI-join —
    each day explodes the constant 7-row lag spine and joins back on the
    computed prior day — so no inequality scan anywhere; the identical
    centered subtree on both join sides collapses to one ReusedExchange.
    μ and the denominator are 1-row broadcasts. Per-term products are
    row-local IEEE doubles; both sums go through DECIMAL(38,10).
    """
    ev = load(spark, sf_dir, "events")
    # Persist the calendar-bounded daily series: μ, the denominator, and
    # both lag-join sides are separate plan branches that each re-ran
    # the fact aggregate without it (~4 corpus passes). One pass now.
    daily = artifacts.cached(
        "q_acf.daily",
        sf_dir,
        lambda: ev.groupBy(F.to_date("ts").alias("day")).agg(
            F.count(F.lit(1)).alias("cnt")
        ),
    )
    mu = daily.agg(
        (F.sum("cnt").cast("double") / F.count(F.lit(1))).alias("mu")
    )
    cent = daily.crossJoin(F.broadcast(mu)).select(
        "day", (F.col("cnt").cast("double") - F.col("mu")).alias("dev")
    )
    den = cent.agg(
        F.sum((F.col("dev") * F.col("dev")).cast(DEC)).cast("double").alias("denom")
    )
    a = cent.select(
        "day",
        F.col("dev").alias("da"),
        F.explode(F.sequence(F.lit(1), F.lit(_ACF_MAX_LAG))).alias("lag"),
    ).withColumn("prev_day", F.date_sub("day", F.col("lag")))
    b = cent.select(F.col("day").alias("bday"), F.col("dev").alias("db"))
    return (
        a.join(b, a.prev_day == b.bday)
        .groupBy(F.col("lag").cast("long").alias("lag"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum((F.col("da") * F.col("db")).cast(DEC)).cast("double").alias("num"),
        )
        .crossJoin(F.broadcast(den))
        .select("lag", "n_pairs", F.round(F.col("num") / F.col("denom"), 6).alias("acf"))
        .orderBy("lag")
    )


# --------------------------------------------------------------------------
# q_survival_km — Kaplan-Meier time-to-conversion curve with right-
# censoring (signup-to-purchase survival, the funnel's statistical form).
# --------------------------------------------------------------------------


@query(
    "q_survival_km",
    oracle=f"""
WITH hz AS (
  SELECT MAX(CAST(ts AS DATE)) AS horizon FROM events
),
u AS (
  SELECT
    user_id,
    MIN(CAST(ts AS DATE)) AS t0,
    MIN(CASE WHEN event_type = 'purchase' THEN CAST(ts AS DATE) END) AS tp
  FROM events GROUP BY user_id
),
dur AS (
  SELECT
    CAST(datediff('day', t0, COALESCE(tp, hz.horizon)) AS BIGINT) AS duration,
    (tp IS NOT NULL) AS observed
  FROM u, hz
),
c AS (
  SELECT duration, observed, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM dur GROUP BY duration, observed
),
ev_days AS (
  SELECT duration AS t, cnt AS d FROM c WHERE observed
),
risk AS (
  SELECT e.t, e.d, CAST(SUM(ac.cnt) AS BIGINT) AS n
  FROM ev_days e JOIN c ac ON ac.duration >= e.t
  GROUP BY e.t, e.d
),
f AS (
  SELECT t, d, n,
         1.0 - (CAST(d AS DOUBLE) / CAST(n AS DOUBLE)) AS factor
  FROM risk
)
SELECT
  a.t AS t_day,
  a.n AS n_risk,
  a.d AS n_events,
  CASE WHEN MIN(b.factor) = 0.0 THEN 0.0
       ELSE ROUND(exp({sql_dec_to_double(
           "SUM(CAST(ln(CASE WHEN b.factor = 0.0 THEN 1.0 ELSE b.factor END)"
           " AS DECIMAL(38,10)))")}), 6)
  END AS survival
FROM f a JOIN f b ON b.t <= a.t
GROUP BY a.t, a.n, a.d
ORDER BY a.t
""",
    tags=("events", "lifecycle", "stats"),
)
def q_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier estimate of days-to-first-purchase per user, right-
    censored at the data horizon: ``S(t) = Π_{tᵢ≤t} (1 − dᵢ/nᵢ)`` over
    the observed event days — the censoring-correct generalization of
    q_funnel_time (which can only average users who DID convert).

    Scale shape: the only fact-sized stage is one user-keyed aggregate
    (first event / first purchase per user). That collapses to a
    (duration, observed) count table bounded by the CALENDAR, and the
    at-risk sets, hazard factors, and the cumulative product (computed
    as exp of a DECIMAL-summed Σln — with the S=0 absorbing case split
    out so ln(0) never evaluates) all run as broadcast triangle joins on
    that bounded relation. Factors are single IEEE divisions, identical
    per-row in both engines; round(6) absorbs the libm ln/exp ULP.
    """
    ev = load(spark, sf_dir, "events")
    hz = ev.agg(F.max(F.to_date("ts")).alias("horizon"))
    u = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("t0"),
        F.min(F.when(F.col("event_type") == "purchase", F.to_date("ts"))).alias("tp"),
    )
    dur = u.crossJoin(F.broadcast(hz)).select(
        F.datediff(F.coalesce("tp", "horizon"), F.col("t0"))
        .cast("long")
        .alias("duration"),
        F.col("tp").isNotNull().alias("observed"),
    )

    # Persist the calendar-bounded (duration, observed) counts: the
    # event-day spine, the at-risk broadcast build, and both survival
    # triangle-join sides each re-ran the user-keyed fact aggregate
    # without it (~4 corpus passes). One pass (plus the horizon scan).
    c = artifacts.cached(
        "q_survival_km.c",
        sf_dir,
        lambda: dur.groupBy("duration", "observed").agg(
            F.count(F.lit(1)).cast("long").alias("cnt")
        ),
    )
    ev_days = c.where("observed").select(F.col("duration").alias("t"), F.col("cnt").alias("d"))
    risk = (
        ev_days.join(F.broadcast(c.alias("ac")), F.col("ac.duration") >= F.col("t"))
        .groupBy("t", "d")
        .agg(F.sum("ac.cnt").cast("long").alias("n"))
    )
    f = risk.select(
        "t",
        "d",
        "n",
        (F.lit(1.0) - (F.col("d").cast("double") / F.col("n").cast("double"))).alias(
            "factor"
        ),
    )
    a, b = f.alias("a"), f.alias("b")
    return (
        a.join(F.broadcast(b), F.col("b.t") <= F.col("a.t"))
        .groupBy(
            F.col("a.t").alias("t_day"),
            F.col("a.n").alias("n_risk"),
            F.col("a.d").alias("n_events"),
        )
        .agg(
            F.min("b.factor").alias("minf"),
            # ln(0) = -inf would poison the decimal cast (and DuckDB
            # errors on it even inside a discarded CASE branch), so the
            # zero factor is masked to ln(1)=0 here and the S(t)=0
            # absorbing case is decided by minf below.
            F.sum(
                F.log(
                    F.when(F.col("b.factor") == 0.0, F.lit(1.0)).otherwise(
                        F.col("b.factor")
                    )
                ).cast(DEC)
            )
            .cast("double")
            .alias("lnsum"),
        )
        .select(
            "t_day",
            "n_risk",
            "n_events",
            F.when(F.col("minf") == 0.0, F.lit(0.0))
            .otherwise(F.round(F.exp("lnsum"), 6))
            .alias("survival"),
        )
        .orderBy("t_day")
    )


# --------------------------------------------------------------------------
# q_streaks — longest consecutive-day activity streak per user, reported
# as a distribution (the habit-formation readout; gaps-and-islands form).
# --------------------------------------------------------------------------


@query(
    "q_streaks",
    oracle="""
WITH d AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
),
isl AS (
  SELECT user_id, day,
         day - CAST(ROW_NUMBER() OVER (
             PARTITION BY user_id ORDER BY day) AS INTEGER) AS anchor
  FROM d
),
s AS (
  SELECT user_id, anchor, COUNT(*) AS len FROM isl GROUP BY user_id, anchor
),
l AS (
  SELECT user_id, MAX(len) AS streak_len FROM s GROUP BY user_id
)
SELECT
  CAST(streak_len AS BIGINT) AS streak_len,
  CAST(COUNT(*) AS BIGINT) AS n_users
FROM l
GROUP BY streak_len
ORDER BY streak_len
""",
    tags=("events", "lifecycle"),
)
def q_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest run of consecutive active days per user, aggregated to a
    (streak length → user count) distribution — the classic
    gaps-and-islands pattern: within each user, ``day − row_number``
    is constant exactly across a consecutive run, so one partitioned
    window turns runs into groupable island anchors.

    Scale shape: one (user, day) distinct collapses the fact table to a
    users×calendar-bounded relation; the ROW_NUMBER window is PARTITIONED
    by user (the repo-wide rule — never a global window); two further
    tiny aggregates produce a calendar-bounded output. Total: two
    user-keyed exchanges, each map-side combinable. At 10⁹ users the
    plan is unchanged — per-user state is one sort of that user's active
    days.
    """
    from pyspark.sql.window import Window

    ev = load(spark, sf_dir, "events")
    d = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    isl = d.withColumn("anchor", F.date_sub(F.col("day"), F.row_number().over(w)))
    s = isl.groupBy("user_id", "anchor").agg(F.count(F.lit(1)).alias("len"))
    longest = s.groupBy("user_id").agg(F.max("len").alias("sl"))
    return (
        longest.groupBy(F.col("sl").cast("long").alias("streak_len"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
        .orderBy("streak_len")
    )


# --------------------------------------------------------------------------
# q_missing_days — calendar-gap audit: days inside each event type's
# active span with NO data (the ingestion-completeness alarm).
# --------------------------------------------------------------------------


@query(
    "q_missing_days",
    oracle="""
WITH seen AS (
  SELECT event_type, CAST(ts AS DATE) AS day FROM events GROUP BY 1, 2
),
span AS (
  SELECT event_type, MIN(day) AS d0, MAX(day) AS d1,
         CAST(COUNT(*) AS BIGINT) AS n_seen
  FROM seen GROUP BY event_type
),
expected AS (
  SELECT event_type, n_seen, d1, d0,
         CAST(datediff('day', d0, d1) + 1 AS BIGINT) AS n_expected
  FROM span
),
gaps AS (
  SELECT e.event_type, CAST(u.d AS DATE) AS missing_day
  FROM expected e, unnest(generate_series(e.d0, e.d1, INTERVAL 1 DAY)) t(u_ts),
       LATERAL (SELECT CAST(u_ts AS DATE) AS d) u
  WHERE NOT EXISTS (
    SELECT 1 FROM seen s
    WHERE s.event_type = e.event_type AND s.day = CAST(u.d AS DATE)
  )
)
SELECT e.event_type, e.n_expected, e.n_seen,
       e.n_expected - e.n_seen AS n_missing,
       CAST(MIN(g.missing_day) AS TIMESTAMP) AS first_gap
FROM expected e LEFT JOIN gaps g ON g.event_type = e.event_type
GROUP BY e.event_type, e.n_expected, e.n_seen
ORDER BY e.event_type
""",
    tags=("events", "dq", "lifecycle"),
)
def q_missing_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion-completeness audit: for each event type, how many days
    inside its own [first, last] active span produced NO events, and
    the first such gap — the alarm a pipeline owner pages on (a gap
    inside the span means an upstream outage or a dropped partition,
    not a product change).

    Scale shape: one (type, day) distinct collapses the fact table;
    the expected calendar is generated per type from the 5-row span
    relation (`sequence(d0, d1)` exploded — calendar-bounded), and the
    gap check is a broadcast anti-join of that calendar against the
    observed (type, day) relation. Nothing after the first aggregate
    touches event-sized data.
    """
    ev = load(spark, sf_dir, "events")
    seen = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(F.lit(1))
    span = seen.groupBy("event_type").agg(
        F.min("day").alias("d0"),
        F.max("day").alias("d1"),
        F.count(F.lit(1)).cast("long").alias("n_seen"),
    )
    calendar = span.select(
        "event_type", F.explode(F.sequence("d0", "d1")).alias("day")
    )
    gaps = calendar.join(
        seen.select("event_type", "day"), ["event_type", "day"], "left_anti"
    ).groupBy("event_type").agg(
        F.min(F.col("day").cast("timestamp")).alias("first_gap")
    )
    return (
        span.select(
            "event_type",
            (F.datediff("d1", "d0") + 1).cast("long").alias("n_expected"),
            "n_seen",
        )
        .join(gaps, "event_type", "left")
        .select(
            "event_type",
            "n_expected",
            "n_seen",
            (F.col("n_expected") - F.col("n_seen")).alias("n_missing"),
            "first_gap",
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# q_type_overlap — audience-overlap (Jaccard) matrix between event types:
# which features share users (the adoption-overlap readout).
# --------------------------------------------------------------------------


@query(
    "q_type_overlap",
    oracle="""
WITH ut AS (
  SELECT DISTINCT user_id, event_type FROM events
),
sizes AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM ut GROUP BY event_type
),
inter AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         CAST(COUNT(*) AS BIGINT) AS n_both
  FROM ut a JOIN ut b ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY a.event_type, b.event_type
)
SELECT
  i.type_a, i.type_b, i.n_both, sa.n AS n_a, sb.n AS n_b,
  CAST(i.n_both AS DOUBLE)
    / CAST(sa.n + sb.n - i.n_both AS DOUBLE) AS jaccard
FROM inter i
JOIN sizes sa ON sa.event_type = i.type_a
JOIN sizes sb ON sb.event_type = i.type_b
ORDER BY i.type_a, i.type_b
""",
    tags=("events", "lifecycle"),
)
def q_type_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap between every pair of event types: |A∩B| and
    Jaccard |A∩B|/|A∪B| of their user sets — the adoption matrix that
    says which features share an audience (input to bundling /
    cannibalization analysis; the user-set analog of q_markov's
    sequence transitions).

    Scale shape: one (user, type) distinct collapses the fact table to
    ≤ users×|types| rows; the pair intersection is an EQUI self-join on
    user_id — each user contributes at most |types|² pairs, so the join
    output is bounded by users·types², never events². Set sizes join
    back as broadcast-size hash joins; union size comes from the
    inclusion-exclusion identity (no second pass); Jaccard is one IEEE
    division of exact BIGINTs.
    """
    ev = load(spark, sf_dir, "events")
    ut = ev.select("user_id", "event_type").distinct()
    sizes = ut.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    a, b = ut.alias("a"), ut.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_both"))
    )
    sa = sizes.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b"))
    return (
        inter.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_both",
            "n_a",
            "n_b",
            (
                F.col("n_both").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_both")).cast("double")
            ).alias("jaccard"),
        )
        .orderBy("type_a", "type_b")
    )


# --------------------------------------------------------------------------
# q_cohort_ltv — cumulative value per user by signup cohort and age: the
# LTV curve (revenue companion to q_cohort_matrix's retention counts).
# --------------------------------------------------------------------------


@query(
    "q_cohort_ltv",
    oracle=f"""
WITH f AS (
  SELECT user_id, MIN(date_trunc('week', ts)) AS cohort FROM events
  GROUP BY user_id
),
sizes AS (
  SELECT cohort, CAST(COUNT(*) AS BIGINT) AS cohort_users FROM f
  GROUP BY cohort
),
av AS (
  SELECT
    f.cohort,
    CAST(date_diff('day', f.cohort, date_trunc('week', e.ts)) / 7 AS INTEGER)
      AS age_weeks,
    SUM(CAST(e.value AS DECIMAL(38,10))) AS v
  FROM events e JOIN f ON f.user_id = e.user_id
  GROUP BY 1, 2
)
SELECT
  CAST(a.cohort AS TIMESTAMP) AS cohort,
  a.age_weeks AS age_weeks,
  s.cohort_users,
  {sql_dec_to_double("SUM(b.v)")} / CAST(s.cohort_users AS DOUBLE)
    AS cum_value_per_user
FROM av a
JOIN av b ON b.cohort = a.cohort AND b.age_weeks <= a.age_weeks
JOIN sizes s ON s.cohort = a.cohort
GROUP BY a.cohort, a.age_weeks, s.cohort_users
ORDER BY a.cohort, a.age_weeks
""",
    tags=("events", "lifecycle"),
)
def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative value per user by signup cohort (first-seen week) and
    cohort age — the LTV curve product/finance reads next to
    q_cohort_matrix's retention counts: retention says who comes back,
    this says what they are worth by age.

    Scale shape: one user-keyed first-seen aggregate + one
    (user-join → cohort, age) DECIMAL rollup are the only fact-sized
    stages (the join back is user-keyed equi — at 10⁹ users it is the
    same shuffle q_cohort_matrix already pays); the cumulative-by-age
    structure is the house broadcast triangle join on the
    cohorts×ages-bounded relation, and cohort sizes join back
    broadcast. DECIMAL value sums are order-independent; the single
    final division is exact.
    """
    ev = load(spark, sf_dir, "events")
    # Persist the narrow user→cohort map and the cohorts×ages value
    # grid: sizes + the age join consume `f`, and both triangle-join
    # sides consume `av` — without the persists the user-keyed fact
    # aggregate and the fact join each ran twice (~5 corpus passes).
    # Two passes now (cohort map, then the age rollup).
    f = artifacts.cached(
        "q_cohort_ltv.f",
        sf_dir,
        lambda: ev.groupBy("user_id").agg(
            F.min(F.date_trunc("week", "ts")).alias("cohort")
        ),
    )
    sizes = f.groupBy("cohort").agg(
        F.count(F.lit(1)).cast("long").alias("cohort_users")
    )
    av = artifacts.cached(
        "q_cohort_ltv.av",
        sf_dir,
        lambda: (
            ev.join(f, "user_id")
            .groupBy(
                "cohort",
                (F.datediff(F.date_trunc("week", "ts"), F.col("cohort")) / 7)
                .cast("int")
                .alias("age_weeks"),
            )
            .agg(F.sum(F.col("value").cast(DEC)).alias("v"))
        ),
    )
    a, b = av.alias("a"), av.alias("b")
    return (
        a.join(
            F.broadcast(b),
            (F.col("b.cohort") == F.col("a.cohort"))
            & (F.col("b.age_weeks") <= F.col("a.age_weeks")),
        )
        .groupBy(
            F.col("a.cohort").cast("timestamp").alias("cohort"),
            F.col("a.age_weeks").alias("age_weeks"),
        )
        .agg(F.sum("b.v").cast("double").alias("cum_v"))
        .join(
            F.broadcast(
                sizes.select(
                    F.col("cohort").cast("timestamp").alias("cohort"),
                    "cohort_users",
                )
            ),
            "cohort",
        )
        .select(
            "cohort",
            "age_weeks",
            "cohort_users",
            (F.col("cum_v") / F.col("cohort_users").cast("double")).alias(
                "cum_value_per_user"
            ),
        )
        .orderBy("cohort", "age_weeks")
    )


# --------------------------------------------------------------------------
# q_xcorr — lagged cross-correlation between two event types' daily
# volume series (lead/lag discovery: does 'click' lead 'purchase'?).
# --------------------------------------------------------------------------

_XC_MAX_LAG = 7


@query(
    "q_xcorr",
    oracle=f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS x,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS y
  FROM events GROUP BY day
),
mu AS (
  SELECT CAST(SUM(x) AS DOUBLE) / COUNT(*) AS mx,
         CAST(SUM(y) AS DOUBLE) / COUNT(*) AS my
  FROM daily
),
cent AS (
  SELECT day, CAST(x AS DOUBLE) - mu.mx AS dx, CAST(y AS DOUBLE) - mu.my AS dy
  FROM daily, mu
),
den AS (
  SELECT sqrt({sql_dec_to_double("SUM(CAST(dx * dx AS DECIMAL(38,10)))")})
       * sqrt({sql_dec_to_double("SUM(CAST(dy * dy AS DECIMAL(38,10)))")}) AS denom
  FROM cent
),
lags AS (
  SELECT CAST(i AS BIGINT) AS lag
  FROM range(-{_XC_MAX_LAG}, {_XC_MAX_LAG + 1}) t(i)
),
pairs AS (
  SELECT l.lag, a.dx, b.dy
  FROM cent a
  JOIN lags l ON TRUE
  JOIN cent b ON b.day = a.day + CAST(l.lag AS INTEGER)
)
SELECT
  lag,
  CAST(COUNT(*) AS BIGINT) AS n_pairs,
  ROUND({sql_dec_to_double("SUM(CAST(dx * dy AS DECIMAL(38,10)))")}
        / (SELECT denom FROM den), 6) AS xcorr
FROM pairs
GROUP BY lag
ORDER BY lag
""",
    tags=("events", "timeseries", "stats"),
)
def q_xcorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation of the daily 'click' and 'purchase' volume
    series at lags −7..+7 — the lead/lag discovery readout (a positive
    peak at lag k > 0 means clicks today correlate with purchases k days
    LATER; the cross sibling of q_acf's serial dependence).
    r_k = Σ (x_t − μx)(y_{t+k} − μy) / (√Σdx² · √Σdy²).

    Scale shape: ONE day-keyed conditional-count aggregate collapses the
    fact table to the calendar-bounded two-series relation. Lagged
    pairing is an EQUI-join against the constant 15-row lag spine (the
    q_acf pattern, both directions); means and the denominator are 1-row
    broadcasts; products row-local, sums DECIMAL, round(6) absorbs the
    sqrt/compound ULP.
    """
    ev = load(spark, sf_dir, "events")
    # Persist the two-series daily relation (the q_acf treatment): means,
    # denominator, and both lag-join sides otherwise each re-ran the
    # fact aggregate (~4 corpus passes). One pass now.
    daily = artifacts.cached(
        "q_xcorr.daily",
        sf_dir,
        lambda: ev.groupBy(F.to_date("ts").alias("day")).agg(
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
            .cast("long")
            .alias("x"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("long")
            .alias("y"),
        ),
    )
    mu = daily.agg(
        (F.sum("x").cast("double") / F.count(F.lit(1))).alias("mx"),
        (F.sum("y").cast("double") / F.count(F.lit(1))).alias("my"),
    )
    cent = daily.crossJoin(F.broadcast(mu)).select(
        "day",
        (F.col("x").cast("double") - F.col("mx")).alias("dx"),
        (F.col("y").cast("double") - F.col("my")).alias("dy"),
    )
    den = cent.agg(
        (
            F.sqrt(F.sum((F.col("dx") * F.col("dx")).cast(DEC)).cast("double"))
            * F.sqrt(F.sum((F.col("dy") * F.col("dy")).cast(DEC)).cast("double"))
        ).alias("denom")
    )
    a = cent.select(
        "day",
        F.col("dx").alias("adx"),
        F.explode(F.sequence(F.lit(-_XC_MAX_LAG), F.lit(_XC_MAX_LAG))).alias("lag"),
    ).withColumn("tgt_day", F.date_add("day", F.col("lag")))
    b = cent.select(F.col("day").alias("bday"), F.col("dy").alias("bdy"))
    return (
        a.join(b, a.tgt_day == b.bday)
        .groupBy(F.col("lag").cast("long").alias("lag"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum((F.col("adx") * F.col("bdy")).cast(DEC)).cast("double").alias("num"),
        )
        .crossJoin(F.broadcast(den))
        .select(
            "lag",
            "n_pairs",
            F.round(F.col("num") / F.col("denom"), 6).alias("xcorr"),
        )
        .orderBy("lag")
    )


# --------------------------------------------------------------------------
# q_churn_cohorts — churn rate by signup cohort (inactivity definition).
# --------------------------------------------------------------------------

_CHURN_IDLE_US = 30 * 86_400 * 1_000_000  # inactive ≥ 30 days at horizon


@query(
    "q_churn_cohorts",
    oracle=f"""
WITH u AS (
  SELECT user_id, MIN(ts) AS first_ts, MAX(ts) AS last_ts
  FROM events GROUP BY user_id
),
hz AS (SELECT MAX(ts) AS horizon FROM events)
SELECT
  CAST(date_trunc('week', CAST(first_ts AS DATE)) AS TIMESTAMP)
    AS cohort_week,
  CAST(COUNT(*) AS BIGINT) AS n_users,
  CAST(SUM(CASE WHEN date_diff('microsecond', last_ts, hz.horizon)
                     >= {_CHURN_IDLE_US}
                THEN 1 ELSE 0 END) AS BIGINT) AS n_churned,
  CAST(SUM(CASE WHEN date_diff('microsecond', last_ts, hz.horizon)
                     >= {_CHURN_IDLE_US}
                THEN 1 ELSE 0 END) AS DOUBLE)
    / CAST(COUNT(*) AS DOUBLE) AS churn_rate
FROM u CROSS JOIN hz
GROUP BY cohort_week
ORDER BY cohort_week
""",
    tags=("events", "lifecycle"),
)
def q_churn_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Churn rate by signup cohort: a user counts as churned when their
    LAST event is ≥ 30 days before the data horizon (the standard
    inactivity definition — right-censored users near the horizon
    cannot be judged and correctly count as retained). The
    per-cohort-week readout says WHICH acquisition vintages leak
    (q_survival_km gives the duration curve; q_cohort_matrix the
    activity grid; this is the one-number-per-cohort executive row).

    Scale shape: ONE user-keyed min/max aggregate collapses the fact
    table; the horizon is a 1-row broadcast; everything after is
    cohort-week-bounded. Inactivity compares exact integer microseconds.
    """
    ev = load(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts")
    )
    hz = ev.agg(F.max("ts").alias("horizon"))
    churned = (
        F.unix_micros("horizon") - F.unix_micros("last_ts")
        >= F.lit(_CHURN_IDLE_US)
    ).cast("int")
    return (
        u.crossJoin(F.broadcast(hz))
        .groupBy(
            F.date_trunc("week", F.to_date("first_ts"))
            .cast("timestamp")
            .alias("cohort_week")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum(churned).cast("long").alias("n_churned"),
            (
                F.sum(churned).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("churn_rate"),
        )
        .orderBy("cohort_week")
    )
