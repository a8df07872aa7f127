"""Statistical-analysis operators (SURVEY.md §2B — analytics breadth the
reference's ingest pipeline feeds but never computes).

Pearson correlation and OLS regression re-expressed as *exact moment sums*:
Spark's built-in ``corr``/``regr_slope`` accumulate in floating point with
partition-order-dependent results, which can never hash-match another
engine. Instead every query here reduces to the five classical moments
(n, Σx, Σy, Σxy, Σx², Σy²) summed through DECIMAL(38,10) — exact and
order-independent, still one map-side-combined partial aggregate — and the
closed-form result is a short IEEE-deterministic double expression on top.
At 100 TB this is the cheapest possible statistics pass: one scan, one
group-sized Exchange, no second pass, no transcendentals except a
correctly-rounded sqrt.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from streaming_data_ingestion_spark import artifacts
from streaming_data_ingestion_spark.compat import DEC, sql_dec_to_double
from streaming_data_ingestion_spark.registry import query
from streaming_data_ingestion_spark.tables import load, spread_for_cpu


def _m(expr: Column) -> Column:
    """Order-independent moment: decimal-sum a per-row double, back to double."""
    return F.sum(expr.cast(DEC)).cast("double")


def _sql_m(expr: str) -> str:
    return sql_dec_to_double(f"SUM(CAST({expr} AS DECIMAL(38,10)))")


# --------------------------------------------------------------------------
# q_corr_matrix — Pearson correlations between lineitem measures.
# --------------------------------------------------------------------------

_PAIRS = (
    ("l_quantity", "l_extendedprice"),
    ("l_quantity", "l_discount"),
    ("l_extendedprice", "l_discount"),
    ("l_extendedprice", "l_tax"),
)


def _corr_sql(x: str, y: str) -> str:
    n = "CAST(COUNT(*) AS DOUBLE)"
    sx, sy = _sql_m(x), _sql_m(y)
    sxy, sxx, syy = _sql_m(f"{x} * {y}"), _sql_m(f"{x} * {x}"), _sql_m(f"{y} * {y}")
    return (
        f"(({n} * {sxy}) - ({sx} * {sy})) / "
        f"sqrt((({n} * {sxx}) - ({sx} * {sx})) * (({n} * {syy}) - ({sy} * {sy})))"
    )


@query(
    "q_corr_matrix",
    oracle=f"""
SELECT
  l_returnflag,
  CAST(COUNT(*) AS BIGINT) AS n,
  {_corr_sql('l_quantity', 'l_extendedprice')} AS corr_qty_price,
  {_corr_sql('l_quantity', 'l_discount')} AS corr_qty_disc,
  {_corr_sql('l_extendedprice', 'l_discount')} AS corr_price_disc,
  {_corr_sql('l_extendedprice', 'l_tax')} AS corr_price_tax
FROM lineitem
GROUP BY l_returnflag
""",
    tags=("stats", "agg"),
)
def q_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation between four lineitem measure pairs, per
    return-flag stratum, computed from exact decimal moments.

    One pass computes every moment for every pair simultaneously (Catalyst
    dedupes shared partials like Σquantity across the four correlations),
    so adding pairs widens the aggregate, never adds a scan. The ~12
    decimal partial sums are CPU-dominant, so the narrow input spreads to
    full parallelism when the scan arrives single-row-group (no-op on a
    wide 100 TB scan).
    """
    li = spread_for_cpu(
        load(spark, sf_dir, "lineitem").select(
            "l_returnflag", "l_quantity", "l_extendedprice", "l_discount", "l_tax"
        )
    )
    n = F.count(F.lit(1)).cast("double")

    def corr(x: str, y: str) -> Column:
        cx, cy = F.col(x).cast("double"), F.col(y).cast("double")
        sx, sy = _m(cx), _m(cy)
        sxy, sxx, syy = _m(cx * cy), _m(cx * cx), _m(cy * cy)
        return (n * sxy - sx * sy) / F.sqrt(
            (n * sxx - sx * sx) * (n * syy - sy * sy)
        )

    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        corr("l_quantity", "l_extendedprice").alias("corr_qty_price"),
        corr("l_quantity", "l_discount").alias("corr_qty_disc"),
        corr("l_extendedprice", "l_discount").alias("corr_price_disc"),
        corr("l_extendedprice", "l_tax").alias("corr_price_tax"),
    )


# --------------------------------------------------------------------------
# q_linreg — per-group OLS fit: extendedprice ~ quantity.
# --------------------------------------------------------------------------


@query(
    "q_linreg",
    oracle=f"""
WITH m AS (
  SELECT
    l_returnflag,
    CAST(COUNT(*) AS DOUBLE) AS n,
    {_sql_m('l_quantity')} AS sx,
    {_sql_m('l_extendedprice')} AS sy,
    {_sql_m('l_quantity * l_extendedprice')} AS sxy,
    {_sql_m('l_quantity * l_quantity')} AS sxx,
    {_sql_m('l_extendedprice * l_extendedprice')} AS syy
  FROM lineitem
  GROUP BY l_returnflag
)
SELECT
  l_returnflag,
  CAST(n AS BIGINT) AS n,
  ((n * sxy) - (sx * sy)) / ((n * sxx) - (sx * sx)) AS slope,
  (sy - (((n * sxy) - (sx * sy)) / ((n * sxx) - (sx * sx))) * sx) / n
    AS intercept,
  (((n * sxy) - (sx * sy)) / sqrt(((n * sxx) - (sx * sx)) * ((n * syy) - (sy * sy))))
    * (((n * sxy) - (sx * sy)) / sqrt(((n * sxx) - (sx * sx)) * ((n * syy) - (sy * sy))))
    AS r2
FROM m
""",
    tags=("stats", "agg"),
)
def q_linreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form OLS of extendedprice on quantity per return flag:
    slope, intercept, and R², from the same exact-moment aggregate.

    The distributed cost is identical to a plain grouped sum — the
    regression algebra runs on the handful of post-aggregate rows. (The
    moment formulation is how every MPP engine's REGR_* family works;
    re-derived here for bit-exactness instead of the engine's
    float-accumulating built-in.)
    """
    li = spread_for_cpu(
        load(spark, sf_dir, "lineitem").select(
            "l_returnflag", "l_quantity", "l_extendedprice"
        )
    )
    x = F.col("l_quantity").cast("double")
    y = F.col("l_extendedprice").cast("double")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        _m(x).alias("sx"),
        _m(y).alias("sy"),
        _m(x * y).alias("sxy"),
        _m(x * x).alias("sxx"),
        _m(y * y).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    r = (n * sxy - sx * sy) / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    return m.select(
        "l_returnflag",
        n.cast("bigint").alias("n"),
        slope.alias("slope"),
        ((sy - slope * sx) / n).alias("intercept"),
        (r * r).alias("r2"),
    )


# --------------------------------------------------------------------------
# q_entropy — Shannon entropy of each source's token distribution.
# --------------------------------------------------------------------------


@query(
    "q_entropy",
    oracle=f"""
WITH tc AS (
  SELECT source, term, CAST(COUNT(*) AS BIGINT) AS c
  FROM (
    SELECT source, unnest(list_filter(str_split(trim(text), ' '), t -> t != '')) AS term
    FROM documents
  )
  GROUP BY source, term
),
tot AS (
  SELECT source, SUM(c) AS total, CAST(COUNT(*) AS BIGINT) AS n_terms
  FROM tc GROUP BY source
)
SELECT
  tc.source,
  tot.n_terms,
  ROUND({sql_dec_to_double(
      "SUM(CAST(-(CAST(tc.c AS DOUBLE) / tot.total) "
      "* ln(CAST(tc.c AS DOUBLE) / tot.total) AS DECIMAL(38,10)))"
  )}, 6) AS entropy_nats
FROM tc JOIN tot USING (source)
GROUP BY tc.source, tot.n_terms
""",
    tags=("stats", "llm", "text"),
)
def q_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy (nats) of the token unigram distribution per source —
    the corpus-diversity signal mixture tuning reads before weighting
    sources.

    Term counts are exact integers; each term's −p·ln p contribution is one
    IEEE-deterministic double, decimal-summed so the reduction order can't
    change the result, and rounded to 6 dp to absorb the cross-engine
    libm ln() ULP (same absorber q_text_tfidf uses). Shuffles are
    vocabulary-sized: explode partial-aggregates map-side into (source,
    term) counts, and everything after operates on that reduced relation.
    """
    from streaming_data_ingestion_spark.queries.llm_text import _tokens

    d = load(spark, sf_dir, "documents")
    tc = (
        d.select("source", F.explode(_tokens()).alias("term"))
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = tc.groupBy("source").agg(
        F.sum("c").alias("total"), F.count(F.lit(1)).alias("n_terms")
    )
    p = F.col("c").cast("double") / F.col("total")
    return (
        tc.join(F.broadcast(tot), "source")
        .groupBy("source", "n_terms")
        .agg(F.round(F.sum((-p * F.log(p)).cast(DEC)).cast("double"), 6).alias("entropy_nats"))
    )


# --------------------------------------------------------------------------
# q_ttest — Welch's two-sample t over event values, from exact moments.
# --------------------------------------------------------------------------

_TT_A, _TT_B = "click", "purchase"


@query(
    "q_ttest",
    oracle=f"""
WITH m AS (
  SELECT
    event_type,
    CAST(COUNT(*) AS DOUBLE) AS n,
    {_sql_m('value')} AS s,
    {_sql_m('value * value')} AS s2
  FROM events
  WHERE event_type IN ('{_TT_A}', '{_TT_B}')
  GROUP BY event_type
),
p AS (
  SELECT
    (SELECT n FROM m WHERE event_type = '{_TT_A}') AS na,
    (SELECT s FROM m WHERE event_type = '{_TT_A}') AS sa,
    (SELECT s2 FROM m WHERE event_type = '{_TT_A}') AS sa2,
    (SELECT n FROM m WHERE event_type = '{_TT_B}') AS nb,
    (SELECT s FROM m WHERE event_type = '{_TT_B}') AS sb,
    (SELECT s2 FROM m WHERE event_type = '{_TT_B}') AS sb2
)
SELECT
  CAST(na AS BIGINT) AS n_a,
  CAST(nb AS BIGINT) AS n_b,
  (sa / na) - (sb / nb) AS mean_diff,
  ((sa / na) - (sb / nb)) / sqrt(
      (((sa2 - (sa * sa) / na) / (na - 1)) / na)
    + (((sb2 - (sb * sb) / nb) / (nb - 1)) / nb)
  ) AS t_stat,
  (((((sa2 - (sa * sa) / na) / (na - 1)) / na)
    + (((sb2 - (sb * sb) / nb) / (nb - 1)) / nb))
   * ((((sa2 - (sa * sa) / na) / (na - 1)) / na)
    + (((sb2 - (sb * sb) / nb) / (nb - 1)) / nb)))
  / (
      ((((sa2 - (sa * sa) / na) / (na - 1)) / na)
        * (((sa2 - (sa * sa) / na) / (na - 1)) / na)) / (na - 1)
    + ((((sb2 - (sb * sb) / nb) / (nb - 1)) / nb)
        * (((sb2 - (sb * sb) / nb) / (nb - 1)) / nb)) / (nb - 1)
  ) AS welch_df
FROM p
""",
    tags=("stats", "events"),
)
def q_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's two-sample t-test (click vs purchase event values):
    mean difference, t statistic, and Welch–Satterthwaite degrees of
    freedom — the experimentation-analytics primitive, computed from the
    same exact decimal moments as the rest of the family, so the result
    is bit-identical at any parallelism.

    One filtered aggregate produces both groups' (n, Σx, Σx²); the test
    algebra runs on a 1-row relation. A 100 TB A/B readout is exactly
    this plan with the variant id as the group key.
    """
    ev = load(spark, sf_dir, "events").where(
        F.col("event_type").isin(_TT_A, _TT_B)
    )
    v = F.col("value").cast("double")
    m = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        _m(v).alias("s"),
        _m(v * v).alias("s2"),
    )
    a = m.where(F.col("event_type") == _TT_A).select(
        F.col("n").alias("na"), F.col("s").alias("sa"), F.col("s2").alias("sa2")
    )
    b = m.where(F.col("event_type") == _TT_B).select(
        F.col("n").alias("nb"), F.col("s").alias("sb"), F.col("s2").alias("sb2")
    )
    p = a.crossJoin(b)
    na, sa, sa2 = F.col("na"), F.col("sa"), F.col("sa2")
    nb, sb, sb2 = F.col("nb"), F.col("sb"), F.col("sb2")
    va = ((sa2 - sa * sa / na) / (na - 1)) / na  # s²_a / n_a
    vb = ((sb2 - sb * sb / nb) / (nb - 1)) / nb
    diff = sa / na - sb / nb
    return p.select(
        na.cast("bigint").alias("n_a"),
        nb.cast("bigint").alias("n_b"),
        diff.alias("mean_diff"),
        (diff / F.sqrt(va + vb)).alias("t_stat"),
        (((va + vb) * (va + vb)) / (va * va / (na - 1) + vb * vb / (nb - 1)))
        .alias("welch_df"),
    )


# --------------------------------------------------------------------------
# q_emb_covariance — exact covariance matrix of the embedding corpus
# (the PCA/whitening input; upper triangle, 2080 entries at d=64).
# --------------------------------------------------------------------------

_EMB_DIM = 64


@query(
    "q_emb_covariance",
    oracle=f"""
WITH dims AS (SELECT UNNEST(range(1, {_EMB_DIM + 1})) AS i),
vals AS (
  SELECT e.vec_id, CAST(d.i AS INTEGER) AS i,
         CAST(FLOOR(CAST(e.embedding[d.i] AS DOUBLE) * 1e10 + 0.5)
              AS HUGEINT) AS q
  FROM embeddings e, dims d
),
mom AS (
  SELECT a.i AS i, b.i AS j,
         {sql_dec_to_double('SUM(a.q * b.q)')} AS sqq,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM vals a JOIN vals b ON a.vec_id = b.vec_id AND b.i >= a.i
  GROUP BY a.i, b.i
),
mn AS (
  SELECT i, {sql_dec_to_double('SUM(q)')} AS s
  FROM vals GROUP BY i
)
SELECT mom.i AS i, mom.j AS j,
       ((mom.sqq / mom.n) - ((mi.s / mom.n) * (mj.s / mom.n))) / 1e20 AS cov
FROM mom JOIN mn mi ON mi.i = mom.i JOIN mn mj ON mj.i = mom.j
""",
    tags=("stats", "embeddings", "ml"),
)
def q_emb_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population covariance matrix of the embedding corpus at 1e-10
    element resolution (upper triangle as (i, j, cov) rows, 1-based
    dims) — the input every PCA / whitening / Mahalanobis stage consumes
    (ml/pca.py eigensolves it).

    Why not the usual decimal-cast discipline: cov = Sxx/n −
    (Sxi/n)(Sxj/n) CANCELS several digits, so even a last-place
    divergence in one moment blows up visibly — and float32 elements
    have SHORT exact binary expansions, so "round to 10 decimals" hits
    exact ties (…8125 → tie at digit 10) where Spark rounds HALF_UP and
    DuckDB HALF_EVEN. The fix is compat.py's integer-arithmetic rule:
    quantize each element by the EXPLICIT shared IEEE recipe
    q = FLOOR(x·1e10 + 0.5) — every step an identical IEEE op in both
    engines, so ties cannot exist by construction — then all moments are
    exact INTEGER decimal sums (q·q ≤ ~1.6e19 rides DECIMAL(18,0)×
    (18,0)→(37,0); a 10¹²-row corpus still fits the (38,0) sum), and
    the closing formula is IEEE ops on bit-identical doubles with one
    final 1e-20 descale.

    Plan: posexplode to (vec_id, i, q) and one vec_id-keyed self
    equi-join (never a cartesian — the join output is n·d(d+1)/2 pair
    rows that partial-aggregate map-side down to the 2080-group
    shuffle). At extreme corpus sizes the same matrix drops out of a
    per-partition numpy Gram via mapInPandas at lower constant cost,
    but that sacrifices the bit-exact cross-engine sum; this is the
    exactness-first formulation.
    """
    emb = spread_for_cpu(load(spark, sf_dir, "embeddings"))
    # Persist the quantized (vec_id, i, q) stream: both self-join sides
    # and the two per-dim mean builds are separate plan branches that
    # each re-ran the posexplode+quantize corpus pass (~4 passes). One
    # pass now; the frame is narrow (id, int, decimal18) by design.
    vals = artifacts.cached(
        "q_emb_covariance.vals",
        sf_dir,
        lambda: emb.select(
            "vec_id", F.posexplode("embedding").alias("i0", "x")
        ).select(
            "vec_id",
            (F.col("i0") + 1).cast("int").alias("i"),
            F.floor(F.col("x").cast("double") * F.lit(1e10) + F.lit(0.5))
            .cast("decimal(18,0)")
            .alias("q"),
        ),
    )
    a, b = vals.alias("a"), vals.alias("b")
    mom = (
        a.join(
            b,
            (F.col("a.vec_id") == F.col("b.vec_id"))
            & (F.col("b.i") >= F.col("a.i")),
        )
        .groupBy(F.col("a.i").alias("i"), F.col("b.i").alias("j"))
        .agg(
            F.sum(F.col("a.q") * F.col("b.q")).cast("double").alias("sqq"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    mn = vals.groupBy("i").agg(F.sum("q").cast("double").alias("s"))
    mi = mn.select(F.col("i").alias("_mi_i"), F.col("s").alias("si"))
    mj = mn.select(F.col("i").alias("_mj_i"), F.col("s").alias("sj"))
    return (
        mom.join(F.broadcast(mi), mom.i == F.col("_mi_i"))
        .join(F.broadcast(mj), mom.j == F.col("_mj_i"))
        .select(
            "i",
            "j",
            (
                (
                    (F.col("sqq") / F.col("n"))
                    - ((F.col("si") / F.col("n")) * (F.col("sj") / F.col("n")))
                )
                / F.lit(1e20)
            ).alias("cov"),
        )
    )


# --------------------------------------------------------------------------
# q_pca2_project — closed-form 2-D PCA, the ORACLE-CHECKED consumer of the
# covariance→eigensolve→project pipeline (ml/pca.py is the general-d twin:
# same moments, numpy eigh instead of the closed form).
# --------------------------------------------------------------------------

_PCA2_MOM = """
  SELECT
    CAST(COUNT(*) AS BIGINT) AS n,
    {sx} AS sx, {sy} AS sy,
    {sxx} AS sxx, {sxy} AS sxy, {syy} AS syy
  FROM qv
"""


@query(
    "q_pca2_project",
    oracle=f"""
WITH qv AS (
  SELECT vec_id,
         CAST(FLOOR(CAST(embedding[1] AS DOUBLE) * 1e10 + 0.5)
              AS HUGEINT) AS qx,
         CAST(FLOOR(CAST(embedding[2] AS DOUBLE) * 1e10 + 0.5)
              AS HUGEINT) AS qy
  FROM embeddings
),
mom AS ({_PCA2_MOM.format(
    sx=sql_dec_to_double("SUM(qx)"), sy=sql_dec_to_double("SUM(qy)"),
    sxx=sql_dec_to_double("SUM(qx * qx)"),
    sxy=sql_dec_to_double("SUM(qx * qy)"),
    syy=sql_dec_to_double("SUM(qy * qy)"))}),
eig AS (
  SELECT *,
    (CASE WHEN b = 0.0 THEN (CASE WHEN a >= c THEN 1.0 ELSE 0.0 END)
          ELSE b END) AS vx0,
    (CASE WHEN b = 0.0 THEN (CASE WHEN a >= c THEN 0.0 ELSE 1.0 END)
          ELSE lam - a END) AS vy0
  FROM (
    SELECT n, mx, my, a, b, c,
           ((a + c) + sqrt((a - c) * (a - c) + 4.0 * b * b)) / 2.0 AS lam
    FROM (
      SELECT n, mx, my,
             sxx / n - mx * mx AS a,
             sxy / n - mx * my AS b,
             syy / n - my * my AS c
      FROM (SELECT n, sx / n AS mx, sy / n AS my, sxx, sxy, syy FROM mom)
    )
  )
),
ev AS (
  SELECT n, mx, my, a, c, lam,
    (CASE WHEN flip THEN -vx0 ELSE vx0 END) / nrm AS vx,
    (CASE WHEN flip THEN -vy0 ELSE vy0 END) / nrm AS vy
  FROM (
    SELECT *, sqrt(vx0 * vx0 + vy0 * vy0) AS nrm,
      (CASE WHEN abs(vx0) >= abs(vy0) THEN vx0 < 0.0 ELSE vy0 < 0.0 END)
        AS flip
    FROM eig
  )
)
SELECT
  q.vec_id,
  ((CAST(q.qx AS DOUBLE) - e.mx) * e.vx
   + (CAST(q.qy AS DOUBLE) - e.my) * e.vy) / 1e10 AS pc1,
  ((CAST(q.qx AS DOUBLE) - e.mx) * (-e.vy)
   + (CAST(q.qy AS DOUBLE) - e.my) * e.vx) / 1e10 AS pc2,
  e.lam / ((e.a + e.c)) AS var_share_pc1
FROM qv q CROSS JOIN ev e
""",
    tags=("stats", "embeddings", "ml", "pca"),
)
def q_pca2_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Project every embedding onto the principal axes of its first two
    dimensions — covariance, eigensolve, and projection all inside the
    engines, hash-verified cell-by-cell.

    This is the registered, oracle-checked consumer of the PCA pipeline
    that ml/pca.py (general d, driver-side numpy ``eigh``) cannot be:
    for d=2 the top eigenpair of [[a,b],[b,c]] has the closed form
    λ₁ = ((a+c) + √((a−c)² + 4b²))/2, v = (b, λ₁−a) — nothing but IEEE
    +,−,×,÷,√, each correctly rounded and therefore bit-identical in
    Spark and DuckDB when evaluated in the same textual order (the same
    contract every cosine fold in llm_similarity relies on). Inputs use
    q_emb_covariance's integer-quantization rule (q = FLOOR(x·1e10+0.5),
    exact decimal moment sums) so the moments the closed form consumes
    are exact integers, not drifting float partials. The eigenvector
    sign is normalized (largest-|coordinate| positive — ml/pca.py's
    rule) and b=0 degenerates to the axis-aligned basis explicitly, the
    same CASE in both engines.

    Plan: ONE global aggregate over the corpus (map-side combined to a
    single 6-number moment row), broadcast back across the scan via the
    allowlisted 1-row cross join, then a pure narrow map computes both
    scores — two passes over the data, no per-row shuffle, exactly how a
    100 TB whitening/projection stage deploys (fit once, broadcast the
    model, score at scan speed). pc2 rides along from the orthogonal
    complement (−v_y, v_x); var_share_pc1 = λ₁/(a+c) is the explained-
    variance readout every PCA consumer checks first.
    """
    emb = spread_for_cpu(load(spark, sf_dir, "embeddings"))
    qv = emb.select(
        "vec_id",
        F.floor(F.col("embedding")[0].cast("double") * F.lit(1e10) + F.lit(0.5))
        .cast("decimal(18,0)")
        .alias("qx"),
        F.floor(F.col("embedding")[1].cast("double") * F.lit(1e10) + F.lit(0.5))
        .cast("decimal(18,0)")
        .alias("qy"),
    )
    mom = qv.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("qx").cast("double").alias("sx"),
        F.sum("qy").cast("double").alias("sy"),
        F.sum(F.col("qx") * F.col("qx")).cast("double").alias("sxx"),
        F.sum(F.col("qx") * F.col("qy")).cast("double").alias("sxy"),
        F.sum(F.col("qy") * F.col("qy")).cast("double").alias("syy"),
    )
    mx = F.col("sx") / F.col("n")
    my = F.col("sy") / F.col("n")
    a = F.col("sxx") / F.col("n") - mx * mx
    b = F.col("sxy") / F.col("n") - mx * my
    c = F.col("syy") / F.col("n") - my * my
    lam = ((a + c) + F.sqrt((a - c) * (a - c) + F.lit(4.0) * b * b)) / F.lit(
        2.0
    )
    model = mom.select(
        mx.alias("mx"), my.alias("my"),
        a.alias("a"), b.alias("b"), c.alias("c"), lam.alias("lam"),
    ).select(
        "*",
        F.when(
            F.col("b") == 0.0,
            F.when(F.col("a") >= F.col("c"), F.lit(1.0)).otherwise(F.lit(0.0)),
        ).otherwise(F.col("b")).alias("vx0"),
        F.when(
            F.col("b") == 0.0,
            F.when(F.col("a") >= F.col("c"), F.lit(0.0)).otherwise(F.lit(1.0)),
        ).otherwise(F.col("lam") - F.col("a")).alias("vy0"),
    )
    nrm = F.sqrt(F.col("vx0") * F.col("vx0") + F.col("vy0") * F.col("vy0"))
    flip = F.when(
        F.abs(F.col("vx0")) >= F.abs(F.col("vy0")), F.col("vx0") < 0.0
    ).otherwise(F.col("vy0") < 0.0)
    ev = model.select(
        "mx", "my", "a", "c", "lam",
        (F.when(flip, -F.col("vx0")).otherwise(F.col("vx0")) / nrm).alias("vx"),
        (F.when(flip, -F.col("vy0")).otherwise(F.col("vy0")) / nrm).alias("vy"),
    )
    cx = F.col("qx").cast("double") - F.col("mx")
    cy = F.col("qy").cast("double") - F.col("my")
    return qv.crossJoin(F.broadcast(ev)).select(
        "vec_id",
        ((cx * F.col("vx") + cy * F.col("vy")) / F.lit(1e10)).alias("pc1"),
        ((cx * (-F.col("vy")) + cy * F.col("vx")) / F.lit(1e10)).alias("pc2"),
        (F.col("lam") / (F.col("a") + F.col("c"))).alias("var_share_pc1"),
    )


# --------------------------------------------------------------------------
# q_kmeans_assign — one deterministic Lloyd assignment step over the
# embedding corpus: the registered, oracle-checked consumer of the k-means
# pipeline (ml/kmeans.py trains iteratively via mapInPandas partials; its
# per-iteration assignment step is exactly this query, hash-verified).
# --------------------------------------------------------------------------

_KM_K = 8


@query(
    "q_kmeans_assign",
    oracle=f"""
WITH c8 AS (
  SELECT vec_id AS cid, embedding AS cemb FROM embeddings
  ORDER BY vec_id LIMIT {_KM_K}
),
dims AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
),
cdims AS (
  SELECT cid, generate_subscripts(cemb, 1) AS i,
         CAST(unnest(cemb) AS DOUBLE) AS c
  FROM c8
),
d2 AS (
  SELECT vec_id, cid,
         SUM(CAST((x - c) * (x - c) AS DECIMAL(38,10))) AS d2
  FROM dims JOIN cdims USING (i)
  GROUP BY vec_id, cid
),
a AS (
  SELECT vec_id, cid, d2,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
  FROM d2
)
SELECT
  cid AS centroid_id,
  CAST(COUNT(*) AS BIGINT) AS n_assigned,
  ROUND({sql_dec_to_double("SUM(d2)")}, 6) AS wss
FROM a
WHERE rn = 1
GROUP BY cid
ORDER BY centroid_id
""",
    tags=("embeddings", "ml"),
)
def q_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd assignment step: each embedding goes to its nearest of
    k=8 fixed centroids (the 8 smallest vec_ids — the deterministic
    "first-k" seeding), reporting per-cluster membership counts and
    within-cluster sum of squares. This is the hash-verified contract
    for the assignment half of ml/kmeans.py (whose mapInPandas trainer
    cannot itself be oracled: numpy's reduction order isn't DuckDB's).

    Cross-engine exactness: each squared per-dimension gap (x−c)² is one
    IEEE multiply of identical doubles (FLOAT→DOUBLE widening is exact in
    both engines), then DECIMAL(38,10)-summed — order-independent, so the
    64-term distance and the argmin over it are bit-identical. Ties break
    on centroid id via the same ROW_NUMBER in both engines.

    Scale shape: the fact-sized work is ONE posexplode (n×64 rows) →
    broadcast equi-join on the dimension index against the 8×64 centroid
    relation → one (vec_id, cid)-keyed partial aggregate; the argmin
    window is PARTITIONED by vec_id (never global). That is the textbook
    distributed k-means assignment: broadcast the model, score at scan
    speed, shuffle only (n×k)-sized distance partials. At 100 TB the
    same plan holds with the centroid count as the only multiplier.
    """
    from pyspark.sql.window import Window

    emb = spread_for_cpu(load(spark, sf_dir, "embeddings"))
    cents = emb.orderBy("vec_id").limit(_KM_K)
    dims = emb.select(
        "vec_id", F.posexplode("embedding").alias("i", "xf")
    ).select("vec_id", "i", F.col("xf").cast("double").alias("x"))
    cdims = cents.select(
        F.col("vec_id").alias("cid"), F.posexplode("embedding").alias("i", "cf")
    ).select("cid", "i", F.col("cf").cast("double").alias("c"))
    gap = F.col("x") - F.col("c")
    d2 = (
        dims.join(F.broadcast(cdims), "i")
        .groupBy("vec_id", "cid")
        .agg(F.sum((gap * gap).cast(DEC)).alias("d2"))
    )
    w = Window.partitionBy("vec_id").orderBy("d2", "cid")
    return (
        d2.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .groupBy(F.col("cid").alias("centroid_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_assigned"),
            F.round(F.sum("d2").cast("double"), 6).alias("wss"),
        )
        .orderBy("centroid_id")
    )


# --------------------------------------------------------------------------
# q_als_user_step — one closed-form rank-1 ALS user half-step: the
# oracle-checked consumer of the ml/als.py trainer (whose general-rank
# normal-equation solves run in numpy inside applyInPandas and cannot
# themselves be oracled).
# --------------------------------------------------------------------------

_ALS_LAMBDA = 0.1


@query(
    "q_als_user_step",
    oracle=f"""
WITH inter AS (
  SELECT user_id,
         TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) AS item,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events
  WHERE TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) IS NOT NULL
  GROUP BY user_id, item
),
v AS (
  SELECT user_id, n,
         CAST((((CAST(item AS BIGINT) % 1000003) * 31 + 1) * 2654435761)
              % 1000 AS DOUBLE)
           / 1000.0 - 0.5 AS vi
  FROM inter
)
SELECT
  user_id,
  CAST(COUNT(*) AS BIGINT) AS n_items,
  {sql_dec_to_double("SUM(CAST(CAST(n AS DOUBLE) * vi AS DECIMAL(38,10)))")}
    / ({sql_dec_to_double("SUM(CAST(vi * vi AS DECIMAL(38,10)))")} + {_ALS_LAMBDA}) AS u1
FROM v
GROUP BY user_id
ORDER BY user_id
""",
    tags=("events", "ml"),
)
def q_als_user_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One rank-1 ALS user half-step over the implicit-count interaction
    matrix: with the item factor fixed at ml/als.py's deterministic hash
    init v(item) = (((item mod 1000003)·31+1)·2654435761 mod 1000)/1000 − ½,
    the ridge
    normal equations collapse to the closed form

        u_u = Σ_i n_ui·v_i / (Σ_i v_i² + λ),   λ = 0.1

    — the exact computation ml/als.py's grouped applyInPandas performs
    per user at rank 1, hash-verified (its general-rank numpy solves
    cannot be oracled; this pins the normal-equation assembly the same
    way q_kmeans_assign pins the Lloyd step). Ratings are raw integer
    counts — the trainer's ln(1+n) damping is a libm call whose ULP both
    engines may place differently, so the verified contract uses the
    exact-integer form.

    Cross-engine exactness: v_i is pure integer arithmetic until one
    division by 1000 (single IEEE op); every product is one multiply of
    identical doubles; both sums are DECIMAL(38,10); the final division
    is a single IEEE op on identical operands.

    Scale shape: one (user, item)-keyed count (map-side combined — the
    only fact-sized stage) and one user-keyed aggregate; the item factor
    is computed row-side from the id (never joined). At 10⁹ users the
    plan is two hash exchanges of the interaction relation, exactly the
    user step of the distributed trainer.
    """
    ev = load(spark, sf_dir, "events")
    inter = (
        ev.select(
            "user_id",
            F.get_json_object("props", "$.k").cast("int").alias("item"),
        )
        .where(F.col("item").isNotNull())
        .groupBy("user_id", "item")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    # item reduced mod a small prime BEFORE the Knuth multiply: keeps
    # every intermediate far below 2^63 (non-ANSI Spark would silently
    # wrap on item ids above ~6e7 while ANSI DuckDB raises — a
    # crash-vs-wrong-value divergence); mirrors ml/als.py
    # init_item_factors at rank 1
    vi = (
        (((F.col("item").cast("long") % 1000003) * 31 + 1)
         * F.lit(2654435761)) % 1000
    ).cast("double") / F.lit(1000.0) - F.lit(0.5)
    v = inter.select("user_id", "n", vi.alias("vi"))
    num = F.sum((F.col("n").cast("double") * F.col("vi")).cast(DEC)).cast("double")
    den = F.sum((F.col("vi") * F.col("vi")).cast(DEC)).cast("double")
    return (
        v.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            (num / (den + F.lit(_ALS_LAMBDA))).alias("u1"),
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# q_emb_dim_stats — per-dimension distribution profile of the embedding
# corpus: the "is this embedding space healthy" diagnostic (collapsed or
# exploded dimensions ruin every downstream ANN/dedup operator).
# --------------------------------------------------------------------------


@query(
    "q_emb_dim_stats",
    oracle=f"""
WITH dims AS (
  SELECT generate_subscripts(embedding, 1) AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
),
q AS (
  SELECT dim, x,
         CAST(FLOOR(x * 10000000000.0 + 0.5) AS HUGEINT) AS qx
  FROM dims
)
SELECT
  CAST(dim AS INTEGER) AS dim,
  CAST(COUNT(*) AS BIGINT) AS n,
  ({sql_dec_to_double("SUM(qx)")} / CAST(COUNT(*) AS DOUBLE))
    / 10000000000.0 AS mean,
  ROUND((({sql_dec_to_double("SUM(qx * qx)")}
          - ({sql_dec_to_double("SUM(qx)")} * {sql_dec_to_double("SUM(qx)")})
            / CAST(COUNT(*) AS DOUBLE)) / CAST(COUNT(*) AS DOUBLE))
        / 1e20, 9) AS variance,
  MIN(x) AS lo,
  MAX(x) AS hi
FROM q
GROUP BY dim
ORDER BY dim
""",
    tags=("embeddings", "stats"),
)
def q_emb_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension mean / population variance / range of the embedding
    corpus — the space-health profile read before trusting any
    similarity operator (a near-zero-variance dimension is dead weight
    in every distance; an exploded one dominates them all). The
    dimension-wise marginal of q_emb_covariance's full matrix at 1/d
    the cost.

    Moments use q_emb_covariance's INTEGER-QUANTIZATION rule
    (q = FLOOR(x·1e10 + 0.5), exact decimal sums): casting a raw double
    straight to DECIMAL hits rounding TIES where Spark (HALF_UP) and
    DuckDB disagree — a first draft of this query did exactly that and
    one tied element at sf0.01 shifted the dimension sum by 1e-10.
    FLOOR of an identical double is tie-proof. Means/variances then
    descale by 1e10/1e20 in the same textual order in both engines;
    round(9) absorbs the compound-expression ULP.

    Scale shape: ONE posexplode (n×64 rows) → one 64-group map-side-
    combined aggregate; output is dimension-bounded.
    """
    emb = spread_for_cpu(load(spark, sf_dir, "embeddings"))
    dims = emb.select(
        F.posexplode("embedding").alias("dim0", "xf")
    ).select(
        # posexplode is 0-based; the oracle's generate_subscripts is
        # 1-based — align so `dim` means the same coordinate in both
        (F.col("dim0") + 1).alias("dim"),
        F.col("xf").cast("double").alias("x"),
    ).select(
        "dim",
        "x",
        F.floor(F.col("x") * F.lit(1e10) + F.lit(0.5))
        .cast("decimal(18,0)")
        .alias("qx"),
    )
    n = F.count(F.lit(1))
    sq = F.sum("qx").cast("double")
    sqq = F.sum(F.col("qx") * F.col("qx")).cast("double")
    return (
        dims.groupBy(F.col("dim").cast("int").alias("dim"))
        .agg(
            n.cast("long").alias("n"),
            ((sq / n.cast("double")) / F.lit(1e10)).alias("mean"),
            F.round(
                ((sqq - (sq * sq) / n.cast("double")) / n.cast("double"))
                / F.lit(1e20),
                9,
            ).alias("variance"),
            F.min("x").alias("lo"),
            F.max("x").alias("hi"),
        )
        .orderBy("dim")
    )
