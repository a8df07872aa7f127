"""Evaluation-statistics operators: ROC-AUC, Kolmogorov-Smirnov,
chi-square independence, Gini concentration (SURVEY.md §2B breadth — the
model-eval / corpus-audit passes an LLM-data pipeline runs after the
quality and dedup stages; the reference pipeline ingests events/documents
but computes none of these).

Scale design shared by the family:

* Every statistic reduces the fact table to a FIXED-SIZE relation first —
  a constant score grid (AUC: 1024 bins, KS: 512 bins), a categorical
  contingency table (chi²: |lang|x|source| cells), or the token
  vocabulary (Gini) — with one map-side-combined aggregate. The only
  full-data cost is that single scan+shuffle, exactly like q_histogram.
* Rank/cumulative structure is then computed ON THE BOUNDED RELATION:
  AUC uses the pair-count formulation (a broadcast inequality join
  between two <=G-row sides: cost is G² ~ constant, independent of data
  size); KS uses the same bounded triangle join for the ECDF; Gini uses
  the distributed range-exchange ranking from :mod:`ranking` because the
  vocabulary is NOT constant-bounded.
* Cross-engine hash-matching: all counts stay integer until one final
  closed-form double expression written token-identically in the Spark
  column algebra and the DuckDB SQL, and any sum over >1 double terms
  goes through DECIMAL(38,10) (order-independent) first — the same
  discipline as :mod:`stats`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from streaming_data_ingestion_spark import artifacts
from streaming_data_ingestion_spark.compat import DEC, dlit_array, sql_dec_to_double
from streaming_data_ingestion_spark.ranking import with_global_rank
from streaming_data_ingestion_spark.registry import query
from streaming_data_ingestion_spark.tables import load, spread_for_cpu

# --------------------------------------------------------------------------
# q_roc_auc — binned ROC-AUC of a text-quality score against a language
# label, via the Mann-Whitney pair-count formulation.
# --------------------------------------------------------------------------

_AUC_BINS = 1024


@query(
    "q_roc_auc",
    oracle=f"""
WITH scored AS (
  SELECT
    CAST(LEAST(FLOOR((CAST(length(regexp_replace(text, '[^aeiou]', '', 'g')) AS DOUBLE)
                      / CAST(n_chars + 1 AS DOUBLE)) * {_AUC_BINS}.0),
               {_AUC_BINS - 1}.0) AS INTEGER) AS bin,
    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
  FROM documents
),
binned AS (
  SELECT bin,
         CAST(SUM(pos) AS BIGINT) AS n_pos,
         CAST(COUNT(*) - SUM(pos) AS BIGINT) AS n_neg
  FROM scored GROUP BY bin
),
pairs AS (
  SELECT
    CAST(COALESCE(SUM(CASE WHEN p.bin > n.bin THEN p.n_pos * n.n_neg END), 0) AS BIGINT) AS wins,
    CAST(COALESCE(SUM(CASE WHEN p.bin = n.bin THEN p.n_pos * n.n_neg END), 0) AS BIGINT) AS ties
  FROM binned p JOIN binned n ON p.bin >= n.bin
),
tot AS (
  SELECT CAST(SUM(n_pos) AS BIGINT) AS n_pos, CAST(SUM(n_neg) AS BIGINT) AS n_neg
  FROM binned
)
SELECT
  tot.n_pos,
  tot.n_neg,
  pairs.ties AS tied_pairs,
  (CAST(pairs.wins AS DOUBLE) + 0.5 * CAST(pairs.ties AS DOUBLE))
    / (CAST(tot.n_pos AS DOUBLE) * CAST(tot.n_neg AS DOUBLE)) AS auc
FROM pairs, tot
""",
    tags=("stats", "eval"),
)
def q_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed ROC-AUC: does a cheap text score (vowel density)
    separate English documents from the rest?

    The scale-critical move: the corpus collapses to a FIXED 1024-bin
    score histogram (per bin: positive / negative counts) in one
    map-side-combined aggregate — the only pass that touches the data.
    AUC then follows from the Mann-Whitney pair count

        AUC = (#(score_pos > score_neg) + ½·#(score_pos = score_neg))
              / (n_pos · n_neg)

    computed with a broadcast inequality join between the positive and
    negative bin tables: both sides are <=1024 rows BY CONSTRUCTION, so
    the nested-loop cost is a constant ~1M integer multiplies at any
    data scale (allowlisted in the no-cartesian sweep — grid-bounded,
    never data-sized). Counts stay BIGINT end-to-end; the single final
    division is the only floating-point step, so the hash match with
    DuckDB is exact.

    Binning makes this an approximation of the continuous-score AUC with
    error <= P(two docs share a bin) — the standard trade (histogram /
    quantile-sketch AUC) every large-scale evaluator makes.
    """
    docs = load(spark, sf_dir, "documents")
    score = F.length(F.regexp_replace(F.col("text"), "[^aeiou]", "")).cast(
        "double"
    ) / (F.col("n_chars") + F.lit(1)).cast("double")
    binned = (
        docs.select(
            F.least(
                F.floor(score * F.lit(float(_AUC_BINS))),
                F.lit(float(_AUC_BINS - 1)),
            )
            .cast("int")
            .alias("bin"),
            F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
        )
        .groupBy("bin")
        .agg(
            F.sum("pos").cast("long").alias("n_pos"),
            (F.count(F.lit(1)) - F.sum("pos")).cast("long").alias("n_neg"),
        )
    )
    p = binned.select(F.col("bin").alias("pbin"), "n_pos")
    n = binned.select(F.col("bin").alias("nbin"), "n_neg")
    pairs = (
        p.join(F.broadcast(n), F.col("pbin") >= F.col("nbin"))
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("pbin") > F.col("nbin"),
                        F.col("n_pos") * F.col("n_neg"),
                    )
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("wins"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("pbin") == F.col("nbin"),
                        F.col("n_pos") * F.col("n_neg"),
                    )
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("ties"),
        )
    )
    tot = binned.agg(
        F.sum("n_pos").cast("long").alias("t_pos"),
        F.sum("n_neg").cast("long").alias("t_neg"),
    )
    return pairs.crossJoin(F.broadcast(tot)).select(
        F.col("t_pos").alias("n_pos"),
        F.col("t_neg").alias("n_neg"),
        F.col("ties").alias("tied_pairs"),
        (
            (F.col("wins").cast("double") + F.lit(0.5) * F.col("ties").cast("double"))
            / (F.col("t_pos").cast("double") * F.col("t_neg").cast("double"))
        ).alias("auc"),
    )


# --------------------------------------------------------------------------
# q_ks_test — two-sample Kolmogorov–Smirnov distance between the `value`
# distributions of two event types, on a fixed 512-bin ECDF grid.
# --------------------------------------------------------------------------

_KS_BINS = 512


@query(
    "q_ks_test",
    oracle=f"""
WITH vals AS (
  SELECT value, CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS g1
  FROM events WHERE event_type IN ('click', 'purchase')
),
bounds AS (
  SELECT MIN(value) AS lo, MAX(value) AS hi FROM vals
),
binned AS (
  SELECT
    CAST(LEAST(FLOOR(((value - lo) / (hi - lo)) * {_KS_BINS}.0), {_KS_BINS - 1}.0) AS INTEGER) AS bin,
    CAST(SUM(g1) AS BIGINT) AS c1,
    CAST(COUNT(*) - SUM(g1) AS BIGINT) AS c2
  FROM vals, bounds
  GROUP BY 1
),
cum AS (
  SELECT a.bin,
         CAST(SUM(b.c1) AS BIGINT) AS cum1,
         CAST(SUM(b.c2) AS BIGINT) AS cum2
  FROM binned a JOIN binned b ON b.bin <= a.bin
  GROUP BY a.bin
),
tot AS (
  SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2 FROM binned
)
SELECT
  tot.n1,
  tot.n2,
  MAX(ABS(CAST(cum1 AS DOUBLE) / CAST(tot.n1 AS DOUBLE)
        - CAST(cum2 AS DOUBLE) / CAST(tot.n2 AS DOUBLE))) AS d_stat,
  MAX(ABS(CAST(cum1 AS DOUBLE) / CAST(tot.n1 AS DOUBLE)
        - CAST(cum2 AS DOUBLE) / CAST(tot.n2 AS DOUBLE)))
    * sqrt((CAST(tot.n1 AS DOUBLE) * CAST(tot.n2 AS DOUBLE))
           / (CAST(tot.n1 AS DOUBLE) + CAST(tot.n2 AS DOUBLE))) AS ks_lambda
FROM cum, tot
GROUP BY tot.n1, tot.n2
""",
    tags=("stats", "eval"),
)
def q_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KS test: are 'click' and 'purchase' event values drawn
    from the same distribution?

    One full-data pass bins both samples onto a shared FIXED 512-bin
    grid (bounds from a 1-row min/max aggregate, broadcast back — the
    standard scalar-attach idiom). The ECDF prefix sums are then a
    bounded triangle join on the <=512-row bin table (<=2^17 integer
    pairs, constant at any data scale — allowlisted like the AUC grid
    join), and D = max |F1 − F2| falls out of one final aggregate.
    Counts are BIGINT throughout; the two divisions and the
    sqrt-of-ratio (KS lambda, the input to the asymptotic p-value) are
    the only IEEE steps and are written token-identically in both
    engines, so the hash match is exact. The p-value's exp() is NOT
    emitted: transcendental libm results may legitimately differ
    across engines in the last ulp; lambda carries the full information.

    Grid-binning makes D exact up to one bin width of resolution — the
    distributed-systems trade every large-scale KS monitor makes
    (drift detection over sketches).
    """
    ev = load(spark, sf_dir, "events")
    vals = ev.where(F.col("event_type").isin("click", "purchase")).select(
        "value",
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias("g1"),
    )

    bounds = vals.agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    # Persist the ≤512-row binned histogram: the ECDF triangle join's
    # two sides and the totals aggregate are separate plan branches
    # that each re-ran the bounds + binning corpus passes without it
    # (~6 fact scans). Two passes now (bounds, then binning).
    binned = artifacts.cached(
        "q_ks_test.binned",
        sf_dir,
        lambda: (
            vals.crossJoin(F.broadcast(bounds))
            .select(
                F.least(
                    F.floor(
                        (
                            (F.col("value") - F.col("lo"))
                            / (F.col("hi") - F.col("lo"))
                        )
                        * F.lit(float(_KS_BINS))
                    ),
                    F.lit(float(_KS_BINS - 1)),
                )
                .cast("int")
                .alias("bin"),
                "g1",
            )
            .groupBy("bin")
            .agg(
                F.sum("g1").cast("long").alias("c1"),
                (F.count(F.lit(1)) - F.sum("g1")).cast("long").alias("c2"),
            )
        ),
    )
    a = binned.select(F.col("bin").alias("abin"))
    cum = (
        a.join(F.broadcast(binned), F.col("bin") <= F.col("abin"))
        .groupBy("abin")
        .agg(
            F.sum("c1").cast("long").alias("cum1"),
            F.sum("c2").cast("long").alias("cum2"),
        )
    )
    tot = binned.agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum("c2").cast("long").alias("n2"),
    )
    diff = F.abs(
        F.col("cum1").cast("double") / F.col("n1").cast("double")
        - F.col("cum2").cast("double") / F.col("n2").cast("double")
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .groupBy("n1", "n2")
        .agg(
            F.max(diff).alias("d_stat"),
            (
                F.max(diff)
                * F.sqrt(
                    (F.col("n1").cast("double") * F.col("n2").cast("double"))
                    / (F.col("n1").cast("double") + F.col("n2").cast("double"))
                )
            ).alias("ks_lambda"),
        )
        .select("n1", "n2", "d_stat", "ks_lambda")
    )


# --------------------------------------------------------------------------
# q_chi2_independence — chi-square test of independence between document
# language and source (is the corpus mix uniform across sources?).
# --------------------------------------------------------------------------


@query(
    "q_chi2_independence",
    oracle=f"""
WITH cells AS (
  SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS obs
  FROM documents GROUP BY lang, source
),
rowt AS (SELECT lang, CAST(SUM(obs) AS BIGINT) AS rt FROM cells GROUP BY lang),
colt AS (SELECT source, CAST(SUM(obs) AS BIGINT) AS ct FROM cells GROUP BY source),
tot AS (SELECT CAST(SUM(obs) AS BIGINT) AS n,
               CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_lang,
               CAST(COUNT(DISTINCT source) AS BIGINT) AS n_source
        FROM cells)
SELECT
  tot.n,
  tot.n_lang,
  tot.n_source,
  (tot.n_lang - 1) * (tot.n_source - 1) AS dof,
  {sql_dec_to_double('''SUM(CAST(
     (CAST(obs AS DOUBLE) - (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(tot.n AS DOUBLE)))
     * (CAST(obs AS DOUBLE) - (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(tot.n AS DOUBLE)))
     / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(tot.n AS DOUBLE))
   AS DECIMAL(38,10)))''')} AS chi2
FROM cells
JOIN rowt USING (lang)
JOIN colt USING (source)
CROSS JOIN tot
GROUP BY tot.n, tot.n_lang, tot.n_source
""",
    tags=("stats", "eval"),
)
def q_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence: lang x source contingency over documents.

    The corpus reduces to its contingency table (|lang| x |source|
    cells, group-sized) in one map-side-combined aggregate; marginals
    are re-aggregated FROM the cells (never a second data pass) and
    broadcast-equi-joined back; the grand total is the usual 1-row
    broadcast. Per-cell (obs − exp)²/exp terms are double-valued, so
    their sum crosses cells through DECIMAL(38,10) to stay
    order-independent (the :mod:`stats` discipline) — the chi² statistic
    hash-matches DuckDB exactly. Output: n, table shape, degrees of
    freedom, chi².
    """
    cells = (
        load(spark, sf_dir, "documents")
        .groupBy("lang", "source")
        .agg(F.count(F.lit(1)).cast("long").alias("obs"))
    )
    rowt = cells.groupBy("lang").agg(F.sum("obs").cast("long").alias("rt"))
    colt = cells.groupBy("source").agg(F.sum("obs").cast("long").alias("ct"))
    tot = cells.agg(
        F.sum("obs").cast("long").alias("n"),
        F.countDistinct("lang").cast("long").alias("n_lang"),
        F.countDistinct("source").cast("long").alias("n_source"),
    )
    exp = (
        F.col("rt").cast("double")
        * F.col("ct").cast("double")
        / F.col("n").cast("double")
    )
    term = (F.col("obs").cast("double") - exp) * (
        F.col("obs").cast("double") - exp
    ) / exp
    return (
        cells.join(F.broadcast(rowt), "lang")
        .join(F.broadcast(colt), "source")
        .crossJoin(F.broadcast(tot))
        .groupBy("n", "n_lang", "n_source")
        .agg(F.sum(term.cast(DEC)).cast("double").alias("chi2"))
        .select(
            "n",
            "n_lang",
            "n_source",
            ((F.col("n_lang") - 1) * (F.col("n_source") - 1)).alias("dof"),
            "chi2",
        )
    )


# --------------------------------------------------------------------------
# q_mutual_information — mutual information (and normalized MI) between
# document language and source, from the same contingency reduction as
# q_chi2_independence.
# --------------------------------------------------------------------------

_MI_TERM = """SUM(CAST(
  (CAST(obs AS DOUBLE) / CAST(tot.n AS DOUBLE))
  * ln((CAST(obs AS DOUBLE) * CAST(tot.n AS DOUBLE))
       / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)))
AS DECIMAL(38,10)))"""


@query(
    "q_mutual_information",
    oracle=f"""
WITH cells AS (
  SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS obs
  FROM documents GROUP BY lang, source
),
rowt AS (SELECT lang, CAST(SUM(obs) AS BIGINT) AS rt FROM cells GROUP BY lang),
colt AS (SELECT source, CAST(SUM(obs) AS BIGINT) AS ct FROM cells GROUP BY source),
tot AS (SELECT CAST(SUM(obs) AS BIGINT) AS n FROM cells),
mi AS (
  SELECT ROUND({sql_dec_to_double(_MI_TERM)}, 6) AS mi_nats
  FROM cells JOIN rowt USING (lang) JOIN colt USING (source) CROSS JOIN tot
),
hl AS (
  SELECT ROUND({sql_dec_to_double(
      "SUM(CAST(-(CAST(rt AS DOUBLE) / CAST(tot.n AS DOUBLE)) "
      "* ln(CAST(rt AS DOUBLE) / CAST(tot.n AS DOUBLE)) AS DECIMAL(38,10)))"
  )}, 6) AS h_lang
  FROM rowt CROSS JOIN tot
),
hc AS (
  SELECT ROUND({sql_dec_to_double(
      "SUM(CAST(-(CAST(ct AS DOUBLE) / CAST(tot.n AS DOUBLE)) "
      "* ln(CAST(ct AS DOUBLE) / CAST(tot.n AS DOUBLE)) AS DECIMAL(38,10)))"
  )}, 6) AS h_source
  FROM colt CROSS JOIN tot
)
SELECT
  mi_nats,
  h_lang,
  h_source,
  ROUND(mi_nats / sqrt(h_lang * h_source), 6) AS nmi
FROM mi, hl, hc
""",
    tags=("stats", "eval"),
)
def q_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between document language and source — the
    association-strength companion to q_chi2_independence's significance
    readout (chi² scales with n; MI is the effect size a corpus auditor
    actually thresholds on), plus Shannon marginal entropies and the
    sqrt-normalized NMI.

    Same scale skeleton as chi²: one contingency aggregate touches the
    data, marginals re-aggregate from the cells, everything downstream is
    group-sized with 1-row broadcasts. Each cell's p·ln(p n/(r c)) term
    is one IEEE double; the cross-cell reductions go through
    DECIMAL(38,10) (order-independent) and round to 6 dp to absorb the
    cross-engine libm ln() ULP — the q_entropy absorber. NMI is computed
    FROM the rounded values, so it is bit-deterministic by construction.
    """
    docs = load(spark, sf_dir, "documents")
    # Persist the langs×sources contingency table: marginals, totals,
    # and the MI join each re-derived it — ~8 corpus scans for one
    # contingency aggregate without the persist. One pass now.
    cells = artifacts.cached(
        "q_mutual_information.cells",
        sf_dir,
        lambda: docs.groupBy("lang", "source").agg(
            F.count(F.lit(1)).cast("long").alias("obs")
        ),
    )
    rowt = cells.groupBy("lang").agg(F.sum("obs").cast("long").alias("rt"))
    colt = cells.groupBy("source").agg(F.sum("obs").cast("long").alias("ct"))
    tot = cells.agg(F.sum("obs").cast("long").alias("n"))

    obs_d = F.col("obs").cast("double")
    n_d = F.col("n").cast("double")
    term = (obs_d / n_d) * F.log(
        (obs_d * n_d) / (F.col("rt").cast("double") * F.col("ct").cast("double"))
    )
    mi = (
        cells.join(F.broadcast(rowt), "lang")
        .join(F.broadcast(colt), "source")
        .crossJoin(F.broadcast(tot))
        .agg(F.round(F.sum(term.cast(DEC)).cast("double"), 6).alias("mi_nats"))
    )

    def _marginal_entropy(marg: DataFrame, cnt: str, alias: str) -> DataFrame:
        p = F.col(cnt).cast("double") / F.col("n").cast("double")
        return marg.crossJoin(F.broadcast(tot)).agg(
            F.round(F.sum((-p * F.log(p)).cast(DEC)).cast("double"), 6).alias(alias)
        )

    hl = _marginal_entropy(rowt, "rt", "h_lang")
    hc = _marginal_entropy(colt, "ct", "h_source")
    return (
        mi.crossJoin(F.broadcast(hl))
        .crossJoin(F.broadcast(hc))
        .select(
            "mi_nats",
            "h_lang",
            "h_source",
            F.round(
                F.col("mi_nats") / F.sqrt(F.col("h_lang") * F.col("h_source")), 6
            ).alias("nmi"),
        )
    )


# --------------------------------------------------------------------------
# q_gini_token — Gini coefficient of the token-frequency distribution
# (corpus concentration: how head-heavy is the vocabulary?).
# --------------------------------------------------------------------------


@query(
    "q_gini_token",
    oracle="""
WITH freq AS (
  SELECT t.term, CAST(COUNT(*) AS BIGINT) AS f
  FROM documents,
       UNNEST(list_filter(str_split(trim(text), ' '), t -> t != '')) AS t(term)
  GROUP BY t.term
),
ranked AS (
  SELECT f, ROW_NUMBER() OVER (ORDER BY f, term) AS r FROM freq
)
SELECT
  CAST(COUNT(*) AS BIGINT) AS n_types,
  CAST(SUM(f) AS BIGINT) AS n_tokens,
  (2.0 * CAST(SUM(CAST(r AS DECIMAL(38,0)) * CAST(f AS DECIMAL(38,0))) AS DOUBLE))
      / (CAST(COUNT(*) AS DOUBLE) * CAST(SUM(f) AS DOUBLE))
    - (CAST(COUNT(*) AS DOUBLE) + 1.0) / CAST(COUNT(*) AS DOUBLE) AS gini
FROM ranked
""",
    tags=("stats", "eval", "text"),
)
def q_gini_token(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of token frequencies — the corpus-concentration
    audit a mixture designer runs before setting sampling weights
    (a head-heavy vocabulary motivates rarity-aware sampling,
    cf. q_text_rarity / q_mix_weights).

    Gini over an ascending-ordered frequency vector f_1..f_n is the
    closed form (2·Σ r·f_r)/(n·Σf) − (n+1)/n — it needs every
    frequency's EXACT global rank. The vocabulary is data-sized (not a
    fixed grid), so an unpartitioned window is off the table at 100 TB;
    ranks come from :func:`ranking.with_global_rank` (parallel range
    exchange + partition-offset arithmetic, one vocab-sized shuffle,
    nothing single-partition) ordered by (f, term) — a total order, so
    ranks and the statistic are engine-independent. Σ r·f accumulates
    in DECIMAL(38,0): exact integers until the one final double
    expression, which hash-matches DuckDB bit-for-bit.
    """
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(
            F.filter(F.split(F.trim(F.col("text")), " "), lambda t: t != "")
        ).alias("term")
    )
    freq = toks.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("f"))
    ranked, _n = with_global_rank(freq, ["f", "term"], rank_col="r")
    dec = "decimal(38,0)"
    return ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum("f").cast("long").alias("n_tokens"),
        F.sum(F.col("r").cast(dec) * F.col("f").cast(dec)).alias("srf"),
    ).select(
        "n_types",
        "n_tokens",
        (
            (F.lit(2.0) * F.col("srf").cast("double"))
            / (F.col("n_types").cast("double") * F.col("n_tokens").cast("double"))
            - (F.col("n_types").cast("double") + F.lit(1.0))
            / F.col("n_types").cast("double")
        ).alias("gini"),
    )


# --------------------------------------------------------------------------
# q_calibration_bins — reliability diagram + expected calibration error
# for the vowel-density quality score against the lang='en' label.
# --------------------------------------------------------------------------

_CAL_BINS = 16


@query(
    "q_calibration_bins",
    oracle=f"""
WITH scored AS (
  SELECT
    (CAST(length(regexp_replace(text, '[^aeiou]', '', 'g')) AS DOUBLE)
     / CAST(n_chars + 1 AS DOUBLE)) AS score,
    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
  FROM documents
),
binned AS (
  SELECT
    CAST(LEAST(FLOOR(score * {_CAL_BINS}.0), {_CAL_BINS - 1}.0) AS INTEGER) AS bin,
    CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(pos) AS BIGINT) AS n_pos,
    {sql_dec_to_double('SUM(CAST(score AS DECIMAL(38,10)))')} AS sum_score
  FROM scored GROUP BY 1
),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM binned),
ece AS (
  SELECT {sql_dec_to_double(
      "SUM(CAST((CAST(n AS DOUBLE) / CAST(total AS DOUBLE)) "
      "* ABS(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) "
      "- sum_score / CAST(n AS DOUBLE)) AS DECIMAL(38,10)))"
  )} AS ece
  FROM binned CROSS JOIN tot
)
SELECT bin, n, n_pos,
       sum_score / CAST(n AS DOUBLE) AS mean_score,
       CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) AS frac_pos,
       ece.ece AS ece
FROM binned CROSS JOIN ece
""",
    tags=("stats", "eval"),
)
def q_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram for the q_roc_auc score/label pair: per
    confidence bin, the mean predicted score vs the observed positive
    rate, plus the overall expected calibration error (ECE) — the
    standard audit before a classifier's scores gate a corpus filter
    (AUC says the ORDER is right; calibration says the VALUES mean what
    they claim).

    Same scale posture as the family: one map-side-combined aggregate
    onto a fixed 16-bin confidence grid is the only data pass; ECE is a
    second fold over the 16-row relation attached by 1-row broadcast.
    Counts are BIGINT; per-bin score sums cross the reduction through
    DECIMAL(38,10); the divisions are the only IEEE steps and are
    written token-identically in both engines — bit-exact, no rounding
    absorber needed (no transcendentals anywhere).
    """
    docs = load(spark, sf_dir, "documents")
    score = F.length(F.regexp_replace(F.col("text"), "[^aeiou]", "")).cast(
        "double"
    ) / (F.col("n_chars") + F.lit(1)).cast("double")
    binned = (
        docs.select(
            F.least(
                F.floor(score * F.lit(float(_CAL_BINS))),
                F.lit(float(_CAL_BINS - 1)),
            )
            .cast("int")
            .alias("bin"),
            F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
            score.alias("score"),
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("pos").cast("long").alias("n_pos"),
            F.sum(F.col("score").cast(DEC)).cast("double").alias("sum_score"),
        )
    )
    tot = binned.agg(F.sum("n").cast("long").alias("total"))
    gap = F.abs(
        F.col("n_pos").cast("double") / F.col("n").cast("double")
        - F.col("sum_score") / F.col("n").cast("double")
    )
    weight = F.col("n").cast("double") / F.col("total").cast("double")
    ece = (
        binned.crossJoin(F.broadcast(tot))
        .agg(F.sum((weight * gap).cast(DEC)).cast("double").alias("ece"))
    )
    return binned.crossJoin(F.broadcast(ece)).select(
        "bin",
        "n",
        "n_pos",
        (F.col("sum_score") / F.col("n").cast("double")).alias("mean_score"),
        (F.col("n_pos").cast("double") / F.col("n").cast("double")).alias(
            "frac_pos"
        ),
        "ece",
    )


# --------------------------------------------------------------------------
# q_psi_drift — Population Stability Index between the first and second
# halves of the event stream (the production drift monitor).
# --------------------------------------------------------------------------

_PSI_BINS = 256
_PSI_EPS = "0.000001"  # empty-bin clip, the standard PSI convention


@query(
    "q_psi_drift",
    oracle=f"""
WITH spanned AS (
  SELECT value, ts,
         MIN(value) OVER () AS lo, MAX(value) OVER () AS hi,
         MIN(ts) OVER () AS t0, MAX(ts) OVER () AS t1
  FROM events
),
halves AS (
  SELECT
    CAST(LEAST(FLOOR(((value - lo) / (hi - lo)) * {_PSI_BINS}.0),
               {_PSI_BINS - 1}.0) AS INTEGER) AS bin,
    CASE WHEN epoch(ts) * 2 < epoch(t0) + epoch(t1) THEN 1 ELSE 0 END AS early
  FROM spanned
),
binned AS (
  SELECT bin,
         CAST(SUM(early) AS BIGINT) AS c_early,
         CAST(COUNT(*) - SUM(early) AS BIGINT) AS c_late
  FROM halves GROUP BY bin
),
tot AS (
  SELECT CAST(SUM(c_early) AS BIGINT) AS n_early,
         CAST(SUM(c_late) AS BIGINT) AS n_late
  FROM binned
)
SELECT
  tot.n_early,
  tot.n_late,
  ROUND({sql_dec_to_double(
    "SUM(CAST("
    "(GREATEST(CAST(c_early AS DOUBLE) / CAST(tot.n_early AS DOUBLE), " + _PSI_EPS + ") "
    " - GREATEST(CAST(c_late AS DOUBLE) / CAST(tot.n_late AS DOUBLE), " + _PSI_EPS + ")) "
    "* ln(GREATEST(CAST(c_early AS DOUBLE) / CAST(tot.n_early AS DOUBLE), " + _PSI_EPS + ") "
    "   / GREATEST(CAST(c_late AS DOUBLE) / CAST(tot.n_late AS DOUBLE), " + _PSI_EPS + ")) "
    "AS DECIMAL(38,10)))"
  )}, 6) AS psi
FROM binned CROSS JOIN tot
GROUP BY tot.n_early, tot.n_late
""",
    tags=("stats", "eval", "drift"),
)
def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of the event-value distribution between
    the first and second halves of the stream's time span — the metric
    production scoring pipelines alarm on (PSI < 0.1 stable, > 0.25
    drifted), complementing q_ks_test's max-gap view with the
    full-distribution divergence view.

    One data pass bins values onto a fixed 256-bin grid and splits by
    the time midpoint (value bounds and span from 1-row aggregates,
    broadcast back). PSI folds over the ≤256-row bin table with the
    standard empty-bin clip (shares floored at 1e-6 — deterministic,
    no data-dependent epsilon). Σ(p−q)·ln(p/q) terms are each one IEEE
    double, decimal-summed for order independence, rounded to 6 dp to
    absorb the cross-engine libm ln() ULP (the q_entropy absorber).
    """
    ev = load(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min("value").alias("lo"),
        F.max("value").alias("hi"),
        F.min("ts").alias("t0"),
        F.max("ts").alias("t1"),
    )
    eps = F.lit(1e-06)
    binned = (
        ev.crossJoin(F.broadcast(bounds))
        .select(
            F.least(
                F.floor(
                    ((F.col("value") - F.col("lo")) / (F.col("hi") - F.col("lo")))
                    * F.lit(float(_PSI_BINS))
                ),
                F.lit(float(_PSI_BINS - 1)),
            )
            .cast("int")
            .alias("bin"),
            # fractional epoch seconds (us/1e6, one IEEE division) —
            # unix_timestamp() truncates to whole seconds while DuckDB's
            # epoch() keeps the microsecond fraction, so events within
            # ~1 s of the midpoint would classify into different halves
            F.when(
                F.col("ts").cast("double") * 2
                < F.col("t0").cast("double") + F.col("t1").cast("double"),
                1,
            )
            .otherwise(0)
            .alias("early"),
        )
        .groupBy("bin")
        .agg(
            F.sum("early").cast("long").alias("c_early"),
            (F.count(F.lit(1)) - F.sum("early")).cast("long").alias("c_late"),
        )
    )

    # Persist the ≤bins-row histogram (the q_ks_test treatment): the
    # totals and the PSI sum are separate branches that each re-ran the
    # bounds + binning corpus passes without it.
    binned = artifacts.cached("q_psi_drift.binned", sf_dir, lambda: binned)
    tot = binned.agg(
        F.sum("c_early").cast("long").alias("n_early"),
        F.sum("c_late").cast("long").alias("n_late"),
    )
    p = F.greatest(F.col("c_early").cast("double") / F.col("n_early").cast("double"), eps)
    q = F.greatest(F.col("c_late").cast("double") / F.col("n_late").cast("double"), eps)
    return (
        binned.crossJoin(F.broadcast(tot))
        .groupBy("n_early", "n_late")
        .agg(
            F.round(F.sum(((p - q) * F.log(p / q)).cast(DEC)).cast("double"), 6).alias(
                "psi"
            )
        )
        .select("n_early", "n_late", "psi")
    )


# --------------------------------------------------------------------------
# q_decile_lift — gains/lift table of the quality score against the
# lang='en' label: the corpus-selection readout (how much better is the
# top-k% of the corpus by score than random sampling?).
# --------------------------------------------------------------------------


@query(
    "q_decile_lift",
    oracle="""
WITH scored AS (
  SELECT
    doc_id,
    (CAST(length(regexp_replace(text, '[^aeiou]', '', 'g')) AS DOUBLE)
     / CAST(n_chars + 1 AS DOUBLE)) AS score,
    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
  FROM documents
),
dec AS (
  SELECT pos,
         CAST(NTILE(10) OVER (ORDER BY score DESC, doc_id ASC) AS INTEGER)
           AS decile
  FROM scored
),
g AS (
  SELECT decile,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(pos) AS BIGINT) AS n_pos
  FROM dec GROUP BY decile
),
tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS tn, CAST(SUM(n_pos) AS BIGINT) AS tp
  FROM g
),
c AS (
  SELECT a.decile, a.n, a.n_pos,
         CAST(SUM(b.n) AS BIGINT) AS cum_n,
         CAST(SUM(b.n_pos) AS BIGINT) AS cum_pos
  FROM g a JOIN g b ON b.decile <= a.decile
  GROUP BY a.decile, a.n, a.n_pos
)
SELECT
  c.decile,
  c.n,
  c.n_pos,
  CAST(c.n_pos AS DOUBLE) / CAST(c.n AS DOUBLE) AS pos_rate,
  (CAST(c.cum_pos AS DOUBLE) * CAST(tot.tn AS DOUBLE))
    / (CAST(c.cum_n AS DOUBLE) * CAST(tot.tp AS DOUBLE)) AS cum_lift
FROM c, tot
ORDER BY c.decile
""",
    tags=("stats", "eval"),
)
def q_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile gains table: rank the corpus by the quality score
    (descending), cut into 10 equal-count bins, and report per decile
    the positive (lang='en') rate plus the CUMULATIVE lift — the curve a
    corpus-selection pipeline reads to decide "keep the top 30%". Closes
    the eval family: q_roc_auc measures ranking power, q_calibration_bins
    measures probability quality, this measures the selection payoff.

    Scale shape: the decile cut uses the distributed ranking module
    (parallel range exchange + partition offsets + closed-form NTILE —
    never a single-partition window over the corpus); everything after
    is a 10-row relation, where the cumulative structure is the house
    broadcast triangle join and totals are a 1-row broadcast. Counts
    stay BIGINT; the two final divisions are single IEEE ops on exact
    integers (< 2^53), written token-identically in both engines, so
    the hash match is exact.
    """
    from streaming_data_ingestion_spark.ranking import (
        ntile_of_rank,
        with_global_rank,
    )

    docs = load(spark, sf_dir, "documents")
    score = F.length(F.regexp_replace(F.col("text"), "[^aeiou]", "")).cast(
        "double"
    ) / (F.col("n_chars") + F.lit(1)).cast("double")
    scored = docs.select(
        "doc_id", (-score).alias("neg_score"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
    )
    ranked, n_total = with_global_rank(
        scored,
        ["neg_score", "doc_id"],
        rank_col="r",
        cache=("q_decile_lift.ranked", sf_dir),
    )
    g = (
        ranked.select(ntile_of_rank(F.col("r"), n_total, 10).alias("decile"), "pos")
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("pos").cast("long").alias("n_pos"),
        )
    )
    tot = g.agg(
        F.sum("n").cast("long").alias("tn"), F.sum("n_pos").cast("long").alias("tp")
    )
    a, b = g.alias("a"), g.alias("b")
    c = (
        a.join(F.broadcast(b), F.col("b.decile") <= F.col("a.decile"))
        .groupBy(
            F.col("a.decile").alias("decile"),
            F.col("a.n").alias("n"),
            F.col("a.n_pos").alias("n_pos"),
        )
        .agg(
            F.sum("b.n").cast("long").alias("cum_n"),
            F.sum("b.n_pos").cast("long").alias("cum_pos"),
        )
    )
    return (
        c.crossJoin(F.broadcast(tot))
        .select(
            "decile",
            "n",
            "n_pos",
            (F.col("n_pos").cast("double") / F.col("n").cast("double")).alias(
                "pos_rate"
            ),
            (
                (F.col("cum_pos").cast("double") * F.col("tn").cast("double"))
                / (F.col("cum_n").cast("double") * F.col("tp").cast("double"))
            ).alias("cum_lift"),
        )
        .orderBy("decile")
    )


# --------------------------------------------------------------------------
# q_bootstrap_ci — deterministic Poisson bootstrap CI for the mean event
# value: the resampling method that works in ONE pass at any scale (each
# row draws its replica multiplicities independently — no shuffled resample,
# no per-replica rescan).
# --------------------------------------------------------------------------

_BOOT_B = 64

# Poisson(1) CDF thresholds P(X <= k), k = 0..5; identical literals in both
# engines make the inverse-CDF draw bit-deterministic. Multiplicity capped
# at 6 (P > 6 ~ 1e-4 truncated onto the last bucket — the standard finite
# inverse-table trade).
_POIS = (
    "0.36787944117144233", "0.7357588823428847", "0.9196986029286058",
    "0.9810118431238462", "0.9963401531726563", "0.9994058151824183",
)

# Uniform draw: two MINSTD (Lehmer) steps seeded by (event_id·B + replica),
# all in BIGINT modular arithmetic — every intermediate < 48271·2³¹ < 2⁴⁷,
# so neither engine can overflow, and the arithmetic (unlike a hash
# function) is trivially identical across engines. Two multiplicative
# steps decorrelate the consecutive seeds that (id·B + b) produces; MINSTD
# is statistically plenty for bootstrap multiplicities (the first, md5-
# based version of this draw was bit-exact too but spent the whole query
# runtime on per-row string hashing — 16.6 s → ~2 s at sf0.1).
_MINSTD_M = 2147483647  # 2^31 - 1 (prime)
_MINSTD_A = 48271


def _sql_u(seed: str) -> str:
    s1 = f"(({_MINSTD_A} * (({seed}) % {_MINSTD_M})) % {_MINSTD_M})"
    s2 = f"(({_MINSTD_A} * {s1}) % {_MINSTD_M})"
    return f"(CAST({s2} AS DOUBLE) / {_MINSTD_M}.0)"


def _sql_pois_w(u: str) -> str:
    cases = " ".join(
        f"WHEN {u} < {t} THEN {k}" for k, t in enumerate(_POIS)
    )
    return f"CASE {cases} ELSE 6 END"


@query(
    "q_bootstrap_ci",
    oracle=f"""
WITH draws AS (
  SELECT b.b, value,
         {_sql_pois_w(_sql_u(f"event_id * {_BOOT_B} + b.b"))} AS w
  FROM events, (SELECT CAST(i AS INTEGER) AS b FROM range(0, {_BOOT_B}) t(i)) b
),
rep AS (
  SELECT b, CAST(SUM(w) AS BIGINT) AS n,
         {sql_dec_to_double("SUM(CAST(CAST(w AS DOUBLE) * value AS DECIMAL(38,10)))")} AS s
  FROM draws GROUP BY b
),
means AS (
  SELECT b, s / CAST(n AS DOUBLE) AS m FROM rep
),
ranked AS (
  SELECT a.b, a.m, CAST(COUNT(*) AS BIGINT) AS rn
  FROM means a JOIN means c
    ON (c.m < a.m) OR (c.m = a.m AND c.b <= a.b)
  GROUP BY a.b, a.m
),
base AS (
  SELECT {sql_dec_to_double("SUM(CAST(value AS DECIMAL(38,10)))")}
           / CAST(COUNT(*) AS DOUBLE) AS mean
  FROM events
)
SELECT
  CAST({_BOOT_B} AS BIGINT) AS n_replicas,
  base.mean,
  MAX(CASE WHEN rn = 2 THEN m END) AS ci_lo,
  MAX(CASE WHEN rn = {_BOOT_B - 1} THEN m END) AS ci_hi
FROM ranked, base
GROUP BY base.mean
""",
    tags=("events", "stats", "eval"),
)
def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% Poisson-bootstrap confidence interval for the mean event
    value: every row draws its multiplicity in each of B=64 replicas
    from Poisson(1) — the bootstrap that works at 100 TB because it is
    ONE pass with per-row independent draws (no sampled rescan per
    replica, no shuffled resample; the method production A/B systems
    use for exactly this reason). Draws are DETERMINISTIC: u = two
    MINSTD (Lehmer) steps seeded by (event_id·B + replica) — pure
    BIGINT modular arithmetic, every intermediate < 2⁴⁷ so neither
    engine can overflow — then an inverse-CDF lookup against shared
    literal thresholds, so both engines materialize the identical
    resample and the interval hash-matches bit-exactly (statistically
    ample for multiplicities; an md5-based draw was bit-exact too but
    spent the entire runtime on per-row string hashing).

    Scale shape: the replica spine multiplies rows 64× INSIDE the map
    stage (constant CPU factor), then map-side combine collapses to 64
    partial rows per partition — the shuffle is 64·partitions rows
    regardless of data size. The rank-2 / rank-63 percentile cut runs
    as a broadcast triangle join on the 64-row replica relation (the
    house bounded-relation idiom; no unpartitioned window). The full
    mean is one DECIMAL aggregate broadcast back as a 1-row relation.
    """
    # the 64x fan-out is the hot stage: spread the single-file scan so it
    # runs on every core, not one task (fixture files are one row group)
    ev = spread_for_cpu(load(spark, sf_dir, "events"))
    seed = (F.col("event_id") * _BOOT_B + F.col("b")) % _MINSTD_M
    s1 = (F.lit(_MINSTD_A) * seed) % _MINSTD_M
    s2 = (F.lit(_MINSTD_A) * s1) % _MINSTD_M
    u = s2.cast("double") / F.lit(float(_MINSTD_M))
    w = F.lit(6)
    for k in range(len(_POIS) - 1, -1, -1):
        w = F.when(u < F.lit(float(_POIS[k])), F.lit(k)).otherwise(w)

    draws = ev.select(
        "event_id", "value", F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("b")
    ).select("value", F.col("b").cast("int").alias("b"), w.alias("w"))
    # Persist the 64-row replica relation AND fold the full-corpus mean
    # into the same pass: each replica row also carries the plain
    # decimal sum/count of `value` (identical for every b — summed over
    # all rows), so `base` reads the b=0 row instead of re-scanning the
    # corpus, and the rank triangle join's two sides read the cache
    # instead of re-running the 64x fan-out aggregate. Three corpus
    # passes (fan-out x2 + mean) collapse to ONE; decimal sums are
    # order-independent, so every emitted value is bit-unchanged.
    rep = artifacts.cached(
        "q_bootstrap_ci.rep",
        sf_dir,
        lambda: draws.groupBy("b").agg(
            F.sum("w").cast("long").alias("n"),
            F.sum((F.col("w").cast("double") * F.col("value")).cast(DEC))
            .cast("double")
            .alias("s"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("sv"),
            F.count(F.lit(1)).cast("long").alias("cnt"),
        ),
    )
    means = rep.select("b", (F.col("s") / F.col("n").cast("double")).alias("m"))
    a, c = means.alias("a"), means.alias("c")
    ranked = (
        a.join(
            F.broadcast(c),
            (F.col("c.m") < F.col("a.m"))
            | ((F.col("c.m") == F.col("a.m")) & (F.col("c.b") <= F.col("a.b"))),
        )
        .groupBy(F.col("a.b").alias("b"), F.col("a.m").alias("m"))
        .agg(F.count(F.lit(1)).cast("long").alias("rn"))
    )
    base = rep.where(F.col("b") == 0).select(
        (F.col("sv") / F.col("cnt").cast("double")).alias("mean")
    )
    return (
        ranked.crossJoin(F.broadcast(base))
        .groupBy("mean")
        .agg(
            F.max(F.when(F.col("rn") == 2, F.col("m"))).alias("ci_lo"),
            F.max(F.when(F.col("rn") == _BOOT_B - 1, F.col("m"))).alias("ci_hi"),
        )
        .select(
            F.lit(_BOOT_B).cast("long").alias("n_replicas"),
            "mean",
            "ci_lo",
            "ci_hi",
        )
    )


# --------------------------------------------------------------------------
# q_anova — one-way ANOVA F statistic of event value across event types:
# the k-group generalization of q_ttest (does ANY type differ in mean?).
# --------------------------------------------------------------------------


@query(
    "q_anova",
    oracle=f"""
WITH g AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         {sql_dec_to_double("SUM(CAST(value AS DECIMAL(38,10)))")} AS s,
         {sql_dec_to_double("SUM(CAST(value * value AS DECIMAL(38,10)))")} AS ss
  FROM events GROUP BY event_type
),
tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS n_tot,
         CAST(COUNT(*) AS BIGINT) AS k,
         {sql_dec_to_double("SUM(CAST(s AS DECIMAL(38,10)))")} AS s_tot
  FROM g
),
parts AS (
  SELECT
    tot.n_tot, tot.k,
    {sql_dec_to_double(
        "SUM(CAST((g.s * g.s) / CAST(g.n AS DOUBLE) AS DECIMAL(38,10)))")}
      - (tot.s_tot * tot.s_tot) / CAST(tot.n_tot AS DOUBLE) AS ssb,
    {sql_dec_to_double("SUM(CAST(g.ss AS DECIMAL(38,10)))")}
      - {sql_dec_to_double(
          "SUM(CAST((g.s * g.s) / CAST(g.n AS DOUBLE) AS DECIMAL(38,10)))")}
      AS ssw
  FROM g CROSS JOIN tot
  GROUP BY tot.n_tot, tot.k, tot.s_tot
)
SELECT
  k AS n_groups,
  n_tot,
  ROUND(ssb, 6) AS ss_between,
  ROUND(ssw, 6) AS ss_within,
  ROUND((ssb / (CAST(k AS DOUBLE) - 1.0))
        / (ssw / (CAST(n_tot AS DOUBLE) - CAST(k AS DOUBLE))), 6) AS f_stat
FROM parts
""",
    tags=("events", "stats", "eval"),
)
def q_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA over event value by event type: F = (SSB/(k−1)) /
    (SSW/(n−k)) — the k-group generalization of q_ttest's two-sample
    comparison, computed entirely from per-group exact moments
    (n, Σx, Σx²) like the rest of the :mod:`stats` family.

    Cross-engine exactness: group moments are DECIMAL sums; the
    between/within decomposition reuses the identity SSB = Σ sᵢ²/nᵢ −
    s²/n with each sᵢ²/nᵢ term a fixed IEEE sequence DECIMAL-summed
    across groups, written token-identically in both engines; round(6)
    absorbs the compound-expression ULP.

    Scale shape: ONE map-side-combined group aggregate is the only
    fact-sized stage; the decomposition runs on the |types|-row group
    relation with a 1-row totals broadcast. Output is a single row.
    """
    ev = load(spark, sf_dir, "events")
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("value").cast(DEC)).cast("double").alias("s"),
        F.sum((F.col("value") * F.col("value")).cast(DEC))
        .cast("double")
        .alias("ss"),
    )
    tot = g.agg(
        F.sum("n").cast("long").alias("n_tot"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum(F.col("s").cast(DEC)).cast("double").alias("s_tot"),
    )
    sn = F.sum(((F.col("s") * F.col("s")) / F.col("n").cast("double")).cast(DEC)).cast(
        "double"
    )
    sss = F.sum(F.col("ss").cast(DEC)).cast("double")
    parts = (
        g.crossJoin(F.broadcast(tot))
        .groupBy("n_tot", "k", "s_tot")
        .agg(sn.alias("sn"), sss.alias("sss"))
        .select(
            "n_tot",
            "k",
            (F.col("sn") - (F.col("s_tot") * F.col("s_tot")) / F.col("n_tot").cast("double")).alias(
                "ssb"
            ),
            (F.col("sss") - F.col("sn")).alias("ssw"),
        )
    )
    return parts.select(
        F.col("k").alias("n_groups"),
        "n_tot",
        F.round("ssb", 6).alias("ss_between"),
        F.round("ssw", 6).alias("ss_within"),
        F.round(
            (F.col("ssb") / (F.col("k").cast("double") - F.lit(1.0)))
            / (F.col("ssw") / (F.col("n_tot").cast("double") - F.col("k").cast("double"))),
            6,
        ).alias("f_stat"),
    )


# --------------------------------------------------------------------------
# q_ab_test — two-proportion z-test between hash-split user cohorts.
# --------------------------------------------------------------------------


@query(
    "q_ab_test",
    oracle=f"""
WITH users AS (
  SELECT user_id,
         CAST(user_id % 2 AS INTEGER) AS cohort,
         CASE WHEN CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS BIGINT) * 5 > CAST(COUNT(*) AS BIGINT)
              THEN 1 ELSE 0 END AS converted
  FROM events GROUP BY user_id
),
g AS (
  SELECT cohort,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(converted) AS BIGINT) AS conv
  FROM users GROUP BY cohort
),
w AS (
  SELECT
    MIN(CASE WHEN cohort = 0 THEN n END) AS n0,
    MIN(CASE WHEN cohort = 0 THEN conv END) AS c0,
    MIN(CASE WHEN cohort = 1 THEN n END) AS n1,
    MIN(CASE WHEN cohort = 1 THEN conv END) AS c1
  FROM g
)
SELECT
  n0, c0, n1, c1,
  CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS rate0,
  CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS rate1,
  ROUND(
    (CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE)
     - CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE))
    / sqrt(
        (CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
        * (1.0 - CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
        * (1.0 / CAST(n0 AS DOUBLE) + 1.0 / CAST(n1 AS DOUBLE))
      ), 6) AS z_score
FROM w
""",
    tags=("events", "eval", "stats"),
)
def q_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test between the two deterministic user cohorts
    (user_id parity — the hash-split an A/B assignment service
    produces): success = the user is "purchase-heavy" (purchases exceed
    20% of their events — an integer cross-multiply, chosen because the
    naive "ever purchased" is degenerate on this fixture: every user
    converts, p̂=1 zeroes the pooled variance and ANSI Spark raises on
    the division while DuckDB yields inf). Per-cohort counts,
    rates, and the pooled z statistic — the experiment readout every
    product analytics stack ships (|z| > 1.96 = the 5% bar), the
    proportion-flavored sibling of q_ttest's mean comparison.

    Exactness: per-user conversion is a MAX over exact integers;
    cohort counts are BIGINTs; every rate/pooled-rate term is written
    as the same IEEE expression token-for-token in both engines;
    round(6) absorbs only the final sqrt's ULP.

    Scale shape: ONE user-keyed aggregate collapses the fact table
    (map-side combined), then a 2-row cohort aggregate pivoted to one
    row — nothing after the first pass scales with data.
    """
    ev = load(spark, sf_dir, "events")
    users = ev.groupBy("user_id").agg(
        F.when(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).cast("long")
            * 5
            > F.count(F.lit(1)).cast("long"),
            1,
        )
        .otherwise(0)
        .alias("converted")
    ).select(
        (F.col("user_id") % 2).cast("int").alias("cohort"), "converted"
    )
    g = users.groupBy("cohort").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("converted").cast("long").alias("conv"),
    )
    w = g.agg(
        F.min(F.when(F.col("cohort") == 0, F.col("n"))).alias("n0"),
        F.min(F.when(F.col("cohort") == 0, F.col("conv"))).alias("c0"),
        F.min(F.when(F.col("cohort") == 1, F.col("n"))).alias("n1"),
        F.min(F.when(F.col("cohort") == 1, F.col("conv"))).alias("c1"),
    )
    n0, c0 = F.col("n0").cast("double"), F.col("c0").cast("double")
    n1, c1 = F.col("n1").cast("double"), F.col("c1").cast("double")
    pooled = (F.col("c0") + F.col("c1")).cast("double") / (
        F.col("n0") + F.col("n1")
    ).cast("double")
    z = (c0 / n0 - c1 / n1) / F.sqrt(
        pooled * (F.lit(1.0) - pooled) * (F.lit(1.0) / n0 + F.lit(1.0) / n1)
    )
    return w.select(
        "n0", "c0", "n1", "c1",
        (c0 / n0).alias("rate0"),
        (c1 / n1).alias("rate1"),
        F.round(z, 6).alias("z_score"),
    )


# --------------------------------------------------------------------------
# q_benford — Benford's-law first-digit audit of order totals (the
# classic financial-data-quality / fraud screen).
# --------------------------------------------------------------------------

# Expected first-digit shares log10(1 + 1/d), PRE-COMPUTED in python and
# injected as literals into BOTH engines: JVM Math.log10 and DuckDB's C
# log10 may differ by one ULP on non-exact inputs like 1+1/3, which
# would make an in-engine log10 hash-unstable. (repr() round-trips the
# exact double, and both engines' string→double parsers are correctly
# rounded.)
import math as _math

_BENFORD_E = tuple(_math.log10(1.0 + 1.0 / d) for d in range(1, 10))


@query(
    "q_benford",
    oracle=f"""
WITH v AS (
  SELECT CAST(FLOOR(o_totalprice) AS BIGINT) AS x FROM orders
  WHERE o_totalprice >= 1
),
d AS (
  SELECT CAST(substring(CAST(x AS VARCHAR), 1, 1) AS INTEGER) AS digit
  FROM v
),
counts AS (
  SELECT digit, CAST(COUNT(*) AS BIGINT) AS nd FROM d GROUP BY digit
),
tot AS (SELECT CAST(SUM(nd) AS BIGINT) AS n FROM counts),
spine AS (SELECT UNNEST(range(1, 10)) AS digit),
g AS (
  SELECT spine.digit,
         COALESCE(counts.nd, 0) AS n_orders,
         CAST(COALESCE(counts.nd, 0) AS DOUBLE) / CAST(tot.n AS DOUBLE)
           AS share,
         [{", ".join(repr(e) for e in _BENFORD_E)}][spine.digit]
           AS expected_share,
         tot.n AS n
  FROM spine LEFT JOIN counts ON counts.digit = spine.digit
  CROSS JOIN tot
),
chi AS (
  SELECT {sql_dec_to_double(
    "SUM(CAST((share - expected_share) * (share - expected_share)"
    " / expected_share AS DECIMAL(38,10)))"
  )} AS tsum
  FROM g
)
SELECT
  CAST(g.digit AS INTEGER) AS digit,
  g.n_orders,
  g.share,
  g.expected_share,
  ROUND(CAST(g.n AS DOUBLE) * chi.tsum, 6) AS chi2_stat
FROM g CROSS JOIN chi
ORDER BY digit
""",
    tags=("orders", "stats", "dq"),
)
def q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals: observed vs
    expected share log10(1+1/d) per leading digit, plus the Pearson
    chi-square statistic n·Σ(p_d − e_d)²/e_d — the standard screen for
    fabricated or truncated financial values (organic multi-scale
    amounts follow Benford closely; price-capped or synthetic data
    shows up as a large chi²).

    Exactness: the leading digit comes from the INTEGER part's string
    head (FLOOR→BIGINT→VARCHAR; integer-to-string is canonical in both
    engines, unlike float formatting or log10-based digit extraction);
    expected shares are python-precomputed literals (in-engine log10
    differs by ULPs between JVM and C libm); shares are single IEEE
    divisions of exact counts; the 9 chi² terms are DECIMAL-summed
    (order-independent) and round(6) absorbs the final multiply.

    Scale shape: one map-side-combined digit count (9 groups), a 9-row
    spine join, a 1-row total broadcast — the fact table is touched
    once.
    """
    o = load(spark, sf_dir, "orders")
    d = o.where(F.col("o_totalprice") >= 1).select(
        F.substring(
            F.floor(F.col("o_totalprice")).cast("long").cast("string"), 1, 1
        )
        .cast("int")
        .alias("digit")
    )
    counts = d.groupBy("digit").agg(
        F.count(F.lit(1)).cast("long").alias("nd")
    )
    tot = counts.agg(F.sum("nd").cast("long").alias("n"))
    spine = spark.range(1, 10).select(F.col("id").cast("int").alias("digit"))
    e_arr = dlit_array(_BENFORD_E)
    g = (
        spine.join(counts, "digit", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            F.coalesce(F.col("nd"), F.lit(0)).cast("long").alias("n_orders"),
            (
                F.coalesce(F.col("nd"), F.lit(0)).cast("double")
                / F.col("n").cast("double")
            ).alias("share"),
            F.element_at(e_arr, F.col("digit")).alias("expected_share"),
            "n",
        )
    )
    term = (
        (F.col("share") - F.col("expected_share"))
        * (F.col("share") - F.col("expected_share"))
        / F.col("expected_share")
    )
    chi = g.agg(F.sum(term.cast(DEC)).alias("tsum"))
    return (
        g.crossJoin(F.broadcast(chi))
        .select(
            "digit",
            "n_orders",
            "share",
            "expected_share",
            F.round(
                F.col("n").cast("double") * F.col("tsum").cast("double"), 6
            ).alias("chi2_stat"),
        )
        .orderBy("digit")
    )
