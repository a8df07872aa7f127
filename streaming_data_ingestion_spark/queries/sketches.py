"""Sketch-based operators beyond the built-in approx family
(SURVEY.md §2B): deterministic Count-Min heavy hitters and mergeable
Datasketches-HLL rollups.

q_agg_approx / q_approx_quantile exercise Spark's built-in sketches
(HLL++, KLL-ish percentile_approx); this module adds the classic sketch
a 100 TB text pipeline builds ITSELF: a Count-Min sketch over the token
stream, used the way production heavy-hitter jobs use it — a tiny
fixed-size sketch finds CANDIDATE hot tokens, and the exact counting
pass runs only over those candidates (a semi-join prune) instead of
aggregating the full vocabulary.

Everything is deterministic and cross-engine exact: the d hash rows are
md5 with per-row salts (the q_sample_weighted integer-hash discipline),
cell counts and thresholds are BIGINTs, and the φ-fraction cut is an
integer cross-multiplication (est·200 ≥ total) so no float boundary can
disagree between engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from streaming_data_ingestion_spark import artifacts
from streaming_data_ingestion_spark.registry import query
from streaming_data_ingestion_spark.tables import load, spread_for_cpu

_CMS_DEPTH = 4
_CMS_WIDTH = 1024
_PHI_DENOM = 200  # heavy hitter = more than 1/200 of all token occurrences

_SQL_TOKENS = "list_filter(str_split(trim(text), ' '), t -> t != '')"


def cms_width_for(phi_denom: int, candidate_slack: float = 2.0) -> int:
    """The Count-Min error LAW, solved for width (docs/SCALE.md
    "static sketch parameters"): one row of width w over-counts by at
    most εN with ε = e/w, so a 1/phi_denom heavy-hitter cut admits
    every token with true share ≥ φ − ε — the candidate set is bounded
    by 1/(φ−ε) only while ε < φ. Holding candidates ≤ slack·φ⁻¹ needs
    ε ≤ φ(1−1/slack), i.e. w ≥ e·phi_denom/(1−1/slack); this returns
    that width rounded up to a power of two. Width is a function of φ
    ONLY — not of N: both the error and the cut scale with N, so a
    correctly-sized grid needs no re-sizing as the corpus grows (the
    property that makes the sketch mergeable across a stream)."""
    import math

    if phi_denom < 1 or candidate_slack <= 1.0:
        raise ValueError("phi_denom >= 1 and candidate_slack > 1 required")
    need = math.e * phi_denom / (1.0 - 1.0 / candidate_slack)
    return 1 << max(1, math.ceil(math.log2(need)))


def check_cms_params(width: int, depth: int, phi_denom: int) -> None:
    """Loud guard for hand-picked grids: ε = e/width ≥ φ = 1/phi_denom
    means the candidate-set bound is VACUOUS (every token can clear the
    cut) — refuse instead of silently degrading to a vocabulary-sized
    exact pass. depth controls the per-query failure probability e^−d,
    independent of corpus size."""
    import math

    if width < math.e * phi_denom:
        raise ValueError(
            f"CMS width {width} gives per-row error e/width="
            f"{math.e / width:.5f} >= phi=1/{phi_denom}: the heavy-hitter "
            f"candidate bound is vacuous; need width >= "
            f"{cms_width_for(phi_denom)} (= cms_width_for({phi_denom}))"
        )
    if depth < 1:
        raise ValueError("CMS depth must be >= 1")


# The registered grid: 4x1024 at phi=1/200 -> epsilon = e/1024 = 0.00266,
# candidate bound 1/(phi-epsilon) = 427 tokens (2.13x the 200-token
# ideal), per-query failure e^-4 = 1.8%. Checked at import so a future
# constant edit that breaks the law fails the whole suite, not a prod run.
check_cms_params(_CMS_WIDTH, _CMS_DEPTH, _PHI_DENOM)


def _bucket(token: Column, r: int, width: int = _CMS_WIDTH) -> Column:
    """Row r's CMS bucket: first 32 bits of a salted md5, mod width —
    identical integer math in both engines."""
    h = F.conv(
        F.substring(
            F.md5(F.concat(token, F.lit(f"|cms{r}")).cast("binary")), 1, 8
        ),
        16,
        10,
    ).cast("long")
    return h % width


def tokenize_documents(docs: DataFrame) -> DataFrame:
    """(token) stream from a documents-shaped frame — the ONE
    tokenization both the batch sketch and the streaming CMS maintainer
    (streaming/cms_stream.py) use, so their grids are mergeable
    bit-for-bit."""
    return docs.select("text").select(
        F.explode(
            F.filter(F.split(F.trim(F.col("text")), " "), lambda t: t != "")
        ).alias("token")
    )


def cms_grid_partial(
    docs: DataFrame, width: int = _CMS_WIDTH, depth: int = _CMS_DEPTH
) -> DataFrame:
    """The depth×width Count-Min cell counts of ONE slice of documents:
    (r, bucket, n BIGINT). CMS grids merge by ADDITION, so per-batch
    partials summed into a stored grid equal the one-shot grid over the
    union — the mergeable-sketch contract the streaming maintainer
    relies on (same shape as hll_union_agg for distinct counts).

    width/depth are PARAMETERS (defaults = the registered 4×1024 grid)
    sized by the error law in :func:`cms_width_for`; grids of different
    shapes must never be merged — one stored table per shape (the
    streaming maintainer's ``table_path`` identifies a single grid)."""
    toks = tokenize_documents(docs)
    occ = toks.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"),
                        _bucket(F.col("token"), r, width).alias("bucket"),
                    )
                    for r in range(depth)
                ]
            )
        ).alias("rb"),
    ).select("rb.r", "rb.bucket")
    return occ.groupBy("r", "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )


def _cms_oracle(
    width: int = _CMS_WIDTH,
    depth: int = _CMS_DEPTH,
    phi_denom: int = _PHI_DENOM,
) -> str:
    """Oracle template for heavy_hitters_cms — shared by both registered
    bindings so a grid constant accidentally folded into one binding's
    SQL cannot hash-match the other (the q_emb_neardup_lsh pattern)."""
    return f"""
WITH toks AS (
  SELECT unnest({_SQL_TOKENS}) AS token FROM documents
),
total AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM toks),
rows_ AS (SELECT UNNEST(range(0, {depth})) AS r),
occ AS (
  SELECT token, r,
         ('0x' || substring(md5(token || '|cms' || r), 1, 8))::BIGINT
           % {width} AS bucket
  FROM toks, rows_
),
cells AS (
  SELECT r, bucket, CAST(COUNT(*) AS BIGINT) AS n
  FROM occ GROUP BY r, bucket
),
cand AS (
  SELECT o.token, CAST(MIN(c.n) AS BIGINT) AS est
  FROM (SELECT DISTINCT token, r, bucket FROM occ) o
  JOIN cells c ON c.r = o.r AND c.bucket = o.bucket
  GROUP BY o.token
  HAVING MIN(c.n) * {phi_denom} >= (SELECT n FROM total)
),
exact AS (
  SELECT t.token, CAST(COUNT(*) AS BIGINT) AS n_exact
  FROM toks t JOIN cand ON cand.token = t.token
  GROUP BY t.token
)
SELECT cand.token, cand.est, exact.n_exact,
       exact.n_exact * {phi_denom} >= (SELECT n FROM total) AS is_true_heavy
FROM cand JOIN exact ON exact.token = cand.token
"""


def heavy_hitters_cms(
    spark: SparkSession,
    sf_dir: str,
    width: int = _CMS_WIDTH,
    depth: int = _CMS_DEPTH,
    phi_denom: int = _PHI_DENOM,
) -> DataFrame:
    """Parameterized builder behind both registered bindings — the grid
    shape is validated against the error law before any plan is built,
    so a caller cannot run a vacuous sketch."""
    check_cms_params(width, depth, phi_denom)

    def _tokb() -> DataFrame:
        # the depth bucket ids (salted md5s) are computed ONCE per
        # occurrence here and cached — both the sketch pass and the
        # candidate lookup read them back instead of re-hashing the
        # token stream. (r13 measured an Arrow hashlib twin with a
        # per-task distinct-token memo against this JVM form and the
        # JVM form WON — F.md5 is whole-stage-codegen, and the Python
        # boundary transfer cost exceeded the memo's saving: warm build
        # medians 0.29 s JVM vs 0.44 s Arrow at sf0.1 — so the hashing
        # stays here; recorded in the message of commit 47cff25.)
        toks = tokenize_documents(
            spread_for_cpu(load(spark, sf_dir, "documents").select("text"))
        )
        return toks.select(
            "token",
            *[
                _bucket(F.col("token"), r, width).alias(f"_b{r}")
                for r in range(depth)
            ],
        )

    # the cache kind carries the grid shape: the two registered
    # bindings are two OPERATORS with two grids, and sharing one kind
    # made each bench pass evict and rebuild the other binding's token
    # table (r13; the "at most one live entry per kind" bound is per
    # operator, not per module)
    tokb = artifacts.cached(
        f"q_heavy_hitters_cms.tokb.w{width}d{depth}",
        sf_dir,
        _tokb,
    )
    occ = tokb.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"),
                        F.col(f"_b{r}").alias("bucket"),
                    )
                    for r in range(depth)
                ]
            )
        ).alias("rb"),
    ).select("rb.r", "rb.bucket")
    cells = occ.groupBy("r", "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    # Fold the whole depth×width grid (plus the 1-row token total — each
    # occurrence contributes exactly one r=0 cell, so Σ n over r=0 IS the
    # total) into ONE broadcast row holding a DENSE count array indexed
    # by r·width+bucket. The earlier shape attached the grid via `depth`
    # broadcast hash joins whose build sides each re-ran the full cell
    # aggregate — depth+1 passes over the token stream at corpus scale;
    # this computes the grid ONCE (two passes total: grid, probe). Empty
    # cells are zero-filled from a range() union so the array is dense
    # and element_at is O(1) positional (a MapType grid would be an O(-
    # cells) linear scan per lookup). The 1-row attach is the repo's
    # allowlisted broadcast-cross-join scalar idiom.
    zeros = spark.range(depth * width).select(
        (F.col("id") / width).cast("int").alias("r"),
        (F.col("id") % width).cast("long").alias("bucket"),
        F.lit(0).cast("bigint").alias("n"),
    )
    dense = (
        cells.unionByName(zeros)
        .groupBy("r", "bucket")
        .agg(F.sum("n").cast("bigint").alias("n"))
    )
    one = dense.agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        (F.col("r") * width + F.col("bucket"))
                        .cast("long")
                        .alias("k"),
                        F.col("n"),
                    )
                )
            ),
            lambda s: s["n"],
        ).alias("_grid"),
        F.sum(F.when(F.col("r") == 0, F.col("n")))
        .cast("bigint")
        .alias("n"),
    )
    est = F.least(
        *[
            F.element_at(
                "_grid",
                F.lit(r * width + 1).cast("int") + F.col(f"_b{r}").cast("int"),
            )
            for r in range(depth)
        ]
    ).cast("bigint")
    survivors = (
        tokb.crossJoin(F.broadcast(one))
        .withColumn("_est", est)
        .filter(F.col("_est") * phi_denom >= F.col("n"))
    )
    # Only surviving occurrences (≤ the law's candidate bound in distinct
    # tokens) reach the exact count; est/total are constant per token, so
    # min() just reads them.
    out = survivors.groupBy("token").agg(
        F.min("_est").alias("est"),
        F.count(F.lit(1)).cast("bigint").alias("n_exact"),
        F.min("n").alias("_total"),
    )
    return out.select(
        "token",
        "est",
        "n_exact",
        (F.col("n_exact") * phi_denom >= F.col("_total")).alias(
            "is_true_heavy"
        ),
    )


@query(
    "q_heavy_hitters_cms",
    oracle=_cms_oracle(),
    tags=("llm", "sketch", "text"),
)
def q_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter tokens (> 1/200 of all occurrences) via a Count-Min
    sketch with an exact verification pass over the candidates only.

    Scale shape — the reason this beats a plain token groupBy at 100 TB:
    the sketch is a FIXED 4×1024 cell grid regardless of vocabulary
    (each occurrence contributes to 4 cells; the cell aggregate
    partial-combines map-side, so the shuffle carries ≤ 4096·partitions
    rows, never the vocabulary). Candidate selection is ROW-SIDE: each
    occurrence recomputes its 4 bucket ids (pure functions of the
    token), looks its cell counts up via 4 broadcast hash joins against
    the 4096-row grid, and keeps the row only when the MIN-cell estimate
    clears the φ cut — so the only token-keyed exchange in the whole
    plan is the final exact count over SURVIVING occurrences
    (map-side-combined to ≤ candidates·partitions rows; candidates ≤
    1/(φ−ε) = 427 by the error law — see cms_width_for). No
    vocabulary-sized shuffle exists anywhere. False positives are then
    flagged by ``is_true_heavy`` using the same integer
    cross-multiplied threshold; CMS guarantees est ≥ exact, so no true
    heavy hitter can be missed. The 1-row total attaches via the
    allowlisted broadcast-cross-join scalar idiom (single-row build
    side — see _CARTESIAN_OK in tests/test_plans.py).
    """
    return heavy_hitters_cms(spark, sf_dir)


_CMS_B2_WIDTH = 2048  # = cms_width_for(150, slack=1.25); slack-2 floor is 1024
_CMS_B2_DEPTH = 3
_CMS_B2_PHI = 150


@query(
    "q_heavy_hitters_cms_b2",
    oracle=_cms_oracle(_CMS_B2_WIDTH, _CMS_B2_DEPTH, _CMS_B2_PHI),
    tags=("llm", "sketch", "text"),
)
def q_heavy_hitters_cms_b2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SECOND hash-certified binding of the Count-Min heavy-hitter
    lever: a 3×2048 grid at φ = 1/150, with the width CHOSEN BY THE
    ERROR LAW (cms_width_for(150, slack=1.25) = 2048 — ε = e/2048 =
    0.00133 vs φ = 0.00667, candidate bound 187.3 ≤ 1.25·150) rather
    than hand-picked.
    Same builder and oracle template as `q_heavy_hitters_cms` (4×1024 @
    1/200), the house two-binding pattern: a grid constant folded into
    one binding's plan cannot hash-match both, and the round-11
    parameterization of the sketch is certified end-to-end, not just
    unit-tested. The shallower depth also exercises the failure-prob
    axis (e⁻³ = 5% per query vs e⁻⁴) — still sound because every
    candidate is exactly verified downstream.
    """
    return heavy_hitters_cms(
        spark,
        sf_dir,
        width=_CMS_B2_WIDTH,
        depth=_CMS_B2_DEPTH,
        phi_denom=_CMS_B2_PHI,
    )


# --------------------------------------------------------------------------
# q_hll_rollup_union — mergeable-sketch re-aggregation (Datasketches HLL):
# per-day partial sketches union up to source totals without rescanning.
# --------------------------------------------------------------------------


@query(
    "q_hll_rollup_union",
    oracle="""
WITH fine AS (
  SELECT source, CAST(ts AS DATE) AS day, user_id
  FROM (
    SELECT d.source, e.ts, e.user_id
    FROM events e JOIN documents d ON e.user_id % 500 = d.doc_id
  )
),
per_source AS (
  SELECT source,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
         CAST(COUNT(DISTINCT day) AS BIGINT) AS n_days
  FROM fine GROUP BY source
)
SELECT source, exact_users, n_days, TRUE AS union_within_bound
FROM per_source
""",
    tags=("agg", "approx", "sketch"),
)
def q_hll_rollup_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup contract: per-(source, day) Datasketches
    HLL partials UNION up to per-source distinct-user estimates, asserted
    within 5% of the exact count — the q_approx_error discipline applied
    to sketch RE-aggregation.

    Why this matters at 100 TB: a distinct-count dashboard cannot rescan
    history per refresh. The mergeable-sketch pattern stores one small
    sketch per (dimension, day) partition and answers any coarser grain
    by UNIONING sketches — this query proves the union path end-to-end
    (hll_sketch_agg → hll_union_agg → estimate vs the exact distinct).
    The estimates are engine-internal and can never hash-match, so the
    oracle checks the exact counts and the bound flag (lgConfigK=14 ⇒
    σ≈0.8%; 5% is >6σ — a false alarm means the sketch is broken, not
    unlucky). The events→documents attachment is a synthetic
    fan-in join (user_id mod |docs|) giving each source a multi-day user
    population worth sketching.
    """
    ev = load(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("date").alias("day")
    )
    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    fine = ev.join(
        F.broadcast(docs), ev.user_id % 500 == docs.doc_id
    ).select("source", "day", "user_id")
    partials = fine.groupBy("source", "day").agg(
        F.hll_sketch_agg("user_id", F.lit(14)).alias("sk"),
        F.count_distinct("user_id").alias("exact_day_users"),
    )
    rolled = partials.groupBy("source").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_users"),
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
    )
    exact = fine.groupBy("source").agg(
        F.count_distinct("user_id").alias("exact_users")
    )
    return rolled.join(exact, "source").select(
        "source",
        F.col("exact_users").cast("bigint").alias("exact_users"),
        "n_days",
        (
            F.abs(F.col("est_users") - F.col("exact_users"))
            <= 0.05 * F.col("exact_users")
        ).alias("union_within_bound"),
    )


# --------------------------------------------------------------------------
# q_quantile_rollup_merge — mergeable quantile sketches on a shared grid:
# per-(event_type, day) histogram partials roll up to per-type and global
# p50/p90/p99 without rescanning the data.
# --------------------------------------------------------------------------

_QR_BINS = 512


@query(
    "q_quantile_rollup_merge",
    oracle=f"""
WITH bounds AS (
  SELECT MIN(value) AS lo, MAX(value) AS hi FROM events
),
fine AS (
  SELECT event_type,
         CAST(ts AS DATE) AS day,
         CAST(LEAST(FLOOR(((value - lo) / (hi - lo)) * {_QR_BINS}.0),
                    {_QR_BINS - 1}.0) AS INTEGER) AS bin,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events, bounds
  GROUP BY 1, 2, 3
),
scoped AS (
  SELECT event_type AS scope, bin, CAST(SUM(c) AS BIGINT) AS c
  FROM fine GROUP BY 1, 2
  UNION ALL
  SELECT '(all)' AS scope, bin, CAST(SUM(c) AS BIGINT) AS c
  FROM fine GROUP BY 1, 2
),
tot AS (
  SELECT scope, CAST(SUM(c) AS BIGINT) AS n FROM scoped GROUP BY scope
),
cum AS (
  SELECT a.scope, a.bin, CAST(SUM(b.c) AS BIGINT) AS cum
  FROM scoped a JOIN scoped b ON a.scope = b.scope AND b.bin <= a.bin
  GROUP BY a.scope, a.bin
),
qb AS (
  SELECT cum.scope, tot.n,
         MIN(CASE WHEN cum * 100 >= 50 * tot.n THEN bin END) AS b50,
         MIN(CASE WHEN cum * 100 >= 90 * tot.n THEN bin END) AS b90,
         MIN(CASE WHEN cum * 100 >= 99 * tot.n THEN bin END) AS b99
  FROM cum JOIN tot ON cum.scope = tot.scope
  GROUP BY cum.scope, tot.n
)
SELECT scope, n,
       lo + (CAST(b50 AS DOUBLE) + 1.0) * ((hi - lo) / {_QR_BINS}.0) AS p50,
       lo + (CAST(b90 AS DOUBLE) + 1.0) * ((hi - lo) / {_QR_BINS}.0) AS p90,
       lo + (CAST(b99 AS DOUBLE) + 1.0) * ((hi - lo) / {_QR_BINS}.0) AS p99
FROM qb, bounds
""",
    tags=("agg", "approx", "sketch"),
)
def q_quantile_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile rollup: the percentile analog of
    q_hll_rollup_union. Per-(event_type, day) histogram partials on a
    SHARED fixed 512-bin grid merge — by plain addition — up to
    per-type and corpus-wide p50/p90/p99, answering every coarser grain
    without rescanning the data.

    The shared grid is what makes the sketch mergeable: bounds come from
    one 1-row min/max broadcast, so every partial buckets identically
    and a rollup is just SUM(c) per bin (contrast t-digest/KLL merges,
    which need sketch-internal logic; a fixed grid trades adaptive
    resolution for additive merge and bit-exact determinism). Quantile
    extraction selects the first bin whose cumulative count crosses
    ceil(q·n) — the comparison is the integer cross-multiplication
    cum·100 ≥ q%·n, so no float boundary can disagree between engines —
    and reports the bin's upper edge (error ≤ one bin width, the
    documented approximation every histogram-quantile dashboard makes).
    The cumulative pass is the bounded triangle join on the ≤(types+1)·512-row
    scoped histogram — grid-bounded at any data scale, same family as
    q_ks_test's ECDF join.
    """
    ev = load(spark, sf_dir, "events")
    # Persist the two small shared intermediates: every downstream
    # consumer (per-type rollup, global rollup, totals, triangle-join
    # build sides, final edge attach) is a separate plan branch, and
    # without the persists each branch re-ran the corpus-sized bounds
    # aggregate and binning pass — ~13 fact scans for a query whose
    # whole point is that partials merge WITHOUT rescanning the data.
    # Now the fact table is read exactly twice (bounds, then partials);
    # both cached frames are bounded (1 row; ≤ types·days·512 rows).
    bounds = artifacts.cached(
        "q_quantile_rollup_merge.bounds",
        sf_dir,
        lambda: ev.agg(F.min("value").alias("lo"), F.max("value").alias("hi")),
    )
    fine = artifacts.cached(
        "q_quantile_rollup_merge.fine",
        sf_dir,
        lambda: (
            ev.crossJoin(F.broadcast(bounds))
            .select(
                "event_type",
                F.to_date("ts").alias("day"),
                F.least(
                    F.floor(
                        (
                            (F.col("value") - F.col("lo"))
                            / (F.col("hi") - F.col("lo"))
                        )
                        * F.lit(float(_QR_BINS))
                    ),
                    F.lit(float(_QR_BINS - 1)),
                )
                .cast("int")
                .alias("bin"),
            )
            .groupBy("event_type", "day", "bin")
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
        ),
    )
    def _scoped() -> DataFrame:
        per_type = (
            fine.groupBy("event_type", "bin")
            .agg(F.sum("c").cast("long").alias("c"))
            .select(F.col("event_type").alias("scope"), "bin", "c")
        )
        global_h = (
            fine.groupBy("bin")
            .agg(F.sum("c").cast("long").alias("c"))
            .select(F.lit("(all)").alias("scope"), "bin", "c")
        )
        return per_type.unionAll(global_h)

    # scoped is ≤ (types+1)·512 rows and feeds THREE plan branches
    # (totals, the triangle-join build side, the triangle probe side);
    # persisting it stops each branch re-running both rollup aggregates
    # over the fine cache (6 aggregations → 2).
    scoped = artifacts.cached("q_quantile_rollup_merge.scoped", sf_dir, _scoped)
    tot = scoped.groupBy("scope").agg(F.sum("c").cast("long").alias("n"))
    b = scoped.select(F.col("scope").alias("bscope"), F.col("bin").alias("bbin"), "c")
    cum = (
        scoped.select("scope", "bin")
        .join(
            F.broadcast(b),
            (F.col("scope") == F.col("bscope")) & (F.col("bbin") <= F.col("bin")),
        )
        .groupBy("scope", "bin")
        .agg(F.sum("c").cast("long").alias("cum"))
    )

    def _qbin(pct: int, alias: str) -> Column:
        return F.min(
            F.when(F.col("cum") * 100 >= F.lit(pct) * F.col("n"), F.col("bin"))
        ).alias(alias)

    qb = (
        cum.join(F.broadcast(tot), "scope")
        .groupBy("scope", "n")
        .agg(_qbin(50, "b50"), _qbin(90, "b90"), _qbin(99, "b99"))
    )

    def _edge(bcol: str, alias: str) -> Column:
        return (
            F.col("lo")
            + (F.col(bcol).cast("double") + F.lit(1.0))
            * ((F.col("hi") - F.col("lo")) / F.lit(float(_QR_BINS)))
        ).alias(alias)

    return qb.crossJoin(F.broadcast(bounds)).select(
        "scope", "n", _edge("b50", "p50"), _edge("b90", "p90"), _edge("b99", "p99")
    )
