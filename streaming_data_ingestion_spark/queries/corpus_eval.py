"""Corpus-level evaluation operators (SURVEY.md §2B breadth): the
readouts a training-data pipeline runs on a finished corpus BEFORE
spending GPU time on it — vocabulary coverage across splits, sequence
predictability, boilerplate-prefix contamination, and the vocabulary
growth curve.

All four stay JVM-side: map-side-combined token/bigram counts,
vocab-sized hash joins, bounded spines; transcendental outputs round(6)
(the q_entropy absorber), everything else exact integers.

Reference parity note: the reference (/root/reference, 292-LoC ingest
pipeline) has no corpus analytics; this is §2B/north-star breadth.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from streaming_data_ingestion_spark import artifacts
from streaming_data_ingestion_spark.compat import DEC, sql_dec_to_double
from streaming_data_ingestion_spark.queries.llm_pipeline import (
    _SQL_SPLIT_OF,
    _split_of,
)
from streaming_data_ingestion_spark.queries.llm_text import (
    _SQL_BIGRAMS,
    _SQL_TOKENS,
    _bigrams,
    _tokens,
)
from streaming_data_ingestion_spark.registry import query
from streaming_data_ingestion_spark.tables import load, spread_for_cpu

# --------------------------------------------------------------------------
# q_oov_rate — out-of-vocabulary rate of the val/test splits against the
# train-split vocabulary.
# --------------------------------------------------------------------------


_SPLIT_DOC = _SQL_SPLIT_OF.format(col="doc_id")


@query(
    "q_oov_rate",
    oracle=f"""
WITH toks AS (
  SELECT {_SPLIT_DOC} AS split, unnest({_SQL_TOKENS}) AS term
  FROM documents
),
vocab AS (SELECT DISTINCT term FROM toks WHERE split = 'train'),
heldout AS (
  SELECT t.split, t.term, vocab.term IS NULL AS oov
  FROM toks t LEFT JOIN vocab ON vocab.term = t.term
  WHERE t.split <> 'train'
)
SELECT
  split,
  CAST(COUNT(*) AS BIGINT) AS n_tokens,
  CAST(SUM(CASE WHEN oov THEN 1 ELSE 0 END) AS BIGINT) AS oov_tokens,
  CAST(COUNT(DISTINCT term) AS BIGINT) AS n_types,
  CAST(COUNT(DISTINCT CASE WHEN oov THEN term END) AS BIGINT) AS oov_types,
  CAST(SUM(CASE WHEN oov THEN 1 ELSE 0 END) AS DOUBLE)
    / CAST(COUNT(*) AS DOUBLE) AS oov_token_rate
FROM heldout
GROUP BY split
ORDER BY split
""",
    tags=("llm", "eval", "text"),
)
def q_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate of the val and test splits against the
    train split's vocabulary (splits per q_split_assign's
    content-addressed md5 assignment, recomputed row-side) — the
    coverage check run before trusting any held-out perplexity number:
    a high OOV rate means the eval measures tokenizer fallback, not the
    model.

    Scale shape: one tokenize pass tagged by split; the train vocabulary
    is a DISTINCT on (vocab-sized) tokens; held-out tokens probe it with
    one vocab-keyed LEFT hash join (broadcast-able at real vocabulary
    sizes, AQE decides). Counts exact BIGINT; the rate is one IEEE
    division.
    """
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        _split_of(F.col("doc_id")).alias("split"),
        F.explode(_tokens()).alias("term"),
    )
    vocab = toks.where(F.col("split") == "train").select("term").distinct()
    heldout = (
        toks.where(F.col("split") != "train")
        .join(
            vocab.withColumn("_in_vocab", F.lit(1)), "term", "left"
        )
        .select(
            "split", "term", F.col("_in_vocab").isNull().alias("oov")
        )
    )
    return (
        heldout.groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("oov"), 1).otherwise(0))
            .cast("long")
            .alias("oov_tokens"),
            F.countDistinct("term").cast("long").alias("n_types"),
            F.countDistinct(F.when(F.col("oov"), F.col("term")))
            .cast("long")
            .alias("oov_types"),
            (
                F.sum(F.when(F.col("oov"), 1).otherwise(0)).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("oov_token_rate"),
        )
        .orderBy("split")
    )


# --------------------------------------------------------------------------
# q_bigram_cond_entropy — corpus conditional entropy H(next | current).
# --------------------------------------------------------------------------


@query(
    "q_bigram_cond_entropy",
    oracle=f"""
WITH bi AS (
  SELECT bigram, CAST(COUNT(*) AS BIGINT) AS c2
  FROM (SELECT unnest({_SQL_BIGRAMS}) AS bigram FROM documents)
  GROUP BY bigram
),
ctx AS (
  SELECT str_split(bigram, ' ')[1] AS u, CAST(SUM(c2) AS BIGINT) AS cu
  FROM bi GROUP BY u
),
tot AS (SELECT CAST(SUM(c2) AS BIGINT) AS n FROM bi),
terms AS (
  SELECT bi.c2, ctx.cu, tot.n
  FROM bi
  JOIN ctx ON ctx.u = str_split(bi.bigram, ' ')[1]
  CROSS JOIN tot
)
SELECT
  CAST(MIN(n) AS BIGINT) AS n_bigrams,
  CAST(COUNT(*) AS BIGINT) AS n_distinct_bigrams,
  ROUND({sql_dec_to_double(
    "SUM(CAST(-(CAST(c2 AS DOUBLE) / CAST(n AS DOUBLE))"
    " * ln(CAST(c2 AS DOUBLE) / CAST(cu AS DOUBLE)) AS DECIMAL(38,10)))"
  )}, 6) AS cond_entropy_nats
FROM terms
""",
    tags=("llm", "text", "stats"),
)
def q_bigram_cond_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional entropy H(next | current) of the corpus token stream
    in nats — how predictable the next token is given the current one
    (low = templated/repetitive corpus; the sequence-level complement of
    q_entropy's unigram H and q_pmi's per-pair association, and the
    text-side sibling of q_transition_entropy's event-path version).
    H = −Σ_uv (c_uv/N)·ln(c_uv/c_u), with context counts c_u = Σ_v c_uv
    derived FROM the bigram table so numerator and denominator count the
    same multiset.

    Scale shape: one map-side-combined bigram count (the q_pmi explode),
    one vocab-sized context re-aggregate, one vocab-keyed hash join, a
    1-row total broadcast; each term is a few IEEE ops + one ln,
    DECIMAL-summed for order independence, round(6) absorbs the libm
    ULP.
    """
    d = spread_for_cpu(load(spark, sf_dir, "documents"))
    # Persist the vocab²-bounded bigram counts: the context re-aggregate,
    # the 1-row total, and the entropy join each re-ran the bigram
    # explode corpus pass without it (~3 tokenize passes → 1).
    bi = artifacts.cached(
        "q_bigram_cond_entropy.bi",
        sf_dir,
        lambda: (
            d.select(F.explode(_bigrams(_tokens())).alias("bigram"))
            .groupBy("bigram")
            .agg(F.count(F.lit(1)).cast("long").alias("c2"))
        ),
    )
    ctx = (
        bi.select(
            F.split(F.col("bigram"), " ").getItem(0).alias("u"), "c2"
        )
        .groupBy("u")
        .agg(F.sum("c2").cast("long").alias("cu"))
    )
    tot = bi.agg(F.sum("c2").cast("long").alias("n"))
    terms = (
        bi.withColumn("u", F.split(F.col("bigram"), " ").getItem(0))
        .join(ctx, "u")
        .crossJoin(F.broadcast(tot))
    )
    c2 = F.col("c2").cast("double")
    term = -(c2 / F.col("n").cast("double")) * F.log(
        c2 / F.col("cu").cast("double")
    )
    return terms.agg(
        F.min("n").cast("long").alias("n_bigrams"),
        F.count(F.lit(1)).cast("long").alias("n_distinct_bigrams"),
        F.round(F.sum(term.cast(DEC)).cast("double"), 6).alias(
            "cond_entropy_nats"
        ),
    )


# --------------------------------------------------------------------------
# q_dedup_prefix — boilerplate-prefix clusters (documents sharing their
# opening tokens).
# --------------------------------------------------------------------------

_PREFIX_K = 3


@query(
    "q_dedup_prefix",
    oracle=f"""
WITH p AS (
  SELECT doc_id,
         array_to_string({_SQL_TOKENS}[1:{_PREFIX_K}], ' ') AS prefix
  FROM documents
)
SELECT
  md5(prefix) AS prefix_digest,
  prefix,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(MIN(doc_id) AS BIGINT) AS keeper_doc_id
FROM p
GROUP BY prefix
HAVING COUNT(*) >= 2
ORDER BY n_docs DESC, prefix_digest ASC
""",
    tags=("llm", "dedup", "text"),
)
def q_dedup_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared-opening clusters: documents whose first {_PREFIX_K} tokens
    are identical, with the deterministic min-doc_id keeper — the
    boilerplate-head detector (scraped corpora repeat banners, license
    headers, and template openings that whole-document dedup misses
    because the BODIES differ). Complements q_dedup_exact (whole doc),
    q_dedup_chunk (any chunk), and q_dup_substring (any 5-gram) with the
    position-anchored variant whose clusters are actionable as a strip
    rule.

    Scale shape: the prefix is a row-local slice+join+md5 (zero
    shuffle), then ONE digest-keyed map-side-combined aggregate — the
    q_dedup_exact plan over a constant-width key, so it survives any
    corpus size unchanged.
    """
    d = spread_for_cpu(load(spark, sf_dir, "documents"))
    p = d.select(
        "doc_id",
        F.array_join(F.slice(_tokens(), 1, _PREFIX_K), " ").alias("prefix"),
    )
    return (
        p.groupBy("prefix")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("doc_id").cast("long").alias("keeper_doc_id"),
        )
        .where(F.col("n_docs") >= 2)
        .select(
            F.md5(F.col("prefix").cast("binary")).alias("prefix_digest"),
            "prefix",
            "n_docs",
            "keeper_doc_id",
        )
        .orderBy(F.desc("n_docs"), F.asc("prefix_digest"))
    )


# --------------------------------------------------------------------------
# q_type_token_curve — vocabulary growth (Heaps-law) curve over
# ingestion order.
# --------------------------------------------------------------------------

_TT_BUCKETS = 10


@query(
    "q_type_token_curve",
    oracle=f"""
WITH bounds AS (
  SELECT MIN(doc_id) AS lo, MAX(doc_id) AS hi FROM documents
),
toks AS (
  SELECT CAST(((doc_id - bounds.lo) * {_TT_BUCKETS})
              // (bounds.hi - bounds.lo + 1) AS INTEGER) AS bucket,
         unnest({_SQL_TOKENS}) AS term
  FROM documents, bounds
),
per_bucket AS (
  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_tokens FROM toks GROUP BY bucket
),
first_seen AS (
  SELECT term, MIN(bucket) AS first_bucket FROM toks GROUP BY term
),
new_types AS (
  SELECT first_bucket AS bucket, CAST(COUNT(*) AS BIGINT) AS n_new_types
  FROM first_seen GROUP BY first_bucket
)
SELECT
  CAST(a.bucket AS INTEGER) AS bucket,
  CAST(SUM(b.n_tokens) AS BIGINT) AS cum_tokens,
  CAST(SUM(COALESCE(nb.n_new_types, 0)) AS BIGINT) AS cum_types
FROM per_bucket a
JOIN per_bucket b ON b.bucket <= a.bucket
LEFT JOIN new_types nb ON nb.bucket = b.bucket
GROUP BY a.bucket
ORDER BY a.bucket
""",
    tags=("llm", "text", "stats"),
)
def q_type_token_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth curve (the Heaps-law readout): cumulative
    distinct types vs cumulative tokens at {_TT_BUCKETS} checkpoints of
    ingestion order — the curve that says whether more data still buys
    new vocabulary or the corpus has saturated (flat tail = diminishing
    distinct content; also the quickest dedup smell test, since a
    duplicated crawl flattens it early).

    Buckets come from pure integer arithmetic over the doc-id span (a
    1-row bounds broadcast), NOT a rank pass; each term's first-seen
    bucket is one MIN aggregate; cumulative sums ride the allowlisted
    triangle join over the constant {_TT_BUCKETS}-row bucket spine.
    Everything is an exact integer.
    """
    d = load(spark, sf_dir, "documents")
    bounds = d.agg(
        F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
    )
    toks = d.crossJoin(F.broadcast(bounds)).select(
        F.expr(
            f"((doc_id - lo) * {_TT_BUCKETS}) div (hi - lo + 1)"
        )
        .cast("int")
        .alias("bucket"),
        F.explode(_tokens()).alias("term"),
    )

    # ONE tokenize pass: collapse the token stream to (bucket, term)
    # occurrence counts and persist that vocabulary×buckets-bounded
    # table; per-bucket token totals (Σ counts) and first-seen types
    # (min bucket per term) both re-aggregate from it. The previous
    # shape re-ran the tokenize+explode corpus pass for each consumer
    # and for both triangle-join sides (~3 tokenize passes).
    bt = artifacts.cached(
        "q_type_token_curve.bt",
        sf_dir,
        lambda: toks.groupBy("bucket", "term").agg(
            F.count(F.lit(1)).cast("long").alias("c")
        ),
    )
    per_bucket = bt.groupBy("bucket").agg(
        F.sum("c").cast("long").alias("n_tokens")
    )
    new_types = (
        bt.groupBy("term")
        .agg(F.min("bucket").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n_new_types"))
    )
    a, b = per_bucket.alias("a"), per_bucket.alias("b")
    return (
        a.join(F.broadcast(b), F.col("b.bucket") <= F.col("a.bucket"))
        .join(
            F.broadcast(new_types.alias("nb")),
            F.col("nb.bucket") == F.col("b.bucket"),
            "left",
        )
        .groupBy(F.col("a.bucket").cast("int").alias("bucket"))
        .agg(
            F.sum("b.n_tokens").cast("long").alias("cum_tokens"),
            F.sum(F.coalesce(F.col("nb.n_new_types"), F.lit(0)))
            .cast("long")
            .alias("cum_types"),
        )
        .orderBy("bucket")
    )


# --------------------------------------------------------------------------
# q_js_divergence — Jensen-Shannon divergence of each source's token
# distribution vs the rest of the corpus.
# --------------------------------------------------------------------------


@query(
    "q_js_divergence",
    oracle=f"""
WITH toks AS (
  SELECT source, unnest({_SQL_TOKENS}) AS term FROM documents
),
st AS (
  SELECT source, term, CAST(COUNT(*) AS BIGINT) AS c
  FROM toks GROUP BY source, term
),
gt AS (
  SELECT term, CAST(SUM(c) AS BIGINT) AS g FROM st GROUP BY term
),
stot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS s_n FROM st GROUP BY source),
tot AS (SELECT CAST(SUM(g) AS BIGINT) AS n FROM gt),
sp AS (
  SELECT st.source,
         CAST(st.c AS DOUBLE) / CAST(stot.s_n AS DOUBLE) AS p,
         CAST(gt.g - st.c AS DOUBLE)
           / CAST(tot.n - stot.s_n AS DOUBLE) AS q
  FROM st
  JOIN gt USING (term)
  JOIN stot USING (source)
  CROSS JOIN tot
  WHERE stot.s_n < tot.n
),
agg AS (
  SELECT source,
    SUM(CAST(
      0.5 * p * ln(p / ((p + q) / 2.0))
      + CASE WHEN q > 0 THEN 0.5 * q * ln(q / ((p + q) / 2.0))
             ELSE 0.0 END
    AS DECIMAL(38,10))) AS tsum,
    SUM(CAST(q AS DECIMAL(38,10))) AS qsum
  FROM sp GROUP BY source
)
SELECT
  source,
  ROUND({sql_dec_to_double("tsum")}
        + (1.0 - {sql_dec_to_double("qsum")}) * 0.5 * ln(2.0), 6)
    AS jsd_nats
FROM agg
ORDER BY source
""",
    tags=("llm", "eval", "text"),
)
def q_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence (nats, ≤ ln 2) between each source's
    token distribution and the REST of the corpus — the symmetric,
    always-finite "how alien is this source" readout a dataset-mix
    curator ranks sources by (q_source_log_odds names the terms
    responsible; q_psi_drift is the over-time sibling; JSD is the
    cross-source one).

    Scale shape — SPARSE by closed form: only (source, term) pairs the
    source actually contains are materialized (one tokenize pass →
    map-side-combined counts → a vocab-keyed equi join with the global
    term counts). Terms ABSENT from a source still carry q-side mass,
    but for p = 0 the JSD term collapses to ½·q·ln 2, so the whole
    absent tail folds into ONE per-source correction,
    (1 − Σ_present q)·½·ln 2 — no sources×vocab dense grid, no cross
    join of the sources spine with the vocabulary. Present terms are a
    few IEEE ops + ln written token-identically in both engines;
    both the term sum and the covered-q mass are DECIMAL-summed
    (order-independent), correction applied once, round(6).

    Sources covering the WHOLE corpus (s_n = n — the single-source
    case) have no "rest" distribution (q's denominator is zero, and
    Spark ANSI division would raise where DuckDB yields inf); such
    sources are excluded by the identical `s_n < n` guard in both
    engines — JSD vs an empty complement is undefined, not 0.
    """
    d = spread_for_cpu(load(spark, sf_dir, "documents"))
    toks = d.select("source", F.explode(_tokens()).alias("term"))
    # Persist the sources×vocabulary counts: the global term counts,
    # per-source totals, and the sparse join each re-ran the tokenize
    # corpus pass without it (~4 tokenize passes). One pass now.
    st = artifacts.cached(
        "q_js_divergence.st",
        sf_dir,
        lambda: toks.groupBy("source", "term").agg(
            F.count(F.lit(1)).cast("long").alias("c")
        ),
    )
    gt = st.groupBy("term").agg(F.sum("c").cast("long").alias("g"))
    stot = st.groupBy("source").agg(F.sum("c").cast("long").alias("s_n"))
    tot = gt.agg(F.sum("g").cast("long").alias("n"))
    sp = (
        st.join(gt, "term")
        .join(F.broadcast(stot), "source")
        .crossJoin(F.broadcast(tot))
        .where(F.col("s_n") < F.col("n"))
    )
    p = F.col("c").cast("double") / F.col("s_n").cast("double")
    q = (F.col("g") - F.col("c")).cast("double") / (
        F.col("n") - F.col("s_n")
    ).cast("double")
    m = (p + q) / F.lit(2.0)
    term = F.lit(0.5) * p * F.log(p / m) + F.when(
        q > 0, F.lit(0.5) * q * F.log(q / m)
    ).otherwise(F.lit(0.0))
    agg = sp.groupBy("source").agg(
        F.sum(term.cast(DEC)).alias("tsum"),
        F.sum(q.cast(DEC)).alias("qsum"),
    )
    jsd = F.round(
        F.col("tsum").cast("double")
        + (F.lit(1.0) - F.col("qsum").cast("double"))
        * F.lit(0.5)
        * F.log(F.lit(2.0)),
        6,
    )
    return agg.select("source", jsd.alias("jsd_nats")).orderBy("source")


# --------------------------------------------------------------------------
# q_dedup_suffix — shared-ENDING clusters: the boilerplate-footer twin of
# q_dedup_prefix (scraped corpora repeat signatures, disclaimers, and
# license tails the way they repeat banners).
# --------------------------------------------------------------------------

_SUFFIX_K = 3


@query(
    "q_dedup_suffix",
    oracle=f"""
WITH p AS (
  SELECT doc_id,
         array_to_string(
           ({_SQL_TOKENS})[greatest(1, len({_SQL_TOKENS}) - {_SUFFIX_K} + 1)
                           :len({_SQL_TOKENS})], ' ') AS suffix
  FROM documents
)
SELECT
  md5(suffix) AS suffix_digest,
  suffix,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(MIN(doc_id) AS BIGINT) AS keeper_doc_id
FROM p
GROUP BY suffix
HAVING COUNT(*) >= 2
ORDER BY n_docs DESC, suffix_digest ASC
""",
    tags=("llm", "dedup", "text"),
)
def q_dedup_suffix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared-ending clusters: documents whose last {_SUFFIX_K} tokens
    are identical, with the deterministic min-doc_id keeper — the
    boilerplate-FOOTER detector (signatures, disclaimers, license
    tails). Position-anchored like q_dedup_prefix, so clusters are
    directly actionable as a strip rule; q_dup_substring finds the same
    text anywhere but cannot say "it is the tail".

    Scale shape: identical to q_dedup_prefix — a row-local slice (from
    the end, clamped for short docs identically in both engines) + md5,
    then ONE digest-keyed map-side-combined aggregate over a
    constant-width key.
    """
    d = spread_for_cpu(load(spark, sf_dir, "documents"))
    toks = _tokens()
    start = F.greatest(F.lit(1), F.size(toks) - F.lit(_SUFFIX_K - 1))
    p = d.select(
        "doc_id",
        F.array_join(F.slice(toks, start, _SUFFIX_K), " ").alias("suffix"),
    )
    return (
        p.groupBy("suffix")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("doc_id").cast("long").alias("keeper_doc_id"),
        )
        .where(F.col("n_docs") >= 2)
        .select(
            F.md5(F.col("suffix").cast("binary")).alias("suffix_digest"),
            "suffix",
            "n_docs",
            "keeper_doc_id",
        )
        .orderBy(F.desc("n_docs"), F.asc("suffix_digest"))
    )


# --------------------------------------------------------------------------
# q_length_histogram — order-of-magnitude document-length histogram per
# source (the loader-batch-shape readout).
# --------------------------------------------------------------------------


@query(
    "q_length_histogram",
    oracle=f"""
WITH d AS (
  SELECT source,
         CAST(len({_SQL_TOKENS}) AS BIGINT) AS n_toks
  FROM documents
),
b AS (
  SELECT source, n_toks,
         CAST(length(CAST(n_toks AS VARCHAR)) AS INTEGER) AS magnitude
  FROM d WHERE n_toks >= 1
)
SELECT
  source,
  magnitude,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
  CAST(MIN(n_toks) AS BIGINT) AS min_tokens,
  CAST(MAX(n_toks) AS BIGINT) AS max_tokens
FROM b
GROUP BY source, magnitude
ORDER BY source, magnitude
""",
    tags=("llm", "text", "loader"),
)
def q_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-of-magnitude document-length histogram per source:
    magnitude = decimal-digit count of the token length (1 → 1–9
    tokens, 2 → 10–99, 3 → 100–999, …) with per-cell doc counts, token
    mass, and length bounds — the batch-shape readout a loader engineer
    checks before choosing sequence length and packing strategy (a
    source dominated by magnitude-1 fragments packs very differently
    from one of magnitude-4 longreads). Empty documents are excluded
    (no leading digit).

    Exactness: the bucket is the INTEGER's string length — canonical in
    both engines, unlike floor(log10(n)) whose libm result can ULP-flip
    at exact powers of ten. All outputs exact BIGINTs.

    Scale shape: one row-local bucket computation + ONE
    map-side-combined (source × ≤6 magnitudes) aggregate; the corpus is
    touched once, nothing shuffles but the tiny rollup.
    """
    d = spread_for_cpu(load(spark, sf_dir, "documents")).select(
        "source", F.size(_tokens()).cast("long").alias("n_toks")
    )
    b = d.where(F.col("n_toks") >= 1).select(
        "source",
        "n_toks",
        F.length(F.col("n_toks").cast("string")).cast("int").alias(
            "magnitude"
        ),
    )
    return (
        b.groupBy("source", "magnitude")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_toks").cast("long").alias("n_tokens"),
            F.min("n_toks").cast("long").alias("min_tokens"),
            F.max("n_toks").cast("long").alias("max_tokens"),
        )
        .orderBy("source", "magnitude")
    )
