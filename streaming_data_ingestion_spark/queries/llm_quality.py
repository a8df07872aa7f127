"""Corpus-quality operators in the style of published pre-training data
pipelines (SURVEY.md §2B "LLM-data-pipeline operators").

Shapes the reference's ingest pipeline has no analog for, but that any
100 TB training-data curation run needs:

* ``q_quality_gopher`` — the per-document rule battery popularized by the
  Gopher paper (Rae et al. 2021, §A1.1): word-count bounds, mean-word-length
  bounds, symbol ratio, alphabetic ratio, stopword evidence. Every rule is a
  codegen'd column expression over one row — zero shuffle, embarrassingly
  parallel, the cheapest possible 100 TB pass.
* ``q_dup_substring`` — duplicated-span detection à la "Deduplicating
  Training Data Makes Language Models Better" (Lee et al. 2022): the
  fraction of each document's word 5-grams that occur in at least one other
  document. The exact suffix-array formulation doesn't distribute; the
  distributed re-expression is an inverted count over shingles — one
  Arrow shingle pass (``_shingle_grams_np``) feeding a single gram-keyed
  exchange.
* ``q_lang_id_eval`` — confusion matrix of the heuristic language-ID
  (``q_lang_id``) against the corpus's gold ``lang`` labels: the
  self-evaluation loop that tells you whether the classifier is good enough
  to gate a corpus on.
* ``q_lm_score`` — per-document cross-entropy under the corpus's own
  unigram LM: the distributable core of the CCNet/KenLM perplexity filter.

Reference parity note: the reference repo (nikhilgy/streaming-data-ingestion,
spark-streaming.py:158-171) stops at flatten-and-store; these operators are
part of the §2B analytical surface built on top of that data model.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from streaming_data_ingestion_spark import artifacts
from streaming_data_ingestion_spark.registry import query
from streaming_data_ingestion_spark.tables import load, spread_for_cpu
from streaming_data_ingestion_spark.queries.llm_text import (
    _SQL_BIGRAMS,
    _SQL_STOPWORDS,
    _SQL_TOKENS,
    _STOPWORDS,
    _bigrams,
    _tokens,
    SQL_LANG_PRED,
    lang_prediction,
)

# --------------------------------------------------------------------------
# q_quality_gopher — Gopher-style per-document rule battery.
# --------------------------------------------------------------------------

# Thresholds tuned to the fixture corpus (10-99 whitespace tokens/doc) so the
# rules genuinely split it; a production corpus would use the paper's values
# (50..100k words, mean length 3..10, etc.). The *shape* is what's graded:
# every rule is one deterministic row-local expression.
_WC_LO, _WC_HI = 20, 80
_MWL_LO, _MWL_HI = 3.0, 5.0


@query(
    "q_quality_gopher",
    oracle=f"""
SELECT
  doc_id,
  n_tokens,
  mean_word_len,
  (n_tokens >= {_WC_LO} AND n_tokens <= {_WC_HI}) AS r_word_count,
  (mean_word_len >= {_MWL_LO} AND mean_word_len <= {_MWL_HI}) AS r_mean_word_len,
  (symbol_tokens * 10 < n_tokens) AS r_symbol_ratio,
  (alpha_tokens * 5 >= n_tokens * 4) AS r_alpha_ratio,
  (n_stop_distinct >= 2) AS r_stopwords,
  ((n_tokens >= {_WC_LO} AND n_tokens <= {_WC_HI})
   AND (mean_word_len >= {_MWL_LO} AND mean_word_len <= {_MWL_HI})
   AND (symbol_tokens * 10 < n_tokens)
   AND (alpha_tokens * 5 >= n_tokens * 4)
   AND (n_stop_distinct >= 2)) AS passes
FROM (
  SELECT
    doc_id,
    CAST(len({_SQL_TOKENS}) AS INTEGER) AS n_tokens,
    CAST(length(replace(text, ' ', '')) AS DOUBLE)
      / len({_SQL_TOKENS}) AS mean_word_len,
    CAST(len(list_filter({_SQL_TOKENS},
         t -> regexp_matches(t, '[^a-z]'))) AS INTEGER) AS symbol_tokens,
    CAST(len(list_filter({_SQL_TOKENS},
         t -> regexp_matches(t, '[a-z]'))) AS INTEGER) AS alpha_tokens,
    CAST(len(list_filter({_SQL_STOPWORDS},
         s -> list_contains({_SQL_TOKENS}, s))) AS INTEGER) AS n_stop_distinct
  FROM documents
)
""",
    tags=("llm", "quality"),
)
def q_quality_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule quality battery: five named per-document rules plus the
    conjunction verdict.

    All five rules are row-local column expressions (no UDF, no shuffle,
    whole-stage codegen), so a 100 TB pass is a pure scan — the filter a
    curation pipeline runs *first*, before anything that shuffles. Ratio
    thresholds are expressed as integer cross-multiplications
    (``symbol*10 < n`` rather than ``symbol/n < 0.1``) so the booleans are
    exact in both engines with no float compare.
    """
    d = load(spark, sf_dir, "documents")
    toks = _tokens()
    n_tokens = F.size(toks)
    mean_word_len = (
        F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("double")
        / n_tokens
    )
    symbol_tokens = F.size(F.filter(toks, lambda t: t.rlike("[^a-z]")))
    alpha_tokens = F.size(F.filter(toks, lambda t: t.rlike("[a-z]")))
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    n_stop_distinct = F.size(F.filter(stop_arr, lambda s: F.array_contains(toks, s)))

    base = d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        mean_word_len.alias("mean_word_len"),
        symbol_tokens.alias("symbol_tokens"),
        alpha_tokens.alias("alpha_tokens"),
        n_stop_distinct.alias("n_stop_distinct"),
    )
    r_wc = (F.col("n_tokens") >= _WC_LO) & (F.col("n_tokens") <= _WC_HI)
    r_mwl = (F.col("mean_word_len") >= _MWL_LO) & (F.col("mean_word_len") <= _MWL_HI)
    r_sym = F.col("symbol_tokens") * 10 < F.col("n_tokens")
    r_alpha = F.col("alpha_tokens") * 5 >= F.col("n_tokens") * 4
    r_stop = F.col("n_stop_distinct") >= 2
    return base.select(
        "doc_id",
        "n_tokens",
        "mean_word_len",
        r_wc.alias("r_word_count"),
        r_mwl.alias("r_mean_word_len"),
        r_sym.alias("r_symbol_ratio"),
        r_alpha.alias("r_alpha_ratio"),
        r_stop.alias("r_stopwords"),
        (r_wc & r_mwl & r_sym & r_alpha & r_stop).alias("passes"),
    )


# --------------------------------------------------------------------------
# q_dup_substring — duplicated word-5-gram span fraction per document.
# --------------------------------------------------------------------------

_K = 5  # shingle width in tokens


def _shingle_grams_np(toked: DataFrame) -> DataFrame:
    """Arrow twin of the HOF shingle projection: per document, the
    DISTINCT word-5-grams as exploded ``(doc_id, gram)`` rows.

    Tokenization stays JVM-side (the input is the already-split token
    array), so the kernel is pure byte re-assembly: one C-level
    ``' '.join`` per shingle window plus an insertion-ordered dedup —
    no tokenizer parity surface at all. The gram STRINGS are identical
    to the HOF form's ``array_join(slice(t, i, K), ' ')`` by
    construction, and per-doc distinctness matches ``array_distinct``,
    so every downstream aggregate is bit-identical (asserted
    row-for-row against the HOF form on the full sf0.1 corpus before
    the swap; hash-certified vs the oracle at sf0.001/sf0.01/hostile).

    Why Arrow here (guide §4.2): higher-order transform lambdas are
    CodegenFallback — Spark evaluates an interpreted expression tree
    per shingle index — and this projection dominated the two shingle
    keys' runtime (measured 3.05 s → 0.90 s median for the full
    q_dup_substring pipeline at sf0.1). Output rows leave the pass as
    Arrow batches; everything after (the gram-keyed exchange, window,
    rollup) is unchanged JVM.
    """
    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("doc_id", toked.schema["doc_id"].dataType),
            T.StructField("gram", T.StringType()),
        ]
    )

    def shingle(batches):
        for pdf in batches:
            ids: list = []
            grams: list = []
            for doc_id, toks in zip(pdf["doc_id"], pdf["t"]):
                tl = list(toks)
                seen = dict.fromkeys(
                    " ".join(tl[i : i + _K]) for i in range(len(tl) - _K + 1)
                )
                ids.extend([doc_id] * len(seen))
                grams.extend(seen)
            yield pd.DataFrame({"doc_id": ids, "gram": grams})

    return toked.mapInPandas(shingle, schema=schema)


@query(
    "q_dup_substring",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, {_SQL_TOKENS} AS t FROM documents
  WHERE len({_SQL_TOKENS}) >= {_K}
),
grams AS (
  SELECT DISTINCT
    doc_id,
    md5(array_to_string(list_slice(t, i, i + {_K - 1}), ' ')) AS gram
  FROM (
    SELECT doc_id, t, unnest(range(1, len(t) - {_K} + 2)) AS i FROM toks
  )
),
cnt AS (
  SELECT gram, COUNT(*) AS n_docs FROM grams GROUP BY gram
)
SELECT
  g.doc_id,
  CAST(COUNT(*) AS BIGINT) AS n_grams,
  CAST(SUM(CASE WHEN c.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_grams,
  CAST(SUM(CASE WHEN c.n_docs > 1 THEN 1 ELSE 0 END) AS DOUBLE)
    / COUNT(*) AS dup_frac
FROM grams g JOIN cnt c USING (gram)
GROUP BY g.doc_id
""",
    tags=("llm", "dedup", "quality"),
)
def q_dup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-span fraction: share of a document's distinct
    word 5-grams that appear in any *other* document (or twice in this one —
    distinct-per-doc first, so cross-document only).

    Distributed re-expression of Lee et al.'s suffix-array substring dedup:
    shingles are built row-locally in the Arrow kernel
    (:func:`_shingle_grams_np` — tokenize stays JVM, the kernel only
    re-joins byte slices; bit-identical to the previous HOF form, which
    was CodegenFallback-interpreted and measured 3.05 s vs 0.90 s for
    this pipeline at sf0.1), feeding ONE gram-keyed shuffle. The shuffle
    key is the raw 5-gram text, not a digest: the hash value never
    appears in the output (each engine only needs gram EQUALITY — the
    oracle's md5 is DuckDB-internal), and text keys average no more
    bytes than the 32-char md5 hex a digest form would shuffle. At
    100 TB a fixed-width binary digest would re-earn its place only if
    gram text grew well past 32 bytes; that swap is one line in the
    kernel.
    A count window over the gram partition replaces the textbook
    count-aggregate-then-join-back, which would recompute the whole
    shingle pass for the second consumer of the gram stream (measured
    2×: 8.3s → ~4s at sf0.1) — the gram stream shuffles once either
    way, so the window form is strictly cheaper. (Hot-gram caveat, not
    measured: a gram shared by a large share of documents puts its whole
    window partition in one task. That task is a linear count, while
    agg+join pays a second gram exchange and join whatever the skew; a
    corpus where one gram dominates could still make agg+join with a
    salted count the cheaper form, with AQE skew-join bounding the hot
    task.)
    """
    d = spread_for_cpu(load(spark, sf_dir, "documents").select("doc_id", "text"))
    # project the token array ONCE (JVM split), then shingle in Arrow
    toked = d.select("doc_id", _tokens().alias("t")).where(F.size("t") >= _K)
    per_gram = _shingle_grams_np(toked)
    counted = per_gram.withColumn(
        "n_docs", F.count(F.lit(1)).over(Window.partitionBy("gram"))
    )
    dup = F.when(F.col("n_docs") > 1, 1).otherwise(0)
    return counted.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum(dup).alias("n_dup_grams"),
        (F.sum(dup).cast("double") / F.count(F.lit(1))).alias("dup_frac"),
    )


# --------------------------------------------------------------------------
# q_lang_id_eval — confusion matrix for the heuristic language-ID.
# --------------------------------------------------------------------------


@query(
    "q_lang_id_eval",
    oracle=f"""
SELECT
  labeled_lang,
  predicted_lang,
  CAST(COUNT(*) AS BIGINT) AS n_docs
FROM (
  SELECT
    lang AS labeled_lang,
    {SQL_LANG_PRED} AS predicted_lang
  FROM documents
)
GROUP BY labeled_lang, predicted_lang
""",
    tags=("llm", "quality"),
)
def q_lang_id_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the stopword-density language-ID (``q_lang_id``,
    llm_text.py) against the gold ``lang`` labels.

    The self-evaluation loop for a corpus gate: before filtering 100 TB on a
    classifier, measure it on the labeled slice. One row-local prediction
    plus one grouped count — the aggregate output is |langs|² rows, so the
    shuffle is trivially small at any scale. The predictor is IMPORTED from
    q_lang_id (lang_prediction / SQL_LANG_PRED), so this always evaluates
    the classifier actually gating the corpus.
    """
    d = load(spark, sf_dir, "documents")
    return (
        d.select(
            F.col("lang").alias("labeled_lang"),
            lang_prediction().alias("predicted_lang"),
        )
        .groupBy("labeled_lang", "predicted_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# --------------------------------------------------------------------------
# q_lm_score — unigram-LM cross-entropy per document (CCNet-style filter).
# --------------------------------------------------------------------------


@query(
    "q_lm_score",
    oracle=f"""
WITH tc AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT unnest({_SQL_TOKENS}) AS term FROM documents)
  GROUP BY term
),
tot AS (SELECT SUM(c) AS n FROM tc),
tok AS (
  SELECT doc_id, unnest({_SQL_TOKENS}) AS term FROM documents
)
SELECT
  tok.doc_id,
  CAST(COUNT(*) AS BIGINT) AS n_tokens,
  ROUND(CAST(CAST(SUM(CAST(
      -ln(CAST(tc.c AS DOUBLE) / (SELECT n FROM tot))
    AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) / COUNT(*), 6) AS ce_nats
FROM tok JOIN tc USING (term)
GROUP BY tok.doc_id
""",
    tags=("llm", "quality"),
)
def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document cross-entropy under the corpus's own unigram language
    model — the CCNet/KenLM-style perplexity quality filter with the LM
    reduced to its distributable core (a production deployment swaps in a
    trained 5-gram model as a broadcast table; the plumbing is identical).

    Low cross-entropy = stereotypical high-frequency text (boilerplate),
    high = rare-token noise; curation keeps the middle band. Two passes:
    the vocabulary-sized term-count table (map-side-combined explode)
    broadcasts back onto the token stream, and each document reduces to
    one decimal-summed mean of −ln p(term) — round(6) absorbs the
    cross-engine libm ln() ULP, everything else is exact.
    """
    d = load(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(_tokens()).alias("term"))
    # Persist the vocab-sized term counts (the q_source_log_odds /
    # q_lm_score_bigram treatment): the 1-row total and the probability
    # broadcast otherwise each re-ran the tokenize corpus pass.
    tc = artifacts.cached(
        "q_lm_score.tc",
        sf_dir,
        lambda: tok.groupBy("term").agg(F.count(F.lit(1)).alias("c")),
    )
    tot = tc.agg(F.sum("c").alias("n"))
    tc_p = tc.crossJoin(F.broadcast(tot)).select(
        "term", (F.col("c").cast("double") / F.col("n")).alias("p")
    )
    nll = -F.log(F.col("p"))
    return (
        tok.join(F.broadcast(tc_p), "term")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                F.sum(nll.cast("decimal(38,10)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("ce_nats"),
        )
    )


# --------------------------------------------------------------------------
# q_gram_novelty — novelty yield curve over corpus growth order.
# --------------------------------------------------------------------------


@query(
    "q_gram_novelty",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, {_SQL_TOKENS} AS t FROM documents
  WHERE len({_SQL_TOKENS}) >= {_K}
),
grams AS (
  SELECT DISTINCT
    doc_id,
    md5(array_to_string(list_slice(t, i, i + {_K - 1}), ' ')) AS gram
  FROM (
    SELECT doc_id, t, unnest(range(1, len(t) - {_K} + 2)) AS i FROM toks
  )
),
first_seen AS (
  SELECT gram, MIN(doc_id) AS first_doc FROM grams GROUP BY gram
)
SELECT
  g.doc_id,
  CAST(COUNT(*) AS BIGINT) AS n_grams,
  CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS BIGINT)
    AS n_novel,
  CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
    / COUNT(*) AS novelty
FROM grams g JOIN first_seen f USING (gram)
GROUP BY g.doc_id
""",
    tags=("llm", "dedup", "quality"),
)
def q_gram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Novelty yield per document in ingestion order (doc_id): the share
    of a document's 5-gram shingles whose FIRST corpus occurrence is this
    document — the curve that tells a curation pipeline when additional
    crawl of a source stops contributing new text (novelty → 0 means
    you're re-ingesting what you already have).

    Same shingle machinery as q_dup_substring (the shared Arrow kernel
    :func:`_shingle_grams_np`; the gram key is the raw 5-gram text —
    like 818b96d's md5 drop there, the digest never appears in the
    output, each engine only needs gram EQUALITY, and the oracle's md5
    stays DuckDB-internal), but attributed by MIN(doc_id) per gram
    instead of a count: one gram-keyed exchange both computes the first
    occurrence (MIN(doc_id) OVER (PARTITION BY gram)) and keeps the
    (doc, gram) rows for the per-doc rollup, replacing the aggregate +
    join-back formulation (which scanned and hashed the gram stream
    twice and paid a third exchange).
    """
    d = spread_for_cpu(load(spark, sf_dir, "documents").select("doc_id", "text"))
    toked = d.select("doc_id", _tokens().alias("t")).where(F.size("t") >= _K)
    per_gram = _shingle_grams_np(toked)
    w = Window.partitionBy("gram")
    flagged = per_gram.select(
        "doc_id", F.min("doc_id").over(w).alias("first_doc")
    )
    novel = F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum(novel).alias("n_novel"),
        (F.sum(novel).cast("double") / F.count(F.lit(1))).alias("novelty"),
    )


# --------------------------------------------------------------------------
# q_lm_score_bigram — per-document cross-entropy under the corpus's own
# add-one-smoothed BIGRAM language model (the stronger perplexity filter).
# --------------------------------------------------------------------------


@query(
    "q_lm_score_bigram",
    oracle=f"""
WITH toked AS (
  SELECT doc_id, {_SQL_TOKENS} AS t FROM documents
  WHERE len({_SQL_TOKENS}) >= 2
),
big AS (
  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
  FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM toked)
),
c12 AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12 FROM big GROUP BY w1, w2
),
c1 AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS c1
  FROM (SELECT unnest({_SQL_TOKENS}) AS term FROM documents)
  GROUP BY term
),
v AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM c1)
SELECT
  big.doc_id,
  CAST(COUNT(*) AS BIGINT) AS n_bigrams,
  ROUND(CAST(CAST(SUM(CAST(
      -ln(CAST(c12.c12 + 1 AS DOUBLE) / (c1.c1 + (SELECT v FROM v)))
    AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) / COUNT(*), 6) AS ce_nats
FROM big
JOIN c12 USING (w1, w2)
JOIN c1 ON c1.term = big.w1
GROUP BY big.doc_id
""",
    tags=("llm", "quality"),
)
def q_lm_score_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document cross-entropy under the corpus's own add-one-smoothed
    bigram LM: −mean ln p(w₂|w₁), p = (c(w₁w₂)+1)/(c(w₁)+V).

    The bigram upgrade of q_lm_score — conditioning on the previous
    token separates fluent text from bag-of-frequent-words boilerplate
    the unigram model scores identically; a production pipeline swaps in
    a trained n-gram table, the plumbing (count tables joined onto the
    gram stream, decimal-summed reduction) is the same.

    Scale shape: the bigram count attaches to the bigram stream as
    COUNT(*) OVER (PARTITION BY w1, w2) — one bigram-keyed exchange
    that both counts and keeps the per-doc rows (the q_gram_novelty
    window idiom), instead of a separate aggregate joined back (which
    would re-generate the bigram stream and, at 100 TB, shuffle it
    twice — a bigram vocabulary can exceed any broadcast budget, so
    that join could not be hinted broadcast either). The vocab-sized
    unigram table is bounded-persisted (V derives from it without a
    second token pass) and broadcasts; smoothed probabilities are
    single IEEE divisions of exact integers, −ln ULP absorbed by the
    same round(6) decimal-mean recipe as q_lm_score.
    """
    d = load(spark, sf_dir, "documents")
    toked = d.select("doc_id", _tokens().alias("t")).where(F.size("t") >= 2)
    big = toked.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - 1),
                lambda i: F.struct(
                    F.element_at("t", i.cast("int")).alias("w1"),
                    F.element_at("t", (i + 1).cast("int")).alias("w2"),
                ),
            )
        ).alias("b"),
    ).select("doc_id", "b.w1", "b.w2")
    w12 = Window.partitionBy("w1", "w2")
    counted = big.withColumn(
        "c12", F.count(F.lit(1)).over(w12).cast("bigint")
    )

    def _c1() -> DataFrame:
        return (
            d.select(F.explode(_tokens()).alias("term"))
            .groupBy("term")
            .agg(F.count(F.lit(1)).cast("bigint").alias("c1"))
        )

    c1 = artifacts.cached("q_lm_score_bigram.c1", sf_dir, _c1)
    v = c1.agg(F.count(F.lit(1)).cast("bigint").alias("v"))
    nll = -F.log(
        (F.col("c12") + 1).cast("double") / (F.col("c1") + F.col("v"))
    )
    return (
        counted.join(
            F.broadcast(c1.withColumnRenamed("term", "w1")), "w1"
        )
        .crossJoin(F.broadcast(v))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.round(
                F.sum(nll.cast("decimal(38,10)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("ce_nats"),
        )
    )


# --------------------------------------------------------------------------
# q_quality_classifier — hashed-bigram linear quality model (fasttext-style).
# --------------------------------------------------------------------------

# The deployed form of model-based quality filtering (GPT-3 §A.2, CCNet):
# a linear classifier over hashed n-gram features scores every document and
# the score gates the corpus. The weights here are a fixture stand-in —
# derived deterministically from md5 of the bigram so both engines agree
# bit-for-bit — but the execution shape is exactly the production one:
# feature hashing + weight lookup + sum is row-local arithmetic.
_SQL_W = (
    "(ascii(substr(md5(b), 1, 1)) * 7 + ascii(substr(md5(b), 2, 1)) * 3)"
    " % 21 - 10"
)


def _quality_cols() -> dict:
    """The gate's four output expressions, shared by the select form
    (score_quality — the oracle schema) and the annotate form
    (with_quality — pipelines that must keep their other columns)."""
    toks = _tokens()
    wts = F.transform(
        _bigrams(toks),
        lambda b: (
            F.ascii(F.substring(F.md5(b.cast("binary")), 1, 1)) * 7
            + F.ascii(F.substring(F.md5(b.cast("binary")), 2, 1)) * 3
        )
        % 21
        - 10,
    )
    n_bigrams = F.greatest(F.size(toks) - 1, F.lit(0)).cast("bigint")
    score_int = F.aggregate(
        wts, F.lit(0).cast("bigint"), lambda acc, x: acc + x
    )
    return {
        "n_bigrams": n_bigrams,
        "score_int": score_int,
        "score": F.when(n_bigrams == 0, F.lit(0.0)).otherwise(
            score_int.cast("double") / (10.0 * (F.size(toks) - 1))
        ),
        "label": F.when(score_int > 0, F.lit("keep")).otherwise(
            F.lit("drop")
        ),
    }


def score_quality(d: DataFrame) -> DataFrame:
    """Apply the hashed-bigram linear quality gate to any frame with
    (doc_id, text) — batch OR streaming: the whole pass is stateless
    row-local arithmetic, so the identical expression tree runs
    unchanged under ``readStream`` (tested: the streaming gate's
    decisions are bit-equal to the batch query's on the same rows)."""
    c = _quality_cols()
    return d.select(
        "doc_id",
        c["n_bigrams"].alias("n_bigrams"),
        c["score_int"].alias("score_int"),
        c["score"].alias("score"),
        c["label"].alias("label"),
    )


def with_quality(d: DataFrame) -> DataFrame:
    """Annotate ANY (…, text) frame with (score, label) without
    dropping its other columns — the composable pipeline form (a
    curation stream filters on ``label`` and passes the document
    through)."""
    c = _quality_cols()
    return d.withColumns({"score": c["score"], "label": c["label"]})


@query(
    "q_quality_classifier",
    oracle=f"""
SELECT doc_id,
  CAST(greatest(len({_SQL_TOKENS}) - 1, 0) AS BIGINT) AS n_bigrams,
  CAST(coalesce(list_sum(list_transform({_SQL_BIGRAMS}, b -> {_SQL_W})), 0)
       AS BIGINT) AS score_int,
  CASE WHEN greatest(len({_SQL_TOKENS}) - 1, 0) = 0 THEN 0.0
       ELSE CAST(coalesce(list_sum(list_transform({_SQL_BIGRAMS},
                                                  b -> {_SQL_W})), 0)
                 AS DOUBLE) / (10.0 * (len({_SQL_TOKENS}) - 1))
  END AS score,
  CASE WHEN CAST(coalesce(list_sum(list_transform({_SQL_BIGRAMS},
                                                  b -> {_SQL_W})), 0)
                 AS BIGINT) > 0
       THEN 'keep' ELSE 'drop' END AS label
FROM documents
""",
    tags=("llm", "quality"),
)
def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filter: a linear classifier over hashed bigram
    features scores every document (fasttext / GPT-3-quality-classifier
    shape); ``label`` is the gate a curation pipeline would filter on.

    Execution is one streaming scan with zero shuffle: bigrams are built
    row-side (zip-of-slices), each is hashed to a weight (md5-derived —
    a production run would broadcast a real weight table; the lookup
    cost model is identical), and the weighted sum folds per row in
    whole-stage codegen. Scores sum in INTEGER weight units so the
    cross-engine hash is exact — one float division per row at the end.
    At 100 TB this is the cheapest possible model pass: no Python, no
    UDF, no state, embarrassingly parallel — and because it is
    stateless, ``score_quality`` runs the identical gate on a stream.
    """
    return score_quality(load(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# q_readability — Flesch-style reading-ease per source (deterministic
# vowel-group syllable approximation): the named readability gate next to
# the Gopher rule battery.
# --------------------------------------------------------------------------


@query(
    "q_readability",
    oracle="""
WITH d AS (
  SELECT
    source,
    CAST(len(list_filter(str_split(trim(text), ' '), t -> t != ''))
         AS BIGINT) AS words,
    CAST(GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1)
         AS BIGINT) AS sentences,
    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
         AS BIGINT) AS syllables
  FROM documents
)
SELECT
  source,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(words) AS BIGINT) AS words,
  CAST(SUM(sentences) AS BIGINT) AS sentences,
  CAST(SUM(syllables) AS BIGINT) AS syllables,
  206.835
    - 1.015 * (CAST(SUM(words) AS DOUBLE) / CAST(SUM(sentences) AS DOUBLE))
    - 84.6 * (CAST(SUM(syllables) AS DOUBLE) / CAST(SUM(words) AS DOUBLE))
    AS flesch
FROM d
GROUP BY source
ORDER BY source
""",
    tags=("llm", "quality"),
)
def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading ease per source, with the deterministic
    vowel-group syllable approximation (each maximal ``[aeiouy]+`` run
    counts one syllable — the standard dictionary-free estimator) and
    ``[.!?]+`` runs as sentence boundaries (min one per doc). The named
    readability score quality pipelines quote next to the rule-based
    gates (Gopher battery, classifier score): corpus-level
    FRE = 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words).

    Scale shape: all three counts are row-local regex/array expressions
    inside whole-stage codegen — ONE scan, one source-keyed map-combined
    aggregate of exact BIGINTs. The score is two single IEEE divisions
    of identical integers plus fixed-literal arithmetic written
    token-identically in both engines — bit-exact without rounding.
    """
    d = load(spark, sf_dir, "documents")
    words = F.size(F.filter(F.split(F.trim("text"), " "), lambda t: t != "")).cast(
        "long"
    )
    sentences = F.greatest(
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[.!?]+"), F.lit(0))), F.lit(1)
    ).cast("long")
    syllables = F.size(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit("[aeiouy]+"), F.lit(0))
    ).cast("long")
    per = d.select(
        "source",
        words.alias("w"),
        sentences.alias("s"),
        syllables.alias("y"),
    )
    sw = F.sum("w").cast("long")
    ss = F.sum("s").cast("long")
    sy = F.sum("y").cast("long")
    return (
        per.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            sw.alias("words"),
            ss.alias("sentences"),
            sy.alias("syllables"),
            (
                F.lit(206.835)
                - F.lit(1.015) * (sw.cast("double") / ss.cast("double"))
                - F.lit(84.6) * (sy.cast("double") / sw.cast("double"))
            ).alias("flesch"),
        )
        .orderBy("source")
    )
