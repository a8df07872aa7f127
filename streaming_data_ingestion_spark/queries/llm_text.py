"""Text-analysis operators for LLM training-data pipelines (north-star
mandate, SURVEY.md §2B "LLM-data-pipeline operators").

All pure DataFrame expressions — tokenization via split, stats via
aggregates, fingerprints via md5 over shingle arrays built with
higher-order functions (no explode → no row blow-up; a 100 TB corpus
stays one row per document until the term-frequency query, which explodes
then immediately partial-aggregates map-side).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from streaming_data_ingestion_spark import artifacts
from streaming_data_ingestion_spark.compat import davg, dsum, sql_davg, sql_dsum
from streaming_data_ingestion_spark.registry import query
from streaming_data_ingestion_spark.tables import load, spread_for_cpu


def _tokens(col: str = "text") -> Column:
    """Whitespace tokens with empties dropped (text has trailing spaces)."""
    return F.filter(F.split(F.trim(F.col(col)), " "), lambda t: t != "")


_SQL_TOKENS = "list_filter(str_split(trim(text), ' '), t -> t != '')"


# --------------------------------------------------------------------------
# q_dedup_exact — exact dedup on normalized text.
# --------------------------------------------------------------------------


@query(
    "q_dedup_exact",
    oracle="""
SELECT
  sha256(lower(trim(text))) AS digest,
  MIN(doc_id) AS keeper_doc_id,
  COUNT(*) AS n_copies
FROM documents
GROUP BY 1
""",
    tags=("llm", "dedup"),
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group documents by sha256(normalized text), keep the
    smallest doc_id.

    Deterministic alternative to dropDuplicates (which keeps an arbitrary
    row). At scale this is one hash aggregate on a 64-hex-char key —
    the digest, not the document body, is what shuffles.
    """
    d = load(spark, sf_dir, "documents")
    return (
        d.withColumn("digest", F.sha2(F.lower(F.trim(F.col("text"))), 256))
        .groupBy("digest")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# --------------------------------------------------------------------------
# q_text_stats — corpus statistics per (lang, source).
# --------------------------------------------------------------------------


@query(
    "q_text_stats",
    oracle=f"""
SELECT
  lang,
  source,
  COUNT(*) AS n_docs,
  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
  {sql_davg(f"len({_SQL_TOKENS})", "avg_tokens")},
  {sql_davg("length(text)", "avg_len")},
  CAST(MAX(len({_SQL_TOKENS})) AS INTEGER) AS max_tokens
FROM documents
GROUP BY lang, source
""",
    tags=("llm", "text"),
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token/char statistics per (lang, source) slice of the corpus."""
    d = load(spark, sf_dir, "documents")
    n_tokens = F.size(_tokens())
    return d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        davg(n_tokens.cast("double"), "avg_tokens"),
        davg(F.length("text").cast("double"), "avg_len"),
        F.max(n_tokens).alias("max_tokens"),
    )


# --------------------------------------------------------------------------
# q_text_tf — term frequency / top terms.
# --------------------------------------------------------------------------


@query(
    "q_text_tf",
    oracle=f"""
SELECT term, COUNT(*) AS freq, COUNT(DISTINCT doc_id) AS n_docs
FROM (SELECT doc_id, unnest({_SQL_TOKENS}) AS term FROM documents)
GROUP BY term
ORDER BY freq DESC, term ASC
LIMIT 50
""",
    tags=("llm", "text"),
)
def q_text_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 terms by frequency with document frequency.

    explode → groupBy(term): the partial aggregate runs map-side before
    the shuffle, so the shuffled volume is |vocabulary| per partition,
    not |tokens| — the only explode-based query shape that scales.
    """
    d = load(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.explode(_tokens()).alias("term"))
        .groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("freq"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.col("freq").desc(), F.col("term").asc())
        .limit(50)
    )


# --------------------------------------------------------------------------
# q_token_count — whitespace + regex ("BPE-ish") token counting.
# --------------------------------------------------------------------------


@query(
    "q_token_count",
    oracle=f"""
SELECT
  doc_id,
  CAST(len({_SQL_TOKENS}) AS INTEGER) AS n_ws_tokens,
  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INTEGER) AS n_re_tokens,
  CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_bytes_per4
FROM documents
""",
    tags=("llm", "text"),
)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting three ways: whitespace split, a BPE-ish regex
    (letter-runs / digit-runs / other), and the bytes/4 heuristic."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(_tokens()).alias("n_ws_tokens"),
        F.size(
            F.regexp_extract_all("text", F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), 0)
        ).alias("n_re_tokens"),
        F.ceil(F.length("text") / 4.0).alias("n_bytes_per4"),
    )


# --------------------------------------------------------------------------
# q_quality_score — heuristic document quality scoring.
# --------------------------------------------------------------------------

_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "for")
_SQL_STOPWORDS = "['the', 'a', 'of', 'and', 'to', 'in', 'is', 'for']"


@query(
    "q_quality_score",
    oracle=f"""
SELECT
  doc_id,
  n_tokens,
  stop_ratio,
  avg_token_len,
  CASE WHEN n_tokens >= 20 AND stop_ratio >= 0.05 THEN 'keep'
       WHEN n_tokens >= 5 THEN 'review'
       ELSE 'drop' END AS verdict
FROM (
  SELECT
    doc_id,
    CAST(len({_SQL_TOKENS}) AS INTEGER) AS n_tokens,
    CAST(len(list_filter({_SQL_TOKENS},
         t -> list_contains({_SQL_STOPWORDS}, t))) AS DOUBLE)
      / len({_SQL_TOKENS}) AS stop_ratio,
    CAST(length(replace(text, ' ', '')) AS DOUBLE)
      / len({_SQL_TOKENS}) AS avg_token_len
  FROM documents
)
""",
    tags=("llm", "text"),
)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality heuristics: token count, stopword ratio, average token
    length, and a keep/review/drop verdict — the classic pre-training
    corpus filter, all in codegen'd expressions."""
    d = load(spark, sf_dir, "documents")
    toks = _tokens()
    n_tokens = F.size(toks)
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    stop_ratio = n_stop.cast("double") / n_tokens
    avg_token_len = (
        F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("double")
        / n_tokens
    )
    return d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        stop_ratio.alias("stop_ratio"),
        avg_token_len.alias("avg_token_len"),
        F.when((n_tokens >= 20) & (stop_ratio >= 0.05), "keep")
        .when(n_tokens >= 5, "review")
        .otherwise("drop")
        .alias("verdict"),
    )


# --------------------------------------------------------------------------
# q_lang_id — n-gram/stopword-heuristic language ID.
#
# The classifier (ratio expression + threshold) is exported so evaluation
# queries (llm_quality.q_lang_id_eval) measure EXACTLY the predictor that
# gates the corpus — retuning it here retunes the eval automatically.
# --------------------------------------------------------------------------

LANG_EN_THRESHOLD = 0.08

_SQL_EN_RATIO = (
    f"CAST(len(list_filter({_SQL_TOKENS}, "
    f"t -> list_contains({_SQL_STOPWORDS}, t))) AS DOUBLE)"
    f" / len({_SQL_TOKENS})"
)
SQL_LANG_PRED = (
    f"CASE WHEN {_SQL_EN_RATIO} >= {LANG_EN_THRESHOLD} "
    "THEN 'en' ELSE 'und' END"
)


def lang_en_ratio() -> Column:
    """English-stopword density of the whitespace token stream."""
    toks = _tokens()
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    return (
        F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t))).cast("double")
        / F.size(toks)
    )


def lang_prediction() -> Column:
    """The gate's predicted language column ('en' / 'und')."""
    return F.when(lang_en_ratio() >= LANG_EN_THRESHOLD, "en").otherwise("und")


@query(
    "q_lang_id",
    oracle=f"""
SELECT
  doc_id,
  lang AS labeled_lang,
  {_SQL_EN_RATIO} AS en_ratio,
  {SQL_LANG_PRED} AS predicted_lang
FROM documents
""",
    tags=("llm", "text"),
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: English-stopword density → en/und.

    (The fixture corpus draws every lang from one vocabulary, so this
    demonstrates the operator shape — marker-token density scoring —
    rather than a production classifier, which would extend the marker
    lists per language.)
    """
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        lang_en_ratio().alias("en_ratio"),
        lang_prediction().alias("predicted_lang"),
    )


# --------------------------------------------------------------------------
# q_fingerprint — document fingerprint: min-hash over word 3-gram shingles.
# --------------------------------------------------------------------------


@query(
    "q_fingerprint",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, {_SQL_TOKENS} AS t FROM documents
)
SELECT
  doc_id,
  list_min(list_transform(
    range(1, greatest(len(t) - 1, 1)),
    i -> md5(concat_ws(' ', t[i], t[i+1], t[i+2]))
  )) AS fingerprint
FROM toks
""",
    tags=("llm", "dedup"),
)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-permutation min-hash fingerprint over word 3-gram shingles.

    Built entirely with higher-order array functions (sequence →
    transform → array_min): no explode, one row in/out per document,
    md5 available identically in both engines. Documents sharing a
    fingerprint are near-dup candidates (q_dedup_minhash generalizes
    this to a banded signature).
    """
    from streaming_data_ingestion_spark.queries.llm_dedup import _shingles

    d = load(spark, sf_dir, "documents")
    # Shingles via zip-of-slices (see llm_dedup._shingles): O(tokens) per
    # row, vs O(tokens²) for transform(sequence, i -> element_at(t, i)).
    shingle_hashes = F.transform(_shingles(_tokens()), lambda s: F.md5(s))
    return d.select("doc_id", F.array_min(shingle_hashes).alias("fingerprint"))


# --------------------------------------------------------------------------
# q_fingerprint_rolling — polynomial rolling hash over the token stream.
# --------------------------------------------------------------------------

_RB = 1000003  # polynomial base (fits: acc < P < 2^32, acc*B < 2^52)
_RP = 4294967291  # largest prime < 2^32


@query(
    "q_fingerprint_rolling",
    oracle=f"""
SELECT
  doc_id,
  list_reduce(
    list_prepend(
      CAST(0 AS BIGINT),
      list_transform({_SQL_TOKENS},
                     t -> ('0x' || substring(md5(t), 1, 8))::BIGINT)
    ),
    (acc, x) -> (acc * {_RB} + x) % {_RP}
  ) AS fingerprint
FROM documents
""",
    tags=("llm", "dedup"),
)
def q_fingerprint_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive document fingerprint: Rabin-Karp-style polynomial
    rolling hash over the token stream, h = Σ tok_i · B^(n-i) mod P.

    Complements q_fingerprint (min-hash: order-insensitive, robust to
    shuffling) — the rolling hash detects exact sequence duplicates and
    is the primitive a chunk-level incremental dedup would slide over.
    Per-token hashing reuses the md5-prefix→int trick (bit-identical in
    both engines); the fold is sequential long arithmetic with all
    intermediates < 2^52, so no overflow anywhere. One projection, no
    shuffle, no UDF.
    """
    d = load(spark, sf_dir, "documents")
    tok_hash = F.transform(
        _tokens(),
        lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long"),
    )
    rolled = F.aggregate(
        tok_hash,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * _RB + x) % _RP,
    )
    return d.select("doc_id", rolled.alias("fingerprint"))


# --------------------------------------------------------------------------
# q_ngrams — token bigram counts (LM-style n-gram statistics).
# --------------------------------------------------------------------------


# Bigrams via the same zip-of-slices trick as the dedup shingles: the token
# array is evaluated twice per row total, not per element (see
# llm_dedup._shingles for why transform(sequence, ...) is O(tokens²) here).
def _bigrams(t: Column) -> Column:
    m = F.greatest(F.size(t) - 1, F.lit(1))
    z = F.arrays_zip(F.slice(t, 1, m), F.slice(t, 2, m))
    return F.transform(z, lambda s: F.concat_ws(" ", s["0"], s["1"]))


_SQL_BIGRAMS = f"""
list_transform(
  range(1, greatest(len({_SQL_TOKENS}), 2)),
  i -> concat_ws(' ', {_SQL_TOKENS}[i], {_SQL_TOKENS}[i+1])
)
"""


@query(
    "q_ngrams",
    oracle=f"""
SELECT bigram, COUNT(*) AS freq, COUNT(DISTINCT doc_id) AS n_docs
FROM (SELECT doc_id, unnest({_SQL_BIGRAMS}) AS bigram FROM documents)
GROUP BY bigram
ORDER BY freq DESC, bigram ASC
LIMIT 100
""",
    tags=("llm", "text"),
)
def q_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 token bigrams with corpus and document frequency.

    The n-gram arrays are built per-row with higher-order functions (no
    shuffle), then one explode → groupBy with map-side partial
    aggregation: the shuffled volume is |bigram vocabulary| per
    partition, not the bigram stream. (freq, bigram) is a total order,
    so the LIMIT boundary is deterministic cross-engine.
    """
    from streaming_data_ingestion_spark.tables import spread_for_cpu

    d = spread_for_cpu(load(spark, sf_dir, "documents").select("doc_id", "text"))
    return (
        d.select("doc_id", F.explode(_bigrams(_tokens())).alias("bigram"))
        .groupBy("bigram")
        .agg(
            F.count(F.lit(1)).alias("freq"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.col("freq").desc(), F.col("bigram").asc())
        .limit(100)
    )


# --------------------------------------------------------------------------
# q_inverted_index — term → sorted posting list of containing documents.
# --------------------------------------------------------------------------


@query(
    "q_inverted_index",
    oracle=f"""
SELECT
  term,
  CAST(COUNT(*) AS BIGINT) AS df,
  array_to_string((list_sort(list(doc_id)))[1:100], ',') AS postings
FROM (SELECT doc_id, unnest(list_distinct({_SQL_TOKENS})) AS term
      FROM documents)
GROUP BY term
""",
    tags=("llm", "text"),
)
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index: per term, document frequency + a sorted, capped
    posting list.

    Per-document distinct terms are computed row-side (array_distinct —
    no shuffle), so the exploded stream carries each (doc, term) once;
    the groupBy then partial-aggregates map-side. Posting lists are
    sorted for determinism and capped at 100 entries — at corpus scale
    an uncapped list for a stopword-grade term would be a single
    giant row (the classic inverted-index skew), so the cap is the
    scale-safety valve while ``df`` keeps the true frequency.
    """
    d = load(spark, sf_dir, "documents")
    return (
        d.select(
            "doc_id", F.explode(F.array_distinct(_tokens())).alias("term")
        )
        .groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.array_join(
                F.slice(F.sort_array(F.collect_list("doc_id")), 1, 100), ","
            ).alias("postings"),
        )
    )


# --------------------------------------------------------------------------
# q_text_tfidf — top-5 most distinctive terms per document (TF-IDF).
# --------------------------------------------------------------------------


@query(
    "q_text_tfidf",
    oracle=f"""
WITH tf AS (
  SELECT doc_id, token AS term, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest({_SQL_TOKENS}) AS token FROM documents)
  GROUP BY 1, 2
),
dfreq AS (
  SELECT term, COUNT(*) AS doc_freq
  FROM (SELECT unnest(list_distinct({_SQL_TOKENS})) AS term FROM documents)
  GROUP BY 1
),
n AS (SELECT COUNT(*) AS n_docs FROM documents)
SELECT doc_id, term, tf, doc_freq,
       ROUND(tf * ln(CAST(n_docs AS DOUBLE) / doc_freq), 6) AS tfidf,
       CAST(rnk AS INTEGER) AS rnk
FROM (
  SELECT tf.doc_id, tf.term, tf.tf, dfreq.doc_freq, n.n_docs,
         ROW_NUMBER() OVER (PARTITION BY tf.doc_id
            ORDER BY tf.tf DESC, dfreq.doc_freq ASC, tf.term ASC) AS rnk
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
)
WHERE rnk <= 5
""",
    tags=("llm", "text"),
)
def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 distinctive terms per document by TF-IDF.

    Term frequencies aggregate on (doc_id, term); document frequencies
    come from a *separate, cheaper* pass — per-row array_distinct then a
    vocabulary-sized count on term alone, never a second (doc_id, term)
    shuffle of the full token stream. The resulting vocabulary table
    broadcasts back for the score join (a vocabulary is orders smaller
    than a 100 TB corpus). The per-doc rank orders by exact integers
    (tf desc, doc_freq asc, term asc) — never by the float score — so
    the top-5 boundary is deterministic cross-engine; the float tfidf
    column is display output, rounded to absorb any libm ln() ULP
    divergence between engines.
    """
    d = load(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(_tokens()).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = (
        d.select(F.explode(F.array_distinct(_tokens())).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
    )
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tf").desc(), F.col("doc_freq").asc(), F.col("term").asc()
    )
    return (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("doc_freq")),
                6,
            ),
        )
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("doc_id", "term", "tf", "doc_freq", "tfidf", "rnk")
    )


# --------------------------------------------------------------------------
# q_repetition — per-document repetition statistics (Gopher-style gate).
# --------------------------------------------------------------------------


@query(
    "q_repetition",
    oracle=f"""
WITH t AS (
  SELECT doc_id, {_SQL_TOKENS} AS toks, {_SQL_BIGRAMS} AS bgs FROM documents
),
bc AS (
  SELECT doc_id, b, COUNT(*) AS c
  FROM (SELECT doc_id, unnest(bgs) AS b FROM t)
  GROUP BY 1, 2
),
top AS (SELECT doc_id, MAX(c) AS top_bigram_count FROM bc GROUP BY 1)
SELECT
  t.doc_id,
  CAST(len(toks) AS BIGINT) AS n_tokens,
  CAST(len(toks) - len(list_distinct(toks)) AS DOUBLE)
    / greatest(len(toks), 1) AS dup_token_frac,
  CAST(len(bgs) - len(list_distinct(bgs)) AS DOUBLE)
    / greatest(len(bgs), 1) AS dup_bigram_frac,
  COALESCE(top_bigram_count, 0) AS top_bigram_count,
  CAST(COALESCE(top_bigram_count, 0) AS DOUBLE)
    / greatest(len(bgs), 1) AS top_bigram_frac
FROM t LEFT JOIN top USING (doc_id)
""",
    tags=("llm", "text"),
)
def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition metrics: duplicated-token fraction,
    duplicated-bigram fraction, and the most-repeated bigram's count and
    share (the Gopher-style repetition gates, adapted to single-line
    token streams).

    Zero shuffle: every metric is a per-row higher-order expression. The
    most-frequent-bigram count — normally a group-and-count — becomes a
    run-length fold over the *sorted* bigram array (equal bigrams are
    adjacent after sort_array, so the longest run IS the max count).
    The oracle computes the same number the conventional way
    (unnest → GROUP BY → MAX), proving the fold correct. Fractions are
    single IEEE divisions of exact integers — bit-identical cross-engine.
    """
    d = spread_for_cpu(load(spark, sf_dir, "documents").select("doc_id", "text"))
    toks = _tokens()
    bgs = _bigrams(_tokens())

    def _step(acc: Column, x: Column) -> Column:
        run = (
            F.when(x == acc["prev"], acc["run"] + 1)
            .otherwise(F.lit(1).cast("long"))
        )
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    top_count = F.aggregate(
        F.sort_array(bgs),
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("best"),
        ),
        _step,
        lambda acc: acc["best"],
    )
    n_tok = F.size(toks).cast("long")
    n_bg = F.size(bgs).cast("long")
    n_dtok = F.size(F.array_distinct(toks)).cast("long")
    n_dbg = F.size(F.array_distinct(bgs)).cast("long")
    one = F.lit(1).cast("long")
    return d.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        ((n_tok - n_dtok).cast("double") / F.greatest(n_tok, one)).alias(
            "dup_token_frac"
        ),
        ((n_bg - n_dbg).cast("double") / F.greatest(n_bg, one)).alias(
            "dup_bigram_frac"
        ),
        top_count.alias("top_bigram_count"),
        (top_count.cast("double") / F.greatest(n_bg, one)).alias(
            "top_bigram_frac"
        ),
    )


# --------------------------------------------------------------------------
# q_bm25 — BM25 relevance scoring for a fixed query against the corpus.
# --------------------------------------------------------------------------

# Okapi BM25 with the standard k1=1.2, b=0.75. Constants appear as the
# *same* double literals in both engines (2.2 is Python's 1.2+1 — IEEE adds
# of identical doubles are bit-identical, so writing the folded literal is
# safe; 0.25 = 1-0.75 is exact binary).
_BM25_TERMS = ("batch", "vector", "window")


@query(
    "q_bm25",
    oracle=f"""
WITH d AS (
  SELECT doc_id,
         CAST(len({_SQL_TOKENS}) AS BIGINT) AS dl,
         {", ".join(
           f"CAST(len(list_filter({_SQL_TOKENS}, x -> x = '{t}')) AS BIGINT)"
           f" AS tf_{t}" for t in _BM25_TERMS
         )}
  FROM documents
),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(dl) AS BIGINT) AS sum_dl,
         {", ".join(
           f"CAST(count_if(tf_{t} > 0) AS BIGINT) AS df_{t}"
           for t in _BM25_TERMS
         )}
  FROM d
)
SELECT doc_id, dl, {", ".join(f"tf_{t}" for t in _BM25_TERMS)},
  ROUND(
    {" + ".join(
      f"ln((CAST(n_docs AS DOUBLE) - df_{t} + 0.5) / (df_{t} + 0.5) + 1.0)"
      f" * (CAST(tf_{t} AS DOUBLE) * 2.2)"
      f" / (CAST(tf_{t} AS DOUBLE)"
      f"    + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE)"
      f"                            / (CAST(sum_dl AS DOUBLE) / n_docs))))"
      for t in _BM25_TERMS
    )}, 6) AS bm25
FROM d CROSS JOIN stats
WHERE {" + ".join(f"tf_{t}" for t in _BM25_TERMS)} > 0
""",
    tags=("llm", "text"),
)
def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 score of every matching document for a fixed 3-term
    query — the retrieval-grade ranking function TF-IDF approximates.

    The query terms are compile-time literals, so term frequencies are
    per-row ``filter``+``size`` over the token array: no explode, no
    (doc, term) shuffle at all. The only aggregation is one corpus-stats
    row (N, Σdl, per-term document frequencies) that broadcasts back —
    at 100 TB the doc side stays a streaming scan. The float score is
    IEEE-deterministic except the libm ln(), absorbed by round(6); tf,
    dl, and df columns stay exact integers.
    """
    d = load(spark, sf_dir, "documents")
    toks = _tokens()
    def _tf(term: str) -> Column:
        # NB: the lambda must stay 1-ary — F.filter treats a second
        # parameter as the element *index* column.
        return F.size(F.filter(toks, lambda x: x == term)).cast("long")

    sel = [
        F.col("doc_id"),
        F.size(toks).cast("long").alias("dl"),
    ]
    for t in _BM25_TERMS:
        sel.append(_tf(t).alias(f"tf_{t}"))
    base = d.select(*sel)
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.count_if(F.col(f"tf_{t}") > 0).alias(f"df_{t}")
            for t in _BM25_TERMS
        ],
    )
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs")
    score = None
    for t in _BM25_TERMS:
        tf = F.col(f"tf_{t}").cast("double")
        idf = F.log(
            (F.col("n_docs").cast("double") - F.col(f"df_{t}") + 0.5)
            / (F.col(f"df_{t}") + 0.5)
            + 1.0
        )
        part = (
            idf
            * (tf * 2.2)
            / (tf + 1.2 * (0.25 + 0.75 * (F.col("dl").cast("double") / avgdl)))
        )
        score = part if score is None else score + part
    any_tf = None
    for t in _BM25_TERMS:
        any_tf = (
            F.col(f"tf_{t}")
            if any_tf is None
            else any_tf + F.col(f"tf_{t}")
        )
    return (
        base.crossJoin(F.broadcast(stats))
        .filter(any_tf > 0)
        .select(
            "doc_id",
            "dl",
            *[f"tf_{t}" for t in _BM25_TERMS],
            F.round(score, 6).alias("bm25"),
        )
    )


# --------------------------------------------------------------------------
# q_zscore — per-source standardization of a document feature.
# --------------------------------------------------------------------------


@query(
    "q_zscore",
    oracle=f"""
WITH d AS (
  SELECT doc_id, source, CAST(len({_SQL_TOKENS}) AS BIGINT) AS dl
  FROM documents
),
st AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(dl) AS BIGINT) AS s1,
         CAST(SUM(dl * dl) AS BIGINT) AS s2
  FROM d GROUP BY source
)
SELECT
  doc_id,
  d.source,
  dl,
  (CAST(dl AS DOUBLE) - CAST(s1 AS DOUBLE) / n)
    / sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1))
    AS z
FROM d JOIN st ON d.source = st.source
""",
    tags=("llm", "text"),
)
def q_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source z-score of document length — the standardization step
    feature pipelines run before thresholding or model input, grouped so
    each source is scored against its own distribution.

    The moments are exact BIGINT sums (Σdl, Σdl² — token counts are
    small, so no decimal needed at fixture scale; production swaps in
    the decimal pattern from compat.py), and every double op after them
    (two divisions, subtract, multiply, sqrt) is IEEE-correctly-rounded,
    so the z-scores hash bit-exact with NO rounding fudge. The stats
    side is |sources| rows and broadcasts back; the corpus is scanned
    once.
    """
    d = load(spark, sf_dir, "documents").select(
        "doc_id", "source", F.size(_tokens()).cast("long").alias("dl")
    )
    st = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dl").alias("s1"),
        F.sum(F.col("dl") * F.col("dl")).alias("s2"),
    )
    mean = F.col("s1").cast("double") / F.col("n")
    var = (
        F.col("s2").cast("double") - F.col("s1").cast("double") * F.col("s1") / F.col("n")
    ) / (F.col("n") - 1)
    return (
        d.join(F.broadcast(st), "source")
        .select(
            "doc_id",
            "source",
            "dl",
            ((F.col("dl").cast("double") - mean) / F.sqrt(var)).alias("z"),
        )
    )


# --------------------------------------------------------------------------
# q_dataset_card — per-source corpus report card (the dataset-curation
# summary every training-data pipeline publishes alongside the data).
# --------------------------------------------------------------------------


@query(
    "q_dataset_card",
    oracle=f"""
SELECT
  source,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(len({_SQL_TOKENS})) AS BIGINT) AS total_tokens,
  {sql_davg(f"len({_SQL_TOKENS})", "avg_tokens")},
  CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
  CAST(COUNT(*) - COUNT(DISTINCT md5(lower(trim(text)))) AS BIGINT)
    AS n_exact_dups,
  (CAST(COUNT(*) - COUNT(DISTINCT md5(lower(trim(text)))) AS DOUBLE))
    / COUNT(*) AS dup_rate,
  (CAST(SUM(CASE WHEN len({_SQL_TOKENS}) < 50 THEN 1 ELSE 0 END) AS DOUBLE))
    / COUNT(*) AS short_rate
FROM documents
GROUP BY source
ORDER BY source
""",
    tags=("llm", "text", "pipeline"),
)
def q_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dataset report card: document and token counts, mean
    length, language spread, exact-duplicate mass, and the short-doc
    share — the summary table a curation pipeline publishes with every
    corpus drop (the per-source row of a "dataset card").

    One pass, one shuffle: every statistic — including the duplicate
    count via COUNT(DISTINCT digest) and the distinct-language count —
    partial-aggregates map-side per source; token counts are row-side
    array math on a 3-column pruned scan. The two ratios are single
    IEEE divisions on exact integer counts, so the whole card
    value-checks bit-exact. At 100 TB this is the cheapest complete
    profile of a corpus: one scan, |sources| output rows.
    """
    d = load(spark, sf_dir, "documents")
    n_tok = F.size(_tokens())
    digest = F.md5(F.lower(F.trim(F.col("text"))))
    n = F.count(F.lit(1))
    n_dups = (n - F.count_distinct(digest)).alias("n_exact_dups")
    return (
        d.groupBy("source")
        .agg(
            n.alias("n_docs"),
            F.sum(n_tok.cast("long")).alias("total_tokens"),
            davg(n_tok.cast("double"), "avg_tokens"),
            F.count_distinct(F.col("lang")).alias("n_langs"),
            n_dups,
            ((n - F.count_distinct(digest)).cast("double") / n).alias(
                "dup_rate"
            ),
            (
                F.sum(F.when(n_tok < 50, 1).otherwise(0)).cast("double") / n
            ).alias("short_rate"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# q_pmi — bigram collocations by pointwise mutual information.
# --------------------------------------------------------------------------

_PMI_MIN_COUNT = 5


@query(
    "q_pmi",
    oracle=f"""
WITH uni AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS c1
  FROM (SELECT unnest({_SQL_TOKENS}) AS term FROM documents)
  GROUP BY term
),
t1 AS (SELECT SUM(c1) AS n FROM uni),
bi AS (
  SELECT bigram, CAST(COUNT(*) AS BIGINT) AS c2
  FROM (SELECT unnest({_SQL_BIGRAMS}) AS bigram FROM documents)
  GROUP BY bigram
  HAVING COUNT(*) >= {_PMI_MIN_COUNT}
),
t2 AS (SELECT CAST(SUM(c2) AS BIGINT) AS n FROM (
  SELECT CAST(COUNT(*) AS BIGINT) AS c2
  FROM (SELECT unnest({_SQL_BIGRAMS}) AS bigram FROM documents) GROUP BY bigram
))
SELECT bigram, c2, pmi FROM (
  SELECT
    bi.bigram,
    bi.c2,
    ROUND(ln(
      (CAST(bi.c2 AS DOUBLE) / (SELECT n FROM t2))
      / ((CAST(u1.c1 AS DOUBLE) / (SELECT n FROM t1))
         * (CAST(u2.c1 AS DOUBLE) / (SELECT n FROM t1)))
    ), 6) AS pmi
  FROM bi
  JOIN uni u1 ON u1.term = str_split(bi.bigram, ' ')[1]
  JOIN uni u2 ON u2.term = str_split(bi.bigram, ' ')[2]
)
ORDER BY pmi DESC, bigram ASC
LIMIT 50
""",
    tags=("llm", "text", "stats"),
)
def q_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 bigram collocations by pointwise mutual information —
    PMI = ln(p(w1w2) / (p(w1)·p(w2))) with a min-count floor, the
    collocation detector corpus linguistics runs before building
    phrase-aware tokenizers.

    Two vocabulary-sized count tables (unigram, bigram — both
    map-side-combined explodes) joined on the bigram's component words
    (vocab-sized hash joins, broadcast-able); the corpus totals are
    1-row broadcasts. round(6) absorbs the cross-engine libm ln() ULP.
    Both count tables are bounded-persisted: the unigram table feeds
    its own total plus two broadcast joins and the bigram table its
    total plus the floor filter — unpersisted, each reference would
    re-explode the corpus.
    """
    d = spread_for_cpu(load(spark, sf_dir, "documents").select("doc_id", "text"))
    toked = d.select(_tokens().alias("t"))
    uni = artifacts.cached(
        "q_pmi.uni",
        sf_dir,
        lambda: (
            toked.select(F.explode("t").alias("term"))
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias("c1"))
        ),
    )
    t1 = uni.agg(F.sum("c1").alias("n1"))
    bi_all = artifacts.cached(
        "q_pmi.bi",
        sf_dir,
        lambda: (
            toked.select(F.explode(_bigrams(F.col("t"))).alias("bigram"))
            .groupBy("bigram")
            .agg(F.count(F.lit(1)).alias("c2"))
        ),
    )
    t2 = bi_all.agg(F.sum("c2").alias("n2"))
    bi = bi_all.where(F.col("c2") >= _PMI_MIN_COUNT)
    parts = F.split(F.col("bigram"), " ")
    scored = (
        bi.withColumn("w1", parts.getItem(0))
        .withColumn("w2", parts.getItem(1))
        .join(F.broadcast(uni.selectExpr("term AS w1", "c1 AS c1a")), "w1")
        .join(F.broadcast(uni.selectExpr("term AS w2", "c1 AS c1b")), "w2")
        .crossJoin(F.broadcast(t1))
        .crossJoin(F.broadcast(t2))
        .select(
            "bigram",
            "c2",
            F.round(
                F.log(
                    (F.col("c2").cast("double") / F.col("n2"))
                    / (
                        (F.col("c1a").cast("double") / F.col("n1"))
                        * (F.col("c1b").cast("double") / F.col("n1"))
                    )
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.desc("pmi"), F.asc("bigram")).limit(50)


# --------------------------------------------------------------------------
# q_zipf — Zipf slope of each source's term-frequency distribution.
# --------------------------------------------------------------------------


@query(
    "q_zipf",
    oracle=f"""
WITH tc AS (
  SELECT source, term, CAST(COUNT(*) AS BIGINT) AS c
  FROM (
    SELECT source, unnest({_SQL_TOKENS}) AS term FROM documents
  )
  GROUP BY source, term
),
ranked AS (
  SELECT
    source,
    ln(CAST(ROW_NUMBER() OVER (
      PARTITION BY source ORDER BY c DESC, term ASC) AS DOUBLE)) AS x,
    ln(CAST(c AS DOUBLE)) AS y
  FROM tc
),
m AS (
  SELECT
    source,
    CAST(COUNT(*) AS DOUBLE) AS n,
    CAST(CAST(SUM(CAST(x AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS sx,
    CAST(CAST(SUM(CAST(y AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS sy,
    CAST(CAST(SUM(CAST(x * y AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS sxy,
    CAST(CAST(SUM(CAST(x * x AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS sxx
  FROM ranked GROUP BY source
)
SELECT
  source,
  CAST(n AS BIGINT) AS n_terms,
  ROUND(((n * sxy) - (sx * sy)) / ((n * sxx) - (sx * sx)), 6) AS zipf_slope
FROM m
""",
    tags=("llm", "text", "stats"),
)
def q_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf slope per source: OLS fit of ln(freq) against ln(rank) over
    the term distribution — natural language sits near −1; a slope far
    off is a generated/boilerplate-corpus signal, one scalar per source.

    Vocab-sized machinery end-to-end: (source, term) counts, a rank
    window on that small relation, and the same exact-moment regression
    as q_linreg with round(6) absorbing ln() ULP inside the moments.
    """
    d = load(spark, sf_dir, "documents")
    tc = (
        d.select("source", F.explode(_tokens()).alias("term"))
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    from pyspark.sql import Window as W

    rk = F.row_number().over(
        W.partitionBy("source").orderBy(F.desc("c"), F.asc("term"))
    )
    ranked = tc.select(
        "source",
        F.log(rk.cast("double")).alias("x"),
        F.log(F.col("c").cast("double")).alias("y"),
    )
    dec = "decimal(38,10)"
    m = ranked.groupBy("source").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.col("x").cast(dec)).cast("double").alias("sx"),
        F.sum(F.col("y").cast(dec)).cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast(dec)).cast("double").alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast(dec)).cast("double").alias("sxx"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx = F.col("sxy"), F.col("sxx")
    return m.select(
        "source",
        n.cast("bigint").alias("n_terms"),
        F.round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6).alias(
            "zipf_slope"
        ),
    )


# --------------------------------------------------------------------------
# q_source_log_odds — per-source distinctive terms (Monroe et al.
# log-odds ratio with an informative Dirichlet prior).
# --------------------------------------------------------------------------


@query(
    "q_source_log_odds",
    oracle=f"""
WITH tok AS (
  SELECT source, unnest({_SQL_TOKENS}) AS term FROM documents
),
st AS (
  SELECT source, term, CAST(COUNT(*) AS BIGINT) AS y_sw
  FROM tok GROUP BY source, term
),
ns AS (
  SELECT source, CAST(SUM(y_sw) AS BIGINT) AS n_s FROM st GROUP BY source
),
tw AS (
  SELECT term, CAST(SUM(y_sw) AS BIGINT) AS y_w FROM st GROUP BY term
),
tot AS (SELECT CAST(SUM(y_w) AS BIGINT) AS n FROM tw)
SELECT
  st.source,
  st.term,
  st.y_sw AS n_in_source,
  ROUND(
    (ln(CAST(st.y_sw + tw.y_w AS DOUBLE)
        / CAST(ns.n_s + tot.n - st.y_sw - tw.y_w AS DOUBLE))
     - ln(CAST((tw.y_w - st.y_sw) + tw.y_w AS DOUBLE)
          / CAST((tot.n - ns.n_s) + tot.n - (tw.y_w - st.y_sw) - tw.y_w
                 AS DOUBLE)))
    / sqrt(1.0 / CAST(st.y_sw + tw.y_w AS DOUBLE)
           + 1.0 / CAST((tw.y_w - st.y_sw) + tw.y_w AS DOUBLE)),
    6
  ) AS z_log_odds
FROM st
JOIN ns USING (source)
JOIN tw USING (term)
CROSS JOIN tot
""",
    tags=("llm", "text", "stats"),
)
def q_source_log_odds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinctive vocabulary per source: the log-odds ratio of each
    term's in-source vs rest-of-corpus usage, shrunk by an informative
    Dirichlet prior (the corpus's own counts) and z-scaled by its
    estimated variance — Monroe, Colaresi & Quinn's "Fightin' Words"
    method, the standard corpus-comparison statistic (raw tf-idf
    over-weights rare terms; the prior shrinks exactly those).

    All inputs are exact BIGINT counts off ONE (source, term) aggregate
    (n_s and y_w are second-level sums of it; the 20-row source totals
    and vocab-sized term totals broadcast back; n rides the allowlisted
    1-row cross join). The statistic itself is a fixed-order chain of
    integer casts, two IEEE divisions, two ln's, one sqrt — round(6)
    absorbs the cross-engine ln ULP, the q_lm_score recipe. Output is
    the full (source × present-term) relation; consumers rank or
    threshold it, so no float-ordered rank boundary enters the
    contract.

    Scale: one token-stream shuffle keyed (source, term) with map-side
    combine; everything after is vocabulary-sized. The (source, term)
    aggregate is bounded-persisted so the three total levels (source /
    term / corpus) derive from the cached sources×vocab rows instead of
    re-exploding the corpus once each — without it the physical plan
    contained FOUR full token-stream Generates.
    """
    def _st() -> DataFrame:
        d = load(spark, sf_dir, "documents")
        tok = d.select("source", F.explode(_tokens()).alias("term"))
        return tok.groupBy("source", "term").agg(
            F.count(F.lit(1)).cast("bigint").alias("y_sw")
        )

    st = artifacts.cached("q_source_log_odds.st", sf_dir, _st)
    ns = st.groupBy("source").agg(F.sum("y_sw").cast("bigint").alias("n_s"))
    tw = st.groupBy("term").agg(F.sum("y_sw").cast("bigint").alias("y_w"))
    tot = tw.agg(F.sum("y_w").cast("bigint").alias("n"))

    y_sw, y_w = F.col("y_sw"), F.col("y_w")
    n_s, n = F.col("n_s"), F.col("n")
    y_rw = y_w - y_sw
    delta = F.log(
        (y_sw + y_w).cast("double") / (n_s + n - y_sw - y_w).cast("double")
    ) - F.log(
        (y_rw + y_w).cast("double")
        / ((n - n_s) + n - y_rw - y_w).cast("double")
    )
    var = (
        F.lit(1.0) / (y_sw + y_w).cast("double")
        + F.lit(1.0) / (y_rw + y_w).cast("double")
    )
    return (
        st.join(F.broadcast(ns), "source")
        .join(F.broadcast(tw), "term")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "term",
            y_sw.alias("n_in_source"),
            F.round(delta / F.sqrt(var), 6).alias("z_log_odds"),
        )
    )


# --------------------------------------------------------------------------
# q_bpe_pair_stats — tokenizer-training pair statistics (one BPE count step).
# --------------------------------------------------------------------------


@query(
    "q_bpe_pair_stats",
    oracle=f"""
WITH words AS (
  SELECT word, COUNT(*) AS wfreq
  FROM (SELECT unnest({_SQL_TOKENS}) AS word FROM documents)
  GROUP BY word
),
pairs AS (
  SELECT substr(word, CAST(i AS INT), 2) AS pair, word, wfreq
  FROM (SELECT word, wfreq, unnest(range(1, length(word))) AS i
        FROM words WHERE length(word) >= 2)
)
SELECT pair,
  CAST(SUM(wfreq) AS BIGINT) AS freq,
  CAST(COUNT(DISTINCT word) AS BIGINT) AS n_words
FROM pairs
GROUP BY pair
ORDER BY freq DESC, pair ASC
LIMIT 50
""",
    tags=("llm", "text", "tokenizer"),
)
def q_bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent-character-pair frequencies weighted by word frequency —
    the counting step at the heart of BPE tokenizer training (Sennrich
    et al. 2016): the highest-``freq`` pair is the next merge.

    Scale shape — the classic BPE-trainer optimization, distributed:
    pairs are NOT counted over the token stream. The corpus first
    collapses to its word vocabulary with exact counts (one explode →
    map-side-combined groupBy — the only corpus-sized pass), and pair
    extraction then runs over DISTINCT words only, each weighted by
    ``wfreq``. At 100 TB the token stream is ~10^13 positions but the
    vocabulary is ~10^7 words: the second explode + shuffle touch 6
    orders of magnitude fewer rows. (freq DESC, pair ASC) is a total
    order, so the LIMIT boundary is deterministic cross-engine.
    """
    d = load(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(_tokens()).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wfreq"))
    )
    pairs = words.where(F.length("word") >= 2).select(
        "word",
        "wfreq",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("word") - 1),
                lambda i: F.col("word").substr(i, F.lit(2)),
            )
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(
            F.sum("wfreq").alias("freq"),
            F.countDistinct("word").alias("n_words"),
        )
        .orderBy(F.col("freq").desc(), F.col("pair").asc())
        .limit(50)
    )


# --------------------------------------------------------------------------
# q_bpe_encode — apply a trained BPE merge table to the corpus
# (the tokenizer-apply pass every training-data pipeline ends with).
# --------------------------------------------------------------------------


@query("q_bpe_encode", oracle=None, tags=("llm", "text", "tokenizer"))
def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a 30-merge BPE table on the corpus and encode every document
    with it, reporting per-source token accounting: document count, word
    and BPE-token totals, and the compression ratio tokens/words.

    Rows-only by contract (the greedy merge loop is iterative and not
    SQL-expressible); correctness is pinned instead by
    ``tests/test_bpe.py``, which replays the identical encode in pure
    Python on the same fixture and asserts equal totals, and by the
    trainer's own invariants (first merge ≡ q_bpe_pair_stats' top row).

    Scale shape: training's only corpus-sized stage is the word-count
    pass (the vocabulary it collects is megabytes at 100 TB — the same
    memory contract HuggingFace/SentencePiece trainers make); the merge
    loop is driver-side over that bounded table; encode is a zero-shuffle
    ``mapInPandas`` scan with the kilobyte merge table in the task
    closure and ``source`` passed through so the final group-sized
    aggregate needs no join back to the corpus.
    """
    from streaming_data_ingestion_spark.bpe import encode_documents, train_bpe

    docs = load(spark, sf_dir, "documents")
    merges = train_bpe(docs, n_merges=30)
    enc = encode_documents(docs, merges, passthrough=("source",))
    return (
        enc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_words").cast("long").alias("total_words"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.round(
                F.sum("n_tokens").cast("double") / F.sum("n_words").cast("double"), 6
            ).alias("tokens_per_word"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# q_winnow — MOSS winnowing: shared robust substring fingerprints across
# the corpus (Schleimer/Wilkerson/Aiken, SIGMOD'03 — the plagiarism/
# near-dup primitive that guarantees any shared run of >= k+w-1 tokens
# produces at least one shared fingerprint).
# --------------------------------------------------------------------------

_WIN_K = 5  # gram size
_WIN_W = 4  # winnowing window (guarantee threshold t = k + w - 1 = 8)


@query(
    "q_winnow",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, {_SQL_TOKENS} AS t FROM documents
  WHERE len({_SQL_TOKENS}) >= {_WIN_K + _WIN_W - 1}
),
gh AS (
  SELECT doc_id,
         list_transform(
           list_transform(
             range(1, len(t) - {_WIN_K - 1} + 1),
             i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4])),
           g -> ('0x' || substring(md5(g), 1, 8))::BIGINT) AS h
  FROM toks
),
sel AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, len(h) - {_WIN_W - 1} + 1),
           i -> least(h[i], h[i+1], h[i+2], h[i+3]))) AS fps
  FROM gh
)
SELECT fp, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM (SELECT doc_id, unnest(fps) AS fp FROM sel)
GROUP BY fp
HAVING COUNT(*) >= 2
ORDER BY n_docs DESC, fp ASC
LIMIT 100
""",
    tags=("llm", "dedup"),
)
def q_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint postings: per document, hash every token
    5-gram, slide a 4-wide window over the hash sequence keeping each
    window's minimum, and report the fingerprints shared by >= 2
    documents — the MOSS guarantee: any common token run of length
    >= k+w-1 = 8 yields at least one shared fingerprint, at ~2/(w+1)
    the density of the full gram set. Complements q_dedup_minhash
    (whole-doc set similarity) and q_dup_substring (exact gram spans):
    winnowing is the position-robust middle ground.

    Per-document work is all higher-order array functions — grams and
    window minima via the zip-of-slices idiom (the arrays are built
    from a materialized column reference, never re-evaluated per
    element, so cost is O(tokens), not O(tokens²)). Docs shorter than
    the t=8 guarantee are excluded in both engines (they'd also zip
    ragged slices into nulls, where Spark's least() and DuckDB's
    least() disagree on null handling). The only shuffle is the
    map-side-combined fingerprint count — selected-fingerprint-
    vocabulary-sized, ~2/(w+1) of the gram vocabulary. (freq, fp) is a
    total order, so LIMIT 100 is deterministic cross-engine.
    """
    return (
        _winnow_postings(spark, sf_dir)
        .groupBy("fp")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .where(F.col("n_docs") >= 2)
        .orderBy(F.desc("n_docs"), F.asc("fp"))
        .limit(100)
    )


# --------------------------------------------------------------------------
# q_winnow_pairs — document candidate pairs by shared winnowing
# fingerprints: the pair-level consumer of q_winnow (as
# q_dedup_minhash_pairs is of q_dedup_minhash).
# --------------------------------------------------------------------------


def _winnow_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, fp) winnowed fingerprint postings — the shared candidate
    machinery behind q_winnow_pairs and q_dedup_agreement. All per-doc
    work is higher-order array code over materialized column refs
    (O(tokens), zero shuffle); the explode emits the ~2/(w+1)-density
    fingerprint stream. The single-file fixture scan is spread across
    cores — per-doc gram hashing is the hot stage."""
    from streaming_data_ingestion_spark.tables import spread_for_cpu

    d = spread_for_cpu(load(spark, sf_dir, "documents"))
    t = _tokens()
    docs = d.select("doc_id", t.alias("t")).where(
        F.size("t") >= _WIN_K + _WIN_W - 1
    )
    tc = F.col("t")
    mg = F.size(tc) - (_WIN_K - 1)
    grams = F.transform(
        F.arrays_zip(*[F.slice(tc, j + 1, mg) for j in range(_WIN_K)]),
        lambda s: F.concat_ws(" ", *[s[str(j)] for j in range(_WIN_K)]),
    )
    gh = docs.select(
        "doc_id",
        F.transform(
            grams, lambda g: F.conv(F.substring(F.md5(g), 1, 8), 16, 10).cast("long")
        ).alias("h"),
    )
    hc = F.col("h")
    mw = F.size(hc) - (_WIN_W - 1)
    minima = F.transform(
        F.arrays_zip(*[F.slice(hc, j + 1, mw) for j in range(_WIN_W)]),
        lambda s: F.least(*[s[str(j)] for j in range(_WIN_W)]),
    )
    return gh.select("doc_id", F.explode(F.array_distinct(minima)).alias("fp"))


@query(
    "q_winnow_pairs",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, {_SQL_TOKENS} AS t FROM documents
  WHERE len({_SQL_TOKENS}) >= {_WIN_K + _WIN_W - 1}
),
gh AS (
  SELECT doc_id,
         list_transform(
           list_transform(
             range(1, len(t) - {_WIN_K - 1} + 1),
             i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4])),
           g -> ('0x' || substring(md5(g), 1, 8))::BIGINT) AS h
  FROM toks
),
sel AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, len(h) - {_WIN_W - 1} + 1),
           i -> least(h[i], h[i+1], h[i+2], h[i+3]))) AS fps
  FROM gh
),
post AS (SELECT doc_id, unnest(fps) AS fp FROM sel)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(COUNT(*) AS BIGINT) AS n_shared
FROM post a JOIN post b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING COUNT(*) >= 2
ORDER BY n_shared DESC, doc_a ASC, doc_b ASC
LIMIT 100
""",
    tags=("llm", "dedup"),
)
def q_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate near-dup pairs ranked by shared winnowing fingerprints
    (>= 2 shared — one shared minimum can be a coincidence of a single
    popular 5-gram; two shared winnowed regions means two independent
    >=8-token runs matched). The pair-level consumer of q_winnow, the
    same role q_dedup_minhash_pairs plays for the MinHash signatures —
    but winnowing pairs localize WHERE documents overlap, not just that
    they do.

    The join is an EQUI-join on the fingerprint (postings-list
    self-join): pair cost is Σ_fp posting², bounded by winnowing's
    ~2/(w+1) density of the gram postings q_dup_substring would pay.
    (n_shared, doc_a, doc_b) is a total order, so LIMIT 100 is
    deterministic cross-engine.
    """
    post = _winnow_postings(spark, sf_dir)
    a, b = post.alias("a"), post.alias("b")
    return (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .where(F.col("n_shared") >= 2)
        .orderBy(F.desc("n_shared"), F.asc("doc_a"), F.asc("doc_b"))
        .limit(100)
    )


# --------------------------------------------------------------------------
# bm25_search — the PARAMETERIZED retrieval serving entry point: an
# arbitrary term list, supplied at call time, ranked top-k by Okapi BM25
# (q_bm25 scores a compile-time query; this is "search as a service",
# the text twin of llm_similarity.ivfpq_probe).
# --------------------------------------------------------------------------


def _bm25_base(d: DataFrame, terms: tuple[str, ...]) -> DataFrame:
    """(doc_id, dl, tf_0..tf_{n-1}): positional per-term frequencies so
    any term string works, including non-identifier characters."""
    toks = _tokens()

    def _tf(term: str) -> Column:
        return F.size(F.filter(toks, lambda x: x == term)).cast("long")

    sel = [F.col("doc_id"), F.size(toks).cast("long").alias("dl")]
    for i, t in enumerate(terms):
        sel.append(_tf(t).alias(f"tf_{i}"))
    return d.select(*sel)


def _bm25_rank_topk(base: DataFrame, stats: DataFrame, n_terms: int, k: int) -> DataFrame:
    """Score ``base`` against the broadcast 1-row ``stats`` (n_docs,
    sum_dl, df_0..df_{n-1}) and return the top-``k`` as (rank, doc_id,
    dl, bm25). Ranking uses the round(6) score (ln is libm; raw doubles
    could ULP-flip near-ties across engines) with doc_id as the
    total-order tie-break; top-k is orderBy+limit (distributed
    TakeOrderedAndProject), the rank window runs over ≤ k rows.

    An empty term list matches nothing by definition (the any_tf > 0
    gate would exclude every document) — return the empty typed frame
    instead of letting the fold produce None columns."""
    if n_terms == 0:
        return base.sparkSession.createDataFrame(
            [], "rank int, doc_id long, dl long, bm25 double"
        )
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs")
    score = None
    any_tf = None
    for i in range(n_terms):
        tf = F.col(f"tf_{i}").cast("double")
        idf = F.log(
            (F.col("n_docs").cast("double") - F.col(f"df_{i}") + 0.5)
            / (F.col(f"df_{i}") + 0.5)
            + 1.0
        )
        part = (
            idf
            * (tf * 2.2)
            / (tf + 1.2 * (0.25 + 0.75 * (F.col("dl").cast("double") / avgdl)))
        )
        score = part if score is None else score + part
        any_tf = (
            F.col(f"tf_{i}") if any_tf is None else any_tf + F.col(f"tf_{i}")
        )
    topk = (
        base.crossJoin(F.broadcast(stats))
        .filter(any_tf > 0)
        .select("doc_id", "dl", F.round(score, 6).alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(k)
    )
    w = Window.orderBy(F.desc("bm25"), F.asc("doc_id"))  # ≤ k rows
    return topk.select(
        F.row_number().over(w).cast("int").alias("rank"),
        "doc_id",
        "dl",
        "bm25",
    )


def bm25_search(
    spark: SparkSession,
    sf_dir: str,
    terms: tuple[str, ...],
    k: int = 10,
) -> DataFrame:
    """Top-``k`` documents for an arbitrary ``terms`` query by Okapi
    BM25 (k1=1.2, b=0.75). One corpus-stats row (N, Σdl, per-term df)
    is aggregated fresh and broadcasts back; the doc side stays a
    streaming scan. For the stats-from-STORE variant (no per-query
    corpus aggregation) see queries/serving.py's bm25_serve.

    Returns (rank, doc_id, dl, bm25).
    """
    base = _bm25_base(load(spark, sf_dir, "documents"), terms)
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.count_if(F.col(f"tf_{i}") > 0).alias(f"df_{i}")
            for i in range(len(terms))
        ],
    )
    return _bm25_rank_topk(base, stats, len(terms), k)


_BM25_SEARCH_TERMS = ("merge", "scan", "filter")
_BM25_SEARCH_K = 10
# second driver-hashed binding: different arity (4 terms exercises the
# positional tf/df column machinery beyond the shape the first binding
# compiled), different k — certifying the entry is genuinely
# parameterized, not one lucky constant fold (round-7 gap #4)
_BM25_SEARCH_TERMS_B2 = ("window", "vector", "stream", "sort")
_BM25_SEARCH_K_B2 = 5


def _bm25_search_oracle(terms: tuple[str, ...], k: int) -> str:
    """The fresh-aggregation BM25 oracle as a function of the binding —
    shared by every registered (terms, k) instance so a second binding
    is one registration, not a second hand-derived SQL string."""
    return f"""
WITH d AS (
  SELECT doc_id,
         CAST(len({_SQL_TOKENS}) AS BIGINT) AS dl,
         {", ".join(
           f"CAST(len(list_filter({_SQL_TOKENS}, x -> x = '{t}')) AS BIGINT)"
           f" AS tf_{i}" for i, t in enumerate(terms)
         )}
  FROM documents
),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(dl) AS BIGINT) AS sum_dl,
         {", ".join(
           f"CAST(count_if(tf_{i} > 0) AS BIGINT) AS df_{i}"
           for i in range(len(terms))
         )}
  FROM d
),
scored AS (
  SELECT doc_id, dl,
    ROUND(
      {" + ".join(
        f"ln((CAST(n_docs AS DOUBLE) - df_{i} + 0.5) / (df_{i} + 0.5) + 1.0)"
        f" * (CAST(tf_{i} AS DOUBLE) * 2.2)"
        f" / (CAST(tf_{i} AS DOUBLE)"
        f"    + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE)"
        f"                            / (CAST(sum_dl AS DOUBLE) / n_docs))))"
        for i in range(len(terms))
      )}, 6) AS bm25
  FROM d CROSS JOIN stats
  WHERE {" + ".join(f"tf_{i}" for i in range(len(terms)))} > 0
)
SELECT CAST(rank AS INTEGER) AS rank, doc_id, dl, bm25 FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id ASC) AS rank
  FROM scored
) WHERE rank <= {k}
ORDER BY rank
"""


@query(
    "q_bm25_search",
    oracle=_bm25_search_oracle(_BM25_SEARCH_TERMS, _BM25_SEARCH_K),
    tags=("llm", "text", "serving"),
)
def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The parameterized BM25 retrieval path, driver-verified with a
    fixed example query ({", ".join(_BM25_SEARCH_TERMS)}) — certifying
    the serve-an-arbitrary-query machinery (positional tf columns,
    broadcast corpus stats, round(6)-stable ranking, distributed top-k)
    rather than a compile-time scoring pass. bm25_search() itself takes
    any term list at call time.
    """
    return bm25_search(spark, sf_dir, _BM25_SEARCH_TERMS, _BM25_SEARCH_K)


@query(
    "q_bm25_search_b2",
    oracle=_bm25_search_oracle(_BM25_SEARCH_TERMS_B2, _BM25_SEARCH_K_B2),
    tags=("llm", "text", "serving"),
)
def q_bm25_search_b2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second hash-certified binding of bm25_search — 4 query terms
    (one more positional tf/df column than the first binding ever
    compiled) and a different k. Two independent bindings through the
    SAME builder and the SAME oracle template close the round-7
    "each serving entry certified at exactly one example binding" gap:
    a constant accidentally baked into the plan for one binding cannot
    hash-match both.

    Scale shape: identical to q_bm25_search — one corpus-stats row
    broadcasts onto a single document scan; top-k via orderBy+limit.
    """
    return bm25_search(
        spark, sf_dir, _BM25_SEARCH_TERMS_B2, _BM25_SEARCH_K_B2
    )
