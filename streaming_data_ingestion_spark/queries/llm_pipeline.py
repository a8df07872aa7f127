"""Training-data pipeline operators: chunking, PII redaction, sampling,
and source mixing (north-star mandate, SURVEY.md §2B "LLM-data-pipeline
operators").

These are the corpus-preparation steps that sit between raw ingest and
tokenizer-ready shards. All pure DataFrame expressions: chunking builds
per-document start offsets with ``sequence`` and materializes chunks with
``transform``+``slice`` (one row per document until the final
``posexplode``, so a 100 TB corpus never blows up early); redaction and
sampling are single-pass narrow maps with no shuffle at all; mixing is one
tiny aggregate over the source dimension.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from streaming_data_ingestion_spark.registry import query
from streaming_data_ingestion_spark.tables import load

_SQL_TOKENS = "list_filter(str_split(trim(text), ' '), t -> t != '')"


def _tokens():
    return F.filter(F.split(F.trim(F.col("text")), " "), lambda t: t != "")

# Chunk geometry: 32-token chunks every 24 tokens (8-token overlap) — the
# sliding-window shape used to pack long documents into a fixed context.
_CHUNK = 32
_STRIDE = 24


@query(
    "q_doc_chunk",
    oracle=f"""
WITH t AS (
  SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents
),
s AS (
  SELECT doc_id, toks,
         unnest(generate_series(0, len(toks) - 1, {_STRIDE})) AS start
  FROM t
)
SELECT
  doc_id,
  CAST(start // {_STRIDE} AS INTEGER) AS chunk_idx,
  array_to_string(list_slice(toks, start + 1, start + {_CHUNK}), ' ')
    AS chunk_text,
  CAST(least({_CHUNK}, len(toks) - start) AS INTEGER) AS n_tokens
FROM s
""",
    tags=("llm", "pipeline"),
)
def q_doc_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split each document into overlapping fixed-size token chunks
    (32-token window, 24-token stride).

    The start-offset array and the chunk texts are built per-row with
    higher-order functions (``sequence`` → ``transform``+``slice``), so
    the only row multiplication is the final ``posexplode`` — a narrow
    op, no shuffle anywhere. At 100 TB this streams: each input split
    yields ~n_tokens/stride output rows with no state.
    """
    return chunk_documents(load(spark, sf_dir, "documents"))


def chunk_documents(
    df: DataFrame, chunk: int = _CHUNK, stride: int = _STRIDE
) -> DataFrame:
    """Chunk ``df.text`` into overlapping ``chunk``-token windows every
    ``stride`` tokens (see q_doc_chunk for the scale rationale).

    Emits one row per (doc_id, chunk_idx) with the chunk text and its
    token count; documents with no tokens emit nothing.
    """
    toks = F.filter(F.split(F.trim(F.col("text")), " "), lambda t: t != "")
    d = df.select("doc_id", toks.alias("toks"))
    starts = F.sequence(F.lit(0), F.size("toks") - 1, F.lit(stride))
    chunks = F.transform(
        starts, lambda s: F.array_join(F.slice("toks", s + 1, chunk), " ")
    )
    return d.filter(F.size("toks") > 0).select(
        "doc_id",
        F.size("toks").alias("n_toks"),
        F.posexplode(chunks).alias("chunk_idx", "chunk_text"),
    ).select(
        "doc_id",
        "chunk_idx",
        "chunk_text",
        F.least(
            F.lit(chunk), F.col("n_toks") - F.col("chunk_idx") * stride
        ).alias("n_tokens"),
    )


# --------------------------------------------------------------------------
# q_pii_redact — regex PII scrubbing with per-document match accounting.
# --------------------------------------------------------------------------

# The fixture corpus is clean word soup, so each row is first enriched with
# deterministic synthetic PII (an email + phone derived from doc_id) — the
# operator under test is the redaction pass, which must find and replace
# exactly those spans. Patterns stay in the syntax subset shared by Java
# regex (Spark) and RE2 (DuckDB).
_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+"
_PHONE_RE = "[0-9]{3}-[0-9]{4}"


@query(
    "q_pii_redact",
    oracle=f"""
WITH enriched AS (
  SELECT doc_id, source,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com or call 555-'
              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text
  FROM documents
)
SELECT
  doc_id,
  source,
  CAST(len(regexp_extract_all(text, '{_EMAIL_RE}')) AS INTEGER) AS n_emails,
  CAST(len(regexp_extract_all(text, '{_PHONE_RE}')) AS INTEGER) AS n_phones,
  sha256(
    regexp_replace(
      regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
      '{_PHONE_RE}', '<PHONE>', 'g')
  ) AS redacted_digest
FROM enriched
""",
    tags=("llm", "pipeline"),
)
def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scrub email/phone PII from documents, reporting per-document match
    counts and a digest of the redacted text.

    One narrow projection — regex find/replace is per-row, shuffles
    nothing, and pushes only ``doc_id, source, text`` into the scan. The
    digest (instead of the full redacted body) keeps the query's output
    small while still proving byte-exact redaction cross-engine.
    """
    d = load(spark, sf_dir, "documents")
    enriched = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or call 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(enriched, _EMAIL_RE, "<EMAIL>"),
        _PHONE_RE,
        "<PHONE>",
    )
    return d.select(
        "doc_id",
        "source",
        F.regexp_count(enriched, F.lit(_EMAIL_RE))
        .cast("int")
        .alias("n_emails"),
        F.regexp_count(enriched, F.lit(_PHONE_RE))
        .cast("int")
        .alias("n_phones"),
        F.sha2(redacted, 256).alias("redacted_digest"),
    )


# --------------------------------------------------------------------------
# q_sample_hash — deterministic content-addressed sampling.
# --------------------------------------------------------------------------


@query(
    "q_sample_hash",
    oracle="""
SELECT
  source,
  CAST(COUNT(*) AS BIGINT) AS n_total,
  CAST(COUNT(*) FILTER (substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
       IN ('0','1','2','3')) AS BIGINT) AS n_kept,
  CAST(COUNT(*) FILTER (substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
       IN ('0','1','2','3')) AS DOUBLE) / COUNT(*) AS kept_frac
FROM documents
GROUP BY source
""",
    tags=("llm", "pipeline"),
)
def q_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~25% corpus sample: keep a document iff the first
    hex digit of md5(doc_id) falls in 0-3, reported per source.

    Hash-based sampling (vs ``rand()``) is reproducible across runs,
    engines, and partitionings — the property a training pipeline needs
    so a re-run selects the identical subset. One hash aggregate; the
    conditional count is map-side partial like any other.
    """
    d = load(spark, sf_dir, "documents")
    keep = F.substring(
        F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 1
    ).isin("0", "1", "2", "3")
    kept = F.sum(F.when(keep, 1).otherwise(0)).cast("bigint")
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_total"),
        kept.alias("n_kept"),
        (kept.cast("double") / F.count(F.lit(1))).alias("kept_frac"),
    )


# --------------------------------------------------------------------------
# q_mix_weights — source-mixing plan over exact integer token counts.
# --------------------------------------------------------------------------


@query(
    "q_mix_weights",
    oracle=f"""
WITH per_source AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len({_SQL_TOKENS})) AS BIGINT) AS n_tokens
  FROM documents
  GROUP BY source
)
SELECT
  source,
  n_docs,
  n_tokens,
  CAST(n_tokens AS DOUBLE) / CAST(MAX(n_tokens) OVER () AS DOUBLE)
    AS rel_weight,
  CAST(MAX(n_tokens) OVER () AS DOUBLE) / CAST(n_tokens AS DOUBLE)
    AS epochs_to_balance
FROM per_source
""",
    tags=("llm", "pipeline"),
)
def q_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source mixing stats: document/token counts, weight relative to
    the largest source, and the repeat factor that balances the mixture.

    Token counts are exact BIGINTs, so the two double divisions are each
    a single IEEE op on identical operands — bit-stable cross-engine
    without the decimal-sum detour. The corpus max rides back as a
    broadcast 1-row cross join rather than an unpartitioned window —
    same value, but no single-partition window stage anywhere in the
    repo (the relation is tiny either way; the plan discipline is the
    point).
    """
    toks = F.filter(F.split(F.trim(F.col("text")), " "), lambda t: t != "")
    per_source = (
        load(spark, sf_dir, "documents")
        .select("source", F.size(toks).alias("n_toks"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").cast("bigint").alias("n_tokens"),
        )
    )
    mx = per_source.agg(F.max("n_tokens").alias("_max_tokens"))
    max_tokens = F.col("_max_tokens")
    return (
        per_source.crossJoin(F.broadcast(mx))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            (
                F.col("n_tokens").cast("double") / max_tokens.cast("double")
            ).alias("rel_weight"),
            (
                max_tokens.cast("double") / F.col("n_tokens").cast("double")
            ).alias("epochs_to_balance"),
        )
    )


# --------------------------------------------------------------------------
# q_text_rarity — per-document token rarity from corpus document
# frequencies (integer-exact quality signal).
# --------------------------------------------------------------------------


@query(
    "q_text_rarity",
    oracle=f"""
WITH dt AS (
  SELECT doc_id, unnest(list_distinct({_SQL_TOKENS})) AS token
  FROM documents
),
tf AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS doc_freq FROM dt GROUP BY token
)
SELECT
  dt.doc_id,
  CAST(COUNT(*) AS BIGINT) AS n_distinct_tokens,
  CAST(SUM(tf.doc_freq) AS BIGINT) AS sum_doc_freq,
  CAST(SUM(tf.doc_freq) AS DOUBLE) / COUNT(*) AS mean_doc_freq,
  CAST(MIN(tf.doc_freq) AS BIGINT) AS rarest_doc_freq
FROM dt JOIN tf USING (token)
GROUP BY dt.doc_id
""",
    tags=("llm", "pipeline"),
)
def q_text_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score each document by how common its vocabulary is corpus-wide:
    distinct-token count, summed/mean document frequency, and the rarest
    token's frequency.

    Two-pass shape every DF-based quality signal shares: (1) explode
    distinct tokens and count documents per token, (2) join frequencies
    back and re-aggregate per document. All counts are exact BIGINTs, so
    only the final mean is a (single, deterministic) double division. At
    scale the token-frequency side is vocabulary-sized — orders smaller
    than the corpus — so Spark can broadcast it back for pass 2.
    """
    toks = F.filter(F.split(F.trim(F.col("text")), " "), lambda t: t != "")
    dt = (
        load(spark, sf_dir, "documents")
        .select("doc_id", F.explode(F.array_distinct(toks)).alias("token"))
    )
    tf = dt.groupBy("token").agg(F.count(F.lit(1)).alias("doc_freq"))
    sum_df = F.sum("doc_freq").cast("bigint")
    return (
        dt.join(tf, "token")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_distinct_tokens"),
            sum_df.alias("sum_doc_freq"),
            (sum_df.cast("double") / F.count(F.lit(1))).alias("mean_doc_freq"),
            F.min("doc_freq").cast("bigint").alias("rarest_doc_freq"),
        )
    )


# --------------------------------------------------------------------------
# q_split_assign — deterministic train/val/test split assignment.
# --------------------------------------------------------------------------


@query(
    "q_split_assign",
    oracle="""
SELECT
  doc_id,
  source,
  CASE
    WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('e', 'f') THEN 'test'
    WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('c', 'd') THEN 'val'
    ELSE 'train'
  END AS split
FROM documents
""",
    tags=("llm", "pipeline"),
)
def q_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign every document to train/val/test (87.5/6.25/6.25) from the
    first hex digit of md5(doc_id).

    Content-addressed like q_sample_hash: the assignment is a pure
    function of the id, so any engine, run, or partitioning reproduces
    the identical split, and a document can never leak between splits
    across pipeline re-runs. A narrow per-row map — no shuffle.
    """
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id", "source", _split_of(F.col("doc_id")).alias("split")
    )


# --------------------------------------------------------------------------
# q_corpus_filter — composite quality gate with per-rule flag bitmask.
# --------------------------------------------------------------------------

# Rule bits (set bit = rule FIRED = reason to drop).
_F_TOO_SHORT = 1  # fewer than 20 tokens
_F_LOW_STOP = 2  # stopword ratio under 5% (word-soup / non-prose signal)
_F_LONG_TOKENS = 4  # average token length over 12 chars (boilerplate/code)
_F_DIGIT_HEAVY = 8  # more than 20% digit characters

_SQL_STOPWORDS = "['the', 'a', 'of', 'and', 'to', 'in', 'is', 'for']"

_Q_CORPUS_FILTER_ORACLE = f"""
SELECT
  doc_id,
  CAST(
    CASE WHEN n_tokens < 20 THEN {_F_TOO_SHORT} ELSE 0 END
    + CASE WHEN stop_ratio < 0.05 THEN {_F_LOW_STOP} ELSE 0 END
    + CASE WHEN avg_token_len > 12 THEN {_F_LONG_TOKENS} ELSE 0 END
    + CASE WHEN digit_ratio > 0.2 THEN {_F_DIGIT_HEAVY} ELSE 0 END
  AS INTEGER) AS flags,
  (n_tokens >= 20 AND stop_ratio >= 0.05
   AND avg_token_len <= 12 AND digit_ratio <= 0.2) AS keep
FROM (
  SELECT
    doc_id,
    CAST(len({_SQL_TOKENS}) AS INTEGER) AS n_tokens,
    CAST(len(list_filter({_SQL_TOKENS},
         t -> list_contains({_SQL_STOPWORDS}, t))) AS DOUBLE)
      / len({_SQL_TOKENS}) AS stop_ratio,
    CAST(length(replace(text, ' ', '')) AS DOUBLE)
      / len({_SQL_TOKENS}) AS avg_token_len,
    CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
      / greatest(length(replace(text, ' ', '')), 1) AS digit_ratio
  FROM documents
)
"""


@query("q_corpus_filter", oracle=_Q_CORPUS_FILTER_ORACLE, tags=("llm", "pipeline"))
def q_corpus_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite corpus quality gate: four heuristic rules folded into a
    flag bitmask plus a single keep/drop verdict.

    The bitmask (too-short=1, low-stopword=2, long-tokens=4,
    digit-heavy=8) is what a production filter pipeline reports per
    document so drop *reasons* stay auditable after the drop. One narrow
    pass, pure codegen'd expressions, no shuffle — filtering 100 TB is
    scan-bound, exactly as it should be.
    """
    d = load(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.trim(F.col("text")), " "), lambda t: t != "")
    stop_arr = F.array(
        *[F.lit(s) for s in ("the", "a", "of", "and", "to", "in", "is", "for")]
    )
    n_tokens = F.size(toks)
    stop_ratio = (
        F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t))).cast(
            "double"
        )
        / n_tokens
    )
    n_chars = F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
    avg_token_len = n_chars.cast("double") / n_tokens
    digit_ratio = F.length(
        F.regexp_replace(F.col("text"), "[^0-9]", "")
    ).cast("double") / F.greatest(n_chars, F.lit(1))
    flags = (
        F.when(n_tokens < 20, _F_TOO_SHORT).otherwise(0)
        + F.when(stop_ratio < 0.05, _F_LOW_STOP).otherwise(0)
        + F.when(avg_token_len > 12, _F_LONG_TOKENS).otherwise(0)
        + F.when(digit_ratio > 0.2, _F_DIGIT_HEAVY).otherwise(0)
    )
    return d.select(
        "doc_id",
        flags.cast("int").alias("flags"),
        (flags == 0).alias("keep"),
    )


# --------------------------------------------------------------------------
# q_decontaminate — benchmark decontamination via 8-gram overlap.
# --------------------------------------------------------------------------

# 8-token grams, the dedup-and-decontamination window size popularized by
# GPT-3/PaLM-style eval decontamination. Hashed with md5 so the join key is
# a fixed 32-char digest, never the gram text.
_DECON_N = 8

_SQL_G8 = (
    "list_transform(range(1, greatest(len(toks) - 6, 2)), i -> md5(concat_ws(' ', "
    + ", ".join(f"toks[i+{k}]" if k else "toks[i]" for k in range(_DECON_N))
    + ")))"
)


def _grams8():
    t = _tokens()
    m = F.greatest(F.size(t) - (_DECON_N - 1), F.lit(1))
    z = F.arrays_zip(*[F.slice(t, k + 1, m) for k in range(_DECON_N)])
    return F.transform(
        z, lambda s: F.md5(F.concat_ws(" ", *[s[str(k)] for k in range(_DECON_N)]))
    )


@query(
    "q_decontaminate",
    oracle=f"""
WITH g AS (
  SELECT
    doc_id,
    substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('e', 'f') AS is_test,
    unnest(list_distinct({_SQL_G8})) AS gram
  FROM (SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents)
),
tg AS (SELECT DISTINCT gram FROM g WHERE is_test),
sh AS (
  SELECT g.doc_id, COUNT(*) AS n_shared
  FROM g JOIN tg USING (gram)
  WHERE NOT g.is_test
  GROUP BY 1
)
SELECT
  d.doc_id,
  CASE WHEN substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 1) IN ('c', 'd')
       THEN 'val' ELSE 'train' END AS split,
  COALESCE(n_shared, 0) AS n_shared_grams,
  COALESCE(n_shared, 0) > 0 AS contaminated
FROM documents d LEFT JOIN sh USING (doc_id)
WHERE substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 1) NOT IN ('e', 'f')
""",
    tags=("llm", "pipeline"),
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag every train/val document that
    shares an 8-token gram with the held-out test split (the same
    content-addressed split as q_split_assign).

    The gram inventory is built row-side (zip-of-slices — O(tokens) per
    document, no shuffle) and deduplicated per document before the
    explode, so the gram stream carries each (doc, gram) once. The test
    side reduces to a distinct gram set; the overlap is one equi-join on
    a 32-char digest. At 100 TB the eval set is tiny relative to the
    corpus, so that join broadcasts; here both sides flow through one
    hash join that AQE sizes. Output keeps the shared-gram *count*, not
    just the flag, so a pipeline can threshold severity.
    """
    return decontaminate(load(spark, sf_dir, "documents"))


def decontaminate(df: DataFrame) -> DataFrame:
    """Flag every train/val document of ``df`` (doc_id, text) sharing an
    8-token gram with the md5-split test set (see q_decontaminate for
    the scale rationale). Library form so arbitrary corpora can be
    checked — the property tests drive it on adversarial inputs."""
    from streaming_data_ingestion_spark.tables import spread_for_cpu

    h = F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 1)
    # the zip-of-slices 8-gram build + per-gram md5 is CPU-dominant and
    # feeds TWO consumers (test grams, train/val grams) — spread a narrow
    # scan to full parallelism first (no-op on a wide 100 TB scan)
    wide = spread_for_cpu(df.select("doc_id", "text"))
    g = wide.select(
        "doc_id",
        h.isin("e", "f").alias("is_test"),
        F.explode(F.array_distinct(_grams8())).alias("gram"),
    )
    test_grams = g.filter(F.col("is_test")).select("gram").distinct()
    shared = (
        g.filter(~F.col("is_test"))
        .join(test_grams, "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    n_shared = F.coalesce(F.col("n_shared"), F.lit(0).cast("long"))
    return (
        df.filter(~h.isin("e", "f"))
        .select(
            "doc_id", F.when(h.isin("c", "d"), "val").otherwise("train").alias("split")
        )
        .join(shared, "doc_id", "left")
        .select(
            "doc_id",
            "split",
            n_shared.alias("n_shared_grams"),
            (n_shared > 0).alias("contaminated"),
        )
    )


# --------------------------------------------------------------------------
# q_corpus_pipeline — the end-to-end corpus-preparation flow as ONE query.
# --------------------------------------------------------------------------


@query(
    "q_corpus_pipeline",
    oracle=f"""
WITH scored AS (
  SELECT doc_id, source, text,
    CAST(len(toks) AS BIGINT) AS n_tokens,
    CAST(len(list_filter(toks, t -> list_contains({_SQL_STOPWORDS}, t)))
         AS DOUBLE) / len(toks) AS stop_ratio,
    CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(toks)
      AS avg_token_len,
    CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
      / greatest(length(replace(text, ' ', '')), 1) AS digit_ratio
  FROM (SELECT doc_id, source, text, {_SQL_TOKENS} AS toks FROM documents)
),
gated AS (
  SELECT doc_id, source, text, n_tokens FROM scored
  WHERE n_tokens >= 20 AND stop_ratio >= 0.05
    AND avg_token_len <= 12 AND digit_ratio <= 0.2
),
uniq AS (
  SELECT doc_id, source, n_tokens,
    ROW_NUMBER() OVER (PARTITION BY sha256(lower(trim(text)))
                       ORDER BY doc_id) AS rn
  FROM gated
)
SELECT
  CASE
    WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('e', 'f') THEN 'test'
    WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('c', 'd') THEN 'val'
    ELSE 'train'
  END AS split,
  source,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM((n_tokens - 1) // {_STRIDE} + 1) AS BIGINT) AS n_chunks,
  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
FROM uniq
WHERE rn = 1
GROUP BY 1, 2
""",
    tags=("llm", "pipeline"),
)
def q_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole corpus-preparation flow in one declarative plan:
    quality gate (q_corpus_filter's four rules) → exact dedup (keep the
    smallest doc_id per normalized-text digest) → content-addressed
    train/val/test split (q_split_assign) → chunk accounting
    (q_doc_chunk's geometry, computed arithmetically — no chunk rows
    ever materialize), rolled up per (split, source).

    This is the shape a real ingest job runs nightly, and it shows the
    single-query cost of the composition: two shuffles total — one
    digest-partitioned window for the dedup keeper, one final rollup —
    because gating, splitting, and chunk counting are all narrow.
    Catalyst pipelines the whole prefix into the first exchange's map
    side.
    """
    d = load(spark, sf_dir, "documents")
    toks = _tokens()
    stop_arr = F.array(
        *[F.lit(s) for s in ("the", "a", "of", "and", "to", "in", "is", "for")]
    )
    n_tokens = F.size(toks).cast("long")
    n_chars = F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
    scored = d.select(
        "doc_id",
        "source",
        "text",
        n_tokens.alias("n_tokens"),
        (
            F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t))).cast(
                "double"
            )
            / n_tokens
        ).alias("stop_ratio"),
        (n_chars.cast("double") / n_tokens).alias("avg_token_len"),
        (
            F.length(F.regexp_replace(F.col("text"), "[^0-9]", "")).cast("double")
            / F.greatest(n_chars, F.lit(1))
        ).alias("digit_ratio"),
    )
    gated = scored.filter(
        (F.col("n_tokens") >= 20)
        & (F.col("stop_ratio") >= 0.05)
        & (F.col("avg_token_len") <= 12)
        & (F.col("digit_ratio") <= 0.2)
    )
    w = Window.partitionBy(F.sha2(F.lower(F.trim(F.col("text"))), 256)).orderBy(
        "doc_id"
    )
    uniq = (
        gated.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    h = F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 1)
    split = (
        F.when(h.isin("e", "f"), "test")
        .when(h.isin("c", "d"), "val")
        .otherwise("train")
    )
    return uniq.groupBy(split.alias("split"), "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.expr(f"((n_tokens - 1) div {_STRIDE}) + 1")).alias("n_chunks"),
        F.sum("n_tokens").alias("n_tokens"),
    )


# --------------------------------------------------------------------------
# q_sample_weighted — per-source weighted downsampling (mixture shaping).
# --------------------------------------------------------------------------

# Keep-rates are binary-exact fractions so rate * 2^32 is an exact integer
# threshold: the keep decision becomes an *integer* comparison against the
# doc's 32-bit content hash — no float boundary can ever disagree between
# engines. ('|wsample' salts the hash so this draw is independent of
# q_sample_hash / q_split_assign, which read different hash functions of
# the same doc_id.)
_W_RATES = (
    ("src0", 1.0),
    ("src1", 0.75),
    ("src2", 0.5),
    ("src3", 0.25),
)
_W_DEFAULT = 0.125


@query(
    "q_sample_weighted",
    oracle=f"""
WITH scored AS (
  SELECT
    source,
    CASE {" ".join(f"WHEN source = '{s}' THEN {r}" for s, r in _W_RATES)}
         ELSE {_W_DEFAULT} END AS rate,
    ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '|wsample'), 1, 8))
      ::BIGINT AS u
  FROM documents
)
SELECT
  source,
  rate,
  CAST(COUNT(*) AS BIGINT) AS n_total,
  CAST(count_if(u < CAST(rate * 4294967296 AS BIGINT)) AS BIGINT) AS n_kept,
  CAST(count_if(u < CAST(rate * 4294967296 AS BIGINT)) AS DOUBLE) / COUNT(*)
    AS kept_frac
FROM scored
GROUP BY 1, 2
""",
    tags=("llm", "pipeline"),
)
def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source weighted downsampling — the mixture-shaping step that
    turns raw source proportions into a target training mix (temperature
    sampling): each source keeps a deterministic, content-addressed
    fraction of its documents.

    Keep-rates are binary-exact fractions (1, 3/4, 1/2, 1/4, 1/8), so
    rate·2³² is an exact integer and the keep decision is an integer
    compare of the doc's salted 32-bit hash — reproducible across runs,
    engines, and partitionings, like q_sample_hash but per-source. One
    narrow map + one hash aggregate; the conditional count partials
    map-side.
    """
    d = load(spark, sf_dir, "documents")
    rate = F.lit(_W_DEFAULT)
    for s, r in reversed(_W_RATES):
        rate = F.when(F.col("source") == s, F.lit(r)).otherwise(rate)
    u = F.conv(
        F.substring(
            F.md5(
                F.concat(F.col("doc_id").cast("string"), F.lit("|wsample"))
                .cast("binary")
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    kept = F.count_if(u < (rate * F.lit(4294967296.0)).cast("long"))
    return d.groupBy("source", rate.alias("rate")).agg(
        F.count(F.lit(1)).alias("n_total"),
        kept.alias("n_kept"),
        (kept.cast("double") / F.count(F.lit(1))).alias("kept_frac"),
    )


# --------------------------------------------------------------------------
# q_seq_pack — sequence packing: assign documents to fixed-token-budget
# training sequences. The step after chunking/sampling that turns a
# filtered corpus into the contiguous ~context-length sequences a trainer
# consumes.
# --------------------------------------------------------------------------

# Pack budget: 2048 whitespace tokens per training sequence.
_PACK_BUDGET = 2048


@query(
    "q_seq_pack",
    oracle=f"""
WITH t AS (
  SELECT doc_id, source, CAST(len({_SQL_TOKENS}) AS BIGINT) AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, source, n_tokens,
         SUM(n_tokens) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS cum_tokens
  FROM t
)
SELECT
  doc_id,
  source,
  n_tokens,
  CAST((cum_tokens - n_tokens) // {_PACK_BUDGET} AS BIGINT) AS pack_id,
  CAST((cum_tokens - n_tokens) % {_PACK_BUDGET} AS BIGINT) AS pack_offset
FROM c
""",
    tags=("llm", "pipeline"),
)
def q_seq_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign every document a (pack_id, pack_offset)
    inside fixed 2048-token training sequences, streamed per source in
    doc_id order.

    A document's pack is the sequence containing its START offset (the
    running token total before it), so assignment is a pure prefix-sum:
    one window cumulative sum per source partition — exactly one shuffle
    on source, linear scan per partition, no iterative bin-packing loop.
    At 100 TB the source partitions are themselves date/shard-split
    upstream, so the window key has bounded cardinality per task; a
    trainer reads back ordered by (source, pack_id, pack_offset) and
    splits documents straddling a boundary at materialization time.
    """
    d = load(spark, sf_dir, "documents").select(
        "doc_id", "source", F.size(_tokens()).cast("long").alias("n_tokens")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = F.sum("n_tokens").over(w) - F.col("n_tokens")
    return d.select(
        "doc_id",
        "source",
        "n_tokens",
        (start / _PACK_BUDGET).cast("long").alias("pack_id"),
        (start % _PACK_BUDGET).cast("long").alias("pack_offset"),
    )


# --------------------------------------------------------------------------
# q_sample_topk_hash — exact-size per-stratum sampling: exactly K docs per
# source, chosen content-addressed (hash order), not by fraction.
# --------------------------------------------------------------------------

_TOPK_PER_SOURCE = 50


@query(
    "q_sample_topk_hash",
    oracle=f"""
SELECT doc_id, source, rk
FROM (
  SELECT doc_id, source,
         CAST(row_number() OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR) || '|topk'), doc_id
         ) AS BIGINT) AS rk
  FROM documents
)
WHERE rk <= {_TOPK_PER_SOURCE}
""",
    tags=("llm", "pipeline", "sampling"),
)
def q_sample_topk_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-size stratified sample: exactly K=50 documents per source,
    ranked by a salted content hash — the fixed-budget companion to the
    fraction-based q_sample_hash (a fraction cannot promise "exactly K
    per stratum", which is what a balanced eval set needs).

    Content-addressing makes the sample reproducible across runs,
    engines, and partitionings (same docs always win); the doc_id
    tie-break covers the astronomically-unlikely hash collision. One
    window shuffle on source; WindowGroupLimit prunes to K rows per
    partition map-side BEFORE the exchange, so the shuffle carries ~K
    rows per (source × input partition), not the corpus.
    """
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    h = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("|topk")))
    w = Window.partitionBy("source").orderBy(h, F.col("doc_id"))
    return (
        d.select(
            "doc_id",
            "source",
            F.row_number().over(w).cast("long").alias("rk"),
        )
        .filter(F.col("rk") <= _TOPK_PER_SOURCE)
    )


# --------------------------------------------------------------------------
# q_sample_stratified — exact-count per-stratum sampling (20% per source).
# --------------------------------------------------------------------------


@query(
    "q_sample_stratified",
    oracle="""
WITH ranked AS (
  SELECT
    doc_id,
    source,
    ROW_NUMBER() OVER (
      PARTITION BY source
      ORDER BY md5(CAST(doc_id AS VARCHAR) || '|strat') ASC, doc_id ASC
    ) AS strat_rank,
    COUNT(*) OVER (PARTITION BY source) AS n_source
  FROM documents
)
SELECT doc_id, source,
       CAST(strat_rank AS BIGINT) AS strat_rank,
       CAST(n_source AS BIGINT) AS n_source
FROM ranked
WHERE strat_rank <= (n_source + 4) // 5
""",
    tags=("llm", "pipeline", "sampling"),
)
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-count stratified sample: precisely ⌈20%⌉ of each source's
    documents, chosen by content-addressed hash order — the guarantee
    q_sample_hash cannot give (a rate-based draw only hits the target
    fraction in expectation, and a small stratum can come back empty).

    Determinism: rows rank within their stratum by md5(doc_id||'|strat')
    (salted so the draw is independent of q_sample_hash / q_split_assign
    reading other hash functions of the same id) — reproducible across
    runs, engines, partitionings. The cut ⌈n/5⌉ is pure integer math, so
    no float boundary can disagree between engines. Plan: both windows
    (rank + stratum size) share one source-keyed shuffle, partitioned by
    stratum — parallel across sources, spillable within.
    """
    d = load(spark, sf_dir, "documents")
    h = F.md5(
        F.concat(F.col("doc_id").cast("string"), F.lit("|strat")).cast("binary")
    )
    w_rank = Window.partitionBy("source").orderBy(h.asc(), F.col("doc_id").asc())
    w_all = Window.partitionBy("source")
    ranked = d.select(
        "doc_id",
        "source",
        F.row_number().over(w_rank).cast("bigint").alias("strat_rank"),
        F.count(F.lit(1)).over(w_all).cast("bigint").alias("n_source"),
    )
    return ranked.filter(
        F.col("strat_rank") <= F.expr("(n_source + 4) div 5")
    )


# --------------------------------------------------------------------------
# q_split_leakage_audit — do near-duplicates straddle the train/val/test
# boundary? The eval-integrity audit every LLM data pipeline must run.
# --------------------------------------------------------------------------

_SQL_SPLIT_OF = (
    "CASE WHEN substr(md5(CAST({col} AS VARCHAR)), 1, 1) IN ('e', 'f') "
    "THEN 'test' "
    "WHEN substr(md5(CAST({col} AS VARCHAR)), 1, 1) IN ('c', 'd') "
    "THEN 'val' ELSE 'train' END"
)


def _split_of(col: Column) -> Column:
    """q_split_assign's content-addressed split as a row-side expression
    of any doc-id column — shared so the audit can label PAIR rows
    without joining the corpus."""
    h = F.substring(F.md5(col.cast("string").cast("binary")), 1, 1)
    return (
        F.when(h.isin("e", "f"), "test")
        .when(h.isin("c", "d"), "val")
        .otherwise("train")
    )


def _leakage_oracle() -> str:
    from streaming_data_ingestion_spark.queries.llm_dedup import _SQL_PAIRS

    fa = _SQL_SPLIT_OF.format(col="doc_a")
    fb = _SQL_SPLIT_OF.format(col="doc_b")
    return f"""
WITH pairs AS ({_SQL_PAIRS}),
labeled AS (
  SELECT LEAST({fa}, {fb}) AS split_a, GREATEST({fa}, {fb}) AS split_b
  FROM pairs
)
SELECT split_a, split_b,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       split_a <> split_b AS is_leak
FROM labeled
GROUP BY split_a, split_b
"""


@query(
    "q_split_leakage_audit",
    oracle=_leakage_oracle(),
    tags=("llm", "pipeline", "dedup", "audit"),
)
def q_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup split-leakage audit: count LSH candidate pairs by the
    (canonically ordered) split pair of their endpoints, flagging every
    cross-split combination as leakage. A near-duplicate of a training
    document sitting in test/val silently inflates eval numbers —
    q_decontaminate checks PROMPT contamination; this audits the
    corpus's own split boundary against its near-dup structure.

    Plan shape: the pair set is the LSH collision join (never n²), and
    the split label is q_split_assign's content-addressed hash computed
    ROW-SIDE on each pair endpoint — a pure function of doc_id, so the
    audit needs NO join back to the corpus: label, canonicalize
    (least/greatest), and one ≤9-group aggregate. At 100 TB this costs
    one pass over the collision set.
    """
    from streaming_data_ingestion_spark.queries.llm_dedup import _lsh_pairs_cached

    pairs = _lsh_pairs_cached(spark, sf_dir)
    sa = _split_of(F.col("doc_a"))
    sb = _split_of(F.col("doc_b"))
    labeled = pairs.select(
        F.least(sa, sb).alias("split_a"),
        F.greatest(sa, sb).alias("split_b"),
    )
    return (
        labeled.groupBy("split_a", "split_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
        .select(
            "split_a",
            "split_b",
            "n_pairs",
            (F.col("split_a") != F.col("split_b")).alias("is_leak"),
        )
    )


# --------------------------------------------------------------------------
# q_pack_efficiency — bin-utilization readout of the q_seq_pack
# construction: how full the fixed 2048-token training sequences are and
# how many documents straddle a pack boundary per source.
# --------------------------------------------------------------------------


@query(
    "q_pack_efficiency",
    oracle=f"""
WITH t AS (
  SELECT doc_id, source, CAST(len({_SQL_TOKENS}) AS BIGINT) AS n_tokens
  FROM documents
),
c AS (
  SELECT source, n_tokens,
         SUM(n_tokens) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS cum_tokens
  FROM t
),
p AS (
  SELECT source, n_tokens,
         (cum_tokens - n_tokens) // {_PACK_BUDGET} AS spack,
         CASE WHEN n_tokens > 0
              THEN (cum_tokens - 1) // {_PACK_BUDGET}
              ELSE (cum_tokens - n_tokens) // {_PACK_BUDGET} END AS epack
  FROM c
)
SELECT
  source,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
  CAST(MAX(epack) + 1 AS BIGINT) AS n_packs,
  CAST(SUM(n_tokens) AS DOUBLE)
    / CAST((MAX(epack) + 1) * {_PACK_BUDGET} AS DOUBLE) AS utilization,
  CAST(SUM(CASE WHEN epack > spack THEN 1 ELSE 0 END) AS BIGINT)
    AS n_straddling
FROM p
GROUP BY source
ORDER BY source
""",
    tags=("llm", "pipeline", "loader"),
)
def q_pack_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-efficiency audit of the q_seq_pack layout, per source:
    pack count, fill ratio of the allocated (n_packs × 2048)-token
    budget, and how many documents straddle a sequence boundary (each
    straddler costs a split — or a truncation — at materialization
    time). This is the readout a training-data engineer checks before
    committing to a packing order: low utilization or a high straddle
    rate means the doc-length mix fights the sequence length.

    Exactness: everything up to `utilization` is integer arithmetic on
    exact token prefix sums (the q_seq_pack window); utilization is one
    IEEE division of exact BIGINTs.

    Scale shape: the same single source-partitioned prefix-sum window
    as q_seq_pack, then a source-keyed aggregate — one shuffle on
    source, map-side combinable rollup.
    """
    from streaming_data_ingestion_spark.queries.llm_text import _tokens

    d = load(spark, sf_dir, "documents").select(
        "doc_id", "source", F.size(_tokens()).cast("long").alias("n_tokens")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    spack = F.expr(f"(cum_tokens - n_tokens) div {_PACK_BUDGET}")
    epack = F.when(
        F.col("n_tokens") > 0,
        F.expr(f"(cum_tokens - 1) div {_PACK_BUDGET}"),
    ).otherwise(F.expr(f"(cum_tokens - n_tokens) div {_PACK_BUDGET}"))
    p = d.withColumn("cum_tokens", cum).select(
        "source", "n_tokens", spack.alias("spack"), epack.alias("epack")
    )
    return (
        p.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            (F.max("epack") + 1).cast("long").alias("n_packs"),
            (
                F.sum("n_tokens").cast("double")
                / ((F.max("epack") + 1) * _PACK_BUDGET).cast("double")
            ).alias("utilization"),
            F.sum(F.when(F.col("epack") > F.col("spack"), 1).otherwise(0))
            .cast("long")
            .alias("n_straddling"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# q_mix_temperature — temperature-scaled sampling weights (the multinomial
# mixing recipe): target share ∝ n_tokens^τ with τ = 0.5, the standard
# square-root rebalance that up-weights small sources without letting
# them dominate.
# --------------------------------------------------------------------------

_MIX_TAU_SQL = "sqrt(CAST(n_tokens AS DOUBLE))"


@query(
    "q_mix_temperature",
    oracle=f"""
WITH per_source AS (
  SELECT source, CAST(SUM(len({_SQL_TOKENS})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
tot AS (
  SELECT CAST(SUM(n_tokens) AS BIGINT) AS n,
         CAST(CAST(SUM(CAST({_MIX_TAU_SQL} AS DECIMAL(38,10)))
              AS VARCHAR) AS DOUBLE) AS s
  FROM per_source
)
SELECT
  source,
  n_tokens,
  CAST(n_tokens AS DOUBLE) / CAST(tot.n AS DOUBLE) AS natural_share,
  {_MIX_TAU_SQL} / tot.s AS target_share,
  ({_MIX_TAU_SQL} / tot.s)
    / (CAST(n_tokens AS DOUBLE) / CAST(tot.n AS DOUBLE)) AS multiplier
FROM per_source CROSS JOIN tot
ORDER BY source
""",
    tags=("llm", "pipeline", "loader"),
)
def q_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled data-mix weights, τ = 0.5: target share ∝
    √n_tokens — the standard multinomial-temperature recipe for
    up-weighting small/high-quality sources without letting them
    dominate (τ=1 reproduces the natural mix, τ=0 the uniform one).
    `multiplier` = target/natural is the per-source sampling factor a
    loader applies (q_mix_weights' epochs_to_balance is the τ=0
    equalize-to-max special case; this is the tunable-τ production
    form).

    Exactness: token counts are exact BIGINTs; each √n is one correctly
    rounded IEEE sqrt (identical both engines); the √-mass total is
    DECIMAL-summed (order-independent) and converted once via the
    VARCHAR hop; every share/multiplier is then single IEEE ops on
    identical operands — no rounding needed.

    Scale shape: one map-side-combined per-source aggregate, a 1-row
    total broadcast — sources-sized everything.
    """
    from streaming_data_ingestion_spark.compat import DEC
    from streaming_data_ingestion_spark.queries.llm_text import _tokens

    per_source = (
        load(spark, sf_dir, "documents")
        .select("source", F.size(_tokens()).cast("long").alias("n_toks"))
        .groupBy("source")
        .agg(F.sum("n_toks").cast("long").alias("n_tokens"))
    )
    rt = F.sqrt(F.col("n_tokens").cast("double"))
    tot = per_source.agg(
        F.sum("n_tokens").cast("long").alias("n"),
        F.sum(rt.cast(DEC)).cast("double").alias("s"),
    )
    natural = F.col("n_tokens").cast("double") / F.col("n").cast("double")
    target = rt / F.col("s")
    return (
        per_source.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_tokens",
            natural.alias("natural_share"),
            target.alias("target_share"),
            (target / natural).alias("multiplier"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# q_dedup_yield — per-source exact-dedup yield audit: what fraction of
# each source survives global keeper selection (the dataset-card row a
# curator reads before paying for a source).
# --------------------------------------------------------------------------


@query(
    "q_dedup_yield",
    oracle="""
WITH d AS (
  SELECT doc_id, source, sha256(lower(trim(text))) AS digest
  FROM documents
),
k AS (SELECT digest, MIN(doc_id) AS keeper FROM d GROUP BY digest)
SELECT
  d.source,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(CASE WHEN d.doc_id = k.keeper THEN 1 ELSE 0 END) AS BIGINT)
    AS n_kept,
  CAST(SUM(CASE WHEN d.doc_id = k.keeper THEN 0 ELSE 1 END) AS BIGINT)
    AS n_dropped,
  CAST(SUM(CASE WHEN d.doc_id = k.keeper THEN 1 ELSE 0 END) AS DOUBLE)
    / CAST(COUNT(*) AS DOUBLE) AS yield
FROM d JOIN k USING (digest)
GROUP BY d.source
ORDER BY d.source
""",
    tags=("llm", "dedup", "pipeline"),
)
def q_dedup_yield(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source exact-dedup yield: how many of a source's documents
    survive GLOBAL keeper selection (q_dedup_exact's min-doc_id rule) —
    the duplication tax per source. A low-yield source is paying
    ingest/storage for bytes the dedup stage throws away; cross-source
    duplicates are charged to the non-keeper source, which is exactly
    the accounting a buy/crawl decision needs.

    Exactness: keeper selection is an integer MIN per digest; all
    counts BIGINT; yield one IEEE division.

    Scale shape: digest (not body) shuffles for the keeper aggregate;
    the join back is digest-keyed equi; the final rollup is
    sources-sized and map-side combinable.
    """
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.sha2(F.lower(F.trim(F.col("text"))), 256).alias("digest"),
    )
    k = d.groupBy("digest").agg(F.min("doc_id").alias("keeper"))
    kept = F.when(F.col("doc_id") == F.col("keeper"), 1).otherwise(0)
    return (
        d.join(k, "digest")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(kept).cast("long").alias("n_kept"),
            F.sum(1 - kept).cast("long").alias("n_dropped"),
            (
                F.sum(kept).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("yield"),
        )
        .orderBy("source")
    )
