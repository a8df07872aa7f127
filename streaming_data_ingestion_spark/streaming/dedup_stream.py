"""Streaming near-dup detection against a historical corpus.

The corpus-ingest question at 100 TB: as new documents arrive, which are
near-duplicates of ANYTHING already ingested? Recomputing the batch LSH
pipeline per arrival is a full-corpus job; this module does it
incrementally:

- the HISTORICAL side is the banded LSH index (the same band table the
  batch dedup builds — queries/llm_dedup.minhash_bands_df), persisted
  once and bucketed by band_hash at scale;
- each incoming document computes its 3 band hashes ROW-SIDE (no
  explode→groupBy, because a streaming aggregate would need watermarked
  state for something that is a pure per-row function) and stream-static
  semi-joins the band table: any band collision ⇒ near-dup candidate.

Row-side signatures are bit-identical to the batch path: the same
single-md5-per-shingle + 12 affine permutations, folded with array_min
instead of a grouped min — same integers, so a document banded by the
stream matches its own batch banding exactly (asserted in
tests/test_streaming.py).

Cost shape: per incoming row, ~|shingles| md5s + 12 array folds (CPU at
the mapper, no shuffle); the join probes the static side's bucketed
band table. State: none — the stream needs no watermark because nothing
aggregates.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from streaming_data_ingestion_spark.queries.llm_dedup import (
    _AFFINE,
    _N_BANDS,
    _P,
    _shingles,
    _tokens,
)
from streaming_data_ingestion_spark.streaming.sink import commit_epoch, start


def _affine_min(a: int, b: int) -> Column:
    def perm(x: Column) -> Column:
        return (F.lit(a) * x + F.lit(b)) % F.lit(_P)

    return F.array_min(F.transform("x_arr", perm))


def band_stream(docs: DataFrame) -> DataFrame:
    """(doc_id, band_idx, band_hash) computed row-side — works on a
    streaming OR batch DataFrame with (doc_id, text)."""
    x_arr = F.transform(
        _shingles(_tokens()),
        lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long"),
    )
    # drop shingle-less docs (empty/whitespace text): the batch path's
    # explode emits no rows for them, while array_min over an empty array
    # would yield NULL minhashes here and collapse every such doc onto one
    # sentinel band hash — false near-dup collisions AND a batch/stream
    # divergence
    sigs = (
        docs.select("doc_id", x_arr.alias("x_arr"))
        .where(F.size("x_arr") > 0)
        .select(
            "doc_id",
            *[
                _affine_min(a, b).alias(f"mh{j}")
                for j, (a, b) in enumerate(_AFFINE)
            ],
        )
    )
    band_hashes = F.array(
        *[
            F.md5(F.concat_ws("|", *[F.col(f"mh{4 * b + k}") for k in range(4)]))
            for b in range(_N_BANDS)
        ]
    )
    return sigs.select(
        "doc_id", F.posexplode(band_hashes).alias("band_idx", "band_hash")
    )


def flag_neardups(
    docs_stream: DataFrame,
    historical_bands: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Continuously flag incoming docs that share ANY LSH band with the
    historical corpus. Flags land as parquet (doc_id) rows in
    ``out_dir`` — the candidate set a downstream exact verify
    (q_dedup_ngram_jaccard shape) consumes; read them through
    ``sink.committed(out_dir)`` for a snapshot that excludes an
    in-flight epoch.

    The semi join keeps the stream side stateless; per-batch DISTINCT
    is batch-local (each doc arrives once), so no cross-batch state
    either. At scale the static side is the bucketed band table
    (layout.write_bucketed on band_hash) so the probe is co-located.
    """
    flagged = band_stream(docs_stream).join(
        historical_bands.select("band_idx", "band_hash"),
        ["band_idx", "band_hash"],
        "left_semi",
    )

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        # one append-only epoch: a replay rewrites ITS OWN partition, and
        # a fresh checkpoint's epochs land beside an earlier run's
        commit_epoch(batch_df.select("doc_id").distinct(), out_dir, epoch_id)

    return start(flagged, write_batch, checkpoint_dir)
