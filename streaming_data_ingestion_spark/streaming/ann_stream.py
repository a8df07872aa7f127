"""Streaming ANN-index maintenance: fold newly-arriving vectors into the
stored cell-partitioned IVFPQ index without rebuilding it.

The batch builders (ml/ivfpq.py, queries/llm_similarity.py's
deterministic-quantizer twin) write the index once. A growing corpus
needs the NEXT step of the index lifecycle: each micro-batch of vectors
is assigned to the EXISTING coarse centroids (the quantizer is frozen —
exactly how production IVF indexes ingest; re-training centroids is a
separate, rare OPTIMIZE-style rebuild), PQ-encoded with the same
deterministic codebooks, and appended into the cell partitions.

Exactly-once: each micro-batch is one append-only epoch of
streaming/sink.commit_epoch, landed under ``cell=X/__epoch=<ns>-<E>``.
The namespace is the stream's query id — one per checkpoint, since Spark
epoch ids restart at 0 for every new checkpoint — so two runs, or a run
beside the bootstrap base, never overwrite each other's slices. A
replayed epoch re-delivers the identical assignment (frozen centroids +
deterministic codes make the batch a pure function of its input), and
the dynamic overwrite replaces exactly that epoch's slices instead of
duplicating them. Probes are unaffected: ``cell`` remains the leading
partition column, so PartitionFilters prune exactly as before and
readers that select (vec_id, cell, codes, embedding) never see the
epoch column.

The maintained invariant (pinned by tests/test_streaming.py): after any
sequence of micro-batches with replays injected anywhere, the stored
index holds EXACTLY the rows a one-shot build over the cumulative
vector set would hold (same cells, same codes, same vectors) — so any
probe result is identical to probing a freshly-built index.

Reader/writer race: a probe that lists the index directory while an
epoch write is in flight could observe a TORN epoch — some cell
partitions already renamed into place, others still pending (Spark's
per-partition commit is not atomic across partitions, and there is no
table-format transaction log under plain parquet). The commit log
fences it: the marker (``_commits/<seq>.<ns>-<E>``, recording a total
commit sequence) is dropped only AFTER the whole epoch's parquet write
returns, and consistent readers go through ``read_committed_index``,
whose ``sink.committed`` bound prunes the in-flight epoch's files
without reading them. A probe therefore sees either the pre-epoch or
the post-epoch index, never a mix; and because a replayed epoch is a
pure function of its input, re-running the interrupted epoch heals any
torn slices (pinned by
tests/test_streaming.py::test_ann_fold_in_probe_never_sees_torn_epoch).
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from streaming_data_ingestion_spark.compat import dlit_array
from streaming_data_ingestion_spark.streaming.sink import (
    commit_epoch,
    committed,
    committed_epochs,
    start,
)


def assign_to_centroids(
    vectors: DataFrame, centroids: list[tuple[int, list[float]]]
) -> DataFrame:
    """(vec_id, cell, codes, embedding): assign each vector to its
    nearest frozen centroid by cosine (ties to the lower centroid id —
    the q_sim_ivf rule) and PQ-encode it. ``centroids`` is the frozen
    quantizer: a list of (centroid_id, embedding) collected at
    base-index build time (K rows — rides in the task closure as
    literals, no join needed)."""
    from streaming_data_ingestion_spark.queries.llm_similarity import (
        _cos,
        pq_encode_np_df,
    )

    best_id, best_sim = None, None
    emb = F.col("embedding")
    for cid, cvec in centroids:
        c = dlit_array(cvec)
        sim = _cos(emb, c)
        if best_id is None:
            best_id, best_sim = F.lit(cid), sim
        else:
            take = (sim > best_sim) | (
                (sim == best_sim) & (F.lit(cid) < best_id)
            )
            best_id = F.when(take, F.lit(cid)).otherwise(best_id)
            best_sim = F.when(take, sim).otherwise(best_sim)
    assigned = vectors.select(
        "vec_id", best_id.cast("long").alias("cell"), "embedding"
    )
    # numpy/Arrow encode (bit-parity to pq_encode_df per vector —
    # tests/test_round11_props.py), so fold-in epochs stay code-
    # compatible with the batch-built base index.
    coded = pq_encode_np_df(
        assigned.select(
            "vec_id", "cell", F.col("embedding").alias("emb_keep"), "embedding"
        )
    )
    return coded.select(
        "vec_id", "cell", "codes", F.col("emb_keep").alias("embedding")
    )


def fold_in_writer(
    index_path: str,
    centroids: list[tuple[int, list[float]]],
    run_ns: str | None = None,
):
    """foreachBatch writer: assign + encode this batch against the
    frozen quantizer and commit it as one append-only epoch under
    cell=…/__epoch=<ns>-<E> (streaming/sink.commit_epoch: the namespace
    is the running query's id unless ``run_ns`` is given)."""

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        commit_epoch(
            assign_to_centroids(batch_df, centroids),
            index_path,
            epoch_id,
            "cell",
            run_ns=run_ns,
        )

    return write_batch


def read_committed_index(
    spark: SparkSession, index_path: str, as_of_seq: int | None = None
) -> DataFrame:
    """Consistent snapshot of the folded index: only rows of committed
    epochs, bounded by ``sink.committed`` — a PartitionFilter, so an
    in-flight (torn) epoch's directories are pruned before any of its
    files are opened. Columns match what the batch probes read:
    (vec_id, cell, codes, embedding).

    ``as_of_seq`` is time travel: epochs are append-only and immutable
    once committed, so including only commit sequences ≤ the cap
    reproduces the index exactly as it stood after that commit — the
    zero-cost replica of a table format's VERSION AS OF, for debugging
    and repro at any scale (pinned in tests/test_streaming.py)."""
    return (
        spark.read.parquet(index_path)
        .filter(committed(index_path, as_of_seq))
        .select("vec_id", "cell", "codes", "embedding")
    )


def maintain_ann_index(
    vectors_stream: DataFrame,
    index_path: str,
    checkpoint_dir: str,
    centroids: list[tuple[int, list[float]]],
) -> StreamingQuery:
    """Continuously fold a vector stream into the stored IVFPQ index.
    Probe the result with queries/llm_similarity.ivfpq_probe-style
    readers — ``cell`` stays the leading partition column. Each
    checkpoint's epochs live in its own query-id namespace, so a fresh
    checkpoint over the same index adds to it and never replaces an
    earlier run's slices."""
    return start(
        vectors_stream, fold_in_writer(index_path, centroids), checkpoint_dir
    )


def index_history(spark: SparkSession, index_path: str) -> DataFrame:
    """DESCRIBE-HISTORY analog for one index directory: (seq, run_ns,
    epoch, token) per committed epoch in commit order — the readable
    face of the commit log that snapshots and time travel run on."""
    rows = []
    for seq, tok in committed_epochs(index_path):
        ns, _, e = tok.rpartition("-")
        rows.append((seq, ns, int(e), tok))
    return spark.createDataFrame(
        rows, "seq int, run_ns string, epoch int, token string"
    )


# ---------------------------------------------------------------------------
# Index generations — the rare OPTIMIZE-style rebuild the fold-in docs
# promise. Fold-ins keep the quantizer frozen; after enough drift the
# corpus deserves retrained centroids. A rebuild must not disturb
# concurrent probes, so generations are immutable directories
# (`gen=N/`) under one index root, with a `_latest` pointer file
# published by os.replace — POSIX-atomic, so a reader resolves either
# the old generation or the new one, never a mix, and the old
# generation stays intact (readable by in-flight probes) until a later
# vacuum. This is the minimal slice of snapshot isolation a table
# format would provide, implemented with two primitives (immutable dirs
# + one atomic rename), which is exactly what survives on any
# rename-atomic filesystem at 100 TB.
# ---------------------------------------------------------------------------

_LATEST = "_latest"
_CENTROIDS = "_centroids.json"


def _generation_path(index_root: str, gen: int) -> str:
    return os.path.join(index_root, f"gen={gen}")


def latest_generation(index_root: str) -> int:
    """Published generation number; -1 when nothing is published yet
    (a gen directory without the pointer is an unpublished rebuild)."""
    try:
        with open(os.path.join(index_root, _LATEST)) as fh:
            return int(fh.read().strip())
    except (OSError, ValueError):
        return -1


def publish_generation(index_root: str, gen: int) -> None:
    """Atomically flip `_latest` to ``gen`` (write-temp + os.replace)."""
    tmp = os.path.join(index_root, _LATEST + ".tmp")
    with open(tmp, "w") as fh:
        fh.write(str(int(gen)))
    os.replace(tmp, os.path.join(index_root, _LATEST))


def resolve_index(index_root: str) -> str:
    """Directory of the current published generation."""
    gen = latest_generation(index_root)
    if gen < 0:
        raise FileNotFoundError(f"no published generation under {index_root}")
    return _generation_path(index_root, gen)


def load_centroids(gen_path: str) -> list[tuple[int, list[float]]]:
    """The generation's frozen quantizer, persisted beside its rows so
    writers and probes can never disagree about the routing table."""
    with open(os.path.join(gen_path, _CENTROIDS)) as fh:
        return [(int(c), [float(x) for x in v]) for c, v in json.load(fh)]


def _publish_base_generation(
    index_root: str,
    rows: DataFrame,
    centroids: list[tuple[int, list[float]]],
) -> int:
    """Write ``rows`` (vec_id, cell, codes, embedding) as the one base
    epoch of the next generation, beside the quantizer that routed them,
    then publish it. A directory already at that number is a crashed
    attempt that was never published, so it is removed first. The base
    commits in its own ``base`` namespace, which no stream's query id
    can equal, so fold-ins never overwrite it."""
    gen = latest_generation(index_root) + 1
    gen_path = _generation_path(index_root, gen)
    shutil.rmtree(gen_path, ignore_errors=True)
    os.makedirs(gen_path)
    with open(os.path.join(gen_path, _CENTROIDS), "w") as fh:
        json.dump([[c, v] for c, v in centroids], fh)
    commit_epoch(rows, gen_path, 0, "cell", run_ns="base")
    publish_generation(index_root, gen)
    return gen


def bootstrap_index(
    spark: SparkSession,
    vectors: DataFrame,
    index_root: str,
    k_cells: int = 4,
    n_iters: int = 3,
) -> int:
    """Train the first quantizer over ``vectors`` and publish gen 0.
    Subsequent growth goes through fold_in_writer(resolve_index(root))."""
    from streaming_data_ingestion_spark.ml.kmeans import kmeans_fit

    cents, _ = kmeans_fit(vectors, k=k_cells, n_iters=n_iters)
    pairs = [(i, c) for i, c in enumerate(cents)]
    return _publish_base_generation(
        index_root, assign_to_centroids(vectors, pairs), pairs
    )


def rebuild_ann_index(
    spark: SparkSession,
    index_root: str,
    k_cells: int = 4,
    n_iters: int = 3,
) -> int:
    """The OPTIMIZE: retrain the coarse quantizer over the CURRENT
    committed corpus, re-assign and re-encode everything into a fresh
    generation (one corpus pass — assignment and PQ encode are narrow
    maps; training costs n_iters centroid-sized shuffles), then publish
    atomically. Probes racing the rebuild keep reading the old
    generation until the single pointer rename; a crashed rebuild
    leaves an unpublished gen directory that a retry simply overwrites.
    The cumulative-epoch history is compacted away: the new generation
    is ONE base epoch, so cell directories regain large files (the
    compaction half of OPTIMIZE) while replay markers start clean."""
    from streaming_data_ingestion_spark.ml.kmeans import kmeans_fit

    vecs = read_committed_index(spark, resolve_index(index_root)).select(
        "vec_id", "embedding"
    )
    cents, _ = kmeans_fit(vecs, k=k_cells, n_iters=n_iters)
    pairs = [(i, c) for i, c in enumerate(cents)]
    return _publish_base_generation(
        index_root, assign_to_centroids(vecs, pairs), pairs
    )


def probe_generation(
    spark: SparkSession,
    index_root: str,
    q_emb: list[float],
    nprobe: int = 2,
    k: int = 5,
    rerank: int = 20,
) -> DataFrame:
    """Serve top-k from the published generation, reading only committed
    epochs: cell routing uses the generation's own frozen quantizer
    (same cosine/tie rule as assign_to_centroids, so the query's true
    cell is always probeable), and both the codes-only ADC stage and the
    point fetch ride the stored-index plans of ml/ivfpq.py with the
    committed-epoch partition bound composed in.

    Serving itself is ml/ivfpq.serve_topk — the ONE implementation of
    the ADC→exact-re-rank contract (bounded collect + vec_id-pushed
    point fetch for lookup-sized rerank; lazy broadcast-join past
    _COLLECT_RERANK_MAX) — with this module composing the generation
    bounds (probed cells AND committed epochs) into both the codes scan
    and the float fetch it hands over."""
    from streaming_data_ingestion_spark.ml.ivfpq import serve_topk

    gen_path = resolve_index(index_root)
    centroids = load_centroids(gen_path)

    def _cos_py(a: list[float], b: list[float]) -> float:
        num = sum(x * y for x, y in zip(a, b))
        da = sum(x * x for x in a) ** 0.5
        db = sum(y * y for y in b) ** 0.5
        return num / (da * db) if da and db else 0.0

    ranked = sorted(
        ((-_cos_py(q_emb, v), c) for c, v in centroids)
    )[:nprobe]
    probes = [c for _, c in ranked]

    epoch_bound = committed(gen_path)
    idx = (
        spark.read.parquet(gen_path)
        .filter(F.col("cell").isin(*probes) & epoch_bound)
    )

    def fetch(vec_ids: list[int]) -> DataFrame:
        # the re-rank fetch carries the SAME committed-epoch bound as
        # the ADC stage: without it the point fetch would list
        # uncommitted (torn or in-flight) epoch directories — the exact
        # hazard the commit markers exist to fence
        return (
            spark.read.parquet(gen_path)
            .filter(
                F.col("cell").isin(*probes)
                & epoch_bound
                & F.col("vec_id").isin(vec_ids)
            )
            .select("vec_id", "embedding")
        )

    return serve_topk(spark, idx, fetch, q_emb, k, rerank)


def vacuum_index(index_root: str, keep: int = 1) -> list[int]:
    """Delete generations older than the newest ``keep`` published ones
    plus any unpublished debris NEWER than the published pointer (a
    crashed rebuild). Returns the deleted generation numbers.

    The published generation itself is never touched, so vacuum is safe
    to run while probes are live — the retention window (``keep`` > 1)
    exists for long-running probes that resolved an older pointer and
    are still scanning it, the same reader-lease reasoning behind
    table-format VACUUM retention periods. It is NOT safe concurrently
    with a rebuild/compaction: an unpublished gen directory is
    indistinguishable from crash debris while the rebuild is mid-write,
    so maintenance operations (rebuild, compact, vacuum) are serialized
    under the same single-maintainer assumption the commit sequence
    already makes; probes need no such exclusion."""
    latest = latest_generation(index_root)
    if latest < 0:
        return []
    gens = sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(index_root)
        if d.startswith("gen=") and d.split("=", 1)[1].isdigit()
    )
    cutoff = latest - max(1, int(keep)) + 1
    doomed = [g for g in gens if g < cutoff or g > latest]
    for g in doomed:
        shutil.rmtree(_generation_path(index_root, g))
    return doomed


def rebuild_due(
    index_root: str,
    spark: SparkSession | None = None,
    max_epochs: int = 64,
    max_cell_skew: float = 4.0,
) -> bool:
    """The OPTIMIZE scheduling policy: should the published generation
    be rebuilt? True when either maintenance debt is over budget:

    * **epoch count** — every fold-in adds one directory layer per cell;
      past ``max_epochs`` the small-files tax on probes outweighs a
      one-pass compaction (the same trigger logic as parquet OPTIMIZE);
    * **cell skew** (needs ``spark``) — max/mean committed rows per cell;
      a drifted corpus concentrates in few cells, degrading nprobe
      pruning from nprobe/K of the bytes toward all of them. Retraining
      the quantizer (rebuild_ann_index) restores balanced cells.

    Driver-side metadata reads plus, for skew, one K-row aggregate —
    cheap enough to evaluate after every fold-in batch."""
    gen_path = resolve_index(index_root)
    if len(committed_epochs(gen_path)) > max_epochs:
        return True
    if spark is not None:
        counts = [
            r["n"]
            for r in read_committed_index(spark, gen_path)
            .groupBy("cell")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        ]
        if counts:
            mean = sum(counts) / len(counts)
            if mean > 0 and max(counts) / mean > max_cell_skew:
                return True
    return False


def compact_generation(spark: SparkSession, index_root: str) -> int:
    """The CHEAP half of OPTIMIZE: fold the committed epoch history into
    one base epoch in a fresh generation, KEEPING the current quantizer
    (centroids copied verbatim, so every row keeps its cell and codes —
    the pass is a pure re-layout, no assignment or encoding math).
    Use when rebuild_due fires on epoch-count debt but cell balance is
    still fine; rebuild_ann_index is the expensive retrain for skew.
    Same isolation as rebuild: immutable new directory, one atomic
    pointer rename, crashed attempts are unpublished debris."""
    gen_path = resolve_index(index_root)
    return _publish_base_generation(
        index_root,
        read_committed_index(spark, gen_path),
        load_centroids(gen_path),
    )
