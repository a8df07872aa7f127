"""Exactly-once foreachBatch sinks: the one home of the epoch protocol.

Structured Streaming gets end-to-end exactly-once from two things: a
replayable source, and a sink that is idempotent on the epoch
(Armbrust et al., SIGMOD 2018). The checkpoint gives the first. This
module gives the second, for every foreachBatch sink in the package:

- :func:`start` — the one way a maintainer starts its stream
  (checkpointed, ``availableNow``).
- :func:`overwrite_partitions` — the one dynamic partition overwrite.
  An epoch that writes its own partition (``epoch=N``) is replaced
  whole on replay, never appended twice.
- :func:`merge_additive` — read-merge-overwrite for additive
  aggregates. Every stored row carries a ``last_epoch`` stamp; a
  replayed epoch skips the partition tuples already stamped with its
  own marker.
- the commit log (:func:`mark_epoch_committed`,
  :func:`committed_epochs`) — for append-only sinks whose epochs land
  in their own partitions. A marker is dropped only after the epoch's
  write returns; a replay of a committed epoch is a no-op, and readers
  pin the committed set.

Why two disciplines and not one: a read-merge-overwrite rewrites rows
that earlier epochs already merged. A commit marker written after that
overwrite could be lost to a crash, and the replay would then add the
delta a second time. The per-partition stamp lands in the same files as
the merged rows, so it cannot be lost separately. An append-only epoch
touches no earlier rows, so a marker after the write is enough.

Namespaces: foreachBatch epoch ids restart at 0 for every new
checkpoint. Markers are therefore ``"<namespace>:<epoch>"``, and the
namespace defaults to the running query's id. Spark sets the local
property ``sql.streaming.queryId`` on the thread that runs the batch;
it holds the id recorded in the checkpoint's ``metadata`` file, which
is stable across restarts of one checkpoint and fresh for a new one.
An explicit ``run_ns`` always wins (direct callers, replays driven by
hand).
"""

from __future__ import annotations

import os
import threading
from collections.abc import Callable

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

_EPOCH_COL = "last_epoch"
_COMMITS_DIR = "_commits"  # leading "_" => invisible to parquet readers
_COMMIT_MINT_LOCK = threading.Lock()  # serializes sequence minting
_NS_CLAIM_PREFIX = "_ns."  # namespace → owner registration files


def start(
    stream: DataFrame,
    write_batch: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
) -> StreamingQuery:
    """Run ``write_batch`` on every micro-batch of ``stream``,
    checkpointed at ``checkpoint_dir``. ``availableNow`` drains what is
    available and then stops. No output mode is set: every stream here
    is stateless, where append and update are the same."""
    return (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def overwrite_partitions(df: DataFrame, path: str, *cols: str) -> None:
    """Replace exactly the ``cols`` partitions ``df`` holds under
    ``path`` and leave every other partition alone. The dynamic mode
    rides on the write, never on the session conf: inside foreachBatch
    the batch runs on a cloned session whose conf is frozen at query
    start, so a ``spark.conf.set`` there would leave this write in
    static mode and truncate the whole table every epoch."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*cols)
        .parquet(path)
    )


# --------------------------------------------------------------------------
# Read-merge-overwrite with per-partition epoch stamps.
# --------------------------------------------------------------------------


def _part_member(part_cols: list[str], tuples: list[tuple]) -> Column:
    """Null-safe membership predicate over the full partition tuple.

    ``isin`` never matches NULL, which would silently drop an existing
    null-valued partition's counts from the merge while the delta still
    overwrote that partition — so NULL components compare via isNull.
    The predicate is an OR over the touched tuples: a micro-batch
    touches O(days-in-batch × grains) partitions, which stays small by
    construction, so predicate size is bounded regardless of table or
    batch row count."""
    conds: list[Column] = []
    for t in tuples:
        eq: Column | None = None
        for c, v in zip(part_cols, t):
            p = F.col(c).isNull() if v is None else (F.col(c) == F.lit(v))
            eq = p if eq is None else (eq & p)
        assert eq is not None
        conds.append(eq)
    if not conds:
        return F.lit(False)
    out = conds[0]
    for c in conds[1:]:
        out = out | c
    return out


def _read_existing(spark: SparkSession, table_path: str, member: Column):
    """Read the touched slice of the table; None only if the table truly
    does not exist yet. Any OTHER read failure propagates — swallowing a
    transient listing error here would make the merge treat a populated
    table as empty and dynamically overwrite history with one batch's
    delta."""
    try:
        return spark.read.parquet(table_path).filter(member)
    except AnalysisException as e:
        msg = str(e)
        if "PATH_NOT_FOUND" in msg or "Path does not exist" in msg:
            return None
        raise


def merge_additive(
    delta: DataFrame,
    table_path: str,
    key_cols: list[str],
    sum_cols: list[str],
    part_cols: list[str],
    epoch_id: int,
    run_ns: str | None = None,
) -> None:
    """Sum ``delta`` into the parquet table at ``table_path`` (grouped
    by ``key_cols``, partitioned by ``part_cols``), rewriting only the
    touched partitions, idempotently under epoch replay.

    The replay-skip set is keyed on the FULL partition tuple, not one
    column: a crash that landed ``(grain=1h, day=d)`` but not
    ``(grain=1d, day=d)`` must replay the day-grain partition rather
    than see day ``d`` stamped and skip it. The namespace is ``run_ns``
    when given, else the running query's id; a direct call outside any
    stream with no ``run_ns`` stamps the bare epoch number."""
    spark = delta.sparkSession
    ns = run_ns
    if ns is None:
        ns = spark.sparkContext.getLocalProperty("sql.streaming.queryId")
    marker = f"{ns}:{epoch_id}" if ns is not None else str(epoch_id)
    delta.persist()
    existing = None
    try:
        touched = [
            tuple(r[c] for c in part_cols)
            for r in delta.select(*part_cols).distinct().collect()
        ]
        if not touched:
            return
        existing = _read_existing(
            spark, table_path, _part_member(part_cols, touched)
        )
        if existing is not None:
            existing.persist()
            applied = {
                tuple(r[c] for c in part_cols)
                for r in existing.filter(F.col(_EPOCH_COL) == marker)
                .select(*part_cols)
                .distinct()
                .collect()
            }
        else:
            applied = set()
        merge_parts = [t for t in touched if t not in applied]
        if not merge_parts:
            return  # full replay: every touched partition already stamped
        member = _part_member(part_cols, merge_parts)
        delta_m = delta.filter(member)
        if existing is not None:
            merged = (
                delta_m.unionByName(existing.filter(member).drop(_EPOCH_COL))
                .groupBy(*key_cols)
                .agg(*[F.sum(c).alias(c) for c in sum_cols])
            )
        else:
            merged = delta_m
        stamped = merged.withColumn(_EPOCH_COL, F.lit(marker))
        overwrite_partitions(stamped, table_path, *part_cols)
    finally:
        if existing is not None:
            existing.unpersist()
        delta.unpersist()


# --------------------------------------------------------------------------
# Commit log for append-only sinks: ``<path>/_commits/<seq>.<ns>-<epoch>``.
# --------------------------------------------------------------------------


def _epoch_token(run_ns: str, epoch_id: int) -> str:
    # a trailing '-' would make ns 'x-' epoch 5 parse as ns 'x' epoch
    # '-5' in per-namespace readouts; '/' or NUL would break the marker
    # filename; empty would collapse into the bare epoch number
    if not run_ns or run_ns.endswith("-") or "/" in run_ns or "\x00" in run_ns:
        raise ValueError(f"invalid run namespace: {run_ns!r}")
    return f"{run_ns}-{int(epoch_id)}"


def _claim_namespace(path: str, run_ns: str, owner: str) -> None:
    """Register ``owner`` (the stream's checkpoint dir) as the holder of
    ``run_ns`` at ``path``, or raise if a DIFFERENT owner already holds
    it. Without this, a second stream reusing a namespace would find the
    first run's commit markers and silently no-op its own batches — its
    checkpoint would record them as processed while their rows never
    landed (unrecoverable silent data loss). The claim makes namespace
    reuse fail loudly instead."""
    commits = os.path.join(path, _COMMITS_DIR)
    os.makedirs(commits, exist_ok=True)
    claim = os.path.join(commits, _NS_CLAIM_PREFIX + run_ns)
    with _COMMIT_MINT_LOCK:
        if os.path.exists(claim):
            with open(claim) as fh:
                holder = fh.read().strip()
            if holder != owner:
                raise ValueError(
                    f"run namespace {run_ns!r} of index {path!r} is "
                    f"owned by checkpoint {holder!r}; this stream "
                    f"(checkpoint {owner!r}) must use a fresh run_ns — "
                    "epoch ids restart at 0 per checkpoint, so reusing a "
                    "namespace would silently drop this stream's batches"
                )
            return
        tmp = claim + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(owner)
        os.replace(tmp, claim)


def mark_epoch_committed(
    path: str, epoch_id: int, run_ns: str = "default"
) -> int:
    """Drop the epoch's commit marker and return its commit SEQUENCE.
    Called only after the epoch's write has fully returned, so the
    marker's existence implies every file of the epoch is in place.

    The sequence is encoded IN the marker filename
    (``<seq zero-padded>.<token>``), so reading the commit log is one
    directory listing — no per-marker file reads, O(1) round-trips on
    object storage regardless of history length. Minting is serialized
    by a process-level lock: concurrent foreachBatch callbacks of two
    streams committing into the same path (separate driver threads in
    one Spark application — the supported concurrency) cannot mint
    duplicate sequence numbers. Cross-PROCESS concurrent committers
    remain out of contract."""
    with _COMMIT_MINT_LOCK:
        commits = os.path.join(path, _COMMITS_DIR)
        os.makedirs(commits, exist_ok=True)
        token = _epoch_token(run_ns, epoch_id)
        for seq, tok in committed_epochs(path):
            if tok == token:  # completed-epoch replay keeps its seq
                return seq
        seq = last_commit_seq(path) + 1
        marker = os.path.join(commits, f"{seq:012d}.{token}")
        tmp = marker + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(token)
        os.replace(tmp, marker)
        return seq


def committed_epochs(path: str) -> list[tuple[int, str]]:
    """(seq, epoch_token) for every committed epoch, in commit order —
    parsed from marker FILENAMES, one listdir total."""
    commits = os.path.join(path, _COMMITS_DIR)
    try:
        names = os.listdir(commits)
    except OSError:
        return []
    out = []
    for n in names:
        if n.endswith(".tmp") or "." not in n:
            continue
        seq_s, _, token = n.partition(".")
        if seq_s.isdigit() and token:
            out.append((int(seq_s), token))
    return sorted(out)


def last_commit_seq(path: str) -> int:
    """Highest commit sequence; -1 when nothing is committed yet."""
    eps = committed_epochs(path)
    return eps[-1][0] if eps else -1


def last_committed_epoch(path: str, run_ns: str = "default") -> int:
    """Highest committed epoch NUMBER within one run namespace; -1 when
    that namespace has no commits (the per-run progress readout; global
    snapshot order lives in the commit sequence)."""
    prefix = run_ns + "-"
    nums = [
        int(tok[len(prefix):])
        for _, tok in committed_epochs(path)
        if tok.startswith(prefix) and tok[len(prefix):].isdigit()
    ]
    return max(nums, default=-1)
