"""Exactly-once foreachBatch sinks: the one home of the epoch protocol.

Structured Streaming gets end-to-end exactly-once from two things: a
replayable source, and a sink that is idempotent on the epoch
(Armbrust et al., SIGMOD 2018). The checkpoint gives the first. This
module gives the second, for every foreachBatch sink in the package:

- :func:`start` — the one way a maintainer starts its stream
  (checkpointed, ``availableNow``).
- :func:`overwrite_partitions` — the one dynamic partition overwrite.
- :func:`merge_additive` — read-merge-overwrite for additive
  aggregates. Every stored row carries a ``last_epoch`` stamp; a
  replayed epoch skips the partition tuples already stamped with its
  own marker.
- :func:`commit_epoch` — the one append-only epoch write. The epoch
  lands in its own ``__epoch=<namespace>-<epoch>`` partition, then a
  commit marker is dropped; a replay of a committed epoch is a no-op,
  and a replay of an uncommitted one overwrites its own partial
  partition. Readers bound ``__epoch`` with :func:`committed`.
- :func:`read_if_exists` — the one "missing table" read: None only for
  a path that does not exist, every other read error propagates.

Why two disciplines and not one: a read-merge-overwrite rewrites rows
that earlier epochs already merged. A commit marker written after that
overwrite could be lost to a crash, and the replay would then add the
delta a second time. The per-partition stamp lands in the same files as
the merged rows, so it cannot be lost separately. An append-only epoch
touches no earlier rows, so a marker after the write is enough.

One namespace rule for both: foreachBatch epoch ids restart at 0 for
every new checkpoint, so stamps (``"<namespace>:<epoch>"``) and tokens
(``"<namespace>-<epoch>"``) carry a namespace, which is the running
query's id. Spark sets the local property ``sql.streaming.queryId`` on
the thread that runs the batch; it holds the id recorded in the
checkpoint's ``metadata`` file, stable across restarts of one
checkpoint and fresh for a new one, so two checkpoints never share a
namespace and a fresh checkpoint never touches an earlier run's
epochs. An explicit ``run_ns`` always wins (replays driven by hand).
"""

from __future__ import annotations

import os
import threading
from collections.abc import Callable

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

_STAMP_COL = "last_epoch"
_COMMITS_DIR = "_commits"  # leading "_" => invisible to parquet readers
_COMMIT_MINT_LOCK = threading.Lock()  # serializes sequence minting
EPOCH_COL = "__epoch"  # append-only epochs land in partitions of this column


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


def read_if_exists(spark: SparkSession, path: str) -> DataFrame | None:
    """``spark.read.parquet(path)``, or None only when ``path`` does not
    exist yet. Any OTHER read failure propagates — treating a transient
    listing error as "no table" would make a merge overwrite history
    with one batch's delta, or a dedup re-emit the whole corpus."""
    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        if e.getCondition() == "PATH_NOT_FOUND":
            return None
        raise


def _namespace(spark: SparkSession, run_ns: str | None) -> str | None:
    """``run_ns`` when given, else the running query's id; None for a
    direct call outside any stream."""
    if run_ns is not None:
        return run_ns
    return spark.sparkContext.getLocalProperty("sql.streaming.queryId")


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
    ns = _namespace(spark, run_ns)
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
        existing = read_if_exists(spark, table_path)
        if existing is not None:
            existing = existing.filter(_part_member(part_cols, touched))
            existing.persist()
            applied = {
                tuple(r[c] for c in part_cols)
                for r in existing.filter(F.col(_STAMP_COL) == marker)
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
                delta_m.unionByName(existing.filter(member).drop(_STAMP_COL))
                .groupBy(*key_cols)
                .agg(*[F.sum(c).alias(c) for c in sum_cols])
            )
        else:
            merged = delta_m
        stamped = merged.withColumn(_STAMP_COL, F.lit(marker))
        overwrite_partitions(stamped, table_path, *part_cols)
    finally:
        if existing is not None:
            existing.unpersist()
        delta.unpersist()


# --------------------------------------------------------------------------
# Append-only epochs behind a commit log: ``<path>/_commits/<seq>.<token>``.
# --------------------------------------------------------------------------


def _epoch_token(run_ns: str, epoch_id: int) -> str:
    # a trailing '-' would make ns 'x-' epoch 5 parse as ns 'x' epoch
    # '-5' in per-namespace readouts; '/' or NUL would break the marker
    # filename; empty would collapse into the bare epoch number
    if not run_ns or run_ns.endswith("-") or "/" in run_ns or "\x00" in run_ns:
        raise ValueError(f"invalid run namespace: {run_ns!r}")
    return f"{run_ns}-{int(epoch_id)}"


def commit_epoch(
    df: DataFrame,
    path: str,
    epoch_id: int,
    *part_cols: str,
    run_ns: str | None = None,
    write: Callable[[DataFrame, str], None] | None = None,
) -> None:
    """Land ``df`` as one append-only epoch of the table at ``path``,
    exactly once.

    The epoch's token is ``<namespace>-<epoch>``, the namespace being
    ``run_ns`` when given, else the running query's id (``"default"``
    for a direct call outside any stream). A token already in the commit
    log returns without writing: the rows are in place, and rewriting
    them would swap file names under a reader scanning them. Otherwise
    the rows, tagged ``__epoch=<token>``, replace that partition (under
    ``part_cols``) — so a replay heals its own crashed attempt and never
    touches another epoch, nor another checkpoint's — and the marker is
    dropped after the write returns.

    ``write(rows, token)`` replaces the default write. An epoch that
    lands more than one table does all its writes there, so its one
    marker follows its last write."""
    ns = _namespace(df.sparkSession, run_ns)
    ns = "default" if ns is None else ns
    token = _epoch_token(ns, epoch_id)
    if any(tok == token for _, tok in committed_epochs(path)):
        return
    rows = df.withColumn(EPOCH_COL, F.lit(token))
    if write is None:
        overwrite_partitions(rows, path, *part_cols, EPOCH_COL)
    else:
        write(rows, token)
    mark_epoch_committed(path, epoch_id, ns)


def committed(path: str, as_of_seq: int | None = None) -> Column:
    """The committed-epoch predicate: ``__epoch`` IN the tokens of
    ``path``'s commit log (those with commit sequence ≤ ``as_of_seq``
    when given — time travel, since committed epochs are immutable).
    ``__epoch`` is a partition column, so the bound is a PartitionFilter:
    an in-flight or crashed epoch's directories are pruned unread. The
    list length is the epoch count, which compaction keeps bounded."""
    tokens = [
        tok
        for seq, tok in committed_epochs(path)
        if as_of_seq is None or seq <= as_of_seq
    ]
    return F.col(EPOCH_COL).isin(tokens) if tokens else F.lit(False)


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
