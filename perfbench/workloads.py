"""The benchmark's workloads, driven through the program's public functions.

``analytic`` runs registry keys (``QuerySpec.fn``) and forces each result
through a ``noop`` sink. ``ingest`` drains a seeded backlog
through the ``streaming/*`` maintainers and ``ingest.dlq_writer``. One
client thread issues every call and waits for it (a closed loop).

Each workload returns a dict with ``metrics`` (end to end), ``layers``
(per layer, filled only when traced), ``attempted``, ``failed`` and
``failures`` (reasons).
"""

from __future__ import annotations

import glob
import json
import os
import pickle
import random
import threading
import time
from collections.abc import Callable
from dataclasses import dataclass

from compare import mismatch
from stats import median, tail_percentile
from layers import (
    StageTotals,
    count_exchanges,
    drain_listener_bus,
    group_totals,
    has_python,
)

ANALYTIC_KEYS = (
    "q_agg_group",       # scan + filter + hash aggregate (TPC-H Q1)
    "q_join_multi",      # 5-table join chain
    "q_win_frame",       # running window frames
    "q_dedup_clusters",  # driver-coordinated connected-components rounds
    "q_ngrams",          # explode-heavy n-gram counts
    "q_sim_ivf",         # IVF coarse quantize + probe
    "q_udf_pandas",      # Arrow pandas UDF: Python workers
    "q_tpch_q18",        # shuffle-heavy large-volume customers
)
# untimed passes between the cold pass and the timed ones (the JVM is
# still compiling hot paths: the first warm pass runs 15-25% slower)
WARMUP_PASSES = 1
# passes timed even when --seconds runs out first
MIN_TIMED_PASSES = 2

LAYER_METRICS = (
    ("builder.build_s", "s"),
    ("planner.plan_s", "s"),
    ("planner.exchanges", "count"),
    ("dispatch.jobs", "count"),
    ("dispatch.stages", "count"),
    ("dispatch.tasks", "count"),
    ("dispatch.slot_busy_share", "ratio"),
    ("executor.run_s", "s"),
    ("executor.cpu_s", "s"),
    ("executor.gc_s", "s"),
    ("shuffle.read_bytes", "bytes"),
    ("shuffle.write_bytes", "bytes"),
    ("shuffle.spill_bytes", "bytes"),
    ("python.exec_s", "s"),
    ("artifacts.persisted_rdds", "count"),
    ("artifacts.leaked_paths", "count"),
    ("sink.epochs", "count"),
    ("sink.epoch_s", "s"),
    ("sink.jobs_per_epoch", "ratio"),
    ("sink.output_bytes_per_input_byte", "ratio"),
    ("source.input_rows", "rows"),
    ("source.dlq_rows", "rows"),
    ("trace.overhead_s", "s"),
)


class Run:
    """One workload run: the session, the registry and what it counts."""

    def __init__(self, spark, specs, fixture_dir: str, seed: int, seconds: float, trace: bool):
        self.spark = spark
        self.sc = spark.sparkContext
        self.specs = specs
        self.fixture_dir = fixture_dir
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.cores = self.sc.defaultParallelism
        self.attempted = 0
        self.failures: list[str] = []
        self._lock = threading.Lock()  # checks may run on several threads
        self.phases: dict[str, float] = {}
        self._mark = time.perf_counter()

    def phase(self, name: str) -> None:
        """Close the current phase under ``name`` (wall seconds, for the record)."""
        now = time.perf_counter()
        self.phases[name] = now - self._mark
        self._mark = now

    def attempt(self, what: str, fn):
        """Run one operation; an exception counts as a failure."""
        try:
            value = fn()
        except Exception as e:  # noqa: BLE001 - every failure is counted and reported
            self.check(what, f"{type(e).__name__}: {str(e)[:300]}")
            return None
        self.check(what, None)
        return value

    def check(self, what: str, reason: str | None) -> None:
        """Count one operation or correctness check; a reason is a failure."""
        with self._lock:
            self.attempted += 1
            if reason is not None:
                self.failures.append(f"{what}: {reason}")

    def result(self, metrics: dict, layers: dict) -> dict:
        return {
            "metrics": metrics,
            "layers": layers,
            "attempted": self.attempted,
            "failed": len(self.failures),
            "failures": self.failures,
            "phases": self.phases,
        }


def _noop(df) -> bool:
    """Compute ``df`` in full without collecting it; True once done."""
    df.write.format("noop").mode("overwrite").save()
    return True


def _fixture_rows(fixture_dir: str) -> int:
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(p).metadata.num_rows
        for p in glob.glob(os.path.join(fixture_dir, "*.parquet"))
    )


# --------------------------------------------------------------------------
# analytic: a mix of registry keys
# --------------------------------------------------------------------------


def oracle_frames(fixture_dir: str, specs: dict) -> dict:
    """Every spec's DuckDB oracle result over the fixture files, or the
    text of the exception it raised."""
    import duckdb

    from streaming_data_ingestion_spark.tables import TABLES

    out = {}
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{fixture_dir}/{t}.parquet')"
            )
        for k, spec in specs.items():
            if spec.oracle is None:
                continue
            try:
                out[k] = con.execute(spec.oracle).df()
            except duckdb.Error as e:
                out[k] = f"oracle raised {e!r}"
    finally:
        con.close()
    return out


def _timed_call(run: Run, key: str) -> float | None:
    spec = run.specs[key]
    t = time.perf_counter()
    done = run.attempt(key, lambda: _noop(spec.fn(run.spark, run.fixture_dir)))
    return time.perf_counter() - t if done else None


def _timed_pass(run: Run, keys, rng: random.Random, calls: dict | None = None) -> float:
    """One untraced pass over ``keys`` in a seeded order; its wall seconds.
    Appends each call's time to ``calls[key]`` when ``calls`` is given."""
    t = time.perf_counter()
    for k in rng.sample(keys, len(keys)):
        dt = _timed_call(run, k)
        if dt is not None and calls is not None:
            calls[k].append(dt)
    return time.perf_counter() - t


def _traced_call(run: Run, key: str, tag: str) -> dict:
    """One call under its own job group: builder, planner and execution
    timed apart, then the group's stage totals from the status store.
    ``wall_s`` covers all of it, the tracing work included."""
    spec = run.specs[key]
    group = f"perfbench-{tag}-{key}"
    t0 = time.perf_counter()
    run.sc.setJobGroup(group, key)
    try:
        t1 = time.perf_counter()
        df = spec.fn(run.spark, run.fixture_dir)
        t2 = time.perf_counter()
        plan = df._jdf.queryExecution().executedPlan().toString()
        t3 = time.perf_counter()
        _noop(df)
        t4 = time.perf_counter()
    finally:
        run.sc.setLocalProperty("spark.jobGroup.id", None)
        run.sc.setLocalProperty("spark.job.description", None)
    drain_listener_bus(run.sc)
    stages = group_totals(run.sc, group)
    return {
        "build_s": t2 - t1,
        "plan_s": t3 - t2,
        "exec_s": t4 - t3,
        "wall_s": time.perf_counter() - t0,
        "exchanges": count_exchanges(plan),
        "python": has_python(plan),
        "stages": stages,
    }


def _stage_layers(tot: StageTotals, wall_s: float, cores: int) -> dict:
    """The dispatch, executor and shuffle layers of some jobs that ran
    within ``wall_s`` seconds of wall time."""
    return {
        "dispatch.jobs": tot.jobs,
        "dispatch.stages": tot.stages,
        "dispatch.tasks": tot.tasks,
        "dispatch.slot_busy_share": tot.run_ms / 1000 / (wall_s * cores),
        "executor.run_s": tot.run_ms / 1000,
        "executor.cpu_s": tot.cpu_ns / 1e9,
        "executor.gc_s": tot.gc_ms / 1000,
        "shuffle.read_bytes": tot.shuffle_read_bytes,
        "shuffle.write_bytes": tot.shuffle_write_bytes,
        "shuffle.spill_bytes": tot.spill_bytes,
    }


# untraced (U) and traced (T) passes after the timed phase; this order
# keeps a JVM that is still warming from favouring either side
OVERHEAD_ORDER = "UTTU"


def _mix_layers(run: Run, keys, rng: random.Random) -> tuple[dict, dict]:
    """Per-layer totals of one pass (times: median over the traced passes;
    counts: the first traced pass, as they repeat exactly), and the
    record of the traced and untraced pass times behind
    ``trace.overhead_s``."""
    untraced, traced = [], []
    for kind in OVERHEAD_ORDER:
        if kind == "U":
            untraced.append(_timed_pass(run, keys, rng))
            continue
        t = time.perf_counter()
        calls = [_traced_call(run, k, str(len(traced))) for k in rng.sample(keys, len(keys))]
        traced.append((time.perf_counter() - t, calls))
    per_pass = []
    for _, calls in traced:
        tot = StageTotals()
        for c in calls:
            tot.add(c["stages"])
        per_pass.append(
            {
                "builder.build_s": sum(c["build_s"] for c in calls),
                "planner.plan_s": sum(c["plan_s"] for c in calls),
                "planner.exchanges": sum(c["exchanges"] for c in calls),
                "python.exec_s": sum(c["exec_s"] for c in calls if c["python"]),
                **_stage_layers(tot, sum(c["exec_s"] for c in calls), run.cores),
            }
        )
    layers = {name: 0 for name, _ in LAYER_METRICS}
    for k in per_pass[0]:
        values = [p[k] for p in per_pass]
        layers[k] = values[0] if isinstance(values[0], int) else median(values)
    traced_s = [wall for wall, _ in traced]
    layers["trace.overhead_s"] = median(traced_s) - median(untraced)
    layers["artifacts.persisted_rdds"] = run.sc._jsc.getPersistentRDDs().size()
    detail = {
        "traced_passes_s": traced_s,
        "untraced_passes_s": untraced,
        "counts_repeat": all(
            p[k] == per_pass[0][k] for p in per_pass for k in p if isinstance(p[k], int)
        ),
    }
    return layers, detail


def mix_latency(calls: dict[str, list[float]]) -> tuple[float, dict]:
    """``(latency_p50_s, tail record)`` of a mix's timed calls, by key.

    Analytic keys differ in cost by 10x, so a fixed rank over all calls
    lands on whichever key borders it and flips between runs. Both are
    therefore taken over per-key medians: the median key, and the slowest
    key as the tail."""
    key_median = {k: median(v) for k, v in calls.items() if v}
    slowest = max(key_median, key=key_median.get)
    tail = {"key": slowest, "value": key_median[slowest], "keys": len(key_median)}
    return median(key_median.values()), tail


def run_mix(run: Run, keys, oracles: dict) -> dict:
    """Cold pass (each key collected, then checked against its oracle),
    WARMUP_PASSES untimed passes, then timed passes for ``run.seconds``."""
    rng = random.Random(run.seed)
    t0 = time.perf_counter()
    got = {
        k: run.attempt(k, lambda k=k: run.specs[k].fn(run.spark, run.fixture_dir).toPandas())
        for k in rng.sample(keys, len(keys))
    }
    cold_s = time.perf_counter() - t0
    run.phase("cold")
    for k, want in oracles.items():
        if got[k] is not None:
            run.check(f"{k} vs oracle", want if isinstance(want, str) else mismatch(got[k], want))
    run.phase("check")
    for _ in range(WARMUP_PASSES):
        _timed_pass(run, keys, rng)
    run.phase("warmup")

    passes, calls = [], {k: [] for k in keys}
    deadline = time.perf_counter() + run.seconds
    while len(passes) < MIN_TIMED_PASSES or time.perf_counter() < deadline:
        passes.append(_timed_pass(run, keys, rng, calls))
    run.phase("timed")
    pass_s = median(passes)
    p50, tail = mix_latency(calls)
    metrics = {
        "setup_s": None,  # filled by the worker
        "cold_s": cold_s,
        "pass_s": pass_s,
        "latency_p50_s": p50,
        "latency_tail_s": tail["value"],
        "rows_s": _fixture_rows(run.fixture_dir) / pass_s,
        "driver_mem_mb": None,  # filled by the worker
    }
    detail = {
        "passes_s": passes,
        "key_median_s": {k: median(v) for k, v in calls.items() if v},
        "tail": tail,
    }
    layers = {}
    if run.trace:
        layers, traced = _mix_layers(run, keys, rng)
        detail.update(traced)
        run.phase("traced")
    out = run.result(metrics, layers)
    out["detail"] = detail
    return out


def _load_oracles(inputs: str) -> dict:
    # written by run.py before this process started
    with open(os.path.join(inputs, "oracles.pkl"), "rb") as fh:
        return pickle.load(fh)


def run_analytic(run: Run, inputs: str) -> dict:
    return run_mix(run, ANALYTIC_KEYS, _load_oracles(inputs))


# --------------------------------------------------------------------------
# ingest: drain a backlog through the epoch-commit sinks
# --------------------------------------------------------------------------

_H_LO, _H_HI = 0.0, 512.0


def _final_epoch(checkpoint: str) -> tuple[int, list[str]]:
    """The last committed epoch and the files the source gave it, read
    from the checkpoint's commit and source logs."""
    commits = [int(f) for f in os.listdir(os.path.join(checkpoint, "commits")) if f.isdigit()]
    epoch = max(commits)
    with open(os.path.join(checkpoint, "sources", "0", str(epoch))) as fh:
        lines = fh.read().splitlines()[1:]  # first line is the log version
    return epoch, [json.loads(line)["path"] for line in lines if line.strip()]


def _query_id(checkpoint: str) -> str:
    with open(os.path.join(checkpoint, "metadata")) as fh:
        return json.loads(fh.readline())["id"]


def _rows(df) -> list:
    return sorted(tuple(r) for r in df.collect())


@dataclass
class _Sink:
    """One maintained stream: how to start it, the writer that re-delivers
    an epoch, how to read an epoch's files, the batch twin its stored table
    must equal (None when it has none), the columns a re-delivery may
    legitimately rewrite, and the tables under ``out/`` it writes."""

    name: str
    start: Callable
    writer: Callable
    read_files: Callable
    batch_ref: Callable | None
    volatile: tuple[str, ...] = ()
    tables: tuple[str, ...] = ()

    def __post_init__(self):
        self.tables = self.tables or (self.name,)


def _ingest_sinks(spark, backlog: str, work: str) -> list[_Sink]:
    from pyspark.sql import functions as F

    from streaming_data_ingestion_spark.queries.sketches import cms_grid_partial
    from streaming_data_ingestion_spark.streaming.cms_stream import maintain_cms_grid, merge_cms_grid
    from streaming_data_ingestion_spark.streaming.hist_stream import (
        hist_partial,
        maintain_value_hist,
        merge_value_hist,
    )
    from streaming_data_ingestion_spark.streaming.ingest import dlq_writer, split_users_with_raw
    from streaming_data_ingestion_spark.streaming.mv import maintain_daily_counts, merge_daily_counts
    from streaming_data_ingestion_spark.tables import normalize_event_time

    def src(n):
        return os.path.join(backlog, n)

    def out(n):
        return os.path.join(work, "out", n)

    def ck(n):
        return os.path.join(work, "ck", n)

    ev_schema = spark.read.parquet(src("events")).schema
    doc_schema = spark.read.parquet(src("documents")).schema

    def stream():
        return spark.readStream.option("maxFilesPerTrigger", 1)

    def read_events(*paths):
        return normalize_event_time(spark.read.schema(ev_schema).parquet(*paths))

    def read_docs(*paths):
        return spark.read.schema(doc_schema).parquet(*paths)

    def events_stream():
        return normalize_event_time(stream().schema(ev_schema).parquet(src("events")))

    return [
        _Sink(
            "hist",
            lambda: maintain_value_hist(events_stream(), out("hist"), ck("hist"), "value", _H_LO, _H_HI),
            lambda ns: merge_value_hist(out("hist"), "value", _H_LO, _H_HI, run_ns=ns),
            read_events,
            lambda: hist_partial(read_events(src("events")), "value", _H_LO, _H_HI),
        ),
        _Sink(
            "daily",
            lambda: maintain_daily_counts(events_stream(), out("daily"), ck("daily")),
            lambda ns: merge_daily_counts(out("daily"), run_ns=ns),
            read_events,
            lambda: read_events(src("events"))
            .groupBy(F.col("ts").cast("date").alias("day"), "event_type")
            .agg(F.count(F.lit(1)).alias("n")),
        ),
        _Sink(
            "cms",
            lambda: maintain_cms_grid(
                stream().schema(doc_schema).parquet(src("documents")), out("cms"), ck("cms")
            ),
            lambda ns: merge_cms_grid(out("cms"), run_ns=ns),
            read_docs,
            lambda: cms_grid_partial(read_docs(src("documents"))),
        ),
        _Sink(
            "users",
            lambda: split_users_with_raw(stream().text(src("users")))
            .writeStream.foreachBatch(dlq_writer(out("users"), out("dlq")))
            .option("checkpointLocation", ck("users"))
            .trigger(availableNow=True)
            .start(),
            lambda _ns: dlq_writer(out("users"), out("dlq")),
            lambda *paths: split_users_with_raw(spark.read.text(*paths)),
            None,
            # user_id is a fresh uuid() on every write, by design
            volatile=("user_id",),
            tables=("users", "dlq"),
        ),
    ]


def _snapshot(spark, work: str, sink: _Sink) -> list:
    """Row count and order-insensitive content checksum of each table."""
    from pyspark.sql import functions as F

    out = []
    for t in sink.tables:
        df = spark.read.parquet(os.path.join(work, "out", t)).drop(*sink.volatile)
        digest = F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)"))
        out.append(tuple(df.select(F.count(F.lit(1)), digest).first()))
    return out


def _check_sink(run: Run, s: _Sink, work: str, replay: bool) -> None:
    spark = run.spark
    if s.batch_ref is not None:
        ref = s.batch_ref()
        got = _rows(spark.read.parquet(os.path.join(work, "out", s.name)).select(*ref.columns))
        run.check(f"{s.name} equals batch", None if got == _rows(ref) else "stored table differs")
    if not replay:
        return
    checkpoint = os.path.join(work, "ck", s.name)
    epoch, files = _final_epoch(checkpoint)
    before = _snapshot(spark, work, s)
    writer = s.writer(_query_id(checkpoint))
    run.attempt(f"{s.name} replay", lambda: writer(s.read_files(*files), epoch))
    changed = _snapshot(spark, work, s) != before
    run.check(f"{s.name} replay of epoch {epoch}", "table changed" if changed else None)


def _check_ingest(run: Run, sinks, work: str, expected: dict, replay: set) -> tuple[int, int]:
    """After the drain: users + DLQ rows equal the generated lines, each
    stored table equals its one-shot batch twin, and re-delivering the
    final epoch through each writer changes no sink table. The sinks are
    checked side by side (nothing here is timed). Returns the (users, dlq)
    row counts."""
    from concurrent.futures import ThreadPoolExecutor

    spark = run.spark
    users = spark.read.parquet(os.path.join(work, "out", "users")).count()
    dlq = spark.read.parquet(os.path.join(work, "out", "dlq")).count()
    want = (expected["users_valid"], expected["users_malformed"])
    run.check(
        "users + dlq rows",
        None if (users, dlq) == want else f"users={users} dlq={dlq}, generated {want}",
    )
    with ThreadPoolExecutor(max_workers=len(sinks)) as pool:
        futures = [pool.submit(_check_sink, run, s, work, s.name in replay) for s in sinks]
        for s, f in zip(sinks, futures):
            run.attempt(f"{s.name} checks", f.result)
    return users, dlq


def run_ingest(run: Run, backlog: str) -> dict:
    from streaming_data_ingestion_spark.streaming.metrics import QueryProgressCollector

    spark = run.spark
    work = os.path.join(os.path.dirname(backlog.rstrip("/")), "sinks")
    with open(os.path.join(backlog, "counts.json")) as fh:
        expected = json.load(fh)
    sinks = _ingest_sinks(spark, backlog, work)

    # every stream starts at once and drains beside the others, as the
    # maintained views of one ingest application do
    collector = QueryProgressCollector.attach(spark)
    started, build_s = [], 0.0
    t0 = time.perf_counter()
    for s in sinks:
        t = time.perf_counter()
        q = run.attempt(f"{s.name} start", s.start)
        build_s += time.perf_counter() - t
        if q is not None:
            started.append((s, q))
    for s, q in started:
        run.attempt(f"{s.name} drain", q.awaitTermination)
    drain_s = time.perf_counter() - t0
    drain_listener_bus(run.sc)
    collector.detach(spark)
    run.phase("drain")

    committed = [p for p in collector.progress if p["num_input_rows"]]
    run.attempted += len(committed)
    durations = [p["duration_ms"] / 1000 for p in committed]
    rows_in = sum(p["num_input_rows"] for p in committed)
    epochs = {s.name: sum(1 for p in q.recentProgress if p.numInputRows) for s, q in started}
    run.check(
        "progress events",
        None if len(committed) == sum(epochs.values()) else f"{len(committed)} heard, {epochs}",
    )

    counts = _check_ingest(run, sinks, work, expected, replay={s.name for s, _ in started})
    run.phase("check")
    tail = tail_percentile(durations)
    metrics = {
        "setup_s": None,
        # each stream's first epoch (batch 0) pays its codegen and sink set-up
        "cold_s": sum(p["duration_ms"] for p in committed if p["batch_id"] == 0) / 1000,
        "pass_s": drain_s,
        "latency_p50_s": median(durations),
        "latency_tail_s": tail["value"],
        "rows_s": rows_in / drain_s,
        "driver_mem_mb": None,
    }
    layers = {}
    if run.trace:
        tot = StageTotals()
        for _, q in started:
            # Structured Streaming runs a query's jobs under its run id
            tot.add(group_totals(run.sc, str(q.runId)))
        layers = {name: 0 for name, _ in LAYER_METRICS}
        layers.update(_stage_layers(tot, drain_s, run.cores))
        layers.update(
            {
                "builder.build_s": build_s,
                "artifacts.persisted_rdds": run.sc._jsc.getPersistentRDDs().size(),
                "sink.epochs": len(committed),
                "sink.epoch_s": sum(durations),
                "sink.jobs_per_epoch": tot.jobs / len(committed),
                "sink.output_bytes_per_input_byte": tot.output_bytes / max(1, tot.input_bytes),
                "source.input_rows": rows_in,
                "source.dlq_rows": counts[1],
                # the status store is read after the drain, so tracing adds nothing to it
                "trace.overhead_s": 0.0,
            }
        )
    result = run.result(metrics, layers)
    result["detail"] = {
        "epochs": epochs,
        "tail": tail,
        "users": counts[0],
        "dlq": counts[1],
    }
    return result


WORKLOADS = {"analytic": run_analytic, "ingest": run_ingest}
