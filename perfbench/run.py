#!/usr/bin/env python3
"""Benchmark command: one workload, one seed, one run.

    python3 perfbench/run.py --workload analytic --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. It generates the inputs from the
seed under ``.perfbench/`` (and, for ``analytic``, the DuckDB oracle
results), then starts ``worker.py`` (the measured process),
waits for it and every process it started, counts the stored artifacts
that process left behind, and prints two JSON lines: the full record
(seed, environment stamp, every reading, failures), then the summary
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
summary holds the end-to-end metrics, with ``--trace 1`` the per-layer
ones. Exits 1 when any operation failed or any output was wrong, 2 when
the program is missing or the worker did not finish.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import pickle
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import fixtures  # noqa: E402
from stats import error_rate  # noqa: E402
from workloads import ANALYTIC_KEYS, LAYER_METRICS, WORKLOADS, oracle_frames  # noqa: E402

PACKAGE = "streaming_data_ingestion_spark"
WORK = os.path.join(ROOT, ".perfbench")
WORKER_TIMEOUT_S = 165
END_TO_END = (
    ("setup_s", "s"),
    ("cold_s", "s"),
    ("pass_s", "s"),
    ("latency_p50_s", "s"),
    ("latency_tail_s", "s"),
    ("rows_s", "rows/s"),
    ("driver_mem_mb", "MB"),
)
# fixture scale (lineitem = 6,000,000 x sf)
SCALE = 0.01
# ingest backlog: events/documents scale, files per stream, lines per user file
BACKLOG_SF = 0.1
BACKLOG_FILES = 6
USER_LINES = 5000


def _cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def _loadavg() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def _source_digest() -> str:
    """sha256 over the program's Python sources, for checkouts without git."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, PACKAGE)
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames.sort()
        for f in sorted(filenames):
            if f.endswith(".py"):
                p = os.path.join(dirpath, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def _git_commit() -> str | None:
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    r = subprocess.run(
        ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, check=False
    )
    return r.stdout.strip() or None


def _wait_group(proc: subprocess.Popen, timeout: float) -> int | None:
    """Wait for the worker, then for every process in its group (the JVM
    outlives it briefly); kill what is left. Returns the exit code, None
    on timeout."""
    try:
        code = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        code = None
    deadline = time.time() + (15 if code is not None else 0)
    while True:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            break
        if time.time() >= deadline:
            os.killpg(proc.pid, signal.SIGKILL)
            deadline = time.time() + 30
        time.sleep(0.1)
    if code is None:
        proc.wait()
    return code


def _sweep_leaked(pid: int) -> list[str]:
    """Stored artifacts the worker left under spark-warehouse/ after it
    exited. They are counted, then removed so runs do not pile up."""
    wh = os.path.join(ROOT, "spark-warehouse")
    if not os.path.isdir(wh):
        return []
    leaked = sorted(e for e in os.listdir(wh) if f"_p{pid}" in e)
    for e in leaked:
        shutil.rmtree(os.path.join(wh, e), ignore_errors=True)
    return leaked


def _prepare_inputs(inputs: str, fixture_dir: str, workload: str, seed: int) -> None:
    """Either the ingest backlog or the oracle results of the analytic
    keys. Runs before the worker starts, so nothing it measures overlaps
    this work."""
    if workload == "ingest":
        counts = fixtures.write_backlog(inputs, BACKLOG_SF, seed, BACKLOG_FILES, USER_LINES)
        with open(os.path.join(inputs, "counts.json"), "w") as fh:
            json.dump(counts, fh)
    else:
        sys.path.insert(0, ROOT)
        from streaming_data_ingestion_spark.registry import all_queries

        specs = all_queries()
        frames = oracle_frames(fixture_dir, {k: specs[k] for k in ANALYTIC_KEYS})
        with open(os.path.join(inputs, "oracles.pkl"), "wb") as fh:
            pickle.dump(frames, fh)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE}/ package under {ROOT}", file=sys.stderr)
        return 2

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    local_dir = os.path.join(run_dir, "local")
    os.makedirs(local_dir)
    try:
        fixture_dir = os.path.join(run_dir, f"sf{SCALE}")
        fixtures.write_tables(fixture_dir, SCALE, args.seed)
        inputs = os.path.join(run_dir, "inputs")
        os.makedirs(inputs)
        _prepare_inputs(inputs, fixture_dir, args.workload, args.seed)
        out = os.path.join(run_dir, "result.json")
        log = os.path.join(run_dir, "worker.log")
        env = dict(
            os.environ,
            TMPDIR=local_dir,
            SPARK_LOCAL_DIRS=local_dir,
            # the launcher JVM that spark-submit runs first
            SPARK_LAUNCHER_OPTS=f"-Djava.io.tmpdir={local_dir} -XX:-UsePerfData",
            PYTHONPATH=ROOT,
        )
        cpu0, load0 = _cpu_times(), _loadavg()
        started = time.time()
        with open(log, "w") as log_fh:
            proc = subprocess.Popen(
                [
                    sys.executable, os.path.join(HERE, "worker.py"),
                    "--workload", args.workload, "--seed", str(args.seed),
                    "--seconds", str(args.seconds), "--trace", str(args.trace),
                    "--fixtures", fixture_dir, "--inputs", inputs,
                    "--local-dir", local_dir, "--out", out, "--started-at", repr(started),
                ],
                cwd=ROOT, env=env, stdout=log_fh, stderr=subprocess.STDOUT,
                start_new_session=True,
            )
            code = _wait_group(proc, WORKER_TIMEOUT_S)
        cpu1, load1 = _cpu_times(), _loadavg()
        leaked = _sweep_leaked(proc.pid)
        if code != 0 or not os.path.exists(out):
            with open(log) as fh:
                sys.stderr.write(fh.read()[-4000:])
            print(f"perfbench: worker exit code {code}", file=sys.stderr)
            return 2
        with open(out) as fh:
            res = json.load(fh)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    d = [b - a for a, b in zip(cpu0, cpu1)]
    res["env"].update(
        {
            "git_commit": _git_commit(),
            "source_sha": _source_digest(),
            "steal_pct": 100.0 * d[7] / max(1, sum(d[:8])) if len(d) > 7 else None,
            "loadavg_1m": [load0, load1],
            "wall_s": time.time() - started,
        }
    )
    if args.trace:
        res["layers"]["artifacts.leaked_paths"] = len(leaked)
    metrics = {n: {"value": res["metrics"][n], "unit": u} for n, u in END_TO_END}
    layers = {n: {"value": res["layers"][n], "unit": u} for n, u in LAYER_METRICS} if args.trace else {}
    correct = res["failed"] == 0
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "sf": SCALE,
        "env": res["env"],
        "error_rate": error_rate(res["attempted"], res["failed"]),
        "metrics": metrics,
        "layers": layers,
        "leaked_paths": leaked,
        "failures": res["failures"],
        "phases_s": res["phases"],
        "detail": res["detail"],
    }
    print(json.dumps(record))
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": layers if args.trace else metrics,
            }
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
