"""The measured process: sets the program up, runs one workload, and
writes its readings as JSON. ``run.py`` starts it and reports.

Usage (``run.py`` passes these): ``python3 perfbench/worker.py --workload
NAME --seed N --seconds S --trace 0|1 --fixtures DIR --inputs DIR
--local-dir DIR --out FILE --started-at EPOCH_S``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import resource
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _setup(fixture_dir: str, master: str, conf: dict):
    """Session up, registry imported, every fixture table touched."""
    from streaming_data_ingestion_spark.registry import all_queries
    from streaming_data_ingestion_spark.session import get_spark
    from streaming_data_ingestion_spark.tables import TABLES, load

    spark = get_spark(master=master, extra_conf=conf)
    specs = all_queries()
    for t in TABLES:
        load(spark, fixture_dir, t).schema  # noqa: B018 - touching reads the footer
    return spark, specs


def _memory_mb(spark) -> dict:
    """The driver's memory at the end of a run, in MB.

    ``jvm_live``: JVM heap still in use after a full collection, plus
    non-heap in use (metaspace, code cache): what the program keeps, such
    as persisted blocks and broadcasts. ``python_peak``: peak RSS of this
    Python driver. ``jvm_hwm``: peak RSS (VmHWM) of the driver JVM, for
    the record only: with the heap capped, it mostly shows whether the
    collector happened to grow the heap to its cap."""
    gc.collect()  # release py4j proxies, so the JVM objects behind them can go
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    live = mem.getHeapMemoryUsage().getUsed() + mem.getNonHeapMemoryUsage().getUsed()
    hwm_kb = 0
    with open(f"/proc/{spark.sparkContext._gateway.proc.pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                hwm_kb = int(line.split()[1])
    return {
        "jvm_live": live / 2**20,
        "python_peak": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024,
        "jvm_hwm": hwm_kb / 1024,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--fixtures", required=True)
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--local-dir", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--started-at", type=float, required=True)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS, Run

    cores = len(os.sched_getaffinity(0))
    master = f"local[{cores}]"
    conf = {
        "spark.local.dir": args.local_dir,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={args.local_dir} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    # from process start: Python and pyspark imports, JVM launch, session
    spark, specs = _setup(args.fixtures, master, conf)
    setup_s = time.time() - args.started_at

    run = Run(spark, specs, args.fixtures, args.seed, args.seconds, bool(args.trace))
    result = WORKLOADS[args.workload](run, args.inputs)
    result["metrics"]["setup_s"] = setup_s
    mem = _memory_mb(spark)
    result["metrics"]["driver_mem_mb"] = mem["jvm_live"] + mem["python_peak"]
    result["detail"]["memory_mb"] = mem
    import pyspark

    result["env"] = {
        "master": spark.sparkContext.master,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "nproc": cores,
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python_pid": os.getpid(),
    }
    with open(args.out, "w") as fh:
        json.dump(result, fh)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
