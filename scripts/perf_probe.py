#!/usr/bin/env python
"""Round-12 optimization probe: per-key timing decomposition + plan capture.

For each named key (or every bench key), measures separately:
  * build_s   — Python builder wall time (DataFrame construction; includes
                any eager driver-coordinated work, e.g. CC rounds)
  * plan_s    — time for explain("formatted") on a freshly built frame
                (Catalyst analysis + optimization + physical planning)
  * exec_s    — median of N noop-sink executions of a prebuilt frame
  * total_s   — median of N (build + noop) spans, i.e. the bench's metric

and (with --plans DIR) writes the formatted plan to DIR/<key>_<suffix>.txt.

Usage:
  python scripts/perf_probe.py --keys q_agg_group,q_dedup_clusters
  python scripts/perf_probe.py --group headline --plans plans/r12 --suffix before
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from streaming_data_ingestion_spark.registry import all_queries
from streaming_data_ingestion_spark.session import get_spark
from streaming_data_ingestion_spark.tables import TABLES, load


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--keys", default="")
    ap.add_argument("--group", default="", choices=("", "headline", "tpch", "extended", "all"))
    ap.add_argument("--plans", default="")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--passes", type=int, default=3)
    ap.add_argument("--no-exec", action="store_true", help="plans + build/plan timing only")
    args = ap.parse_args()

    import bench

    if args.group == "headline":
        keys = list(bench.HEADLINE)
    elif args.group == "tpch":
        keys = list(bench.TPCH)
    elif args.group == "extended":
        keys = list(bench.EXTENDED)
    elif args.group == "all":
        keys = list(bench.HEADLINE) + list(bench.TPCH) + list(bench.EXTENDED)
    else:
        keys = [k for k in args.keys.split(",") if k]
    if not keys:
        ap.error("need --keys or --group")

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="sdi-perf-probe")
    for t in TABLES:
        load(spark, sf_dir, t).limit(1).count()

    specs = all_queries()
    rows = []
    for name in keys:
        spec = specs[name]
        spark.sparkContext.setJobDescription(f"probe:{name}:warmup")
        # warm-up exactly as bench.py does (pays artifact builds etc.)
        df = spec.fn(spark, sf_dir)
        if not args.no_exec:
            _noop(df)

        t0 = time.perf_counter()
        df = spec.fn(spark, sf_dir)
        build_s = time.perf_counter() - t0

        t0 = time.perf_counter()
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        plan_s = time.perf_counter() - t0

        if args.plans:
            os.makedirs(args.plans, exist_ok=True)
            with open(os.path.join(args.plans, f"{name}_{args.suffix}.txt"), "w") as fh:
                fh.write(plan)

        exec_s = total_s = None
        if not args.no_exec:
            ex = []
            for _ in range(args.passes):
                spark.sparkContext.setJobDescription(f"probe:{name}:exec")
                t0 = time.perf_counter()
                _noop(df)
                ex.append(time.perf_counter() - t0)
            exec_s = statistics.median(ex)
            tot = []
            for _ in range(args.passes):
                spark.sparkContext.setJobDescription(f"probe:{name}:total")
                t0 = time.perf_counter()
                _noop(spec.fn(spark, sf_dir))
                tot.append(time.perf_counter() - t0)
            total_s = statistics.median(tot)

        row = {
            "key": name,
            "build_s": round(build_s, 3),
            "plan_s": round(plan_s, 3),
            "exec_s": round(exec_s, 3) if exec_s is not None else None,
            "total_s": round(total_s, 3) if total_s is not None else None,
            "n_exchange": plan.count("Exchange"),
            "n_python": plan.count("EvalPython") + plan.count("MapInPandas") + plan.count("MapInArrow"),
        }
        rows.append(row)
        print(json.dumps(row), flush=True)

    rows.sort(key=lambda r: -(r["total_s"] or r["build_s"] + r["plan_s"]))
    print("\n== slowest first ==")
    for r in rows:
        print(
            f"{r['key']:32s} total={r['total_s']} exec={r['exec_s']} "
            f"build={r['build_s']} plan={r['plan_s']} xch={r['n_exchange']} py={r['n_python']}"
        )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
