#!/usr/bin/env python
"""Measure heavy-tail keys across a decade of scale.

Runs bench.measure (the one timing loop: cold pass, warm-up, median of
N timed passes, per-key status-store layers) once at the low side of
the decade and once at the high side, in ONE Spark session, and reports
each key's growth ratio of warm medians. A key scaling linearly should
ride ~factor x on factor x data; the artifact flags any ratio past
1.2 x factor (headroom for fixed per-query overheads to wash out).

Usage: python scripts/scale_stress.py [--keys k1,k2|auto] [--decade sf0.1:sf1]
Writes docs/BENCH_SWEEP_<hi>.json. Run EXCLUSIVELY (no concurrent Spark).
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

TOP = 15  # keys picked by --keys auto


def _sf(name: str) -> float:
    return float(re.search(r"sf([0-9.]+)", name).group(1))


def slowest_keys(top: int = TOP, docs: str = os.path.join(HERE, "docs")) -> list[str]:
    """The ``top`` keys with the largest warm medians in the newest
    ``docs/PROFILE_r*.json`` — the heavy tail to stress."""
    profiles = sorted(
        glob.glob(os.path.join(docs, "PROFILE_r*.json")),
        key=lambda p: int(re.search(r"_r(\d+)\.json$", p).group(1)),
    )
    if not profiles:
        return []
    recs = json.load(open(profiles[-1]))["keys"]
    timed = [k for k, r in recs.items() if "warm_s" in r]
    return sorted(timed, key=lambda k: -recs[k]["warm_s"])[:top]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--keys", default="auto")
    ap.add_argument(
        "--decade", default="sf0.1:sf1",
        help="LO:HI pair to compare. Names resolve to /root/testdata "
        "(lo) / .scale (hi); 'sf1:sf10' measures the SECOND decade "
        "(both sides under .scale, hi derived from lo on demand). The "
        "artifact becomes docs/BENCH_SWEEP_<hi>.json",
    )
    args = ap.parse_args()

    import bench
    import make_scale_fixtures

    from streaming_data_ingestion_spark.session import get_spark

    lo, hi = args.decade.split(":")
    if lo == "sf0.1":
        sf01_dir = "/root/testdata/sf0.1"
        sf1_dir = make_scale_fixtures.build()
    else:
        sf01_dir = make_scale_fixtures.build(dest_name=lo)
        sf1_dir = make_scale_fixtures.build(f".scale/{lo}", dest_name=hi)
    factor = round(_sf(hi) / _sf(lo), 6)
    ratio_limit = round(1.2 * factor, 6)

    if args.keys == "auto":
        from streaming_data_ingestion_spark.scale_contract import (
            decade_sweep_skips,
        )

        skips = set(decade_sweep_skips())
        ranked = slowest_keys()
        keys = [k for k in ranked if k not in skips]
        dropped = [k for k in ranked if k in skips]
        if dropped:
            # no silent caps: the label-cell diagnostics are excused
            # (quadratic-by-contract), and the record says so
            print(
                f"contract-skipped (scale_contract.decade_sweep_skips): "
                f"{dropped}",
                flush=True,
            )
    else:
        keys = args.keys.split(",")

    # 10x data + ~50 back-to-back heavy passes in one session needs more
    # than Spark's 1g default local heap (the first full run OOMed the
    # shared driver/executor JVM on key #12)
    spark = get_spark(
        app_name="sdi-scale-stress",
        extra_conf={"spark.driver.memory": "6g"},
    )
    sides = {lo: bench.measure(spark, sf01_dir, keys), hi: bench.measure(spark, sf1_dir, keys)}

    results: dict[str, dict] = {}
    for name in keys:
        row: dict = {}
        for label, recs in sides.items():
            rec = recs[name]
            if "error" in rec:
                row[label] = -1.0
                row[f"{label}_error"] = rec["error"]
                continue
            row[label] = rec["warm_s"]
            if rec["cold_only"]:
                row[f"{label}_note"] = f"cold pass only (over {bench.COLD_ONLY_S:g} s)"
        if row[lo] > 0 and row[hi] > 0:
            row["ratio"] = round(row[hi] / row[lo], 2)
        results[name] = row
        print(f"{name}: {row}", flush=True)

    dest = os.path.join(HERE, "docs", f"BENCH_SWEEP_{hi}.json")
    # merge into an existing artifact so a targeted --keys rerun (e.g.
    # after a session crash) fills gaps instead of erasing the record
    merged = dict(results)
    if os.path.exists(dest):
        try:
            prior = json.load(open(dest)).get("queries") or {}
            merged = {**prior, **results}
        except (OSError, json.JSONDecodeError):
            pass
    over = {
        k: v["ratio"]
        for k, v in merged.items()
        if v.get("ratio", 0) > ratio_limit
    }
    payload = {
        "metric": "scale_stress",
        "factor": factor,
        "ratio_limit": ratio_limit,
        "passes": bench.N_PASSES,
        "over_limit": over,
        "queries": merged,
    }
    with open(dest, "w") as fh:
        json.dump(payload, fh, indent=1)
        fh.write("\n")
    print(json.dumps({k: v for k, v in payload.items() if k != "queries"}))
    print(f"wrote {dest}", file=sys.stderr)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
