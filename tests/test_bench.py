"""bench.py output-format contract.

The round driver records only the final ~2000 characters of bench
output and parses the LAST line as JSON. BENCH_r04.json is permanently
unrecoverable because a single long detail line overflowed that window
and lost its leading keys. These tests pin the emit contract: compact
line last, under the window, totals always present — so a future print
reorder or key rename can't silently regress the recorded artifact.
"""

from __future__ import annotations

import importlib.util
import json
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

spec = importlib.util.spec_from_file_location("bench_for_test", REPO / "bench.py")
bench = importlib.util.module_from_spec(spec)
spec.loader.exec_module(bench)

_REQUIRED = {
    "metric": "headline_query_total_runtime",
    "unit": "sec",
}
_REQUIRED_KEYS = {
    "metric", "value", "unit", "sf",
    "tpch_total", "n_tpch", "extended_total", "n_extended", "queries",
}


def _fake(n: int, prefix: str) -> dict[str, float]:
    return {f"{prefix}_{i:04d}": round(0.1 * (i + 1), 3) for i in range(n)}


def test_compact_line_is_last_parseable_and_complete():
    lines = bench.emit_lines(_fake(30, "q"), _fake(22, "t"), _fake(84, "x"), 0.1)
    compact = json.loads(lines[-1])
    assert _REQUIRED_KEYS <= set(compact)
    for k, v in _REQUIRED.items():
        assert compact[k] == v
    assert compact["value"] == round(sum(_fake(30, "q").values()), 3)
    assert compact["n_tpch"] == 22 and compact["n_extended"] == 84
    assert len(lines[-1]) <= 1900


def test_compact_line_truncates_inside_driver_window():
    # enough headline queries that the full map would overflow: the
    # compact line must drop to top-20 slowest, keep every total, and
    # stay inside the window
    big = _fake(400, "a_very_long_query_name")
    lines = bench.emit_lines(big, _fake(22, "t"), _fake(84, "x"), 0.1)
    compact = json.loads(lines[-1])
    assert len(lines[-1]) <= 1900
    assert _REQUIRED_KEYS <= set(compact)
    assert len(compact["queries"]) == 20
    assert compact["queries_note"].startswith("top-20")
    # top-20 really are the slowest
    assert min(compact["queries"].values()) >= sorted(big.values())[-20]


def test_detail_line_precedes_compact():
    lines = bench.emit_lines(_fake(5, "q"), _fake(2, "t"), _fake(3, "x"), 0.01)
    assert len(lines) == 2
    detail = json.loads(lines[0])
    assert detail["metric"] == "headline_query_total_runtime_detail"
    assert set(detail["queries"]) == set(_fake(5, "q"))


def test_cold_and_parallelism_fields_are_emitted():
    """Round-13 measurement additions (VERDICT r12 items 1+2): per-key
    cold first-execution maps on the detail line, cold_total +
    parallelism + master on the compact line, plus each group's cold
    total there (the driver keeps only the tail of the detail line) —
    and the compact line must still fit the driver's tail window with
    them."""
    q, t, x = _fake(30, "q"), _fake(22, "t"), _fake(150, "x")
    cq = {k: round(v * 2, 3) for k, v in q.items()}
    ct = {k: round(v * 2, 3) for k, v in t.items()}
    cx = {k: round(v * 2, 3) for k, v in x.items()}
    lines = bench.emit_lines(
        q, t, x, 0.1, cold=cq, tpch_cold=ct, ext_cold=cx,
        parallelism=32, master="local[32]",
    )
    detail = json.loads(lines[0])
    assert detail["queries_cold"] == cq
    assert detail["tpch_cold"] == ct
    assert detail["extended_cold"] == cx
    assert detail["parallelism"] == 32
    assert detail["master"] == "local[32]"
    compact = json.loads(lines[-1])
    assert compact["cold_total"] == round(sum(cq.values()), 3)
    assert compact["tpch_cold_total"] == round(sum(ct.values()), 3)
    assert compact["extended_cold_total"] == round(sum(cx.values()), 3)
    assert compact["parallelism"] == 32
    assert compact["master"] == "local[32]"
    # warm medians stay byte-identical to the no-cold call (longitudinal
    # comparability: the cold pass may not perturb the recorded contract)
    base = json.loads(bench.emit_lines(q, t, x, 0.1)[-1])
    assert compact["queries"] == base["queries"]
    assert compact["value"] == base["value"]
    assert len(lines[-1]) <= 1900


def test_bench_sweep_artifact_format_is_pinned():
    """Every per-round sweep artifact (docs/BENCH_SWEEP_r{N}.json,
    written by ``bench.py --keys rest``) must carry the fields the
    longitudinal diffs rely on, with internally consistent counts —
    a format drift would silently break round-over-round comparison."""
    import glob
    import json
    import os

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    artifacts = sorted(glob.glob(os.path.join(here, "docs", "BENCH_SWEEP_r*.json")))
    assert artifacts, "no sweep artifact recorded — run bench.py --keys rest"
    for path in artifacts:
        d = json.load(open(path))
        for field in ("metric", "n", "sf", "total", "threshold", "slow", "queries"):
            assert field in d, f"{path} missing {field}"
        assert d["metric"] == "bench_sweep"
        assert d["n"] == len(d["queries"]), path
        assert set(d["slow"]) <= set(d["queries"]), path
        assert all(v > d["threshold"] for v in d["slow"].values()), path
        assert abs(sum(d["queries"].values()) - d["total"]) < 0.01, path


_RECORD_FIELDS = {
    "cold_s", "warm_s", "cold_only", "build_s", "plan_s", "jobs", "stages",
    "tasks", "run_s", "cpu_s", "gc_s", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "exchanges", "python",
    "compiles", "compile_s",
}


def test_measure_records_every_layer_and_clears_artifacts_first(spark, monkeypatch):
    """The one timing loop at sf0.001 over a plain key and a key that
    reads a stored artifact: a full record per key, the status-store
    counts filled in, and exactly one artifacts.clear() that precedes
    every execution (so the cold pass pays the builds). The warm record
    of a plain key compiles no class: its generated code stays in the
    codegen class cache between passes."""
    from tests.conftest import SF_DIR

    events: list[str] = []
    clear, noop = bench.artifacts.clear, bench._noop

    def spy_clear():
        events.append("clear")
        clear()

    def spy_noop(df):
        events.append("run")
        noop(df)

    monkeypatch.setattr(bench.artifacts, "clear", spy_clear)
    monkeypatch.setattr(bench, "_noop", spy_noop)
    names = ("q_agg_group", "q_hist_serving")
    recs = bench.measure(spark, SF_DIR, names)
    assert list(recs) == list(names)
    for rec in recs.values():
        assert set(rec) == _RECORD_FIELDS
        assert rec["jobs"] >= 1 and rec["tasks"] >= 1
        assert rec["cold_only"] is False
    assert events[0] == "clear" and events.count("clear") == 1
    assert events.count("run") == len(names) * (2 + bench.N_PASSES)
    # counted on the tree string: partial agg -> hash exchange -> final
    # agg -> range exchange (the formatted explain lists each twice)
    assert recs["q_agg_group"]["exchanges"] == 2
    assert recs["q_agg_group"]["compiles"] == 0


def test_scale_stress_auto_pick_ranks_grouped_keys_from_the_profile(tmp_path):
    import sys

    sys.path.insert(0, str(REPO / "scripts"))
    import scale_stress

    recs = {
        "q_dedup_clusters": {"warm_s": 9.0},
        "q_rest_fast": {"warm_s": 0.5},
        "q_failed": {"error": "boom"},
        "q_sim_ivf": {"warm_s": 3.0},
    }
    (tmp_path / "PROFILE_r9.json").write_text(json.dumps({"keys": {"q_old": {"warm_s": 99.0}}}))
    (tmp_path / "PROFILE_r10.json").write_text(json.dumps({"keys": recs}))
    assert "q_dedup_clusters" in bench.HEADLINE
    assert scale_stress.slowest_keys(2, docs=str(tmp_path)) == ["q_dedup_clusters", "q_sim_ivf"]
