"""Status-store aggregation and the tracing-overhead reading, on a small
sf0.001 traced run (local[2])."""

from __future__ import annotations

import os

import pandas as pd
import pytest

import fixtures
from compare import mismatch
from layers import count_exchanges, group_totals, has_python
from stats import median
from workloads import (
    LAYER_METRICS,
    MIN_TIMED_PASSES,
    OVERHEAD_ORDER,
    WARMUP_PASSES,
    Run,
    _traced_call,
    oracle_frames,
    run_mix,
)


@pytest.fixture(scope="module")
def sf_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("sf0.001")
    fixtures.write_tables(str(d), 0.001, seed=5)
    return str(d)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from streaming_data_ingestion_spark.session import get_spark

    local = str(tmp_path_factory.mktemp("spark-local"))
    s = get_spark(
        app_name="perfbench-tests", master="local[2]", shuffle_partitions=4,
        extra_conf={"spark.local.dir": local},
    )
    yield s
    s.stop()


@pytest.fixture(scope="module")
def specs():
    from streaming_data_ingestion_spark.registry import all_queries

    return all_queries()


def test_fixtures_repeat_for_a_seed(tmp_path):
    a, b = fixtures.make_tables(0.001, 9), fixtures.make_tables(0.001, 9)
    assert all(a[t].equals(b[t]) for t in a)
    assert not fixtures.make_tables(0.001, 10)["lineitem"].equals(a["lineitem"])


def test_backlog_files_enter_in_a_fixed_order(tmp_path):
    counts = fixtures.write_backlog(str(tmp_path), 0.001, seed=4, n_files=3, lines_per_file=50)
    assert counts["users_valid"] + counts["users_malformed"] == 150
    for stream in ("events", "documents", "users"):
        d = tmp_path / stream
        mtimes = [(d / f).stat().st_mtime for f in sorted(os.listdir(d))]
        # the file source orders by modification time: no ties
        assert len(mtimes) == 3 and mtimes == sorted(set(mtimes))


def test_group_totals_sum_the_stages(spark, specs, sf_dir):
    run = Run(spark, specs, sf_dir, seed=1, seconds=0, trace=True)
    _traced_call(run, "q_agg_group", "cold")
    first = _traced_call(run, "q_agg_group", "a")
    again = _traced_call(run, "q_agg_group", "b")
    tot = first["stages"]
    assert tot.jobs >= 1 and tot.stages >= 1 and tot.tasks >= tot.stages
    assert tot.run_ms > 0 and tot.cpu_ns > 0 and tot.input_bytes > 0
    # Q1 aggregates through one shuffle
    assert first["exchanges"] >= 1 and tot.shuffle_write_bytes > 0
    assert not first["python"]
    # warm repeats of one key schedule the same work
    assert (again["stages"].jobs, again["stages"].stages, again["stages"].tasks) == (
        tot.jobs, tot.stages, tot.tasks,
    )
    assert group_totals(spark.sparkContext, "perfbench-no-such-group").jobs == 0


def test_memory_reading(spark):
    from worker import _memory_mb

    mem = _memory_mb(spark)
    assert set(mem) == {"jvm_live", "python_peak", "jvm_hwm"}
    assert 0 < mem["jvm_live"] < mem["jvm_hwm"] and mem["python_peak"] > 0


def test_python_nodes_are_seen(spark, specs, sf_dir):
    run = Run(spark, specs, sf_dir, seed=1, seconds=0, trace=True)
    assert _traced_call(run, "q_udf_pandas", "py")["python"]


def test_plan_text_parsing():
    plan = (
        "AdaptiveSparkPlan isFinalPlan=false\n"
        "+- HashAggregate(keys=[a#1])\n"
        "   +- Exchange hashpartitioning(a#1, 4)\n"
        "      +- ArrowEvalPython [f(b#2)]\n"
        "         +- BroadcastHashJoin\n"
        "            :- Scan parquet\n"
        "            +- BroadcastExchange HashedRelationBroadcastMode\n"
    )
    assert count_exchanges(plan) == 2
    assert has_python(plan)
    assert not has_python("HashAggregate\n+- Scan parquet\n")


def test_traced_call_times_the_tracing_work(spark, specs, sf_dir):
    run = Run(spark, specs, sf_dir, seed=1, seconds=0, trace=True)
    c = _traced_call(run, "q_win_frame", "wall")
    # wall time also covers the group set-up, the listener-bus drain and
    # the status-store reads
    assert c["wall_s"] > c["build_s"] + c["plan_s"] + c["exec_s"]


def test_traced_mix_reports_layers_and_overhead(spark, specs, sf_dir):
    keys = ("q_agg_group", "q_win_frame")
    oracles = oracle_frames(sf_dir, {k: specs[k] for k in keys})
    run = Run(spark, specs, sf_dir, seed=3, seconds=0, trace=True)
    res = run_mix(run, keys, oracles)
    assert res["failed"] == 0, res["failures"]
    assert set(res["layers"]) == {n for n, _ in LAYER_METRICS}
    d = res["detail"]
    assert len(d["passes_s"]) == MIN_TIMED_PASSES
    assert len(d["traced_passes_s"]) == OVERHEAD_ORDER.count("T")
    assert len(d["untraced_passes_s"]) == OVERHEAD_ORDER.count("U")
    assert res["layers"]["trace.overhead_s"] == pytest.approx(
        median(d["traced_passes_s"]) - median(d["untraced_passes_s"])
    )
    assert d["counts_repeat"]
    assert res["layers"]["dispatch.jobs"] >= 2
    # a cold call and an oracle check for each key, then one call per key
    # in every untraced pass (warm-up, timed, and those beside the traced)
    untraced = WARMUP_PASSES + len(d["passes_s"]) + len(d["untraced_passes_s"])
    assert res["attempted"] == 2 + 2 + 2 * untraced
    assert set(d["key_median_s"]) == set(keys)
    assert d["tail"]["keys"] == 2


def test_oracle_compare_is_bit_exact():
    a = pd.DataFrame({"x": [1.0, 0.1 + 0.2], "k": [1, 2]})
    assert mismatch(a, a.iloc[::-1].reset_index(drop=True)) is None
    b = pd.DataFrame({"x": [1.0, 0.3], "k": [1, 2]})
    assert "x" in mismatch(a, b)
    assert "rows" in mismatch(a, a.iloc[:1])
