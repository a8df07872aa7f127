"""Metric names, the tail-percentile rule and error counting."""

from __future__ import annotations

import json
import math
import os
import re

import pytest

from run import END_TO_END
from stats import error_rate, tail_percentile
from workloads import LAYER_METRICS, WORKLOADS, Run, mix_latency

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


@pytest.fixture(scope="module")
def bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_metric_names_are_plain():
    for name, _unit in END_TO_END + LAYER_METRICS:
        assert NAME.match(name), name


def test_metrics_match_benchmark_json(bench):
    assert [m["name"] for m in bench["end_to_end"]] == [n for n, _ in END_TO_END]
    assert [m["unit"] for m in bench["end_to_end"]] == [u for _, u in END_TO_END]
    assert [m["name"] for m in bench["per_layer"]] == [n for n, _ in LAYER_METRICS]
    assert [m["unit"] for m in bench["per_layer"]] == [u for _, u in LAYER_METRICS]
    assert {w["name"] for w in bench["workloads"]} <= set(WORKLOADS)
    setup = [m for m in bench["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["bound"] == max(m["bound"] for m in bench["end_to_end"])


@pytest.mark.parametrize("n", [11, 12, 20, 24, 30, 32, 100, 1000, 1001])
def test_tail_leaves_ten_beyond(n):
    xs = list(range(n))
    t = tail_percentile(xs)
    p = t["percentile"]
    rank = math.ceil(p * n / 100)
    assert t["beyond"] == n - rank >= 10
    assert t["value"] == xs[rank - 1]
    # the next percentile up would leave fewer than ten beyond it
    assert p == 99 or n - math.ceil((p + 1) * n / 100) < 10


def test_tail_examples():
    assert tail_percentile(range(20))["percentile"] == 50
    assert tail_percentile(range(24))["percentile"] == 58
    assert tail_percentile(range(1000))["percentile"] == 99
    t = tail_percentile([5.0] * 10 + [1.0])
    assert (t["percentile"], t["value"], t["samples"]) == (9, 1.0, 11)
    with pytest.raises(ValueError):
        tail_percentile(range(10))


def test_error_rate_bounds():
    assert error_rate(40, 0) == 0.0
    assert error_rate(40, 2) == 0.05
    with pytest.raises(ValueError):
        error_rate(0, 0)
    with pytest.raises(ValueError):
        error_rate(3, 4)


class _Ctx:
    defaultParallelism = 2


class _Spark:
    sparkContext = _Ctx()


def test_failures_and_wrong_answers_count_once():
    run = Run(_Spark(), {}, "unused", seed=0, seconds=0, trace=False)
    assert run.attempt("ok", lambda: 7) == 7
    assert run.attempt("boom", lambda: 1 / 0) is None
    run.check("right", None)
    run.check("wrong", "rows 3 != 4")
    res = run.result({}, {})
    assert (res["attempted"], res["failed"]) == (4, 2)
    assert res["failures"][0].startswith("boom: ZeroDivisionError")
    assert res["failures"][1] == "wrong: rows 3 != 4"
    assert error_rate(res["attempted"], res["failed"]) == 0.5


def test_mix_latency_by_key():
    calls = {"cheap": [1.0, 1.1, 0.9, 1.0], "mid": [2.0, 2.2, 2.1, 2.0], "slow": [9.0, 8.0, 10.0, 9.5]}
    p50, tail = mix_latency(calls)
    assert p50 == 2.05
    assert tail == {"key": "slow", "value": 9.25, "keys": 3}
