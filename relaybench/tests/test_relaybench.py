"""Smoke tests for the relay benchmark: one tiny run per workload, traced
and untraced, plus the span arithmetic on its own.

    python -m pytest relaybench/tests -q

Each run starts its own Spark session (about 30-80 s apiece).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

from spans import Tracer  # noqa: E402

WORKLOADS = ("outage", "curate")


def _declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _e2e_units() -> dict:
    return {m["name"]: m["unit"] for m in _declared()["end_to_end"]}


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    p = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "3", "--trace", str(trace),
         "--scale", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    assert not os.path.exists(os.path.join(ROOT, ".relaybench")), \
        "the run left its work directory behind"
    return json.loads(lines[-2])["detail"], json.loads(lines[-1])


@pytest.mark.parametrize("workload", WORKLOADS)
def test_untraced_run_prints_every_end_to_end_metric(workload):
    detail, last = _run(workload, 0)
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"], detail["checks"]
    assert 1 <= last["attempted"] and 0 <= last["failed"] <= last["attempted"]
    units = _e2e_units()
    assert set(last["metrics"]) == set(units)
    for name, unit in units.items():
        got = last["metrics"][name]
        assert got["unit"] == unit and got["value"] > 0, name
        assert detail["metrics"][name]["samples"] >= 1
    for name in ("latency_p50_s", "latency_p95_s"):  # detail line only
        assert detail["metrics"][name]["samples"] >= 200, name
    assert detail["master"] == f"local[{detail['cpus']}]"


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_prints_every_per_layer_metric(workload):
    detail, last = _run(workload, 1)
    assert last["correct"], detail["checks"]
    units = {m["name"]: m["unit"] for m in _declared()["per_layer"]}
    assert {k: m["unit"] for k, m in last["metrics"].items()} == units
    assert detail["trace_coverage_error_s"] < 1e-6
    for name in ("poller.cycle_s", "spark.jobs", "spark.tasks", "trace.overhead"):
        assert last["metrics"][name]["value"] > 0, name


def test_self_times_sum_back_to_each_top_level_span():
    tracer = Tracer()
    tracer.active = True

    class Layer:
        def inner(self):
            time.sleep(0.002)

        def outer(self):
            time.sleep(0.001)
            self.inner()
            self.inner()

    tracer.wrap(Layer, "inner", "inner")
    tracer.wrap(Layer, "outer", "outer")
    try:
        for _ in range(3):
            Layer().outer()
    finally:
        tracer.unwrap()
    assert Layer.outer.__name__ == "outer" and not hasattr(Layer.outer, "__wrapped__")

    tops = tracer.tops("outer")
    assert len(tops) == 3 and len(tracer.spans) == 9
    assert tracer.coverage_error() < 1e-9
    selfs = tracer.self_times()
    for top in tops:
        trace = [s for s in tracer.spans if s.trace_id == top.id]
        assert abs(sum(selfs[s.id] for s in trace) - top.duration) < 1e-9
    per = tracer.per_trace(tops)
    assert abs(per["outer.self_s"] + per["inner_s"] - per["outer_s"]) < 1e-9
    assert tracer.counts["inner.calls"] == 6


def test_generator_spans_time_each_next_separately():
    tracer = Tracer()
    tracer.active = True

    class Source:
        @staticmethod
        def chunks():
            for i in range(3):
                time.sleep(0.001)
                yield i

    tracer.wrap_generator(Source, "chunks", "fetch")
    try:
        with tracer.span("cycle"):
            assert list(Source.chunks()) == [0, 1, 2]
    finally:
        tracer.unwrap()
    fetches = [s for s in tracer.spans if s.name == "fetch"]
    assert len(fetches) == 4  # three items and the final StopIteration
    assert tracer.coverage_error() < 1e-9
