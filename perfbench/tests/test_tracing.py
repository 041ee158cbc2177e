"""Tracer, attribution and metric-name tests that need no Spark session."""

import importlib
import json
import os

import pytest

import run
import tracing
from tracing import Span, SparkWork, Tracer

BENCHMARK_JSON = os.path.join(run.ROOT, "BENCHMARK.json")


class FakeClock:
    def __init__(self):
        self.now = 100.0

    def __call__(self):
        return self.now


def _targets():
    for targets in tracing.LAYERS.values():
        for module, path in targets:
            yield tracing._resolve(module, path)


def test_wrappers_restore_originals():
    before = [owner.__dict__[attr] for owner, attr in _targets()]
    tracer = Tracer()
    with pytest.raises(ZeroDivisionError):
        with tracing.installed(tracer):
            inside = [owner.__dict__[attr] for owner, attr in _targets()]
            assert all(w.__wrapped__ is f for w, f in zip(inside, before))
            1 / 0
    after = [owner.__dict__[attr] for owner, attr in _targets()]
    assert all(a is b for a, b in zip(after, before))


def test_calls_through_module_attributes_are_traced():
    histogram = importlib.import_module(f"{tracing.PKG}.operators.histogram")
    tracer = Tracer()
    with tracing.installed(tracer), tracer.span("run"):
        assert histogram.histogram_all(None, {}) == {}
    assert [s.name for s in tracer.spans] == ["run", "histogram_all"]
    assert tracer.spans[1].parent == 0


def test_nested_self_times_sum_to_root():
    """run > partial_profile > (histogram_all, top_k_counts), then a second
    partial_profile; self time excludes exactly the children."""
    clock = FakeClock()
    t = Tracer(clock)

    def tick(dt):
        clock.now += dt

    with t.span("run"):
        tick(1)
        with t.span("partial_profile"):
            tick(2)
            with t.span("histogram_all"):
                tick(3)
            tick(4)
            with t.span("top_k_counts"):
                tick(5)
        with t.span("partial_profile"):
            with t.span("histogram_all"):
                tick(7)
            tick(8)
        tick(9)
    table = tracing.layer_table(t.spans, [], [])
    assert table["run"]["self_s"] == 10
    assert table["partial_profile"]["self_s"] == 2 + 4 + 8
    assert table["partial_profile"]["calls"] == 2
    assert table["histogram_all"]["self_s"] == 3 + 7
    assert table["top_k_counts"]["self_s"] == 5
    root = t.spans[0]
    total = sum(row["self_s"] for row in table.values())
    assert total == root.end - root.start == 39


def test_spark_work_goes_to_innermost_open_span():
    spans = [
        Span("run", None, 0.0, 10.0, [1]),
        Span("partial_profile", 0, 1.0, 9.0, [2]),
        Span("histogram_all", 1, 2.0, 4.0),
    ]
    stages = [
        SparkWork(2.5, 3.5, cpu_s=1.0, shuffle_write_bytes=10),  # histogram
        SparkWork(5.0, 6.0, cpu_s=2.0, failed_tasks=1),  # partial_profile
        SparkWork(9.5, 9.6, cpu_s=0.5),  # run self time
        SparkWork(-0.001, 0.2, cpu_s=0.25),  # clock rounding: root
    ]
    jobs = [SparkWork(2.5, 3.5), SparkWork(5.0, 6.0)]
    table = tracing.layer_table(spans, jobs, stages)
    assert table["histogram_all"]["executor_cpu_s"] == 1.0
    assert table["histogram_all"]["shuffle_write_bytes"] == 10
    assert table["histogram_all"]["jobs"] == 1
    assert table["histogram_all"]["driver_s"] == pytest.approx(2.0 - 1.0)
    assert table["partial_profile"]["executor_cpu_s"] == 2.0
    assert table["partial_profile"]["failed_tasks"] == 1
    assert table["partial_profile"]["jobs"] == 1
    # self time [1,2) + (4,9] = 6 s, of which 1 s has its stage running
    assert table["partial_profile"]["self_s"] == pytest.approx(6.0)
    assert table["partial_profile"]["driver_s"] == pytest.approx(5.0)
    assert table["run"]["executor_cpu_s"] == 0.75
    assert table["pearson_matrix"] == {m: 0 for m in tracing.LAYER_METRICS}
    assert sum(r["executor_cpu_s"] for r in table.values()) == 3.75


def test_emitted_metric_names_match_benchmark_json():
    with open(BENCHMARK_JSON) as f:
        bench = json.load(f)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == run.END_TO_END
    assert layer == run.per_layer_names()
    assert {w["name"] for w in bench["workloads"]} == set(
        run.workloads.WORKLOADS
    )
    assert all(len(name) <= 64 for name in {**e2e, **layer})

