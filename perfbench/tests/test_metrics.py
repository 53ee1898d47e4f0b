"""Unit tests for the benchmark's pure helpers.

    python -m pytest perfbench/tests -q
"""
from __future__ import annotations

import json

import pytest

from perfbench.metrics import (
    Span,
    attribute_day,
    busy_within,
    explained_split,
    percentile,
    plan_stats,
    result_line,
    samples_beyond,
    self_time_by_name,
    self_times,
    slot_busy_frac,
    tail_supported,
    valid_name,
    valid_unit,
)


def test_tail_rule_needs_ten_samples_beyond():
    assert samples_beyond(100, 90) == 10
    assert tail_supported(100, 90)
    assert not tail_supported(99, 90)
    assert tail_supported(20, 50)
    assert not tail_supported(19, 50)
    assert tail_supported(1000, 99)


def test_percentile_refuses_an_unsupported_tail():
    with pytest.raises(ValueError, match="10 samples beyond"):
        percentile(list(range(50)), 90)
    assert percentile(list(range(101)), 90) == pytest.approx(90.0)


def test_percentile_interpolates_and_median_needs_no_tail():
    assert percentile([3.0, 1.0, 2.0], 50) == 2.0
    assert percentile([1.0, 2.0], 50) == 1.5
    with pytest.raises(ValueError):
        percentile([], 50)


def test_slot_busy_frac():
    # 4 cores busy for the whole 2 s action
    assert slot_busy_frac(8.0, 2.0, 4) == 1.0
    assert slot_busy_frac(2.0, 2.0, 4) == 0.25
    assert slot_busy_frac(1.0, 0.0, 4) == 0.0


def test_self_time_subtracts_the_union_of_children():
    spans = [
        Span("query", 0.0, 10.0, None, "q#1"),
        Span("build", 0.0, 3.0, 0, "q#1"),
        Span("action", 3.0, 10.0, 0, "q#1"),
        # two overlapping jobs inside the action cover [4, 8]
        Span("job", 4.0, 7.0, 2, "q#1"),
        Span("job", 6.0, 8.0, 2, "q#1"),
    ]
    assert self_times(spans) == [0.0, 3.0, 3.0, 3.0, 2.0]
    by_name = self_time_by_name(spans)
    assert by_name == {"query": 0.0, "build": 3.0, "action": 3.0, "job": 5.0}


def test_self_time_clips_children_to_the_parent():
    spans = [
        Span("day", 0.0, 5.0, None, "d"),
        Span("job", 4.0, 9.0, 0, "d"),  # ends after the parent
    ]
    assert self_times(spans)[0] == 4.0


def test_day_attribution_runs_each_task_to_the_next_entry():
    # task b enters twice (init, then fn): its first entry counts
    entries = [("a", 1.0), ("b", 3.0), ("b", 4.0), ("c", 6.0)]
    assert attribute_day(entries, 10.0) == {"a": 2.0, "b": 3.0, "c": 4.0}
    assert attribute_day([], 2.0) == {}


def test_explained_split():
    # build 2 + init 1 + cleanup 0.5 + write 6 of a 10 s day
    unexplained, frac = explained_split(10.0, [2.0, 1.0, 0.5, 6.0])
    assert unexplained == pytest.approx(0.5)
    assert frac == pytest.approx(0.95)
    assert explained_split(0.0, [1.0]) == (-1.0, 0.0)


def test_busy_within_clips_and_merges_job_intervals():
    # a job before the window, two overlapping jobs, one crossing the end
    jobs = [(0.0, 1.0), (2.0, 4.0), (3.0, 5.0), (7.0, 12.0)]
    assert busy_within(jobs, 1.5, 10.0) == pytest.approx(3.0 + 3.0)
    assert busy_within(jobs, 5.0, 7.0) == 0.0
    assert busy_within([], 0.0, 1.0) == 0.0


@pytest.mark.parametrize("name", [
    "setup_s", "exec.slot_busy_frac", "dag.task.mango_core_s", "9lives",
    "a" * 64,
])
def test_valid_metric_names(name):
    assert valid_name(name)


@pytest.mark.parametrize("name", [
    "", "_lead", ".lead", "has space", "slash/name", "a" * 65, "ünï",
])
def test_invalid_metric_names(name):
    assert not valid_name(name)


def test_units():
    for unit in ("s", "ms", "1/s", "count", "B/B", "MB", "%", "ratio"):
        assert valid_unit(unit)
    for unit in ("", "seconds per op", "x" * 17):
        assert not valid_unit(unit)


def test_benchmark_json_names_and_units_are_valid():
    import os

    root = os.path.dirname(os.path.dirname(os.path.dirname(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = [w["name"] for w in spec["workloads"]]
    for group in ("end_to_end", "per_layer"):
        for m in spec[group]:
            assert valid_name(m["name"]), m
            assert valid_unit(m["unit"]), m
            names.append(m["name"])
    assert len(names) == len(set(names)), "a name is used twice"
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])


def test_result_line_shape():
    line = result_line(True, 3, 0, {"setup_s": (1.25, "s")})
    assert json.loads(line) == {
        "correct": True, "attempted": 3, "failed": 0,
        "metrics": {"setup_s": {"value": 1.25, "unit": "s"}},
    }
    with pytest.raises(ValueError):
        result_line(True, 1, 0, {"bad name": (1.0, "s")})
    with pytest.raises(ValueError):
        result_line(True, 1, 0, {"x": (float("nan"), "s")})
    with pytest.raises(ValueError):
        result_line(True, 0, 0, {"x": (1.0, "s")})


def test_plan_stats_counts_final_plan_only():
    plan = """AdaptiveSparkPlan isFinalPlan=true
+- == Final Plan ==
   ResultQueryStage 2
   +- *(3) HashAggregate(keys=[], functions=[count(1)])
      +- ShuffleQueryStage 1
         +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=124]
            +- Window [rank(x#1)]
               +- AQEShuffleRead coalesced
                  +- ShuffleQueryStage 0
                     +- Exchange hashpartitioning(k#14, 4), [plan_id=86]
                        +- *(1) Project [k#14]
                           :  +- ReusedExchange [k#14], Exchange
                           +- *(1) ColumnarToRow
                              +- FileScan parquet [k#14] Batched: true
+- == Initial Plan ==
   HashAggregate(keys=[], functions=[count(1)])
   +- Exchange SinglePartition
"""
    assert plan_stats(plan) == {"exchanges": 2, "non_wscg_nodes": 1}
