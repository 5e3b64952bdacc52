"""Tests of the benchmark's own logic (no Spark session).

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import json
import os
import sys
from types import SimpleNamespace

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import datagen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

# --------------------------------------------------------------------------
# percentiles and the tail rule
# --------------------------------------------------------------------------


def test_percentile_is_nearest_rank():
    values = list(range(1, 101))
    assert stats.percentile(values, 0.5) == 50
    assert stats.percentile(values, 0.9) == 90
    assert stats.percentile(values, 1.0) == 100
    assert stats.percentile([7.0], 0.9) == 7.0
    with pytest.raises(ValueError):
        stats.percentile([], 0.5)


def test_tail_percentile_needs_ten_samples_beyond():
    assert stats.samples_beyond(100, 0.9) == 10
    assert stats.samples_beyond(99, 0.9) == 9
    assert stats.tail_percentile(list(range(100)), 0.9) == 89
    assert stats.tail_percentile(list(range(99)), 0.9) is None
    assert stats.tail_percentile([1.0] * 14, 0.9) is None


# --------------------------------------------------------------------------
# spans
# --------------------------------------------------------------------------


def _span(sid, name, start, end, parent=None, op=0):
    return {"id": sid, "name": name, "op": op, "parent": parent, "start": start, "end": end}


def test_self_time_subtracts_covered_child_time_once():
    spans = [
        _span(0, "op", 0.0, 10.0),
        _span(1, "a", 1.0, 4.0, parent=0),
        _span(2, "b", 3.0, 5.0, parent=0),  # overlaps a: union 1..5
        _span(3, "c", 8.0, 12.0, parent=0),  # clipped to the parent: 8..10
        _span(4, "a.child", 1.5, 2.0, parent=1),
    ]
    assert tracing.self_time(spans, 0) == pytest.approx(10.0 - 4.0 - 2.0)
    assert tracing.self_time(spans, 1) == pytest.approx(3.0 - 0.5)
    assert tracing.self_time(spans, 4) == pytest.approx(0.5)
    assert tracing.subtree(spans, 0) == [0, 1, 4, 2, 3]


def test_union_length():
    assert tracing.union_length([]) == 0.0
    assert tracing.union_length([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)


class _FakeContext:
    def __init__(self):
        self.groups = []

    def setJobGroup(self, group, description):  # noqa: N802 (Spark's name)
        self.groups.append(group)


def test_tracer_nests_spans_and_restores_job_groups():
    sc = _FakeContext()
    t = tracing.Tracer(sc)
    with t.span("op", op=3):
        with t.span("inner"):
            pass
    assert [s["name"] for s in t.spans] == ["op", "inner"]
    assert t.spans[1]["parent"] == 0 and t.spans[1]["op"] == 3
    assert all(s["end"] >= s["start"] for s in t.spans)
    assert sc.groups == ["pb:0", "pb:1", "pb:0", None]


def test_no_trace_records_nothing():
    with tracing.NO_TRACE.span("op", op=1) as rec:
        assert rec is None
    assert tracing.NO_TRACE.spans == []


def test_span_counters_attribute_stages_jobs_and_python_time():
    jobs = [
        {"jobId": 1, "jobGroup": "pb:0", "stageIds": [10, 11],
         "submissionTime": "2026-01-01T00:00:00.000GMT",
         "completionTime": "2026-01-01T00:00:02.000GMT"},
        # stage 11 is reused (skipped) by job 2: charged to job 1 only
        {"jobId": 2, "jobGroup": "pb:1", "stageIds": [11, 12],
         "submissionTime": "2026-01-01T00:00:01.000GMT",
         "completionTime": "2026-01-01T00:00:03.500GMT"},
        {"jobId": 3, "jobGroup": "other", "stageIds": [13]},
    ]
    stages = [
        {"stageId": 10, "attemptId": 0, "status": "COMPLETE", "numTasks": 4,
         "inputBytes": 100, "executorCpuTime": 2_000_000_000},
        {"stageId": 11, "attemptId": 0, "status": "COMPLETE", "numTasks": 2,
         "shuffleWriteBytes": 50, "executorCpuTime": 1_000_000_000},
        # a retried stage: only the latest attempt counts
        {"stageId": 12, "attemptId": 0, "status": "COMPLETE", "numTasks": 9},
        {"stageId": 12, "attemptId": 1, "status": "COMPLETE", "numTasks": 3,
         "shuffleReadBytes": 50},
    ]
    sql = [
        {"successJobIds": [2], "nodes": [
            {"nodeName": "MapInArrow", "metrics": [
                {"name": "time to run Python workers",
                 "value": "total (min, med, max (stageId: taskId))\n1.5 s (0 ms, 0.5 s, 1 s)"},
                {"name": "number of output rows", "value": "12"},
            ]},
        ]},
    ]
    counters, intervals = tracing.span_counters(
        {"jobs": jobs, "stages": stages, "sql": sql}
    )
    assert counters[0]["tasks"] == 6 and counters[0]["scan_tasks"] == 4
    assert counters[0]["input_bytes"] == 100
    assert counters[0]["executor_cpu_s"] == pytest.approx(3.0)
    assert counters[1]["tasks"] == 3 and counters[1]["stages"] == 1
    assert counters[1]["python_worker_s"] == pytest.approx(1.5)
    spans = [_span(0, "op", 0, 5), _span(1, "child", 1, 4, parent=0)]
    inc = tracing.inclusive(spans, counters, intervals, 0)
    assert inc["tasks"] == 9 and inc["jobs"] == 2
    assert inc["job_s"] == pytest.approx(3.5)  # 0..2 and 1..3.5 overlap


@pytest.mark.parametrize(
    "text, seconds",
    [
        ("total (min, med, max (stageId: taskId))\n250 ms (1 ms, 2 ms, 3 ms)", 0.25),
        ("total (min, med, max)\n1.2 m (1 s, 2 s, 3 s)", 72.0),
        ("3.5 s", 3.5),
        ("12", 0.0),
    ],
)
def test_parse_duration(text, seconds):
    assert tracing.parse_duration_s(text) == pytest.approx(seconds)


# --------------------------------------------------------------------------
# the closed loop counts failures
# --------------------------------------------------------------------------


def test_closed_loop_counts_exceptions_wrong_results_and_timeouts(monkeypatch):
    clock = SimpleNamespace(now=0.0)
    monkeypatch.setattr(run, "time", SimpleNamespace(perf_counter=lambda: clock.now))

    def op(i):
        # each op takes 1 s on the fake clock; op 4 takes 100 s (a timeout)
        clock.now += 100.0 if i == 4 else 1.0
        if i == 1:
            raise RuntimeError("boom")
        return i

    def check(i, result):
        if i == 3:
            raise ValueError("bad check")
        return i != 2

    latencies, failed, timed = run.closed_loop(op, check, seconds=104.0)
    # ops 0..4 ran; 1 raised, 2 was wrong, 3's check raised, 4 timed out
    assert latencies == [1.0, 1.0, 1.0, 1.0, 100.0]
    assert failed == 4
    assert timed == pytest.approx(104.0)


def test_closed_loop_stops_on_whole_batches():
    latencies, failed, _ = run.closed_loop(lambda i: i, lambda i, r: True, 1e-12, batch=7)
    assert len(latencies) == 7 and failed == 0


def test_paired_loop_alternates_traced_and_untraced_runs_of_each_op():
    calls = []
    mode = SimpleNamespace(traced=None)

    def op(i):
        calls.append((i, mode.traced))
        if i == 2 and mode.traced:
            raise RuntimeError("boom")
        return i

    passes = run.paired_loop(
        op, lambda i, r: True, lambda on: setattr(mode, "traced", on), 1e-12, batch=4
    )
    assert calls[:4] == [(0, False), (0, True), (1, True), (1, False)]
    assert len(calls) == 8 and mode.traced is True
    assert len(passes[False][0]) == len(passes[True][0]) == 4
    assert passes[False][1] == 0 and passes[True][1] == 1


# --------------------------------------------------------------------------
# result comparison and inputs
# --------------------------------------------------------------------------


def test_same_rows_ignores_row_and_column_order_and_float_noise():
    a = pd.DataFrame({"k": ["x", "y"], "v": [1.0, 2.0], "n": [1, 2]})
    b = pd.DataFrame({"n": [2, 1], "v": [2.0 + 1e-13, 1.0], "k": ["y", "x"]})
    assert workloads.same_rows(a, b)
    assert not workloads.same_rows(a, b.assign(n=[2, 3]))
    assert not workloads.same_rows(a, b.iloc[:1])
    assert not workloads.same_rows(a, b.rename(columns={"n": "m"}))


def test_same_rows_treats_nan_and_none_alike_and_compares_timestamps():
    a = pd.DataFrame({"t": pd.to_datetime(["2020-01-01", None]), "v": [None, 1.0]})
    b = pd.DataFrame({"t": pd.to_datetime(["2020-01-01", None]), "v": [float("nan"), 1.0]})
    assert workloads.same_rows(a, b)


def test_inputs_depend_only_on_the_seed():
    one = datagen.tables(5, 0.0001)
    two = datagen.tables(5, 0.0001)
    other = datagen.tables(6, 0.0001)
    assert all(one[t].equals(two[t]) for t in one)
    assert not one["lineitem"].equals(other["lineitem"])
    assert set(one) == set(workloads.TABLES)


# --------------------------------------------------------------------------
# BENCHMARK.json agrees with the code
# --------------------------------------------------------------------------


def test_benchmark_json_matches_the_metrics_the_command_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
