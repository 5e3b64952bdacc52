"""Spans and Spark job-group counters for the traced benchmark run.

Every span the benchmark opens around a call into the package also
sets a Spark job group (``pb:<span id>``), so every job the call runs
is attributed to that span. After the run the Spark UI REST API is
read once and the stage payloads are summed per span with the
job-group attribution of ``bench._aggregate_cost`` (latest attempt per
stage, each stage charged to the first job that claims it). Executor
CPU time and scan-task counts come from the same stage payloads;
Python-worker time from the SQL-execution payload.

The untraced run uses :data:`NO_TRACE`, whose spans do nothing: no
job groups, no clock reads, no REST reads.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import re
import time
import urllib.request

#: job-group prefix of every span
GROUP_PREFIX = "pb:"

#: additive per-span counters (summed over a span's subtree)
COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "scan_tasks",
    "input_bytes",
    "output_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "executor_cpu_s",
    "python_worker_s",
)


class Tracer:
    """In-memory spans: name, start, end, parent, op id, job group."""

    enabled = True

    def __init__(self, sc) -> None:
        self._sc = sc
        self._t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None):
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent]["op"]
        rec = {
            "id": len(self.spans),
            "name": name,
            "op": op,
            "parent": parent,
            "start": time.perf_counter() - self._t0,
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._sc.setJobGroup(f"{GROUP_PREFIX}{rec['id']}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()
            if self._stack:
                self._sc.setJobGroup(f"{GROUP_PREFIX}{self._stack[-1]}", "")
            else:
                self._sc.setJobGroup(None, None)


class _NoTrace:
    enabled = False
    spans: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None):
        yield None


NO_TRACE = _NoTrace()


# ---------------------------------------------------------------------------
# span arithmetic (pure)
# ---------------------------------------------------------------------------


def duration(span: dict) -> float:
    return span["end"] - span["start"]


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def children(spans: list[dict], sid: int) -> list[dict]:
    return [s for s in spans if s["parent"] == sid]


def subtree(spans: list[dict], sid: int) -> list[int]:
    out = [sid]
    for c in children(spans, sid):
        out.extend(subtree(spans, c["id"]))
    return out


def self_time(spans: list[dict], sid: int) -> float:
    """A span's duration minus the part of it its child spans cover."""
    s = spans[sid]
    covered = union_length(
        [
            (max(c["start"], s["start"]), min(c["end"], s["end"]))
            for c in children(spans, sid)
            if c["end"] > s["start"] and c["start"] < s["end"]
        ]
    )
    return duration(s) - covered


# ---------------------------------------------------------------------------
# Spark REST counters
# ---------------------------------------------------------------------------


def fetch_rest(sc) -> dict:
    """jobs, stages, SQL executions and cached RDDs of the live app."""
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(path: str):
        with urllib.request.urlopen(f"{base}/{path}", timeout=60) as r:
            return json.load(r)

    return {
        "jobs": get("jobs"),
        "stages": get("stages"),
        "sql": get("sql?details=true&planDescription=false&offset=0&length=1000000"),
        "rdds": get("storage/rdd"),
    }


def _job_time(stamp: str) -> float:
    return dt.datetime.strptime(stamp, "%Y-%m-%dT%H:%M:%S.%f%Z").timestamp()


_DURATION = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*(ms|s|m|h)\b")
_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_duration_s(value: str) -> float:
    """Seconds from a Spark SQL timing metric string. A task-level
    metric reads ``total (min, med, max ...)\\n<total> (...)``; the
    total is the first duration after the header line."""
    body = value.split("\n", 1)[-1]
    m = _DURATION.search(body)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT_S[m.group(2)]


def _claimed(jobs: list, stages: list, value) -> dict[str, float]:
    """Sum ``value(stage)`` per job group with ``bench._aggregate_cost``'s
    stage attribution, by carrying the value in the ``inputBytes`` slot."""
    from bench import _aggregate_cost

    carried = [dict(s, inputBytes=value(s)) for s in stages]
    agg = _aggregate_cost(jobs, carried, [GROUP_PREFIX])[GROUP_PREFIX]
    return {k: v["input_bytes"] for k, v in agg.items()}


def span_counters(rest: dict) -> tuple[dict[int, dict], dict[int, list]]:
    """Per-span (exclusive) counters and job intervals, keyed by span id."""
    from bench import _aggregate_cost

    jobs, stages = rest["jobs"], rest["stages"]
    base = _aggregate_cost(jobs, stages, [GROUP_PREFIX])[GROUP_PREFIX]
    cpu = _claimed(jobs, stages, lambda s: s.get("executorCpuTime", 0))
    scan = _claimed(
        jobs, stages, lambda s: s.get("numTasks", 0) if s.get("inputBytes", 0) else 0
    )
    out: dict[int, dict] = {}
    for key, m in base.items():
        if not key.isdigit():
            continue
        out[int(key)] = {
            "jobs": m["jobs"],
            "stages": m["stages"],
            "tasks": m["tasks"],
            "scan_tasks": scan.get(key, 0),
            "input_bytes": m["input_bytes"],
            "output_bytes": m["output_bytes"],
            "shuffle_read_bytes": m["shuffle_read_bytes"],
            "shuffle_write_bytes": m["shuffle_write_bytes"],
            "executor_cpu_s": cpu.get(key, 0) / 1e9,
            "python_worker_s": 0.0,
        }
    job_group: dict[int, int] = {}
    intervals: dict[int, list] = {}
    for j in jobs:
        group = j.get("jobGroup") or ""
        if not group.startswith(GROUP_PREFIX) or not group[len(GROUP_PREFIX):].isdigit():
            continue
        sid = int(group[len(GROUP_PREFIX):])
        job_group[j["jobId"]] = sid
        if j.get("submissionTime") and j.get("completionTime"):
            intervals.setdefault(sid, []).append(
                (_job_time(j["submissionTime"]), _job_time(j["completionTime"]))
            )
    for ex in rest.get("sql", ()):
        ids = sorted(
            ex.get("successJobIds", []) + ex.get("failedJobIds", []) + ex.get("runningJobIds", [])
        )
        sid = next((job_group[i] for i in ids if i in job_group), None)
        if sid is None or sid not in out:
            continue
        out[sid]["python_worker_s"] += sum(
            parse_duration_s(m.get("value", ""))
            for node in ex.get("nodes", ())
            for m in node.get("metrics", ())
            if m.get("name") == "time to run Python workers"
        )
    return out, intervals


def inclusive(
    spans: list[dict], counters: dict[int, dict], intervals: dict[int, list], sid: int
) -> dict:
    """Counters of a span's whole subtree, plus ``job_s``: the wall time
    during which at least one of the subtree's jobs was running."""
    tot = {k: 0 for k in COUNTERS}
    ivs: list = []
    for s in subtree(spans, sid):
        for k, v in counters.get(s, {}).items():
            tot[k] += v
        ivs.extend(intervals.get(s, ()))
    tot["job_s"] = union_length(ivs)
    return tot
