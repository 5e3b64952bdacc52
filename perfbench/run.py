"""Benchmark of the sales-analytics Spark package: one workload per process.

Usage (from the repository root)::

    python3 perfbench/run.py --workload bi_dashboard --seed 1 --seconds 6 --trace 0

One Python client drives the package in a closed loop on
``local[<cores>]``, with the session built by ``session.get_spark``.
The run

1. starts the session and sets the workload up;
2. computes DuckDB twins of every op's result, outside every clock;
3. warms up: runs ops until their code paths are compiled
   (``setup_s`` = session start + set-up + warm-up);
4. runs ops back to back until ``--seconds`` of op time has passed,
   checking each result against its twin after its clock stops;
5. prints one line per metric, then, as the last stdout line, one JSON
   object ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs with
the Spark UI on and a span and a job group around every call into a
layer, and reports the per-layer metrics. It runs every timed op twice,
once traced and once untraced, alternating which goes first, and also
reports ``overhead.<metric>`` = traced minus untraced for the op
metrics. Spans and layer metrics are also written to
``.perfbench-out/<workload>-<seed>.trace.json``.

Every write goes to a temporary directory under the repository root,
removed at exit.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import tempfile
import time
import traceback

from workloads import CORPUS_QUERIES, WORKLOADS

PROCESS_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "sales_analytics_etl_sql_powerbi_spark"

#: end-to-end metrics: name → unit
END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "ops_per_s": "1/s",
}

#: end-to-end metrics whose tracing overhead the traced run reports. The
#: traced set-up does more work than the untraced one (it materializes
#: each star stage on its own), so ``setup_s`` has no overhead figure.
OVERHEAD = ("op_p50_s", "ops_per_s")

#: per-layer metrics (traced run): name → unit. A workload that does
#: not exercise a layer reports 0 for it.
PER_LAYER = {
    "pipeline.plan_s": "s",
    "pipeline.staging_s": "s",
    "pipeline.dims_s": "s",
    "pipeline.fact_s": "s",
    "pipeline.view_s": "s",
    "pipeline.tasks": "count",
    "pipeline.shuffle_write_bytes": "B",
    "pipeline.executor_cpu_s": "s",
    "readers.call_s": "s",
    "readers.input_bytes": "B",
    "readers.scan_tasks": "count",
    "cleaning.self_s": "s",
    "sinks.write_s": "s",
    "sinks.jobs": "count",
    "sinks.files_written": "count",
    "sinks.bytes_written": "B",
    "quality.qa_s": "s",
    "quality.files_read": "count",
    "analytics.plan_s": "s",
    "analytics.exec_s": "s",
    "analytics.jobs": "count",
    "analytics.stages": "count",
    "analytics.tasks": "count",
    "analytics.driver_gap_s": "s",
    "cache.view_mem_bytes": "B",
    "cache.view_disk_bytes": "B",
    "cache.view_partitions": "count",
    "client.result_bytes": "B",
    "client.collect_gap_s": "s",
    **{
        f"{layer}.{q}_{m}": unit
        for q, layer in CORPUS_QUERIES.items()
        for m, unit in (
            ("s", "s"),
            ("tasks", "count"),
            ("shuffle_bytes", "B"),
            ("python_worker_s", "s"),
        )
    },
    **{f"overhead.{m}": END_TO_END[m] for m in OVERHEAD},
}

#: an op slower than this counts as failed (a timeout)
OP_TIMEOUT_S = 60.0
#: stop starting ops this long after process start, to exit within 180 s
RUN_BUDGET_S = 150.0


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set (VmHWM) of ``pids``, from /proc."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


def start_session(work: str, trace: bool):
    """The shipped session (``session.get_spark``), with scratch space,
    the UI and the console progress bar set for the benchmark."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the JVMs write no perf data and keep their temp files under work/
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    os.environ["SPARK_UI"] = "true" if trace else "false"
    # Python workers import the package from the repository root
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    from sales_analytics_etl_sql_powerbi_spark.session import get_spark

    extra = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": jvm_opts,
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
    }
    if trace:
        extra.update(
            {
                "spark.ui.retainedJobs": "1000000",
                "spark.ui.retainedStages": "1000000",
                "spark.sql.ui.retainedExecutions": "1000000",
                "spark.appStateStore.asyncTracking.enable": "false",
            }
        )
    spark = get_spark(app_name="perfbench", extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(10).count()
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then end the JVM and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def timed_op(op, check, i: int) -> tuple[float, bool]:
    """(seconds, ok) of op ``i``. Only ``op(i)`` is timed;
    ``check(i, result)`` runs after its clock stops. An op fails when it
    raises, when its check is false or raises, or when it takes longer
    than :data:`OP_TIMEOUT_S`."""
    t0 = time.perf_counter()
    try:
        result, ok = op(i), True
    except Exception:
        traceback.print_exc()
        result, ok = None, False
    dt = time.perf_counter() - t0
    if ok:
        try:
            ok = bool(check(i, result)) and dt <= OP_TIMEOUT_S
        except Exception:
            traceback.print_exc()
            ok = False
    if not ok:
        print(f"op {i} failed", file=sys.stderr)
    return dt, ok


def closed_loop(op, check, seconds: float, batch: int = 1, deadline: float = math.inf):
    """Run ``op(i)`` back to back until ``seconds`` of op time has passed
    and the op count is a multiple of ``batch`` (or ``deadline`` on the
    ``time.perf_counter`` clock passes). Returns (latencies, failed,
    timed seconds)."""
    latencies: list[float] = []
    failed = 0
    while (sum(latencies) < seconds or len(latencies) % batch) and time.perf_counter() < deadline:
        dt, ok = timed_op(op, check, len(latencies))
        latencies.append(dt)
        failed += not ok
    return latencies, failed, sum(latencies)


def paired_loop(op, check, trace, seconds: float, batch: int = 1, deadline: float = math.inf):
    """:func:`closed_loop` that runs every op twice, once after
    ``trace(False)`` and once after ``trace(True)``, alternating which
    goes first so that drift and JIT progress fall on both alike. The
    untraced pass decides when to stop. Returns {traced: (latencies,
    failed, timed seconds)}."""
    lat: dict[bool, list[float]] = {False: [], True: []}
    failed = {False: 0, True: 0}
    while (sum(lat[False]) < seconds or len(lat[False]) % batch) and time.perf_counter() < deadline:
        i = len(lat[False])
        for traced in (False, True) if i % 2 == 0 else (True, False):
            trace(traced)
            dt, ok = timed_op(op, check, i)
            lat[traced].append(dt)
            failed[traced] += not ok
    trace(True)
    return {t: (lat[t], failed[t], sum(lat[t])) for t in lat}


def run(args: argparse.Namespace, work: str) -> dict:
    import stats
    import tracing

    t_start = time.perf_counter()
    spark = start_session(work, bool(args.trace))
    try:
        session_s = time.perf_counter() - t_start
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        tracer = tracing.Tracer(spark.sparkContext) if args.trace else tracing.NO_TRACE
        w = WORKLOADS[args.workload](spark, args.seed, work, tracer)

        t0 = time.perf_counter()
        w.setup()
        setup_s = time.perf_counter() - t0

        t_prep = time.perf_counter()
        w.prepare()
        twins_s = time.perf_counter() - t_prep

        t0 = time.perf_counter()
        w.warmup()
        warmup_s = time.perf_counter() - t0
        print(
            f"session {session_s:.2f} s, set-up {setup_s:.2f} s,"
            f" twins {twins_s:.2f} s, warm-up {warmup_s:.2f} s",
            file=sys.stderr,
        )

        deadline = PROCESS_START + RUN_BUDGET_S
        if args.trace:

            def trace(on: bool) -> None:
                w.tracer = tracer if on else tracing.NO_TRACE

            passes = paired_loop(w.op, w.check, trace, args.seconds, w.batch, deadline)
            latencies, failed, timed = passes[True]
            base, base_failed, base_timed = passes[False]
        else:
            latencies, failed, timed = closed_loop(w.op, w.check, args.seconds, w.batch, deadline)
            base, base_failed = [], 0
        print("latencies " + " ".join(f"{t:.3f}" for t in latencies), file=sys.stderr)
        rss = peak_rss_mb([os.getpid(), jvm_pid])
        out = {
            "attempted": len(latencies) + len(base),
            "failed": failed + base_failed,
            "setup_failures": w.setup_failures,
            "e2e": {
                "setup_s": session_s + setup_s + warmup_s,
                "op_p50_s": stats.median(latencies),
                "ops_per_s": len(latencies) / timed,
            },
            "peak_rss_mb": rss,
            "latencies": latencies,
            "timed_s": timed,
            "report": w.report(),
        }
        if args.trace:
            rest = tracing.fetch_rest(spark.sparkContext)
            counters, intervals = tracing.span_counters(rest)
            spans = tracer.spans

            def inc(sid: int) -> dict:
                return tracing.inclusive(spans, counters, intervals, sid)

            layers = {name: 0 for name in PER_LAYER}
            layers.update(w.layers(spans, inc, rest))
            out["untraced"] = {
                "op_p50_s": stats.median(base),
                "ops_per_s": len(base) / base_timed,
            }
            for m in OVERHEAD:
                layers[f"overhead.{m}"] = out["e2e"][m] - out["untraced"][m]
            out["layers"] = layers
            # each span with its own (exclusive) counters and self time
            out["spans"] = [
                dict(s, self_s=tracing.self_time(spans, s["id"]), **counters.get(s["id"], {}))
                for s in spans
            ]
        return out
    finally:
        stop_session(spark)


def print_report(args, res: dict) -> None:
    import stats

    lat = res["latencies"]
    n = len(lat)
    lines = [
        ("setup_s", res["e2e"]["setup_s"], "s", f"{res['setup_failures']} set-up checks failed"),
        ("op_p50_s", res["e2e"]["op_p50_s"], "s", f"n={n}"),
    ]
    p90 = stats.tail_percentile(lat, 0.9)
    if p90 is None:
        beyond = stats.samples_beyond(n, 0.9)
        lines.append(("op_p90_s", None, "s", f"n={n}, omitted: {beyond} samples beyond p90 (< {stats.TAIL_SAMPLES})"))
    else:
        lines.append(("op_p90_s", p90, "s", f"n={n}"))
    lines += [
        ("ops_per_s", res["e2e"]["ops_per_s"], "1/s", f"n={n} over {res['timed_s']:.3f} s"),
        ("op_fail_ratio", res["failed"] / res["attempted"], "ratio", f"{res['failed']}/{res['attempted']}"),
        ("peak_rss_mb", res["peak_rss_mb"], "MB", "driver JVM + client"),
    ]
    lines += [(k, v, u, "") for k, (v, u) in sorted(res["report"].items())]
    for name, value, unit, note in lines:
        shown = "-" if value is None else f"{value:.6g}"
        print(f"{args.workload} {name} {shown} {unit} {note}".rstrip())


def main(argv: list[str]) -> int:
    sys.path.insert(0, ROOT)
    if not (
        os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py"))
        and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
        and os.path.isfile(os.path.join(ROOT, "bench.py"))
    ):
        print(f"perfbench: no {PACKAGE} package under {ROOT}", file=sys.stderr)
        return 2
    args = parse_args(argv)
    if args.seconds <= 0:
        print("perfbench: --seconds must be positive", file=sys.stderr)
        return 2
    fixtures = os.path.join(ROOT, ".fixtures")
    had_fixtures = os.path.isdir(fixtures)
    work = tempfile.mkdtemp(prefix=".perfbench-", dir=ROOT)
    try:
        res = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        # the twins' CSV export lands under .fixtures/, keyed by the
        # input directory's (work-dir-prefixed) name
        roundtrip = os.path.join(fixtures, "csv_roundtrip")
        if os.path.isdir(roundtrip):
            for d in os.listdir(roundtrip):
                if d.startswith(os.path.basename(work)):
                    shutil.rmtree(os.path.join(roundtrip, d), ignore_errors=True)
        if not had_fixtures:
            shutil.rmtree(fixtures, ignore_errors=True)

    print_report(args, res)
    if args.trace:
        metrics = res["layers"]
        out_dir = os.path.join(ROOT, ".perfbench-out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"{args.workload}-{args.seed}.trace.json")
        with open(path, "w") as f:
            json.dump(
                {
                    "workload": args.workload,
                    "seed": args.seed,
                    "traced": res["e2e"],
                    "untraced": res["untraced"],
                    "layers": metrics,
                    "spans": res["spans"],
                },
                f,
                indent=1,
            )
        print(f"{args.workload} trace {path}")
        metrics = {k: {"value": metrics[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": res["e2e"][k], "unit": u} for k, u in END_TO_END.items()}
    print(
        json.dumps(
            {
                "correct": res["failed"] == 0 and res["setup_failures"] == 0,
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
