"""The benchmark's workloads.

Each workload has the same shape:

- ``setup()`` makes fresh seeded inputs in its own directory and does
  the load a user waits on before working.
- ``prepare()`` computes the DuckDB twins that the set-up and the ops
  are checked against (once, outside every clock).
- ``warmup()`` runs ops before the timed loop, so that the timed ops
  run on compiled code paths; it is timed into ``setup_s``, and its
  results are checked like the set-up's.
- ``op(i)`` is one unit of user work, the only timed code.
- ``check(i, result)`` compares an op's result with its twin, outside
  the clock. A mismatch counts as a failed op.
- ``report()`` returns the workload's own printed metrics, and
  ``layers(spans, inc, rest)`` its per-layer metrics from the traced
  run (``inc(span id)`` gives a span subtree's Spark counters).

Only generated inputs reach the package; every write goes under the
run's work directory.
"""

from __future__ import annotations

import math
import os
import random
import time

import duckdb
import pandas as pd

import datagen
import stats
import tracing as tr

#: table names the DuckDB twins reference
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def duck(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def entry_twins(data_dir: str) -> dict[str, str]:
    """``__spark_entry__.oracle_sql()`` with its trained constants (IVF
    codebook, LSH plane counts) and CSV export derived from ``data_dir``."""
    import __spark_entry__ as entry

    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = data_dir
    return entry.oracle_sql()


def _canon(v):
    """A comparable value: arrays → tuples, NaN/NaT → None, times → ISO text."""
    if hasattr(v, "tolist") and not isinstance(v, (str, bytes)):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if v is None or v is pd.NaT or (isinstance(v, float) and math.isnan(v)):
        return None
    if hasattr(v, "isoformat"):
        return pd.Timestamp(v).isoformat()
    return v


def _sort_key(row: tuple) -> str:
    return repr(tuple(round(v, 6) if isinstance(v, float) else v for v in row))


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    return a == b


def same_rows(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    """Order-insensitive equality of two result frames: same column
    names, same row multiset; floats equal to 1e-9 relative."""
    if sorted(got.columns) != sorted(want.columns) or len(got) != len(want):
        return False
    cols = sorted(got.columns)

    def rows(df: pd.DataFrame) -> list[tuple]:
        out = [
            tuple(_canon(v) for v in rec)
            for rec in df[cols].astype(object).itertuples(index=False)
        ]
        return sorted(out, key=_sort_key)

    return all(_close(a, b) for a, b in zip(rows(got), rows(want)))


def parquet_files(path: str) -> list[str]:
    """Visible parquet files of a table directory (recursive)."""
    out = []
    for d, dirs, files in os.walk(path):
        dirs[:] = [x for x in dirs if not x.startswith(("_", "."))]
        out.extend(os.path.join(d, f) for f in files if f.endswith(".parquet"))
    return out


def _bytes(files: list[str]) -> int:
    return sum(os.path.getsize(f) for f in files)


def _med(values: list[float]) -> float:
    return stats.median(values) if values else 0.0


class Workload:
    """Shared state: session, seed, work dir, tracer."""

    name = ""
    #: the op loop stops only after a multiple of this many ops
    batch = 1

    def __init__(self, spark, seed: int, work: str, tracer) -> None:
        self.spark = spark
        self.seed = seed
        self.work = work
        self.tracer = tracer
        self.rng = random.Random(seed)
        #: set-up results that disagreed with their twins
        self.setup_failures = 0

    def fresh_dir(self, kind: str) -> str:
        # the work dir's unique name prefixes every input directory, so
        # side files keyed by an input's basename cannot collide
        path = os.path.join(self.work, f"{os.path.basename(self.work)}-{kind}")
        os.makedirs(path)
        return path

    def report(self) -> dict:
        return {}


# ---------------------------------------------------------------------------
# bi_dashboard
# ---------------------------------------------------------------------------

#: analytics visual → its DuckDB twin in ``__spark_entry__.oracle_sql()``
VISUALS = {
    "exec_overview_states": "state_leaderboard",
    "platform_share": "platform_share",
    "state_platform_pivot": "state_platform_pivot",
    "category_subcategory": "category_subcategory",
    "day_of_week_trend": "day_of_week_trend",
    "platform_rank_in_state": "platform_rank_in_state",
    "top_products_per_state": "top_products_per_state",
}
SLICERS = ("none", "year", "platform", "states")
#: states in a "states" slicer
STATE_SET = 5
#: star stages the traced set-up materializes one by one, before the view
STAGES = (
    ("staging", ("staging",)),
    ("dims", ("dim_platform", "dim_product", "dim_customer", "dim_date")),
    ("fact", ("fact",)),
)
#: every column of ``pipeline.clean_order_export``'s output
STAGING_COLS = [
    "order_id",
    "line_number",
    "submit_ts",
    "units",
    "product_key",
    "state_code",
    "notes",
    "discount_code",
]


def write_drops(out_dir: str, data_dir: str, seed: int, n: int) -> list[str]:
    """The order export of ``data_dir`` as ``n`` CSV drops.

    ``sources.fixtures`` writes the export (its dirt rules) as part files
    bucketed by order id; a seeded shuffle deals the parts into ``n``
    drop directories ``drop_<i>.csv`` (hard links, no copy). The export
    is the same file the ``staging_csv_roundtrip`` twin reads, so
    ``oracle_sql()`` finds it already written."""
    from sales_analytics_etl_sql_powerbi_spark.sources.fixtures import (
        ensure_order_export_csv,
    )

    export = ensure_order_export_csv(data_dir)
    parts = sorted(os.listdir(export))
    random.Random(seed).shuffle(parts)
    paths = []
    for i in range(n):
        path = os.path.join(out_dir, f"drop_{i:02d}.csv")
        os.makedirs(path)
        for name in parts[i::n]:
            os.link(os.path.join(export, name), os.path.join(path, name))
        paths.append(path)
    return paths


class BiDashboard(Workload):
    """A warehouse day. Set-up is the nightly load: seeded CSV order
    drops land in a parquet staging table (read, clean, append, then a
    QA count over the whole table after each drop), the star is built,
    the reporting view cached and every visual rendered once. Ops are
    dashboard requests: one visual under a seeded slicer."""

    name = "bi_dashboard"
    scale = 0.03
    drops = 2
    #: requests rendered in the warm-up: the first render of a visual
    #: compiles its plan, and latency keeps falling for about two rounds
    warm_requests = 2 * len(VISUALS)
    #: the op loop stops only after whole halves of the request cycle;
    #: a run of one batch renders the cycle's other half, so warm-up and
    #: timed ops together make every (visual, slicer kind) pair once
    batch = 2 * len(VISUALS)

    def setup(self) -> None:
        from pyspark.storagelevel import StorageLevel

        from sales_analytics_etl_sql_powerbi_spark import pipeline

        t = self.tracer
        self.data = self.fresh_dir("inputs")
        datagen.write(self.data, self.seed, self.scale)
        self.drop_paths = write_drops(self.fresh_dir("drops"), self.data, self.seed, self.drops)
        self.table = os.path.join(self.work, "stg_order_export")
        self.landed: list[dict] = []
        with t.span("setup", op=-1):
            t0 = time.perf_counter()
            with t.span("ingest"):
                for path in self.drop_paths:
                    self._land(path)
            self.ingest_s = time.perf_counter() - t0
            with t.span("pipeline.plan"):
                s = pipeline.star(self.spark, self.data)
            if t.enabled:
                # the load materializes only the view; the traced run
                # also materializes each earlier stage in its own job
                # group, to time the stages one by one
                for stage, names in STAGES:
                    with t.span(f"pipeline.{stage}"):
                        for name in names:
                            s[name].write.format("noop").mode("overwrite").save()
            with t.span("pipeline.view"):
                self.view = s["view"].persist(StorageLevel.MEMORY_AND_DISK)
                self.view_rows = self.view.count()

    def _land(self, drop: str) -> None:
        """One CSV drop into the staging table, then the table's QA count."""
        from sales_analytics_etl_sql_powerbi_spark import pipeline
        from sales_analytics_etl_sql_powerbi_spark.operators import quality
        from sales_analytics_etl_sql_powerbi_spark.sources import readers, sinks

        t = self.tracer
        before = set(parquet_files(self.table))
        with t.span("land"):
            with t.span("readers.read_input"):
                raw = readers.read_input(self.spark, drop)
            with t.span("cleaning.clean_order_export"):
                clean = pipeline.clean_order_export(raw)
            with t.span("sinks.write_append"):
                sinks.write_append(clean, self.table)
            with t.span("quality.nonnull_counts"):
                qa = quality.nonnull_counts(self.spark.read.parquet(self.table), STAGING_COLS)
                counts = qa.collect()[0].asDict()
        files = parquet_files(self.table)
        new = sorted(set(files) - before)
        self.landed.append(
            {"qa": counts, "files": len(files), "new_files": len(new), "new_bytes": _bytes(new)}
        )

    def prepare(self) -> None:
        from sales_analytics_etl_sql_powerbi_spark import oracles

        # the ingest: cumulative QA counts against csv_roundtrip_sql
        con = duckdb.connect()
        con.execute("SET threads TO 4")
        counts = ", ".join(f"count({c}) AS nonnull_{c}" for c in STAGING_COLS)
        expected: dict[str, int] = {}
        for path, landed in zip(self.drop_paths, self.landed):
            drop = con.execute(
                f"SELECT count(*) AS row_count, {counts} FROM ({oracles.csv_roundtrip_sql(path)}) r"
            ).fetchdf().iloc[0]
            for k, v in drop.items():
                expected[k] = expected.get(k, 0) + int(v)
            landed["rows"] = int(drop["row_count"])
            if {k: int(v) for k, v in landed["qa"].items()} != expected:
                self.setup_failures += 1
        con.close()

        # the dashboard: every request's twin over the DuckDB view
        oracle_sql = entry_twins(self.data)
        con = duck(self.data)
        con.execute(
            "CREATE TABLE vw_full AS " + oracles.with_star("SELECT * FROM vw", ("vw",))
        )

        def distinct(col: str, where: str = "true") -> list:
            q = f"SELECT DISTINCT {col} FROM vw_full WHERE {where} ORDER BY 1"
            return [r[0] for r in con.execute(q).fetchall()]

        domain = {
            "year": distinct("year"),
            "platform": distinct("platform_name"),
            "states": distinct("state_code", "state_code IS NOT NULL"),
        }
        prefix = oracles.with_star("", ("vw",))
        finals = {}
        for visual, key in VISUALS.items():
            if not oracle_sql[key].startswith(prefix):
                raise RuntimeError(f"twin of {key} is not a select over the view")
            finals[visual] = oracle_sql[key][len(prefix):]
        # request i pairs visual i % 7 with slicer kind i % 4: every 28
        # requests hold each (visual, kind) pair once, and every run
        # makes the same pairs in the same order; the seed draws the
        # slicer values (and the data)
        self.requests = []
        for i in range(len(VISUALS) * len(SLICERS)):
            visual = list(VISUALS)[i % len(VISUALS)]
            cond, where = self._slicer(SLICERS[i % len(SLICERS)], domain)
            want = con.execute(
                f"WITH vw AS (SELECT * FROM vw_full WHERE {where}) {finals[visual]}"
            ).fetchdf()
            self.requests.append((visual, cond, want))
        con.close()
        self.result_bytes: list[int] = []

    def _slicer(self, kind: str, domain: dict):
        """(Spark filter or None, the same filter as SQL) of one kind."""
        from pyspark.sql import functions as F

        if kind == "none":
            return None, "true"
        if kind == "year":
            y = self.rng.choice(domain["year"])
            return F.col("year") == y, f"year = {y}"
        if kind == "platform":
            p = self.rng.choice(domain["platform"])
            return F.col("platform_name") == p, f"platform_name = '{p}'"
        # a fixed-size state set keeps the rows a request scans
        # comparable across seeds
        states = domain["states"]
        pick = sorted(self.rng.sample(states, min(STATE_SET, len(states))))
        listed = ", ".join(f"'{s}'" for s in pick)
        return F.col("state_code").isin(pick), f"state_code IN ({listed})"

    def warmup(self) -> None:
        # users pay the first renders once per session, so they belong
        # to the set-up; timed op i renders request warm_requests + i
        with self.tracer.span("warmup", op=-1):
            for k in range(self.warm_requests):
                if not same_rows(self._render(k), self.requests[k][2]):
                    self.setup_failures += 1

    def _index(self, i: int) -> int:
        """The request that timed op ``i`` renders."""
        return (self.warm_requests + i) % len(self.requests)

    def _render(self, k: int):
        """Request ``k`` of the cycle, collected."""
        from sales_analytics_etl_sql_powerbi_spark.operators import analytics

        visual, cond, _ = self.requests[k]
        t = self.tracer
        with t.span("analytics.plan"):
            view = self.view if cond is None else self.view.where(cond)
            df = getattr(analytics, visual)(view)
        with t.span("client.collect"):
            return df.toPandas()

    def op(self, i: int):
        with self.tracer.span("op", op=i):
            return self._render(self._index(i))

    def check(self, i: int, result) -> bool:
        self.result_bytes.append(int(result.memory_usage(deep=True).sum()))
        return same_rows(result, self.requests[self._index(i)][2])

    def report(self) -> dict:
        rows = sum(x["rows"] for x in self.landed)
        return {
            "view_rows": (self.view_rows, "rows"),
            "staging_rows": (rows, "rows"),
            "rows_per_s": (rows / self.ingest_s, "1/s"),
            "stored_bytes_per_row": (_bytes(parquet_files(self.table)) / rows, "B"),
        }

    def layers(self, spans: list[dict], inc, rest: dict) -> dict:
        setup = next(s["id"] for s in spans if s["name"] == "setup")

        def named(name: str) -> list[dict]:
            return [s for s in spans if s["name"] == name]

        def kid(span: dict, name: str) -> dict:
            return next(c for c in tr.children(spans, span["id"]) if c["name"] == name)

        def span_s(name: str) -> float:
            return _med([tr.duration(s) for s in named(name)])

        def timed(name: str) -> list[dict]:
            # the timed ops' spans, without the warm-up's
            return [s for s in named(name) if s["op"] >= 0]

        # the star build: every set-up stage after the ingest
        stages = [s["id"] for s in tr.children(spans, setup) if s["name"].startswith("pipeline.")]
        pipe = {k: sum(inc(sid)[k] for sid in stages) for k in tr.COUNTERS}
        lands = named("land")
        writes = [kid(x, "sinks.write_append") for x in lands]
        qas = [kid(x, "quality.nonnull_counts") for x in lands]
        ingest = inc(next(s["id"] for s in named("ingest")))
        ops = named("op")
        collects = timed("client.collect")
        op_inc = [inc(s["id"]) for s in ops]
        col_inc = [inc(s["id"]) for s in collects]
        # the reporting view is by far the largest cached RDD
        view = max(rest["rdds"], key=lambda r: r.get("memoryUsed", 0) + r.get("diskUsed", 0))
        return {
            **{f"pipeline.{x}_s": span_s(f"pipeline.{x}") for x in ("plan", "view")},
            **{f"pipeline.{x}_s": span_s(f"pipeline.{x}") for x, _ in STAGES},
            "pipeline.tasks": pipe["tasks"],
            "pipeline.shuffle_write_bytes": pipe["shuffle_write_bytes"],
            "pipeline.executor_cpu_s": pipe["executor_cpu_s"],
            "readers.call_s": span_s("readers.read_input"),
            "readers.input_bytes": ingest["input_bytes"] + pipe["input_bytes"],
            "readers.scan_tasks": ingest["scan_tasks"] + pipe["scan_tasks"],
            "cleaning.self_s": _med(
                [tr.duration(x) - tr.duration(w) - tr.duration(q) for x, w, q in zip(lands, writes, qas)]
            ),
            "sinks.write_s": span_s("sinks.write_append"),
            "sinks.jobs": _med([inc(s["id"])["jobs"] for s in writes]),
            "sinks.files_written": _med([x["new_files"] for x in self.landed]),
            "sinks.bytes_written": _med([x["new_bytes"] for x in self.landed]),
            "quality.qa_s": span_s("quality.nonnull_counts"),
            "quality.files_read": _med([x["files"] for x in self.landed]),
            "analytics.plan_s": _med([tr.duration(s) for s in timed("analytics.plan")]),
            "analytics.exec_s": _med([c["job_s"] for c in op_inc]),
            "analytics.jobs": _med([c["jobs"] for c in op_inc]),
            "analytics.stages": _med([c["stages"] for c in op_inc]),
            "analytics.tasks": _med([c["tasks"] for c in op_inc]),
            "analytics.driver_gap_s": _med(
                [tr.duration(s) - c["job_s"] for s, c in zip(ops, op_inc)]
            ),
            "cache.view_mem_bytes": view.get("memoryUsed", 0),
            "cache.view_disk_bytes": view.get("diskUsed", 0),
            "cache.view_partitions": view.get("numCachedPartitions", 0),
            "client.result_bytes": _med(self.result_bytes),
            "client.collect_gap_s": _med(
                [tr.duration(s) - c["job_s"] for s, c in zip(collects, col_inc)]
            ),
        }


# ---------------------------------------------------------------------------
# corpus_queries
# ---------------------------------------------------------------------------

#: gated corpus query → the layer (operator module) it exercises
CORPUS_QUERIES = {
    "text_retrieval": "text",
    "neardup_clusters": "dedup",
    "ann_ivf_topk": "similarity",
    "entity_match": "dims",
}


class CorpusQueries(Workload):
    """Rounds of the gated corpus queries, one per operator layer, in a
    seeded order, with ``release_caches`` between rounds."""

    name = "corpus_queries"
    scale = 0.01

    def setup(self) -> None:
        import __spark_entry__ as entry

        self.data = self.fresh_dir("inputs")
        datagen.write(self.data, self.seed, self.scale)
        self.queries = entry.queries()
        # first call of each query trains its codebooks (memoized per
        # input directory): the load a user waits on before working
        self._round(-1, list(CORPUS_QUERIES))
        entry.release_caches(self.spark)

    def prepare(self) -> None:
        oracle_sql = entry_twins(self.data)
        con = duck(self.data)
        self.want = {q: con.execute(oracle_sql[q]).fetchdf() for q in CORPUS_QUERIES}
        con.close()

    def warmup(self) -> None:
        # the round after the cold one still runs ~25% slow while the
        # JVM compiles; one more round takes that out of the timed ops
        import __spark_entry__ as entry

        got = self._round(-1, list(CORPUS_QUERIES))
        entry.release_caches(self.spark)
        if not all(same_rows(got[q], self.want[q]) for q in CORPUS_QUERIES):
            self.setup_failures += 1

    def _round(self, op: int, order: list[str]) -> dict:
        out = {}
        t = self.tracer
        with t.span("op", op=op):
            for q in order:
                with t.span(f"{CORPUS_QUERIES[q]}.{q}"):
                    out[q] = self.queries[q](self.spark, self.data).toPandas()
        return out

    def op(self, i: int):
        order = list(CORPUS_QUERIES)
        self.rng.shuffle(order)
        return self._round(i, order)

    def check(self, i: int, result) -> bool:
        import __spark_entry__ as entry

        entry.release_caches(self.spark)
        return all(same_rows(result[q], self.want[q]) for q in CORPUS_QUERIES)

    def layers(self, spans: list[dict], inc, rest: dict) -> dict:
        out = {}
        for q, layer in CORPUS_QUERIES.items():
            qs = [
                s
                for s in spans
                if s["name"] == f"{layer}.{q}" and spans[s["parent"]]["op"] >= 0
            ]
            c = [inc(s["id"]) for s in qs]
            out[f"{layer}.{q}_s"] = _med([tr.duration(s) for s in qs])
            out[f"{layer}.{q}_tasks"] = _med([x["tasks"] for x in c])
            out[f"{layer}.{q}_shuffle_bytes"] = _med(
                [x["shuffle_read_bytes"] + x["shuffle_write_bytes"] for x in c]
            )
            out[f"{layer}.{q}_python_worker_s"] = _med([x["python_worker_s"] for x in c])
        return out


WORKLOADS = {w.name: w for w in (BiDashboard, CorpusQueries)}
