"""Driver-contract seams that need no SparkSession.

The driver runs ``queries()`` vs ``oracle_sql()`` at sf0.01; local
sweeps (scripts/check_correctness.py) run them at any SF. Oracle twins
that carry side-inputs trained FROM the corpus (CSV export fixture,
IVF codebook, auto-sized LSH planes) must derive them from the same
corpus being swept — ``SPARK_GRAFT_ORACLE_SF_DIR`` is that seam. The
round-5 sf0.1 sweep caught exactly this: an sf0.01-pinned codebook
hash-mismatching against sf0.1 data.
"""

import __spark_entry__ as E
from sales_analytics_etl_sql_powerbi_spark.operators import similarity


def test_oracle_sf_dir_defaults_to_driver_scale(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_ORACLE_SF_DIR", raising=False)
    assert E._oracle_sf_dir().endswith("sf0.01")


def test_oracle_sf_dir_follows_env(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.1")
    assert E._oracle_sf_dir() == "/root/testdata/sf0.1"


def test_ivf_oracle_codebook_derives_from_sf_dir():
    """Different corpora must train different codebook literals — if the
    two strings matched, the sf_dir seam would be dead code and the
    sweep would silently replay one scale's constants at another."""
    s001 = similarity.ann_ivf_topk_sql(sf_dir="/root/testdata/sf0.01")
    s01 = similarity.ann_ivf_topk_sql(sf_dir="/root/testdata/sf0.1")
    assert s001 != s01


def test_dead_session_cache_entries_evicted(spark):
    """Round 17 (VERDICT r16 item 4): session-scoped cache entries
    (``@app:``-prefixed keys) belonging to sessions other than the
    live one are swept on access, and the live session's results are
    unaffected. A true two-SparkSession restart is not viable inside
    the shared test JVM, so the dead session is simulated by planting
    entries under a foreign applicationId — exactly what a dead
    session leaves behind."""
    sf = "/root/testdata/sf0.001"
    live = E._app_key(spark)
    dead_tbl = ("@app:dead-session", sf, "region")
    dead_idx = ("@app:dead-session", "rp_index", sf, E._RP_DIM)
    E._TABLE_CACHE[dead_tbl] = object()
    E._PLAN_CACHE[dead_idx] = object()
    # session-independent entries (sf+params keys) must survive sweeps
    E._PLAN_CACHE[("bpe_merges", "sentinel-sf", 1)] = ["sentinel"]
    try:
        df = E.read_table(spark, sf, "region")
        assert dead_tbl not in E._TABLE_CACHE
        # cache key carries the spread flag (round 18 scan spread)
        assert (live, sf, "region", True) in E._TABLE_CACHE
        assert df.count() == 5
        # second access returns the SAME cached lazy plan
        assert E.read_table(spark, sf, "region") is df
        E._sweep_dead_sessions(E._PLAN_CACHE, live)
        assert dead_idx not in E._PLAN_CACHE
        assert E._PLAN_CACHE[("bpe_merges", "sentinel-sf", 1)] == ["sentinel"]
    finally:
        E._PLAN_CACHE.pop(("bpe_merges", "sentinel-sf", 1), None)


def test_release_caches_unpersists_tracked_handles(spark):
    """Round 19 (VERDICT r18 item 6): queries whose shared persists
    must outlive their (lazy) return register the handles, and
    release_caches() unpersists exactly the live session's set."""
    sf = "/root/testdata/sf0.001"
    df = E._RAW_QUERIES["customer_dim_repair"](spark, sf)
    df.count()  # materializes the tracked persist
    key = (E._app_key(spark), sf, "customer_dim_repair")
    assert key in E._QUERY_PERSISTS
    handles = E._QUERY_PERSISTS[key]
    assert any(h.storageLevel.useMemory for h in handles)
    released = E.release_caches(spark)
    assert released >= len(handles)
    assert key not in E._QUERY_PERSISTS
    for h in handles:
        assert not h.storageLevel.useMemory  # unpersisted
    # the query still computes correctly afterwards (lazy recompute)
    assert E._RAW_QUERIES["customer_dim_repair"](spark, sf).count() > 0


def test_release_caches_propagates_unrelated_errors(spark):
    """Only the stopped-session error is absorbed: a handle whose
    unpersist fails for any other reason raises to the caller."""
    import pytest

    class _Broken:
        def unpersist(self):
            raise RuntimeError("unrelated unpersist failure")

    key = (E._app_key(spark), "stub-sf", "stub-query")
    E._QUERY_PERSISTS[key] = [_Broken()]
    try:
        with pytest.raises(RuntimeError, match="unrelated unpersist failure"):
            E.release_caches(spark)
    finally:
        E._QUERY_PERSISTS.pop(key, None)


_STOPPED_CHILD = r"""
import sys
sys.path.insert(0, {repo!r})
from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession
import __spark_entry__ as E
spark = (
    SparkSession.builder.master("local[1]")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
tracked = spark.range(10).persist()
probe = spark.range(20).persist()
tracked.count()
probe.count()
E._track_persists(spark, "sf", "q", tracked)
# stop the SparkContext under a live Python session handle
spark.sparkContext._jsc.sc().stop()
try:
    probe.unpersist()
    print("UNPERSIST_OK")
except Py4JJavaError:
    print("UNPERSIST_RAISES Py4JJavaError")
print("RELEASED", E.release_caches(spark), len(E._QUERY_PERSISTS))
"""


def test_release_caches_on_stopped_session():
    """On a stopped SparkContext, unpersist raises ``Py4JJavaError``
    (the block manager is gone); release_caches absorbs exactly that,
    drops the handle from tracking and counts it as not released. Runs
    in a child process: stopping the context would end the shared test
    session."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    r = subprocess.run(
        [sys.executable, "-c", _STOPPED_CHILD.format(repo=repo)],
        capture_output=True,
        text=True,
        timeout=300,
    )
    lines = r.stdout.splitlines()
    assert "UNPERSIST_RAISES Py4JJavaError" in lines, r.stderr[-2000:]
    assert "RELEASED 0 0" in lines, r.stderr[-2000:]


def test_driver_query_window_is_pinned():
    """The driver checks at most 50 queries, and every declared query
    has a DuckDB twin: a 51st entry would silently leave one unchecked."""
    assert len(E.queries()) <= 50
    assert set(E.queries()) == set(E.oracle_sql())
