from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, "/root/repo")

from dockerized_data_pipeline_spark.session import get_session

SF_SMOKE = os.path.join(
    os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata"), "sf0.001"
)


@pytest.fixture(scope="session")
def spark():
    s = get_session("ddp-tests", shuffle_partitions=8)
    yield s


def _persisted_rdd_ids(spark):
    """{id: description} of persisted RDDs, EXCLUDING localCheckpoint
    working state: eagerly-checkpointed per-query RDDs are unpersisted by
    the ContextCleaner once GC'd, but py4j defers the detach of collected
    proxies until further gateway activity, so their exact lifetime is
    nondeterministic -- and they carry no semantic state into later tests
    (unlike the SQL cache, which rewrites plans to InMemoryTableScan)."""
    ids = {}
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().iterator()
    while it.hasNext():
        e = it.next()
        rdd = e._2()
        # isLocallyCheckpointed, not a callsite-string match: an RDD
        # checkpointed inside a streaming thread carries the thread's
        # entry point ("at start") as its creation site
        if not rdd.isLocallyCheckpointed():
            ids[e._1()] = rdd.toString()
    return ids


def _session_state_snapshot(spark):
    """Everything a test could leak into the shared session-scoped
    SparkSession: explicitly-set SQL confs, catalog tables + temp views,
    and the set of persisted (cached) RDDs."""
    confs = {r["key"]: r["value"] for r in spark.sql("SET").collect()}
    tables = {
        (t.namespace[0] if t.namespace else None, t.name, t.isTemporary)
        for t in spark.catalog.listTables()
    }
    cached = _persisted_rdd_ids(spark)
    return confs, tables, cached


@pytest.fixture(autouse=True)
def _no_session_state_leak(request):
    """Fail any test that leaks state into the session-scoped SparkSession
    (VERDICT r5 item 2: an order-sensitive failure proved leaks go
    undetected). Restores the state BEFORE failing so one offender does not
    cascade into later tests."""
    if "spark" not in request.fixturenames:
        yield
        return
    spark = request.getfixturevalue("spark")
    before_confs, before_tables, before_cached = _session_state_snapshot(spark)
    yield
    after_confs, after_tables, after_cached = _session_state_snapshot(spark)

    problems = []
    if after_confs != before_confs:
        diff = {
            k: (before_confs.get(k), after_confs.get(k))
            for k in set(before_confs) | set(after_confs)
            if before_confs.get(k) != after_confs.get(k)
        }
        real = {}
        for k, (old, new) in diff.items():
            if old is None:
                spark.conf.unset(k)
                # get-then-set restore pattern: a conf that was unset before
                # and is now explicitly set to its default value is
                # effectively unchanged -- unset it and move on. NB:
                # conf.get(k, fallback) returns the FALLBACK for unset keys,
                # not Spark's built-in default, so use the no-default form.
                try:
                    builtin_default = spark.conf.get(k)
                except Exception:
                    builtin_default = None
                if builtin_default != new:
                    real[k] = (old, new)
            else:
                spark.conf.set(k, old)
                real[k] = (old, new)
        if real:
            problems.append(f"SQL confs changed: {real}")
    leaked_tables = after_tables - before_tables
    if leaked_tables:
        for db, name, is_temp in leaked_tables:
            if is_temp:
                spark.catalog.dropTempView(name)
            else:
                qual = f"`{db}`.`{name}`" if db else f"`{name}`"
                spark.sql(f"DROP TABLE IF EXISTS {qual}")
        problems.append(f"tables/temp views leaked: {sorted(leaked_tables)}")
    dropped_tables = before_tables - after_tables
    if dropped_tables:
        problems.append(
            f"pre-existing tables dropped: {sorted(dropped_tables)}"
        )
    leaked_rdds = {
        i: d for i, d in after_cached.items() if i not in before_cached
    }
    if leaked_rdds:
        # give the ContextCleaner one GC round for just-dropped references
        # (cache()d DataFrames a test forgot to unpersist but no longer
        # holds drain here; a retained cache never does)
        import gc

        gc.collect()
        spark.sparkContext._jvm.System.gc()
        leaked_rdds = {
            i: d
            for i, d in _persisted_rdd_ids(spark).items()
            if i not in before_cached
        }
    if leaked_rdds:
        spark.catalog.clearCache()
        problems.append(f"persisted RDDs leaked: {leaked_rdds}")
    if problems:
        pytest.fail(
            "session state leaked by this test (restored): "
            + "; ".join(problems)
        )


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE
