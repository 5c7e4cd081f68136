"""Concurrent-query soak (VERDICT r8 item 3).

The reference invites ad-hoc SQL concurrent with the pipeline
(README.md:193-208 -- psql against the live Postgres while the DAG
ingests). The Spark analog is many threads sharing ONE SparkSession:
temp views and SQL confs are session-global, so two threads binding the
same common name (``lineitem``) -- possibly to DIFFERENT scale factors
-- must not cross-talk. Each query binds its views in its own clone of
the session (session.isolated_session), so neither analysis nor
execution is serialized.

The soak runs the full 15-query headline set (plus every view-binding
consumer: spark.sql-text queries, the verbatim doc-SQL family, EXISTS /
correlated-subquery SQL) from 8 threads against BOTH sf0.001 and
sf0.01 simultaneously, with a streaming foreachBatch-merge ingest
running underneath, and asserts every concurrent result is hash-equal
to its serial twin. The conftest leak detector then asserts no temp
view / conf / cached-RDD cross-talk survived.
"""

from __future__ import annotations

import datetime as dt
import os
import queue
import threading

from pyspark.sql import types as T

from dockerized_data_pipeline_spark.plans import registry

# Fixture roots resolve through the same env var conftest's sf_dir uses
# (r10, ADVICE: no hardcoded absolute paths -- portable checkouts).
_TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
SF_A = os.path.join(_TESTDATA, "sf0.001")
SF_B = os.path.join(_TESTDATA, "sf0.01")

HEADLINE_15 = [
    "q1_pricing_summary",
    "q3_unshipped_revenue_top10",
    "q5_region_nation_revenue",
    "q6_forecast_revenue",
    "q18_large_orders",
    "a1_records_per_key",
    "agg_rollup_revenue",
    "window_dedup_keep_newest",
    "asof_click_to_purchase",
    "s4_merge_upsert_events",
    "p1_json_map_flatten",
    "x1_exact_dedup_docs",
    "x5_text_stats",
    "x3_cosine_topk",
    "x2_minhash_neardup_pairs",
]

# Every query that registers a scoped view by a COMMON table name or runs
# verbatim SQL text -- the paths where cross-thread catalog cross-talk
# would actually corrupt results.
SCOPED_SQL = [
    "sql_frontdoor_pricing",
    "q17_near_brand_ceiling",
    "q4_orders_with_late_lines",
    "agg_grouping_sets",
    "sqltext_records_per_symbol",
    "sqltext_recent_logs",
    "sqltext_health_by_status",
]


def _multiset(rows):
    out = {}
    for r in rows:
        key = tuple(str(v) for v in r)
        out[key] = out.get(key, 0) + 1
    return out


def _names():
    qs = registry.QUERIES
    names = [n for n in HEADLINE_15 if n in qs]
    names += [n for n in SCOPED_SQL if n in qs]
    assert len(names) >= 18, f"query registry moved out from under the soak: {names}"
    return names


STREAM_SCHEMA = T.StructType(
    [
        T.StructField("symbol", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("close_price", T.DoubleType()),
        T.StructField("last_refreshed", T.TimestampType()),
    ]
)


def _start_background_ingest(spark, tmp_path):
    """A real foreachBatch merge ingest running while the soak queries
    execute -- the reference's 'pipeline writes while analysts read'
    posture."""
    from dockerized_data_pipeline_spark.streaming.ingest import (
        ingest_stream,
        stream_events,
    )

    src = str(tmp_path / "src")
    base = dt.datetime(2024, 1, 5, 15, 0, 0)
    rows = [
        (f"SYM{i % 7}", base + dt.timedelta(minutes=i), 100.0 + i, base)
        for i in range(500)
    ]
    spark.createDataFrame(rows, STREAM_SCHEMA).coalesce(4).write.mode(
        "append"
    ).parquet(src)
    return ingest_stream(
        stream_events(spark, src, STREAM_SCHEMA, max_files_per_trigger=1),
        str(tmp_path / "target"),
        keys=["symbol", "ts"],
        order_by=["last_refreshed"],
        checkpoint_dir=str(tmp_path / "ckpt"),
    )


def test_concurrent_headline_soak_matches_serial(spark, tmp_path):
    names = _names()

    # Serial baseline, one (query, sf) at a time.
    expected = {}
    for name in names:
        for sf in (SF_A, SF_B):
            expected[(name, sf)] = _multiset(
                registry.QUERIES[name](spark, sf).collect()
            )

    # Streaming ingest underneath (maxFilesPerTrigger=1 so it stays alive
    # across a meaningful slice of the soak).
    q = _start_background_ingest(spark, tmp_path)

    # 8 workers drain a shuffled (query, sf) work queue; both scale
    # factors interleave so the same view names bind different data
    # across threads.
    work: "queue.Queue[tuple[str, str]]" = queue.Queue()
    jobs = [(n, sf) for n in names for sf in (SF_A, SF_B)] * 2
    # deterministic shuffle: alternate sfs and stride the query list
    jobs.sort(key=lambda j: (hash((j[0], j[1])) % 97, j[0]))
    for j in jobs:
        work.put(j)

    failures: list[str] = []
    lock = threading.Lock()

    def worker():
        while True:
            try:
                name, sf = work.get_nowait()
            except queue.Empty:
                return
            try:
                got = _multiset(registry.QUERIES[name](spark, sf).collect())
                if got != expected[(name, sf)]:
                    with lock:
                        failures.append(f"{name}@{sf}: result drift")
            except Exception as e:  # noqa: BLE001 -- survey every job
                with lock:
                    failures.append(f"{name}@{sf}: {type(e).__name__}: {e}")

    threads = [threading.Thread(target=worker) for _ in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    q.awaitTermination(300)
    assert not failures, failures[:10]

    # The ingest underneath must ALSO have completed correctly: 500
    # distinct keys, exactly-once.
    assert spark.read.parquet(str(tmp_path / "target")).count() == 500
