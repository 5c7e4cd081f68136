"""Operational tables the reference documents but never implements
(SURVEY doc-vs-code gap; README.md:130-134, queried at Makefile:219 and
README.md:217-220): ``pipeline_logs`` (one row per run) and
``stock_metadata`` (per-symbol fetch state, keyed upsert).

Implemented here so the documented monitoring queries (A2 success/failure
rate, O2 recent-runs peek) run against real data produced by
pipeline.ingest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .operators.merge import merge_upsert_path
from .session import local_frame

PIPELINE_LOGS_SCHEMA = T.StructType(
    [
        T.StructField("dag_id", T.StringType(), False),
        T.StructField("task_id", T.StringType(), False),
        T.StructField("execution_date", T.TimestampType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("duration", T.DoubleType(), True),
        T.StructField("error_message", T.StringType(), True),
        T.StructField("records_processed", T.LongType(), True),
        T.StructField("created_at", T.TimestampType(), False),
    ]
)

STOCK_METADATA_SCHEMA = T.StructType(
    [
        T.StructField("symbol", T.StringType(), False),
        T.StructField("last_updated", T.TimestampType(), True),
        T.StructField("last_fetch_success", T.BooleanType(), True),
        T.StructField("error_message", T.StringType(), True),
        T.StructField("total_records", T.LongType(), True),
    ]
)


def append_run_log(
    spark: SparkSession,
    logs_path: str,
    dag_id: str,
    task_id: str,
    execution_date,
    status: str,
    duration: float,
    records_processed: int,
    error_message: str | None = None,
) -> None:
    """pipeline_logs is append-only (one row per task run)."""
    row = [
        (
            dag_id,
            task_id,
            execution_date,
            status,
            duration,
            error_message,
            records_processed,
            execution_date,
        )
    ]
    local_frame(spark, row, PIPELINE_LOGS_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(logs_path)


def upsert_stock_metadata(
    spark: SparkSession, meta_path: str, per_symbol: DataFrame
) -> None:
    """stock_metadata is keyed on symbol: newest fetch state wins."""
    merge_upsert_path(
        spark,
        meta_path,
        per_symbol,
        keys=["symbol"],
        batch_order_by=["last_updated"],
    )


def recent_failures(spark: SparkSession, logs_path: str, since) -> DataFrame:
    """A2: success/failure counts per dag over a window (README.md:217-220)."""
    logs = spark.read.parquet(logs_path)
    return (
        logs.filter(F.col("created_at") >= F.lit(since).cast("timestamp"))
        .groupBy("dag_id", "status")
        .agg(F.count("*").alias("runs"))
    )


def recent_runs(spark: SparkSession, logs_path: str, limit: int = 5) -> DataFrame:
    """O2: latest runs projection (Makefile:219)."""
    return (
        spark.read.parquet(logs_path)
        .select("dag_id", "status", "records_processed", "created_at")
        .orderBy(F.desc("created_at"), F.desc("dag_id"))
        .limit(limit)
    )


def monitor(
    spark: SparkSession,
    logs_path: str,
    since,
    every_s: float = 30.0,
    iterations: int | None = None,
    sleep=None,
    on_tick=None,
) -> list[dict]:
    """``make monitor`` analog (Makefile:208-224): poll the health queries
    every ``every_s`` seconds.

    Each tick re-runs recent_failures + recent_runs and collects a small
    snapshot dict. ``iterations=None`` loops forever (the reference's
    ``watch``-style loop); tests pass a finite count and a fake ``sleep``.
    ``on_tick(snapshot)`` is the print/alert hook -- the substance behind
    the reference's email_on_failure (dags/stock_data_pipeline.py:17) is
    the failure counts in the snapshot.
    """
    import itertools
    import time as _time

    sleep = sleep if sleep is not None else _time.sleep
    ticks = range(iterations) if iterations is not None else itertools.count()
    out: list[dict] = []
    for i in ticks:
        if i > 0:
            sleep(every_s)
        failures = {
            (r.dag_id, r.status): r.runs
            for r in recent_failures(spark, logs_path, since).collect()
        }
        latest = [r.asDict() for r in recent_runs(spark, logs_path).collect()]
        snapshot = {
            "tick": i,
            "runs_by_status": failures,
            "latest_runs": latest,
            "n_failed": sum(v for (_d, s), v in failures.items() if s != "success"),
        }
        out.append(snapshot)
        if on_tick is not None:
            on_tick(snapshot)
    return out
