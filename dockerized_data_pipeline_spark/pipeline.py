"""End-to-end ingest pipeline: the reference's scheduled DAG run re-expressed
as one Spark batch job (SURVEY section 3.1).

Reference control flow (per hourly tick):
    create_stock_table (DDL)            dags/stock_data_pipeline.py:53-56
    for symbol: fetch -> parse -> store scripts/fetch_stock_data.py:139-163

Engine re-expression -- one declarative job, not a per-symbol loop:
    fetch all payloads (driver-side HTTP, failure-isolated)
      -> one DataFrame of (symbol, payload)
      -> parse_timeseries (from_json/explode/cast, observe quality counters)
      -> stamp created_at (DDL DEFAULT CURRENT_TIMESTAMP analog)
      -> merge_upsert_partitioned keyed (symbol, timestamp), rewriting only
         the symbol partitions present in the tick; newest-last_refreshed
         wins, preserving created_at/time_zone on update

The per-symbol UNION-loop becomes a single partition-parallel plan; retry &
idempotence come from the keyed MERGE (running the same tick twice is a
no-op). Returns the run summary the reference logs
(scripts/fetch_stock_data.py:160-166) plus quality metrics.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F

from .config import PipelineConfig
from .operators.merge import merge_upsert_partitioned
from .session import local_frame
from .sources.http import Transport, fetch_payloads, payloads_to_df
from .sources.parse import parse_timeseries

MERGE_KEYS = ["symbol", "timestamp"]
# SET list per scripts/fetch_stock_data.py:96-101: OHLCV + last_refreshed
# update; time_zone and created_at are deliberately preserved.
UPDATE_COLS = [
    "open_price",
    "high_price",
    "low_price",
    "close_price",
    "volume",
    "last_refreshed",
]
PRESERVE_COLS = ["time_zone", "created_at"]


@dataclass
class IngestSummary:
    symbols_attempted: int = 0
    symbols_fetched: int = 0
    symbols_failed: int = 0
    rows_parsed: int = 0
    quality: dict = field(default_factory=dict)


def ingest(
    spark: SparkSession,
    symbols: list[str],
    transport: Transport,
    target_path: str,
    config: PipelineConfig | None = None,
    as_of=None,
    logs_path: str | None = None,
    metadata_path: str | None = None,
    sleep=None,
) -> IngestSummary:
    """Run one ingest tick: fetch -> parse -> MERGE into target_path.

    ``as_of`` pins created_at for deterministic testing; defaults to
    current_timestamp() (the DDL default, dags/stock_data_pipeline.py:36).
    When ``logs_path`` / ``metadata_path`` are given, the run also maintains
    the documented operational tables (oplog.py): one pipeline_logs row per
    tick, and a per-symbol fetch-state upsert into stock_metadata.
    """
    import datetime as _dt
    import time as _time

    t0 = _time.perf_counter()
    summary = IngestSummary(symbols_attempted=len(symbols))
    # sleep is injectable so tests (and backpressure-aware callers) control
    # both the T6 rate-limit delay and the T5 retry backoff clock.
    results = fetch_payloads(
        symbols, transport, config, **({"sleep": sleep} if sleep is not None else {})
    )
    summary.symbols_failed = sum(1 for r in results if r.error is not None)
    summary.symbols_fetched = len(results) - summary.symbols_failed

    if summary.symbols_fetched > 0:
        payload_df = payloads_to_df(spark, results)
        obs = Observation("ingest_quality")
        parsed = parse_timeseries(payload_df, observation=obs)
        created = F.lit(as_of).cast("timestamp") if as_of else F.current_timestamp()
        batch = parsed.withColumn("created_at", created.cast("timestamp_ntz"))
        # only the symbols present in this tick rewrite
        merge_upsert_partitioned(
            spark,
            target_path,
            batch,
            keys=MERGE_KEYS,
            partition_col="symbol",
            update_cols=UPDATE_COLS,
            preserve_cols=PRESERVE_COLS,
            batch_order_by=["last_refreshed"],
        )
        summary.quality = dict(obs.get)
        summary.rows_parsed = summary.quality.get("rows_total", 0)

    exec_date = (
        _dt.datetime.fromisoformat(as_of) if as_of else _dt.datetime.utcnow()
    )
    if logs_path is not None:
        from .oplog import append_run_log

        append_run_log(
            spark,
            logs_path,
            dag_id="stock_data_pipeline",
            task_id="fetch_and_process_stock_data",
            execution_date=exec_date,
            status="success" if summary.symbols_failed == 0 else "partial_failure",
            duration=_time.perf_counter() - t0,
            records_processed=summary.rows_parsed,
            error_message=None
            if summary.symbols_failed == 0
            else f"{summary.symbols_failed} symbol(s) failed",
        )
    if metadata_path is not None:
        from .oplog import STOCK_METADATA_SCHEMA, upsert_stock_metadata

        meta_rows = [
            (r.symbol, exec_date, r.error is None, r.error, None) for r in results
        ]
        upsert_stock_metadata(
            spark,
            metadata_path,
            local_frame(spark, meta_rows, STOCK_METADATA_SCHEMA),
        )
    return summary
