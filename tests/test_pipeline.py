"""End-to-end ingest pipeline test (SURVEY section 3.1): fetch (fake
transport) -> parse -> MERGE, twice with overlapping data, asserting the
reference's idempotence/update/preserve guarantees at the table level."""

from __future__ import annotations

import json

from dockerized_data_pipeline_spark.config import PipelineConfig
from dockerized_data_pipeline_spark.operators.quality import duplicate_key_count
from dockerized_data_pipeline_spark.pipeline import ingest


def _payload(points, last_refreshed):
    return json.dumps(
        {
            "Meta Data": {"3. Last Refreshed": last_refreshed, "5. Time Zone": "US/Eastern"},
            "Time Series (60min)": points,
        }
    )


def _point(o, h, l, c, v):
    return {"1. open": o, "2. high": h, "3. low": l, "4. close": c, "5. volume": v}


def test_ingest_two_ticks_update_insert_preserve(spark, tmp_path):
    target = str(tmp_path / "stock_data")
    cfg = PipelineConfig(api_key="k", request_delay_sec=0, max_retries=0)

    tick1 = {
        "AAPL": _payload({"2024-01-05 15:00:00": _point("1", "2", "0.5", "1.5", "100")},
                         "2024-01-05 15:00:00"),
        "MSFT": _payload({"2024-01-05 15:00:00": _point("9", "9", "9", "9", "10")},
                         "2024-01-05 15:00:00"),
    }

    def transport1(url, params):
        return tick1[params["symbol"]]

    s1 = ingest(spark, ["AAPL", "MSFT", "BAD"], _failing(transport1, {"BAD"}), target,
                cfg, as_of="2024-01-05 15:30:00")
    assert s1.symbols_fetched == 2 and s1.symbols_failed == 1
    t1 = spark.read.parquet(target)
    assert t1.count() == 2

    # tick 2: AAPL re-fetch overlaps 15:00 (updated close) + adds 16:00
    tick2 = {
        "AAPL": _payload(
            {
                "2024-01-05 15:00:00": _point("1", "2", "0.5", "1.9", "150"),
                "2024-01-05 16:00:00": _point("1.9", "2.5", "1.8", "2.0", "80"),
            },
            "2024-01-05 16:00:00",
        )
    }
    s2 = ingest(spark, ["AAPL"], lambda u, p: tick2[p["symbol"]], target, cfg,
                as_of="2024-01-05 16:30:00")
    assert s2.rows_parsed == 2
    rows = {(r.symbol, r.timestamp.isoformat()): r for r in spark.read.parquet(target).collect()}
    assert len(rows) == 3
    updated = rows[("AAPL", "2024-01-05T15:00:00")]
    assert float(updated.close_price) == 1.9  # updated by tick 2
    assert updated.created_at.isoformat() == "2024-01-05T15:30:00"  # preserved
    inserted = rows[("AAPL", "2024-01-05T16:00:00")]
    assert inserted.created_at.isoformat() == "2024-01-05T16:30:00"
    untouched = rows[("MSFT", "2024-01-05T15:00:00")]
    assert float(untouched.close_price) == 9.0
    # PK invariant holds post-merge
    assert duplicate_key_count(spark.read.parquet(target), ["symbol", "timestamp"]) == 0

    # re-running tick 2 is a no-op (idempotence)
    ingest(spark, ["AAPL"], lambda u, p: tick2[p["symbol"]], target, cfg,
           as_of="2024-01-05 17:00:00")
    again = {(r.symbol, r.timestamp.isoformat()): r for r in spark.read.parquet(target).collect()}
    assert {k: (v.close_price, v.created_at) for k, v in again.items()} == {
        k: (v.close_price, v.created_at) for k, v in rows.items()
    }


def _failing(transport, bad_symbols):
    def t(url, params):
        if params["symbol"] in bad_symbols:
            raise RuntimeError("http 500")
        return transport(url, params)

    return t


def test_ingest_maintains_operational_tables(spark, tmp_path):
    cfg = PipelineConfig(api_key="k", request_delay_sec=0, max_retries=0)
    tick = {"AAPL": _payload({"2024-01-05 15:00:00": _point("1", "2", "0.5", "1.5", "100")},
                             "2024-01-05 15:00:00")}
    logs, meta = str(tmp_path / "logs"), str(tmp_path / "meta")
    ingest(spark, ["AAPL", "BAD"], _failing(lambda u, p: tick[p["symbol"]], {"BAD"}),
           str(tmp_path / "t"), cfg, as_of="2024-01-05 15:30:00",
           logs_path=logs, metadata_path=meta)
    log = spark.read.parquet(logs).collect()
    assert len(log) == 1
    assert log[0].status == "partial_failure"
    assert log[0].records_processed == 1
    md = {r.symbol: r for r in spark.read.parquet(meta).collect()}
    assert md["AAPL"].last_fetch_success is True
    assert md["BAD"].last_fetch_success is False and md["BAD"].error_message

    # second tick flips BAD to success; metadata upserts, logs append
    tick["BAD"] = _payload({"2024-01-05 16:00:00": _point("1", "2", "0.5", "1.5", "9")},
                           "2024-01-05 16:00:00")
    ingest(spark, ["AAPL", "BAD"], lambda u, p: tick[p["symbol"]],
           str(tmp_path / "t"), cfg, as_of="2024-01-05 16:30:00",
           logs_path=logs, metadata_path=meta)
    assert spark.read.parquet(logs).count() == 2
    md2 = {r.symbol: r for r in spark.read.parquet(meta).collect()}
    assert len(md2) == 2
    assert md2["BAD"].last_fetch_success is True


def test_ingest_all_failed_is_guarded(spark, tmp_path):
    cfg = PipelineConfig(api_key="k", request_delay_sec=0, max_retries=0)

    def boom(url, params):
        raise RuntimeError("down")

    s = ingest(spark, ["AAPL"], boom, str(tmp_path / "t"), cfg)
    assert s.symbols_fetched == 0 and s.symbols_failed == 1
    assert not (tmp_path / "t").exists()


def test_ingest_tick_builds_driver_frames_from_arrow(spark, tmp_path, monkeypatch):
    """One tick with both operational tables builds every driver-side
    frame (payloads, run log, fetch state) from a ``pyarrow.Table``,
    never from a pickled Python list, so no Python worker starts."""
    import pyarrow as pa
    from pyspark.sql import SparkSession

    seen = []
    create = SparkSession.createDataFrame

    def spy(self, data, *args, **kwargs):
        seen.append(type(data))
        return create(self, data, *args, **kwargs)

    monkeypatch.setattr(SparkSession, "createDataFrame", spy)
    cfg = PipelineConfig(api_key="k", request_delay_sec=0, max_retries=0)
    tick = {"AAPL": _payload({"2024-01-05 15:00:00": _point("1", "2", "0.5", "1.5", "100")},
                             "2024-01-05 15:00:00")}
    s = ingest(spark, ["AAPL", "BAD"], _failing(lambda u, p: tick[p["symbol"]], {"BAD"}),
               str(tmp_path / "t"), cfg, as_of="2024-01-05 15:30:00",
               logs_path=str(tmp_path / "logs"), metadata_path=str(tmp_path / "meta"))
    monkeypatch.undo()
    assert s.rows_parsed == 1
    assert len(seen) >= 3
    assert all(t is pa.Table for t in seen), seen
