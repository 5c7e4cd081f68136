"""HTTP REST source (SURVEY section 2.1 S1-S3): the Alpha Vantage intraday
fetcher re-expressed with an injectable transport.

The reference fetches per-symbol in a driver loop
(scripts/fetch_stock_data.py:16-47, loop at :139-163). Here:

  * ``fetch_payloads`` runs driver-side (the symbol list is tiny: the
    reference tracks 5) and yields (symbol, payload_json) rows for
    ``sources.parse.parse_timeseries`` -- per-symbol failure isolation (T7):
    one bad symbol yields an error row, never aborts the run.
  * ``transport`` is injectable: tests pass a fake; production passes a
    requests-backed callable. No live network is required anywhere.
  * At real scale (thousands of symbols) the same fetch fn drops into a
    Python DataSource V2 (pyspark.sql.datasource) with one input partition
    per symbol batch -- the interface here is deliberately shaped for that.

Rate limiting (T6): honors a min inter-request delay (README.md:378, 12 s)
via an injectable clock/sleep, detection of 'Note' rate-limit payloads is in
sources.parse.classify_payloads (scripts/fetch_stock_data.py:36-38).
"""

from __future__ import annotations

import json
import time
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from ..config import PipelineConfig
from ..session import local_frame
from .retry import call_with_retry

Transport = Callable[[str, dict], str]
"""(url, params) -> response body text. Raise on HTTP error."""

BASE_URL = "https://www.alphavantage.co/query"  # scripts/fetch_stock_data.py:14


def default_transport(url: str, params: dict) -> str:
    """requests-backed transport (network path; never used in tests).
    30 s timeout per scripts/fetch_stock_data.py:27."""
    import requests

    resp = requests.get(url, params=params, timeout=30)
    resp.raise_for_status()
    return resp.text


@dataclass
class FetchResult:
    symbol: str
    payload: str | None
    error: str | None


def fetch_payloads(
    symbols: list[str],
    transport: Transport,
    config: PipelineConfig | None = None,
    sleep: Callable[[float], None] = time.sleep,
) -> list[FetchResult]:
    """Fetch the intraday series for each symbol with failure isolation and
    inter-request rate limiting."""
    config = config or PipelineConfig()
    out: list[FetchResult] = []
    for i, raw_sym in enumerate(symbols):
        sym = raw_sym.strip().upper()  # scripts/fetch_stock_data.py:140
        if not sym:
            continue
        if i > 0 and config.request_delay_sec > 0:
            sleep(config.request_delay_sec)
        params = {
            # scripts/fetch_stock_data.py:19-25
            "function": "TIME_SERIES_INTRADAY",
            "symbol": sym,
            "interval": "60min",
            "apikey": config.api_key,
            "outputsize": "compact",
        }
        try:
            # T5: retry transient failures with exponential backoff
            # (dags/stock_data_pipeline.py:19-20) before giving up.
            body = call_with_retry(
                lambda: transport(BASE_URL, params),
                max_retries=config.max_retries,
                delay_sec=config.retry_delay_sec,
                sleep=sleep,
            )
            out.append(FetchResult(sym, body, None))
        except Exception as exc:  # T7: isolate, don't abort (ref :148-156)
            out.append(FetchResult(sym, None, str(exc)))
    return out


def payloads_to_df(spark: SparkSession, results: list[FetchResult]) -> DataFrame:
    """Successful fetches as (symbol, payload) rows ready for parse_timeseries."""
    rows = [(r.symbol, r.payload) for r in results if r.payload is not None]
    return local_frame(spark, rows, "symbol string, payload string")


def preflight(transport: Transport, config: PipelineConfig | None = None) -> bool:
    """S3 health check (Makefile:122-134): GLOBAL_QUOTE for AAPL must return
    the expected key."""
    config = config or PipelineConfig()
    params = {"function": "GLOBAL_QUOTE", "symbol": "AAPL", "apikey": config.api_key}
    try:
        body = transport(BASE_URL, params)
        return "Global Quote" in json.loads(body)
    except Exception:
        return False
