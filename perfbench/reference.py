"""Pure-Python reference for the ingest workload's outputs (no Spark).

``reference_upsert`` replays the seeded ticks with the reference job's rules:
a payload that is a rate-limit ``Note``, malformed, or a transport error adds
nothing; a bar whose timestamp does not parse is dropped; a malformed numeric
field becomes NULL; a bar whose key (symbol, timestamp) exists updates OHLCV,
volume and last_refreshed (the generator's last_refreshed only grows, so the
newest last_refreshed wins) and keeps the stored created_at and time_zone; a
new key is inserted with the tick's as_of as created_at.
"""

from __future__ import annotations

import datetime as dt
import json
from decimal import Decimal, InvalidOperation

TS_FMT = "%Y-%m-%d %H:%M:%S"
PRICE_COLS = {"1. open": "open_price", "2. high": "high_price",
              "3. low": "low_price", "4. close": "close_price"}
UPDATE_COLS = ("open_price", "high_price", "low_price", "close_price",
               "volume", "last_refreshed")
Q4 = Decimal("0.0001")


def _ts(s: str) -> dt.datetime | None:
    try:
        return dt.datetime.strptime(s, TS_FMT)
    except (TypeError, ValueError):
        return None


def _dec(s: str) -> Decimal | None:
    try:
        return Decimal(s).quantize(Q4)
    except (InvalidOperation, TypeError):
        return None


def _int(s: str) -> int | None:
    try:
        return int(s)
    except (TypeError, ValueError):
        return None


def parse_payload(symbol: str, body: str) -> list[dict]:
    """Rows one fetched payload contributes (empty for note/malformed)."""
    try:
        doc = json.loads(body)
    except ValueError:
        return []
    series = doc.get("Time Series (60min)")
    if "Error Message" in doc or "Note" in doc or not isinstance(series, dict):
        return []
    meta = doc.get("Meta Data") or {}
    last = _ts(meta.get("3. Last Refreshed"))
    rows = []
    for ts_str, vals in series.items():
        ts = _ts(ts_str)
        if ts is None:
            continue
        row = {"symbol": symbol, "timestamp": ts, "last_refreshed": last,
               "time_zone": meta.get("5. Time Zone")}
        for k, col in PRICE_COLS.items():
            row[col] = _dec(vals.get(k))
        row["volume"] = _int(vals.get("5. volume"))
        rows.append(row)
    return rows


def upsert(table: dict, rows: list[dict], created_at: dt.datetime) -> None:
    for r in rows:
        key = (r["symbol"], r["timestamp"])
        old = table.get(key)
        if old is None:
            table[key] = {**r, "created_at": created_at}
        else:
            old.update({c: r[c] for c in UPDATE_COLS})


def reference_upsert(ticks: list[dict]) -> dict:
    """Final stock_data keyed by (symbol, timestamp) after all ``ticks``."""
    table: dict = {}
    for tick in ticks:
        as_of = _ts(tick["as_of"])
        for sym, f in tick["fetches"].items():
            if f["kind"] != "error":
                upsert(table, parse_payload(sym, f["body"]), as_of)
    return table
