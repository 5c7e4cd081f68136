"""Seeded benchmark inputs. The program under test receives only these files.

Two generators, both pure functions of ``--seed`` (numpy + pyarrow, no Spark):

* ``make_tables`` writes the ten TPC-H-shaped fixture tables the registry
  queries read (same names, column types and value ranges as the sf0.01
  test fixtures), including ~10% near-duplicate documents so the MinHash
  queries find pairs, and label-clustered embeddings so k-means has structure.
* ``make_ingest`` writes Alpha-Vantage-shaped payloads for a run of scheduled
  ticks (``ticks.json``) plus the streaming leg's parquet files (``stream/``).
  Each tick fetches a window of ``BARS`` hourly bars per symbol that slides by
  ``SLIDE`` bars, so every tick re-fetches ``BARS - SLIDE`` bars whose values
  were revised (updates) and adds ``SLIDE`` new ones (inserts). A fixed number
  of each tick's fetches is a rate-limit ``Note`` payload, a malformed
  (truncated) payload or a transport error, and a fixed share of bars carries
  a malformed timestamp or a malformed numeric field. The streaming files are
  the bars the ticks parse to, one file per tick.

Usage: python3 perfbench/gen.py --workload {llm_ops,ingest} --seed N --out DIR
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = 1

# -- registry tables ---------------------------------------------------------

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
ETYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "en", "zh", "es", "fr", "de"]
# content words plus stopwords, so the corpus-prep quality gate keeps documents
WORDS = (
    "spark line column order batch part sort fast value scan query agg table "
    "hash key group stream filter customer slow vector small join index "
    "shuffle plan cache row window merge data big the and of to a in is it for on"
).split()
PART_WORDS = "small ring red widget blue bolt steel frame green gear".split()

SF = 0.01
N_CUST, N_SUPP, N_PART = int(150_000 * SF), int(10_000 * SF), int(200_000 * SF)
N_ORD, N_LI, N_EV = int(1_500_000 * SF), int(6_000_000 * SF), int(1_000_000 * SF)
N_DOC, N_EMB, DIM, N_LABELS = 500, 500, 64, 10


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _days(rng, n: int, start: str, span: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(out_dir: str, seed: int) -> None:
    rng = np.random.default_rng([GEN_VERSION, seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    i32 = pa.int32()
    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), i32), "r_name": REGIONS})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    _write(out_dir, "customer", {
        "c_custkey": np.arange(N_CUST, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUST)],
        "c_nationkey": rng.integers(0, 25, N_CUST).astype(np.int32),
        "c_acctbal": _money(rng, N_CUST, -1000.0, 10_000.0),
        "c_mktsegment": rng.choice(SEGMENTS, N_CUST)})
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(N_SUPP, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPP)],
        "s_nationkey": rng.integers(0, 25, N_SUPP).astype(np.int32),
        "s_acctbal": _money(rng, N_SUPP, -1000.0, 10_000.0)})
    _write(out_dir, "part", {
        "p_partkey": np.arange(N_PART, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_WORDS, N_PART),
                                                 rng.choice(PART_WORDS, N_PART))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)],
        "p_type": rng.choice(TYPES, N_PART),
        "p_size": rng.integers(1, 51, N_PART).astype(np.int32),
        "p_retailprice": np.round(900.0 + rng.integers(0, 1000, N_PART) / 10.0, 1)})
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(N_ORD, dtype=np.int64),
        "o_custkey": rng.integers(0, N_CUST, N_ORD),
        "o_orderstatus": rng.choice(["F", "O", "P"], N_ORD),
        "o_totalprice": _money(rng, N_ORD, 1000.0, 500_000.0),
        "o_orderdate": _days(rng, N_ORD, "1995-01-01", 2400),
        "o_orderpriority": rng.choice(PRIORITIES, N_ORD)})
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, N_ORD, N_LI),
        "l_partkey": rng.integers(0, N_PART, N_LI),
        "l_suppkey": rng.integers(0, N_SUPP, N_LI),
        "l_linenumber": rng.integers(1, 8, N_LI).astype(np.int32),
        "l_quantity": rng.integers(1, 51, N_LI).astype(np.float64),
        "l_extendedprice": _money(rng, N_LI, 900.0, 105_000.0),
        "l_discount": rng.integers(0, 11, N_LI) / 100.0,
        "l_tax": rng.integers(0, 9, N_LI) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], N_LI),
        "l_linestatus": rng.choice(["F", "O"], N_LI),
        "l_shipdate": _days(rng, N_LI, "1995-01-02", 2500)})
    span_us = 30 * 24 * 3600 * 1_000_000
    ts = (np.datetime64("2024-01-01", "us")
          + (np.arange(N_EV) * (span_us // N_EV)
             + rng.integers(0, 60_000_000, N_EV)).astype("timedelta64[us]"))
    _write(out_dir, "events", {
        "event_id": np.arange(N_EV, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, 150, N_EV),
        "event_type": rng.choice(ETYPES, N_EV),
        "value": _money(rng, N_EV, 0.0, 560.0),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EV)]})
    texts: list[str] = []
    for i in range(N_DOC):
        if i >= 10 and rng.random() < 0.1:  # near-duplicate of an earlier doc
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = str(rng.choice(WORDS))
        else:
            words = list(rng.choice(WORDS, int(rng.integers(8, 78))))
        texts.append(" ".join(words))
    _write(out_dir, "documents", {
        "doc_id": np.arange(N_DOC, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, N_DOC),
        "source": [f"src{s}" for s in rng.integers(0, 20, N_DOC)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    labels = rng.integers(0, N_LABELS, N_EMB)
    centers = rng.normal(0.0, 0.15, (N_LABELS, DIM))
    emb = (centers[labels] + rng.normal(0.0, 0.08, (N_EMB, DIM))).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(N_EMB, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": labels.astype(np.int32)})


# -- ingest payloads ----------------------------------------------------------

# The shape the program's own fetch implies: ``fetch_payloads`` asks for
# ``outputsize=compact`` (the newest 100 bars) on an hourly schedule, so each
# tick re-fetches 99 bars (updates) and adds one (an insert). The failure
# counts below are assumed, not measured from Alpha Vantage traffic: they make
# every tick exercise each failure path of the fetch and parse layers.
SYMBOLS = 50        # symbols fetched per tick
BARS = 100          # hourly bars per fetched window (outputsize=compact)
SLIDE = 1           # bars the window advances per tick (one hourly tick)
TICKS = 2           # scheduled ticks per pass
NOTES, MALFORMED, TRANSPORT_ERRORS = 2, 2, 2   # fetches per tick (of SYMBOLS)
BAD_TS_SHARE, BAD_NUM_SHARE = 0.01, 0.02       # share of bars
T0 = dt.datetime(2024, 1, 2, 0, 0, 0)
TIME_ZONE = "US/Eastern"
TS_FMT = "%Y-%m-%d %H:%M:%S"


def _price(rng) -> str:
    return f"{rng.uniform(10, 500):.4f}"


def _tick_payload(rng, sym_idx: int, tick: int) -> str:
    """Payload json for one symbol's window at ``tick``. Every fetch draws
    fresh values, so re-fetched bars are revised (updates)."""
    first = tick * SLIDE
    points: dict[str, dict[str, str]] = {}
    for b in range(first, first + BARS):
        ts = (T0 + dt.timedelta(hours=b)).strftime(TS_FMT)
        if rng.random() < BAD_TS_SHARE:
            ts = f"bad-ts-{tick}-{b}"
        vals = {"1. open": _price(rng), "2. high": _price(rng), "3. low": _price(rng),
                "4. close": _price(rng), "5. volume": str(int(rng.integers(100, 10**6)))}
        if rng.random() < BAD_NUM_SHARE:
            vals[str(rng.choice(["1. open", "5. volume"]))] = "n/a"
        points[ts] = vals
    last = (T0 + dt.timedelta(hours=first + BARS - 1)).strftime(TS_FMT)
    meta = {"1. Information": f"Intraday (60min) r{tick}", "2. Symbol": f"S{sym_idx:03d}",
            "3. Last Refreshed": last, "5. Time Zone": TIME_ZONE}
    return json.dumps({"Meta Data": meta, "Time Series (60min)": points})


def ingest_ticks(seed: int) -> list[dict]:
    """Per tick: ``as_of`` and, per symbol, ``{"kind": ..., "body": ...}`` with
    kind in ok / note / malformed / error (error = the transport raises)."""
    rng = np.random.default_rng([GEN_VERSION, seed, 2])
    ticks = []
    for t in range(TICKS):
        as_of = (T0 + dt.timedelta(hours=t * SLIDE + BARS - 1, minutes=30)).strftime(TS_FMT)
        kinds = (["note"] * NOTES + ["malformed"] * MALFORMED + ["error"] * TRANSPORT_ERRORS
                 + ["ok"] * (SYMBOLS - NOTES - MALFORMED - TRANSPORT_ERRORS))
        kind_of = dict(zip(rng.permutation(SYMBOLS).tolist(), kinds))
        fetches = {}
        for s in range(SYMBOLS):
            body = _tick_payload(rng, s, t)
            kind = kind_of[s]
            if kind == "note":
                body = json.dumps({"Note": "API call frequency exceeded"})
            elif kind == "malformed":
                body = body[: len(body) // 2]
            elif kind == "error":
                body = "HTTP 503"
            fetches[f"S{s:03d}"] = {"kind": kind, "body": body}
        ticks.append({"as_of": as_of, "fetches": fetches})
    return ticks


STREAM_SCHEMA = pa.schema([
    ("symbol", pa.string()), ("timestamp", pa.timestamp("us")),
    ("open_price", pa.decimal128(15, 4)), ("high_price", pa.decimal128(15, 4)),
    ("low_price", pa.decimal128(15, 4)), ("close_price", pa.decimal128(15, 4)),
    ("volume", pa.int64()), ("last_refreshed", pa.timestamp("us")),
    ("time_zone", pa.string()), ("created_at", pa.timestamp("us")),
])


def stream_rows(ticks: list[dict]) -> list[list[dict]]:
    """The streaming leg's files, one per tick: the bars that tick's payloads
    parse to, with the tick's ``as_of`` as created_at. Draining them in order
    must give the same table as the ticks themselves."""
    from reference import parse_payload

    files = []
    for tick in ticks:
        as_of = dt.datetime.strptime(tick["as_of"], TS_FMT)
        files.append([{**row, "created_at": as_of}
                      for sym, f in sorted(tick["fetches"].items()) if f["kind"] != "error"
                      for row in parse_payload(sym, f["body"])])
    return files


def make_ingest(out_dir: str, seed: int) -> None:
    os.makedirs(os.path.join(out_dir, "stream"), exist_ok=True)
    ticks = ingest_ticks(seed)
    with open(os.path.join(out_dir, "ticks.json"), "w") as fh:
        json.dump(ticks, fh)
    for i, rows in enumerate(stream_rows(ticks)):
        pq.write_table(pa.Table.from_pylist(rows, STREAM_SCHEMA),
                       os.path.join(out_dir, "stream", f"part-{i:04d}.parquet"))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["llm_ops", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    (make_tables if a.workload == "llm_ops" else make_ingest)(a.out, a.seed)


if __name__ == "__main__":
    main()
