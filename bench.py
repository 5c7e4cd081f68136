"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is forced to full materialization with a noop sink (no driver
collect -- executor-side completion only), matching how a cluster job would
be measured.

Scan-parallelism mode: the sf0.1 fixtures are single-row-group files, so
the default run measures plan shape, not scan/shuffle behavior. Set
SPARK_GRAFT_BENCH_FILES=N to re-lay each table out as N parquet files
(cached under /tmp) and bench against that layout -- N input splits per
scan exercises real parallel-scan + shuffle paths. Layout prep time is
excluded from timings; the JSON then carries "layout_files": N.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from dockerized_data_pipeline_spark import plans
from dockerized_data_pipeline_spark.session import get_session

HEADLINE = [
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
    # r2 additions (the original 15 above stay unchanged so BENCH_r{N}
    # files remain comparable query-for-query across rounds)
    "x7_corpus_prep_full",
    "x5_distinctive_terms",
    "x8_source_cap",
    # r2 late additions: time-series + winnowing families
    "ts_hourly_gapfill_locf",
    "x5_winnow_fingerprints",
    # r2 final additions: embedding label audit + incremental dedup
    "x3_centroid_purity",
    "x2_incremental_neardup",
    # r3 additions: real-codec multimodal paths (Arrow mapInPandas decode)
    "x4_wav_decode",
    "x4_pgm_decode",
    "x4_y4m_decode",
    "x4_png_decode",
    # r4 addition: baseline JPEG (stdlib Huffman+dequant+IDCT decode)
    "x4_jpeg_decode",
    # r5 addition: color JPEG (4:2:0 interleaved MCUs, YCbCr->RGB)
    "x4_jpeg_color_decode",
    # r5 addition: progressive JPEG (multi-scan SOF2, EOB runs, SA refine)
    "x4_jpeg_progressive_decode",
]


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def warm_up(spark, sf_dir: str) -> None:
    """Warm up the JVM, codegen, and parquet-reader paths so query timings
    measure the plans, not session startup -- and the Python worker
    fleet: the first full-width mapInPandas stage forks + imports pandas
    in every worker (~7s at 32 threads, measured on x4_wav_decode run 1).
    Workers are reused afterwards (spark.python.worker.reuse), so one
    throwaway Arrow stage moves the fork cost into warmup where
    JVM/codegen startup already lives."""
    materialize(spark.range(1_000_000).selectExpr("sum(id) as s"))
    materialize(spark.read.parquet(os.path.join(sf_dir, "region.parquet")))

    def _passthrough(it):  # nested: pickled by value, not as bench._passthrough
        for pdf in it:
            yield pdf

    width = spark.sparkContext.defaultParallelism
    materialize(
        spark.range(width * 4)
        .repartition(width)
        .mapInPandas(_passthrough, "id long")
    )


# Load calibration (VERDICT r5 item 3): the same fixed JVM-side reference op
# timed at the start, middle, and end of the run. Query timings from two
# bench runs are comparable only when each run's calibration drift is small
# -- a driver-side load spike (other containers, GC pressure) inflates the
# calibration op exactly like it inflates the queries, making external load
# self-evident in the JSON instead of judge-inferred from cross-round diffs.
_CALIBRATION_ROWS = 4_000_000_000  # ~1.1s/run (r10: doubled from 2B --
# at 0.6s the +-0.05s scheduler jitter alone spread the 12-probe
# whole-run envelope past 20%; averaging over twice the work halves the
# relative jitter for ~25s of extra probe time per run)
# PINNED as of r11 (VERDICT r10 task 2): changing the op size silently
# re-scales queries_normalized and breaks the round-over-round
# comparability the channel exists for. If the size ever MUST change,
# keep _CALIBRATION_REF_S_PER_ROW fixed -- normalization is expressed in
# s-per-row so the unit survives an op resize.

# Quiet-machine reference cost of the calibration op, in seconds per row:
# the round-stable normalization constant. Derived from the two committed
# quiet-bracket rounds (r9: ~0.60s/2B rows; r10: ~1.16s/4B rows -- both
# 2.9e-10 s/row). queries_normalized = raw_sec * ref_probe_sec /
# measured_bracket_sec, i.e. "seconds this query would take on the
# reference quiet machine" -- dimensionful, pinned, comparable across
# rounds regardless of ambient load or future op resizes.
_CALIBRATION_REF_S_PER_ROW = 2.9e-10
_CALIBRATION_REF_SEC = _CALIBRATION_REF_S_PER_ROW * _CALIBRATION_ROWS

# A chunk measured on a sustained load plateau shows BOTH probes equally
# elevated -- bracket drift stays under the retry threshold while every
# query in the chunk is inflated. Flag (not retry) any chunk whose
# bracket mean sits >10% above the run's minimum bracket mean, and
# surface the run's own floor vs the pinned reference so a whole-run
# plateau (every probe elevated) is visible too.
PLATEAU_PCT = 10.0


def calibration_probe(spark) -> float:
    """Median-of-3 seconds for a fixed whole-stage-codegen hash aggregate
    over range(); no IO, no shuffle -- pure CPU, so it tracks ambient
    machine load (the median rejects one-off scheduler blips the same way
    the per-query timings do).

    A System.gc() first (r10): the run's FIRST probe executed on a
    fresh heap while later probes competed with accumulated garbage, so
    the whole-run probe envelope opened ~30% with every chunk-local
    drift under 10% -- the probe was measuring GC-luck, not load.
    Collecting before each probe normalizes heap state across the run."""
    spark.sparkContext._jvm.System.gc()
    runs = []
    for _ in range(3):
        t0 = time.perf_counter()
        materialize(
            spark.range(_CALIBRATION_ROWS).selectExpr(
                "sum(xxhash64(id) % 7) as s"
            )
        )
        runs.append(time.perf_counter() - t0)
    return sorted(runs)[1]


def multifile_layout(spark, sf_dir: str, n_files: int) -> str:
    """Rewrite each fixture table as n_files parquet files (idempotent:
    cached per (sf, n) under /tmp and reused across runs)."""
    from dockerized_data_pipeline_spark.catalog import TABLES, load_table, table_path

    tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    out_dir = f"/tmp/spark_graft_bench_files/{tag}-files{n_files}"
    done_marker = os.path.join(out_dir, "_LAYOUT_DONE")
    if os.path.exists(done_marker):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    for name in TABLES:
        src = table_path(sf_dir, name)
        if not os.path.exists(src):
            continue
        # load_table normalizes the nano-timestamp events column; the
        # rewritten copy stores plain timestamp_ntz, which load_table
        # passes through untouched.
        load_table(spark, sf_dir, name).repartition(n_files).write.mode(
            "overwrite"
        ).parquet(table_path(out_dir, name))
    open(done_marker, "a").close()
    return out_dir


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or "0.1"
    n_files = int(os.environ.get("SPARK_GRAFT_BENCH_FILES", "0"))
    spark = get_session("ddp-bench")
    if n_files > 0:
        sf_dir = multifile_layout(spark, sf_dir, n_files)

    warm_up(spark, sf_dir)

    # Median of three runs per query: steady-state throughput (run 1 pays
    # one-time codegen/IO) with one-sided noise rejected in BOTH
    # directions -- min() hides a real regression behind one lucky run,
    # a single measurement makes ambient load indistinguishable from a
    # plan regression (the r4 +39% incremental-neardup drift).
    calibration_probe(spark)  # throwaway: pay the op's one-time codegen

    # ... and one REAL query before the first recorded probe (r10): the
    # run's opening probe consistently read ~15% fast on the pre-query
    # JVM (clean heap, no competing JIT/page-cache churn), opening the
    # whole-run probe envelope to ~30% while every chunk-local bracket
    # stayed under 10%. One headline query first puts probe 1 in the
    # same steady state every later probe sees.
    materialize(plans.QUERIES[HEADLINE[0]](spark, sf_dir))

    raw_runs: dict[str, list[float]] = {}  # last-attempt triples (r10: the
    # adopted median is auditable against its raw draws in BENCH_DETAIL)

    def time_queries(names: list[str]) -> dict[str, float]:
        out: dict[str, float] = {}
        for name in names:
            fn = plans.QUERIES[name]
            runs = []
            for _ in range(3):
                t0 = time.perf_counter()
                materialize(fn(spark, sf_dir))
                runs.append(round(time.perf_counter() - t0, 3))
            raw_runs[name] = runs
            out[name] = sorted(runs)[1]
        return out

    def drift_pct(a: float, b: float) -> float:
        lo, hi = sorted((a, b))
        return round(100.0 * (hi - lo) / lo, 1)

    # Fine-grained self-defending calibration (VERDICT r7 items: the
    # 2-segment scheme left per-query round-over-round deltas noise-
    # dominated at 19.5% whole-run drift -- +-50% swings on untouched code
    # paths -- and a segment retry mutated the SHARED probe list,
    # corrupting the neighbor's bracket). Now every CHUNK of ~5 queries is
    # bracketed by its own immutable (start, end) probe pair; a chunk whose
    # probes disagree by >20% was measured under shifting load and is
    # re-run ONCE with a fresh pair, adopting the better-calibrated
    # attempt. Retries never touch another chunk's probes. Both attempts
    # are emitted so the substitution stays auditable.
    #
    # Per-query NORMALIZED times: each raw time divided by the mean of its
    # chunk's bracketing probes -- i.e. query cost in units of the fixed
    # CPU calibration op under the SAME ambient load. Dimensionless, so
    # round-over-round comparisons of queries_normalized cancel uniform
    # machine-load differences that raw seconds cannot.
    # r10: threshold tightened 20 -> 10 (two of three r9 runs sat within
    # half a point of the 20% whole-run comparability rule; re-measuring
    # any chunk whose own bracket shifted >10% keeps the whole-run
    # probe envelope inside the rule instead of at its red line).
    RETRY_DRIFT_PCT = 10.0
    CHUNK = 5
    chunks = [HEADLINE[i : i + CHUNK] for i in range(0, len(HEADLINE), CHUNK)]

    last_probe = round(calibration_probe(spark), 3)
    measured: list[dict] = []  # per chunk: queries, probe pair, drift
    for ch in chunks:
        start = last_probe
        t = time_queries(ch)
        end = round(calibration_probe(spark), 3)
        measured.append(
            {"queries": t, "probes": (start, end), "drift_pct": drift_pct(start, end)}
        )
        last_probe = end  # chunk i's end probe doubles as chunk i+1's start

    retries = []
    for i, m in enumerate(measured):
        if m["drift_pct"] <= RETRY_DRIFT_PCT:
            continue
        before = round(calibration_probe(spark), 3)
        retry = time_queries(chunks[i])
        after = round(calibration_probe(spark), 3)
        retry_drift = drift_pct(before, after)
        adopted = "retry" if retry_drift < m["drift_pct"] else "raw"
        retries.append({
            "chunk": i,
            "raw_drift_pct": m["drift_pct"],
            "retry_drift_pct": retry_drift,
            "raw_probes": list(m["probes"]),
            "retry_probes": [before, after],
            "adopted": adopted,
            "discarded_queries": m["queries"] if adopted == "retry" else retry,
        })
        if adopted == "retry":
            # this chunk's OWN pair only -- neighbors keep their brackets
            m.update(queries=retry, probes=(before, after), drift_pct=retry_drift)

    timings: dict[str, float] = {}
    normalized: dict[str, float] = {}
    bracket_means = [(m["probes"][0] + m["probes"][1]) / 2.0 for m in measured]
    min_bracket = min(bracket_means)
    plateau_flags = [
        round(100.0 * (b / min_bracket - 1.0), 1) > PLATEAU_PCT
        for b in bracket_means
    ]
    for m, bracket_mean in zip(measured, bracket_means):
        for k, v in m["queries"].items():
            timings[k] = v
            # quiet-reference-equivalent seconds (pinned unit, see
            # _CALIBRATION_REF_S_PER_ROW)
            normalized[k] = round(v * _CALIBRATION_REF_SEC / bracket_mean, 3)
    total = sum(timings.values())
    adopted_probes = [p for m in measured for p in m["probes"]]
    cal = {
        "start": adopted_probes[0],
        "end": adopted_probes[-1],
        "drift_pct": drift_pct(min(adopted_probes), max(adopted_probes)),
        "chunk_probes": [list(m["probes"]) for m in measured],
        "chunk_drift_pct": [m["drift_pct"] for m in measured],
        "chunk_queries": [list(m["queries"]) for m in measured],
        "calibration_rows": _CALIBRATION_ROWS,
        "ref_s_per_row": _CALIBRATION_REF_S_PER_ROW,
        "probe_s_per_row": [round(p / _CALIBRATION_ROWS, 14) for p in adopted_probes],
        # run floor vs the pinned quiet reference: >1.0 means even the
        # quietest moment of this run was load-elevated (whole-run plateau)
        "load_floor_vs_ref": round(min_bracket / _CALIBRATION_REF_SEC, 3),
        "chunk_plateau_flags": plateau_flags,
    }

    # Driver contract (VERDICT r8 item 1): the driver tail-captures only the
    # last ~2.2 KB of stdout, so the stdout line must stay COMPACT -- the r8
    # line (queries_normalized + per-chunk probe metadata + retry diagnostics,
    # 2.7 KB even retry-free) got truncated mid-line and the driver recorded
    # "parsed": null. Split the output: a small driver-facing line on stdout
    # (metric/value/unit/sf/queries/first15/drift -- ~1.2 KB), and the full
    # diagnostics on stderr AND in BENCH_DETAIL.json next to this script
    # (committed per round as BENCH_DETAIL_r{N}.json).
    first15 = round(sum(timings[q] for q in HEADLINE[:15] if q in timings), 3)
    # chunk_drift_max_pct (r10): the max PER-CHUNK bracket drift -- the
    # statistic that actually bounds each query's normalization error
    # (every query is normalized by its OWN chunk's bracket mean). The
    # whole-run drift_pct (max-min over all 12 probes) stays for
    # continuity, but on this host its envelope sits at 12-18% even
    # when every chunk bracket is under 10%; comparability judgements
    # should read chunk_drift_max_pct.
    compact = {
        "metric": "headline_queries_total",
        "value": round(total, 3),
        "unit": "sec",
        "sf": float(sf),
        "queries": timings,
        "first15_total": first15,
        "drift_pct": cal["drift_pct"],
        "chunk_drift_max_pct": max(cal["chunk_drift_pct"]),
        # normalized_total: the headline in pinned quiet-reference units --
        # THE round-over-round comparison number (raw `value` still moves
        # with ambient load; this one cancels it)
        "normalized_total": round(sum(normalized.values()), 3),
        "load_floor_vs_ref": cal["load_floor_vs_ref"],
        "plateau_chunks": sum(cal["chunk_plateau_flags"]),
    }
    if n_files > 0:
        compact["layout_files"] = n_files
    line = json.dumps(compact)
    if len(line) > 2000:  # belt-and-braces: never outgrow the tail window
        compact.pop("queries")
        line = json.dumps(compact)

    detail = dict(compact)
    detail["queries"] = timings
    detail["queries_raw_runs"] = raw_runs
    detail["queries_normalized"] = normalized
    detail["calibration"] = cal
    if retries:
        detail["chunk_retries"] = retries
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1)
    print(json.dumps(detail), file=sys.stderr)
    print(line)


if __name__ == "__main__":
    main()
