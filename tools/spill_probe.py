"""Spill-not-OOM probe (VERDICT r7 item 5).

The 100 TB posture assumes joins/aggregations/sorts SPILL gracefully when
executor memory is tight rather than OOMing or corrupting results. This
drives that assumption:

1. The 5 heaviest bench queries (BENCH_r07 ranking) run in a CHILD
   process whose JVM is capped at a deliberately small heap
   (``--mem``, default 1g -- vs the 8g default session) with few shuffle
   partitions (fat partitions stress per-task execution memory). The
   child collects each result and hashes the sorted rows.
2. The parent runs the same queries unconstrained and asserts
   row-for-row hash equality -- memory pressure must change WHERE work
   happens (spill files), never WHAT comes out.
3. A synthetic wide sort (range -> xxhash64 -> global sort in 2
   partitions, ~30M rows) runs in the same constrained child and MUST
   report diskBytesSpilled > 0 in the status-store stage metrics --
   proving the probe would actually see a spill, so "queries spilled 0
   bytes" is a measurement, not a blind spot.

Memory floor: all five queries complete and hash-match at 1g driver heap
at sf0.1 (documented in README); the synthetic sort spills and completes.

Usage:  python tools/spill_probe.py [sf_dir] [--mem 1g]
Child:  python tools/spill_probe.py --child <sf_dir> <mem>
Prints one JSON line; exit 1 on any hash mismatch or child failure.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

HEAVY = [
    "x2_minhash_neardup_pairs",
    "q5_region_nation_revenue",
    "x2_incremental_neardup",
    "x3_centroid_purity",
    "q18_large_orders",
    # Python-worker path (VERDICT r8 item 7): Arrow mapInPandas codec
    # decode has a different failure mode under memory pressure -- Arrow
    # batch allocation is non-spillable (off-heap + python worker RSS),
    # so the floor must be demonstrated, not assumed. The JPEG color
    # decode is the heaviest Arrow stage in the bench set.
    "x4_jpeg_color_decode",
]


def rows_hash(rows) -> str:
    canon = sorted(repr(tuple(r)) for r in rows)
    return hashlib.md5("\n".join(canon).encode()).hexdigest()


def spill_totals(spark, first_stage_after: int = 0) -> dict:
    """Sum memory/disk spill bytes over completed stages (status store)."""
    from dockerized_data_pipeline_spark.session import completed_stages

    stages = completed_stages(spark, first_stage_after)
    return {
        "memoryBytesSpilled": sum(s.memoryBytesSpilled() for s in stages),
        "diskBytesSpilled": sum(s.diskBytesSpilled() for s in stages),
    }


def child_main(sf_dir: str, mem: str) -> int:
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = mem
    # 8 task slots: the probe models "little memory PER CORE" (1g/8 =
    # ~16 MB execution memory per task after Spark's fractions), not
    # "32 cores racing for a 1g heap" -- non-spillable allocations
    # (Arrow batches, collect buffers, hash tables mid-build) OOM under
    # 32-way concurrency before the spillable consumers ever register
    # pressure, which measures thread count, not memory discipline.
    os.environ["SPARK_GRAFT_CPUS"] = "8"
    from dockerized_data_pipeline_spark import plans
    from dockerized_data_pipeline_spark.session import get_session

    spark = get_session(
        "spill-probe-constrained",
        shuffle_partitions=4,  # fat partitions stress per-task memory
    )
    spark.sparkContext.setLogLevel("ERROR")
    out: dict = {"mem": mem, "queries": {}}

    for name in HEAVY:
        t0 = time.perf_counter()
        rows = plans.QUERIES[name](spark, sf_dir).collect()
        out["queries"][name] = {
            "rows": len(rows),
            "hash": rows_hash(rows),
            "sec": round(time.perf_counter() - t0, 2),
        }

    spill_before = spill_totals(spark)
    t0 = time.perf_counter()
    from pyspark.sql import functions as F

    (
        spark.range(30_000_000)
        .select(F.xxhash64("id").alias("h"))
        .repartition(2)
        .orderBy("h")
        .write.format("noop").mode("overwrite").save()
    )
    spill_after = spill_totals(spark)
    out["synthetic_sort_sec"] = round(time.perf_counter() - t0, 2)
    out["spill_totals"] = spill_after
    out["synthetic_sort_disk_spilled"] = (
        spill_after["diskBytesSpilled"] - spill_before["diskBytesSpilled"]
    )
    print("CHILD_JSON:" + json.dumps(out))
    return 0


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    if "--child" in sys.argv:
        return child_main(args[0], args[1])
    sf_dir = args[0] if args else "/root/testdata/sf0.1"
    mem = "1g"
    if "--mem" in sys.argv:
        mem = sys.argv[sys.argv.index("--mem") + 1]

    env = dict(os.environ)
    env.pop("SPARK_GRAFT_DRIVER_MEM", None)
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--child", sf_dir, mem],
        capture_output=True, text=True, env=env, timeout=3600,
    )
    child = None
    for line in proc.stdout.splitlines():
        if line.startswith("CHILD_JSON:"):
            child = json.loads(line[len("CHILD_JSON:"):])
    if child is None:
        print(json.dumps({
            "ok": False, "error": "child failed (OOM at this floor?)",
            "mem": mem, "tail": proc.stdout[-800:] + proc.stderr[-800:],
        }))
        return 1

    from dockerized_data_pipeline_spark import plans
    from dockerized_data_pipeline_spark.session import get_session

    spark = get_session("spill-probe-reference")
    spark.sparkContext.setLogLevel("ERROR")
    mismatches = []
    for name in HEAVY:
        rows = plans.QUERIES[name](spark, sf_dir).collect()
        ref = {"rows": len(rows), "hash": rows_hash(rows)}
        got = child["queries"][name]
        child["queries"][name]["match"] = (
            ref["rows"] == got["rows"] and ref["hash"] == got["hash"]
        )
        if not child["queries"][name]["match"]:
            mismatches.append(name)

    result = {
        "ok": not mismatches and child["synthetic_sort_disk_spilled"] > 0,
        "mem_floor": mem,
        "mismatches": mismatches,
        "synthetic_sort_disk_spilled": child["synthetic_sort_disk_spilled"],
        "spill_totals": child["spill_totals"],
        "queries": child["queries"],
    }
    print(json.dumps(result))
    return 0 if result["ok"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
