"""Headline-query scaling validation (VERDICT r7 item 4): measure each
of the 15 round-1-comparable headline queries at THREE generated scales
-- sf0.1-equivalent (600k lineitem), sf1 (6M), sf10 (60M), all from
tools/gen_scale.py (SAME generator, only the row counts differ) -- and
report per-query scaling exponents e = log10(t_big / t_small) per
decade, i.e. t ~ n^e between adjacent points.

Reading the exponent: e = 1.0 is perfectly linear; n log n across one
decade shows as e ~ 1.07; anything >= ~1.3 is super-linear beyond sort
costs and gets flagged. Near-0 exponents mean fixed overhead dominates
at both sizes (sub-second queries) -- that is why the sf10 tier exists:
the sf0.1->sf1 exponents are overhead-bound on a 32-thread local run
(measured: all < 0.35), while sf1->sf10 runs seconds-long and measures
the data path. The FLAG applies to the sf1->sf10 exponent.

Each query also records the AQE decisions actually taken at sf10 (the
executed final plan): number of exchanges and every AQEShuffleRead mode
-- the runtime re-plan evidence.

Usage: python tools/scale_validate.py [base_dir]
       (defaults /tmp/spark_graft_scale; generates the datasets on
        first run, reuses them after -- delete the dir to regenerate;
        sf10 is ~1.5 GB of zstd parquet)
Prints one JSON line; exit 1 when any query's sf1->sf10 exponent >=
FLAG_EXPONENT.
"""

from __future__ import annotations

import json
import math
import os
import re
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

FLAG_EXPONENT = 1.3
RUNS = 3


def ensure_dataset(spark, base: str, tag: str, sf: float, files: int) -> str:
    from gen_scale import generate

    out = os.path.join(base, tag)
    marker = os.path.join(out, "_GEN_DONE")
    if not os.path.exists(marker):
        generate(spark, out, sf, files)
        open(marker, "a").close()
    return out


def aqe_summary(df) -> dict:
    """Final-plan AQE evidence: exchange count + AQEShuffleRead modes.

    Drives df's OWN QueryExecution (collect) first: a noop write runs a
    separate plan instance, leaving this one isFinalPlan=false with no
    AQE reads to report."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return {
        "final_plan": "isFinalPlan=true" in plan,
        "exchanges": len(re.findall(r"\bExchange\b", plan)),
        "aqe_reads": re.findall(r"AQEShuffleRead (\w+)", plan),
    }


def main() -> int:
    base = sys.argv[1] if len(sys.argv) > 1 else "/tmp/spark_graft_scale"
    sys.path.insert(0, os.path.join(REPO, "tools"))
    from bench import HEADLINE, materialize, warm_up

    from dockerized_data_pipeline_spark import plans
    from dockerized_data_pipeline_spark.session import get_session

    queries = HEADLINE[:15]  # the round-1 comparable set
    spark = get_session("scale-validate")
    spark.sparkContext.setLogLevel("ERROR")

    dirs = [
        ensure_dataset(spark, base, "sf0.1", 0.1, 8),
        ensure_dataset(spark, base, "sf1", 1.0, 32),
        ensure_dataset(spark, base, "sf10", 10.0, 64),
    ]

    # warm the scan + python-worker paths once per dataset
    for d in dirs:
        warm_up(spark, d)

    def timed(name: str, sf_dir: str) -> float:
        fn = plans.QUERIES[name]
        runs = []
        for _ in range(RUNS):
            t0 = time.perf_counter()
            materialize(fn(spark, sf_dir))
            runs.append(time.perf_counter() - t0)
        return sorted(runs)[RUNS // 2]

    out, flagged = {}, []
    for name in queries:
        t = [timed(name, d) for d in dirs]
        exps = [
            round(math.log10(max(t[i + 1], 1e-3) / max(t[i], 1e-3)), 2)
            for i in range(len(t) - 1)
        ]
        df_hi = plans.QUERIES[name](spark, dirs[-1])
        rec = {
            "sf01_sec": round(t[0], 3),
            "sf1_sec": round(t[1], 3),
            "sf10_sec": round(t[2], 3),
            "exponent_01_to_1": exps[0],
            "exponent_1_to_10": exps[1],
            **aqe_summary(df_hi),
        }
        out[name] = rec
        if exps[1] >= FLAG_EXPONENT:
            flagged.append(name)
        print(
            f"{name:32s} {t[0]:7.3f}s {t[1]:7.3f}s {t[2]:8.3f}s  "
            f"e={exps[0]:5.2f}/{exps[1]:5.2f} "
            f"exch={rec['exchanges']} aqe={rec['aqe_reads']}",
            file=sys.stderr,
        )

    print(json.dumps({"queries": out, "flagged": flagged,
                      "flag_exponent": FLAG_EXPONENT}))
    return 1 if flagged else 0


if __name__ == "__main__":
    raise SystemExit(main())
