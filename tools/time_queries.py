"""Query timer for perf bisects and full-registry sweeps: times the named
registry queries (every registered query when none are named) at
$SPARK_GRAFT_SF_DIR (default sf0.1) with the same warmup + median-of-3
protocol as bench.py, without the full headline sweep.

Usage: python tools/time_queries.py [q1 q2 ...]  [env SPARK_GRAFT_REPEAT=N]
Prints one JSON line {name: median_sec} plus raw runs on stderr. A query
that raises is recorded as -1, reported as ``ERROR <name>: ...`` on
stderr, and the sweep continues.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import materialize, warm_up
from dockerized_data_pipeline_spark import plans
from dockerized_data_pipeline_spark.session import get_session


def main() -> None:
    names = sys.argv[1:] or sorted(plans.QUERIES)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    repeat = int(os.environ.get("SPARK_GRAFT_REPEAT", "3"))
    spark = get_session("ddp-time-queries")
    warm_up(spark, sf_dir)
    out: dict[str, float] = {}
    raw: dict[str, list[float]] = {}

    def failed(name: str, e: Exception) -> None:
        out[name] = -1.0
        print(f"ERROR {name}: {e}", file=sys.stderr)

    # one throwaway execution of each target query (codegen/IO warm)
    for name in names:
        try:
            materialize(plans.QUERIES[name](spark, sf_dir))
        except Exception as e:  # noqa: BLE001 -- sweep must finish
            failed(name, e)

    for name in names:
        if name in out:
            continue
        runs = []
        try:
            for _ in range(repeat):
                t0 = time.perf_counter()
                materialize(plans.QUERIES[name](spark, sf_dir))
                runs.append(round(time.perf_counter() - t0, 3))
        except Exception as e:  # noqa: BLE001 -- sweep must finish
            failed(name, e)
            continue
        raw[name] = runs
        out[name] = sorted(runs)[len(runs) // 2]
    print(json.dumps(raw), file=sys.stderr)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
