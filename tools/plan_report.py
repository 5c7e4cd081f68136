"""Generate PLANS.md: one row per registered query summarizing the physical
plan features the 100 TB posture depends on -- shuffle count, broadcast vs
sort-merge joins, pushed filters, windows, generators, Python eval nodes,
top-k operators, and the width of every round-robin spread
(catalog.spread_input). Run after adding queries; the diff shows plan
regressions at review time the way BENCH_r*.json shows time regressions.

Usage: python tools/plan_report.py [sf_dir]   (writes PLANS.md)
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def summarize(plan: str) -> dict[str, object]:
    def n(pat: str) -> int:
        return len(re.findall(pat, plan))

    pushed = len(
        [
            m
            for m in re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
            if m.strip()
        ]
    )
    return {
        # tree lines ("+- Exchange (12)") count each shuffle exactly once;
        # AQE formatted mode puts the partitioning on the detail line, so
        # matching "Exchange hashpartitioning" would undercount to zero.
        # \bExchange already excludes BroadcastExchange ("t" and "E" are
        # both word chars, no boundary) -- the old extra subtraction of
        # BroadcastExchange double-counted it and drove broadcast-heavy
        # rows NEGATIVE (x5_lm_score_incremental showed -3).
        "shuffles": n(r"\bExchange \("),
        "bhj": n(r"BroadcastHashJoin"),
        "smj": n(r"SortMergeJoin"),
        "window": n(r"\bWindow \("),
        "generate": n(r"\bGenerate \("),
        "topk": n(r"TakeOrderedAndProject"),
        "pushed": pushed,
        # every Python-boundary operator Spark can plan: Arrow-batched
        # stages (MapInPandas / MapInArrow / ArrowEvalPython / pandas
        # groupBy-apply) are reported by kind and count so the audit shows
        # WHERE the JVM pipeline breaks; row-at-a-time BatchEvalPython
        # stays the flagged regression
        "python": " ".join(
            part
            for label, pat in (
                ("ArrowEval", r"ArrowEvalPython"),
                ("MapInPandas", r"\bMapInPandas\b"),
                ("MapInArrow", r"\bMapInArrow\b"),
                ("GroupMap", r"FlatMapGroupsInPandas"),
            )
            if (c := n(pat))
            and (part := f"{label}×{c}" if c > 1 else label)
        )
        + ("+RowUDF!" if "BatchEvalPython" in plan else ""),
        "cartesian": "yes" if "CartesianProduct" in plan else "",
        # width of each round-robin spread exchange; Spark plans a width-1
        # repartition as SinglePartition
        "spread": " ".join(
            w or "1"
            for w, _ in re.findall(
                r"Arguments: (?:RoundRobinPartitioning\((\d+)\)|(SinglePartition)), "
                r"REPARTITION_BY_NUM",
                plan,
            )
        ),
    }


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else SF_DIR

    from dockerized_data_pipeline_spark import plans
    from dockerized_data_pipeline_spark.session import get_session

    spark = get_session("plan-report")
    spark.sparkContext.setLogLevel("ERROR")

    rows = []
    for name in sorted(plans.QUERIES):
        try:
            df = plans.QUERIES[name](spark, sf_dir)
            rows.append((name, summarize(plan_of(df))))
        except Exception as exc:  # pragma: no cover - report, don't die
            rows.append((name, {"error": str(exc)[:60]}))

    out = [
        "# PLANS — physical-plan audit (auto-generated by tools/plan_report.py)",
        "",
        f"Scale dir: `{sf_dir}`. Columns: shuffle exchanges / broadcast vs",
        "sort-merge joins / windows / generators / distributed top-k /",
        "scans with pushed filters / Python eval nodes (RowUDF! = regression) /",
        "round-robin spread widths.",
        "",
        "| query | shuffles | BHJ | SMJ | window | generate | top-k | pushed-scans | python | cartesian | spread |",
        "|---|---|---|---|---|---|---|---|---|---|---|",
    ]
    for name, s in rows:
        if "error" in s:
            out.append(f"| {name} | ERROR: {s['error']} | | | | | | | | | |")
            continue
        out.append(
            f"| {name} | {s['shuffles']} | {s['bhj']} | {s['smj']} | "
            f"{s['window']} | {s['generate']} | {s['topk']} | {s['pushed']} | "
            f"{s['python']} | {s['cartesian']} | {s['spread']} |"
        )
    with open("PLANS.md", "w", encoding="utf-8") as fh:
        fh.write("\n".join(out) + "\n")
    print(f"PLANS.md: {len(rows)} queries")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
