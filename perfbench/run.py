"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload {llm_ops,ingest} --seed N --seconds S --trace {0,1}

Run from the repository root. The run generates its inputs from ``--seed``
(gen.py), pins the environment (``SPARK_GRAFT_CPUS`` = number of usable CPUs;
Spark local dirs, temp dirs and the warehouse under ``.perfbench/`` in the
checkout), starts worker.py as a single child process (in traced runs it
also samples the resident memory of that process tree: Python driver, JVM and
Python workers), and prints the environment record and then, as the last
line, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones: ``setup_s`` (wall
seconds from spawning the worker to the end of its warm-up) and ``pass_cpu_s``
(CPU seconds the process tree spends on one pass over the workload). With
``--trace 1`` they are the per-layer ones, among them ``pass_wall_s`` (wall
seconds of one pass), the peak resident memory of the process tree and
``trace_overhead``. Names and units come from BENCHMARK.json.
``attempted``/``failed`` count operations (a query run, a pipeline tick, a
streaming micro-batch); an operation fails if it raises or its output is
wrong, so failed/attempted is the error rate.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
RUN_LIMIT_S = 170.0


def usable_cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def stop_group(proc: subprocess.Popen) -> None:
    """Kill whatever is left of the worker's process group and wait for it."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.time() + 10
    while time.time() < deadline:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def main() -> int:
    ap = argparse.ArgumentParser(description="spark-graft benchmark run")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "dockerized_data_pipeline_spark", "__init__.py")):
        print("perfbench: program sources not found next to perfbench/", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"run-{os.getpid()}")
    inputs = os.path.join(work, "inputs")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    sys.path.insert(0, HERE)
    import gen
    from proc import tree_rss_bytes

    (gen.make_tables if a.workload == "llm_ops" else gen.make_ingest)(inputs, a.seed)

    cpus = usable_cpus()
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        # the JVM's temp files stay in the checkout; -UsePerfData stops its
        # hsperfdata file in /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYTHONHASHSEED": str(a.seed),
    })
    env.pop("SPARK_GRAFT_UI", None)
    out = os.path.join(work, "result.json")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--workload", a.workload,
           "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--inputs", inputs, "--work", work, "--out", out]
    t0 = time.time()
    proc = subprocess.Popen(cmd + ["--t0", repr(t0)], env=env, cwd=ROOT,
                            stdout=sys.stderr, start_new_session=True)
    peak = 0
    try:
        # memory is sampled in traced runs only: scanning /proc costs CPU
        # that timed runs must not share
        while proc.poll() is None and time.time() - t0 < RUN_LIMIT_S:
            if a.trace:
                peak = max(peak, tree_rss_bytes(proc.pid))
            try:
                proc.wait(timeout=0.2)
            except subprocess.TimeoutExpired:
                pass
        if proc.poll() is None:
            print(f"perfbench: run exceeded {RUN_LIMIT_S:.0f} s", file=sys.stderr)
    finally:
        stop_group(proc)
    if proc.returncode != 0 or not os.path.exists(out):
        print(f"perfbench: worker exited with {proc.returncode}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 4
    with open(out) as fh:
        r = json.load(fh)
    shutil.rmtree(work, ignore_errors=True)

    if a.trace:
        values = {**r["per_layer"], "process.peak_rss_mb": peak / 2**20}
        listed = SPEC["per_layer"]
    else:
        values, listed = r, SPEC["end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in listed}
    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
              "trace": a.trace, "nproc": cpus, **r["env"], "passes": r["passes"],
              "pass_wall_s": r["pass_wall_s"],
              "check_s": r["check_s"], "steal_share": r["steal_share"],
              "error_rate": r["failed"] / max(r["attempted"], 1),
              "problems": r["problems"], **({"spans": r["spans"]} if a.trace else {})}
    print(json.dumps({"env": record}))
    print(json.dumps({"correct": r["failed"] == 0 and r["attempted"] > 0,
                      "attempted": r["attempted"], "failed": r["failed"],
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
