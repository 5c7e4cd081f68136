"""Tests of the benchmark itself (not of the program).

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

The Spark tests start one local session for the module (about two minutes).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

import gen  # noqa: E402
import reference  # noqa: E402
import run  # noqa: E402
import worker  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def test_benchmark_json_lists_exactly_the_names_used():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert sorted(w["name"] for w in spec["workloads"]) == ["ingest", "llm_ops"]
    names = [x["name"] for k in ("workloads", "end_to_end", "per_layer") for x in spec[k]]
    assert len(names) == len(set(names))
    assert all(NAME.fullmatch(n) for n in names)


def test_llm_gate_fires_on_a_timed_output_that_differs_from_the_warm_up():
    from tools.check_oracle import rows_multiset

    r = worker.Run("llm_ops", 0, 0.1, False, "", "", 0.0)
    r.passes = [{}]
    r.outputs = {"q": (["k", "v"], [(1, "a"), (2, "b")], [])}
    r.ok_runs = {"q": 1}
    r.llm_check_pass({"outputs": {"q": (["k", "v"], [(2, "b"), (1, "a")])}})
    assert r.failed == 0 and r.ok_runs["q"] == 2
    r.llm_check_pass({"outputs": {"q": (["k", "v"], [(2, "b"), (1, "x")])}})
    assert r.failed == 1 and r.ok_runs["q"] == 2
    assert r.expected["q"] == rows_multiset(["k", "v"], [(1, "a"), (2, "b")])


def test_oracle_gate_fires_on_a_wrong_expected_output():
    import duckdb

    con = duckdb.connect()
    rows = [(1, "a"), (2, "b")]
    ok = "SELECT * FROM (VALUES (2, 'b'), (1, 'a')) t(k, v)"
    wrong = "SELECT * FROM (VALUES (2, 'b'), (1, 'x')) t(k, v)"
    assert worker.compare_with_oracle(con, ok, ["k", "v"], rows, []) is None
    assert worker.compare_with_oracle(con, wrong, ["k", "v"], rows, [])


def test_tail_percentile_keeps_ten_samples_beyond():
    values = list(range(1, 41))
    value, pct = worker.tail(values)
    assert sum(v > value for v in values) == 10 and pct == 75.0


def test_reference_upsert_keeps_created_at_and_applies_updates():
    ticks = gen.ingest_ticks(7)
    table = reference.reference_upsert(ticks)
    first_seen = {}
    for t in ticks:
        for sym, f in t["fetches"].items():
            if f["kind"] == "ok":
                for r in reference.parse_payload(sym, f["body"]):
                    first_seen.setdefault((sym, r["timestamp"]), t["as_of"])
    assert set(table) == set(first_seen)
    for key, row in table.items():
        assert row["created_at"].strftime(reference.TS_FMT) == first_seen[key]


@pytest.fixture(scope="module")
def ingest_inputs(tmp_path_factory):
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(run.usable_cpus()))
    path = str(tmp_path_factory.mktemp("ingest"))
    gen.make_ingest(path, 3)
    return path


def _run(inputs, work, trace):
    r = worker.Run("ingest", 3, 0.1, trace, inputs, str(work), time.time())
    return r, r.execute()


def test_traced_and_untraced_runs_produce_identical_outputs(ingest_inputs, tmp_path):
    plain, res0 = _run(ingest_inputs, tmp_path / "plain", False)
    traced, res1 = _run(ingest_inputs, tmp_path / "traced", True)
    assert res0["failed"] == 0 and res1["failed"] == 0
    assert all(m["name"] in res0 for m in run.SPEC["end_to_end"])
    for k in ("stock_data", "stream_target"):
        assert (worker.read_table(plain.spark, plain.last_dirs[k])
                == worker.read_table(traced.spark, traced.last_dirs[k]))
    layer = res1["per_layer"]
    assert set(layer) == set(worker.PER_LAYER)
    assert layer["operators.merge.s"] > 0 and layer["spark.jobs"] > 0


def test_ingest_gate_fires_on_a_wrong_expected_output(ingest_inputs, tmp_path, monkeypatch):
    real = reference.reference_upsert

    def wrong(ticks):
        table = real(ticks)
        row = table[min(table)]
        row["volume"] = (row["volume"] or 0) + 1
        return table

    monkeypatch.setattr(reference, "reference_upsert", wrong)
    _r, res = _run(ingest_inputs, tmp_path / "wrong", False)
    assert res["failed"] > 0 and res["failed"] / res["attempted"] > 0
