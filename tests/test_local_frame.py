"""session.local_frame against ``createDataFrame(list)``: for every schema
the package builds driver-local frames with, both paths give the same
schema and the same collected rows (under two process time zones), the
same error for a None in a non-nullable field -- and only the list path
plans a ``PythonRDD``, the thing that starts a Python worker per slice."""

from __future__ import annotations

import ast
import datetime as dt
import math
import os
import pathlib
import time
from decimal import Decimal

import pytest

from dockerized_data_pipeline_spark.catalog import STOCK_DATA_SCHEMA
from dockerized_data_pipeline_spark.oplog import (
    PIPELINE_LOGS_SCHEMA,
    STOCK_METADATA_SCHEMA,
)
from dockerized_data_pipeline_spark.session import local_frame

NAN, INF = math.nan, math.inf
# 01:30 happens twice on 2024-11-03 in New York; 02:30 never on 2024-03-10
FOLD = dt.datetime(2024, 11, 3, 1, 30, 15, 250, fold=1)
GAP = dt.datetime(2024, 3, 10, 2, 30)

# one entry per schema a call site passes to local_frame
CASES = {
    "http_payloads": (
        "symbol string, payload string",
        [("AAPL", '{"Meta Data": {}}'), ("ü€", ""), ("BAD", None)],
    ),
    "pipeline_logs": (
        PIPELINE_LOGS_SCHEMA,
        [
            ("d", "t", FOLD, "success", 1.5, None, 10, FOLD),
            ("d", "t", GAP, "partial_failure", -0.0, "1 failed", None, GAP),
        ],
    ),
    "stock_metadata": (
        STOCK_METADATA_SCHEMA,
        [("AAPL", FOLD, True, None, None), ("BAD", None, False, "http 500", 7)],
    ),
    "stock_data": (
        STOCK_DATA_SCHEMA,
        [("AAPL", GAP, Decimal("1.2500"), None, None, Decimal("-0.0001"), 5,
          FOLD, "US/Eastern", None)],
    ),
    "stock_data_empty": (STOCK_DATA_SCHEMA, []),
    "kmeans_codebook": (
        "__cb array<array<double>>",
        [([[1.0, NAN, -0.0], [], [INF, -INF, 5e-324]],)],
    ),
    "ivf_codebook": (
        "__cb array<array<double>>, __cn array<double>",
        [([[0.0, -0.0], [NAN, 2.0]], [0.0, NAN])],
    ),
    "bpe_merges": (
        "rank int, left string, right string, pair_count long",
        [(0, "t", "h", 12), (1, "th", "e</w>", 9)],
    ),
    "bpe_merges_empty": ("rank int, left string, right string, pair_count long", []),
    "ivf_recall": (
        "n_probe long, k long, hits long, recall_ppm long",
        [(1, 10, 7, 700000), (8, 10, 10, 1000000)],
    ),
    "mixture_targets": (
        "source string, target_ppm bigint",
        [("code", 250000), ("web", 750000)],
    ),
    "trunc_recall": (
        "trunc_dim bigint, k bigint, hits bigint, recall_ppm bigint",
        [(16, 10, 9, 900000)],
    ),
    "salted_dim": (
        "o_orderstatus string, status_label string",
        [("O", "open"), ("F", "finished"), ("P", "pending")],
    ),
    "minhash_corpus_empty": (
        "doc long, " + ", ".join(f"mh{i} long" for i in range(4)),
        [],
    ),
    "semantic_corpus_empty": ("doc_id long, cluster_id int, u array<double>", []),
}


@pytest.fixture(params=["UTC", "America/New_York"])
def process_tz(request):
    """Switch this process's local time zone (what a naive datetime
    means to both paths) for one test, restoring it afterwards."""
    old = os.environ.get("TZ")
    os.environ["TZ"] = request.param
    time.tzset()
    yield request.param
    if old is None:
        del os.environ["TZ"]
    else:
        os.environ["TZ"] = old
    time.tzset()


def _same_local_time_state():
    """Both paths convert a naive datetime with ``time.mktime``, and
    glibc resolves an ambiguous local time (FOLD in New York) by the DST
    flag of its PREVIOUS call, so the instant depends on what was
    converted last. Each path starts from the same state."""
    time.mktime(dt.datetime(2024, 1, 1).timetuple())


def _plans_python_rdd(df) -> bool:
    return "PythonRDD" in df._jdf.rdd().toDebugString()


@pytest.mark.parametrize("case", sorted(CASES))
def test_local_frame_matches_list_path(spark, process_tz, case):
    schema, rows = CASES[case]
    _same_local_time_state()
    arrow = local_frame(spark, rows, schema)
    _same_local_time_state()
    listed = spark.createDataFrame(rows, schema)
    assert arrow.schema == listed.schema
    assert repr(arrow.collect()) == repr(listed.collect())
    assert (
        arrow._jdf.queryExecution().optimizedPlan().getClass().getSimpleName()
        == "LocalRelation"
    )
    # the probe sees the list path's worker-backed RDD, and none here
    assert _plans_python_rdd(listed)
    assert not _plans_python_rdd(arrow)


def test_local_frame_rejects_none_in_non_nullable_field_like_list_path(spark):
    rows = [("d", None, FOLD, "success", 1.0, None, 1, FOLD)]
    errors = []
    for build in (local_frame, lambda s, r, sc: s.createDataFrame(r, sc)):
        with pytest.raises(Exception) as e:
            build(spark, rows, PIPELINE_LOGS_SCHEMA)
        errors.append(e.value)
    assert type(errors[0]) is type(errors[1])
    assert str(errors[0]) == str(errors[1])
    assert "task_id" in str(errors[0])


def test_kmeans_codebook_stays_data_not_plan_literals(spark):
    from dockerized_data_pipeline_spark.operators.kmeans import _with_assignment

    df = local_frame(spark, [(0, [0.25, 0.5])], "id long, v array<double>")
    out = _with_assignment(df, "v", [[0.123456789, 1.0], [2.0, 3.0]])
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in plan
    assert "0.123456789" not in plan
    assert out.collect()[0].cluster_id == 0


def test_only_session_builds_frames_from_python_data():
    """``createDataFrame`` is called in session.local_frame (an Arrow
    table) and in sources/jdbc_read.py (an RDD, one range per partition)
    only; every other driver-local frame goes through local_frame."""
    pkg = pathlib.Path(__file__).resolve().parents[1] / "dockerized_data_pipeline_spark"
    calls = []
    for path in sorted(pkg.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
            ):
                calls.append((path.relative_to(pkg).as_posix(), node))
    assert sorted(p for p, _ in calls) == ["session.py", "sources/jdbc_read.py"]
    jdbc = next(n for p, n in calls if p == "sources/jdbc_read.py")
    first = jdbc.args[0]
    assert isinstance(first, ast.Call) and first.func.attr == "parallelize"
