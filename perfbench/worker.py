"""One benchmark run of one workload, in its own process (started by run.py).

Phases, in order:

1. set-up (``setup_s``, measured from the moment run.py spawned this
   process): imports, ``session.get_session()``, the session's first job, and
   one untimed warm-up pass over the workload;
2. timed passes until ``--seconds`` have elapsed (at least one); each
   operation (a registry query run, a pipeline tick, the streaming drain) is
   timed on its own (``pass_wall_s``: the sum over operations of each one's
   median over the passes), and each pass's CPU time is read from /proc for
   the whole process tree (``pass_cpu_s``: the median over the passes);
   after each llm_ops pass, outside its timed region, every query's output is
   compared with its warm-up output;
3. the correctness gate, outside every timed region: llm_ops compares each
   query's warm-up output with its DuckDB oracle; ingest compares the last
   pass's tables with the pure-Python reference (reference.py) and replays the
   last tick, which must change nothing.

With ``--trace 1`` the timed passes run untraced, traced, untraced (a third
of the time each), and the run reports the per-layer metrics of the traced
passes and ``trace_overhead`` (traced ÷ untraced pass). The result is written
as JSON to ``--out``; a traced run also writes its spans under
``.perfbench/spans/``.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import importlib
import importlib.util
import json
import os
import platform
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

from proc import host_cpu_jiffies, tree_cpu_seconds  # noqa: E402
from tracing import QueryListener, SparkProbe, Tracer  # noqa: E402

PKG = "dockerized_data_pipeline_spark"

LLM_QUERIES = [
    "x3_kmeans_codebook",
    "x5_bpe_train",
    "graph_pagerank_trade",
    "x2_minhash_neardup_pairs",
    "x4_wav_decode",
]
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()

# (module, function, span name) for each wrapped layer entry point
LLM_LAYERS = [
    (f"{PKG}.catalog", "load_table", "catalog.load_table"),
    (f"{PKG}.operators.kmeans", "kmeans_fit", "operators.kmeans.fit"),
    (f"{PKG}.operators.bpe", "bpe_train", "operators.bpe.train"),
    (f"{PKG}.operators.pagerank", "pagerank", "operators.pagerank"),
    (f"{PKG}.operators.dedup", "minhash_neardup_pairs_native", "operators.dedup"),
    (f"{PKG}.operators.dedup", "minhash_signatures", "operators.dedup"),
]
INGEST_LAYERS = [
    (f"{PKG}.sources.http", "fetch_payloads", "sources.http.fetch"),
    (f"{PKG}.operators.merge", "merge_upsert_partitioned", "operators.merge"),
    (f"{PKG}.operators.merge", "merge_upsert_path", "operators.merge"),
    (f"{PKG}.operators.atomic", "publish_table", "operators.atomic.publish"),
    (f"{PKG}.operators.atomic", "publish_table_cas", "operators.atomic.publish"),
    (f"{PKG}.operators.atomic", "publish_table_transaction", "operators.atomic.publish"),
    (f"{PKG}.oplog", "append_run_log", "oplog.append"),
    (f"{PKG}.oplog", "upsert_stock_metadata", "oplog.metadata"),
]

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    PER_LAYER = [m["name"] for m in json.load(_fh)["per_layer"]]


def pass_seconds(passes: list[dict]) -> float:
    """One pass in steady state: the sum over the pass's operations of each
    operation's median time across ``passes`` (a hiccup in one operation of
    one pass does not move it)."""
    return sum(statistics.median(p["ops"][op] for p in passes if op in p["ops"])
               for op in passes[0]["ops"])


def tail(values: list[float]) -> tuple[float, float]:
    """Highest percentile with at least ten samples beyond it, as (value,
    percentile); the maximum when there are ten or fewer samples."""
    v = sorted(values)
    if len(v) <= 10:
        return v[-1], 100.0
    k = len(v) - 11
    return v[k], 100.0 * (k + 1) / len(v)


class Run:
    """State of one run: timers, tracer, counters."""

    def __init__(self, workload, seed, seconds, trace, inputs, work, t0):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.trace, self.inputs, self.work, self.t0 = trace, inputs, work, t0
        self.tracer = Tracer()
        self.probe = self.listener = None
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.layer: dict[str, float] = {}
        self.passes: list[dict] = []  # {"traced", "ops": {name: s}, "layer", ...}
        self.check_pass = None  # called with each pass after its timed region
        self.expected = None    # llm_ops: multiset of each query's warm-up output

    # -- shared ------------------------------------------------------------

    def start_session(self):
        from dockerized_data_pipeline_spark.session import get_session

        with self.tracer.span("session.start"):
            spark = get_session(
                f"perfbench-{self.workload}",
                extra_conf={"spark.sql.warehouse.dir": os.path.join(self.work, "warehouse")},
            )
            spark.range(1).count()  # the session's first job
        return spark

    def enable_tracing(self) -> None:
        self.probe = SparkProbe(self.spark)
        self.listener = QueryListener(self.spark)
        self.tracer.job_count = self.probe.job_count
        for mod, fn, span in self.layers:
            self.tracer.wrap_layer(mod, fn, span)

    def disable_tracing(self) -> None:
        self.probe.drain()
        self.tracer.unpatch()
        self.tracer.job_count = None
        self.listener.unregister()

    def timed(self, body) -> None:
        """Run passes until the budget is spent. With tracing the budget is
        split in thirds: untraced, traced, untraced (at least one pass each),
        so the untraced passes bracket the traced ones for trace_overhead."""
        deadline = time.perf_counter() + self.seconds

        def run_until(end, traced):
            first = len(self.passes)
            while len(self.passes) == first or time.perf_counter() < end:
                cpu0 = tree_cpu_seconds(os.getpid())
                p = body(traced=traced)
                p["cpu_s"] = tree_cpu_seconds(os.getpid()) - cpu0
                self.passes.append(p)
                if self.check_pass:
                    self.check_pass(p)
                print(json.dumps({"pass": len(self.passes) - 1, "traced": traced,
                                  "cpu_s": p["cpu_s"], "ops": p["ops"]}),
                      file=sys.stderr, flush=True)

        if not self.trace:
            run_until(deadline, False)
            return
        third = self.seconds / 3
        run_until(deadline - 2 * third, False)
        self.enable_tracing()
        self.traced_window = [time.time(), None]
        run_until(deadline - third, True)
        self.traced_window[1] = time.time()
        self.disable_tracing()
        run_until(deadline, False)

    def op_mark(self, traced):
        """State at the start of an operation, for ``add_op``."""
        if not traced:
            return None
        return {"job": self.probe.job_count(), "wall": time.time(),
                "catalyst_ms": self.listener.catalyst_ms, "python": self.listener.python_bytes}

    def add_op(self, acc: dict, mark) -> float:
        """Add the operation's status-store and query-listener totals since
        ``mark`` to ``acc``; returns the bytes it exchanged with Python workers."""
        for k, v in self.probe.window(mark["job"], mark["wall"], time.time()).items():
            acc[f"spark.{k}"] = acc.get(f"spark.{k}", 0.0) + v
        acc["spark.catalyst_ms"] = (acc.get("spark.catalyst_ms", 0.0)
                                    + self.listener.catalyst_ms - mark["catalyst_ms"])
        return self.listener.python_bytes - mark["python"]

    def layer_metrics(self) -> dict:
        tr = self.tracer
        since, until = self.traced_window
        traced = [p for p in self.passes if p["traced"]]
        n = len(traced)

        def spans(name):
            return [s for s in tr.layer_spans(name) if since <= s["start"] <= until]

        def secs(name):
            return sum(s["end"] - s["start"] for s in spans(name)) / n

        def jobs(name):
            return sum(s.get("jobs", 0) for s in spans(name)) / n

        m = dict.fromkeys(PER_LAYER, 0.0)
        m["pass_wall_s"] = pass_seconds([p for p in self.passes if not p["traced"]])
        m["session.start_s"] = tr.seconds("session.start")
        m["plans.import_s"] = tr.seconds("plans.import")
        for key in {k for p in traced for k in p.get("layer", {})}:
            m[key] = sum(p["layer"].get(key, 0.0) for p in traced) / n
        m["catalog.load_table_calls"] = len(spans("catalog.load_table")) / n
        m["catalog.load_table_s"] = secs("catalog.load_table")
        for name, key in [("operators.kmeans.fit", "operators.kmeans"),
                          ("operators.bpe.train", "operators.bpe"),
                          ("operators.pagerank", "operators.pagerank"),
                          ("operators.dedup", "operators.dedup")]:
            m[f"{key}.jobs"] = jobs(name)
        m["operators.kmeans.fit_s"] = secs("operators.kmeans.fit")
        m["operators.bpe.train_s"] = secs("operators.bpe.train")
        m["operators.bpe.merges"] = sum(
            s.get("result_len", 0) for s in spans("operators.bpe.train")) / n
        if m["operators.bpe.jobs"]:
            m["operators.bpe.merges_per_job"] = m["operators.bpe.merges"] / m["operators.bpe.jobs"]
        m["operators.pagerank.s"] = secs("operators.pagerank")
        m["operators.dedup.s"] = secs("operators.dedup")
        m["sources.http.fetch_s"] = secs("sources.http.fetch")
        m["operators.merge.s"] = secs("operators.merge")
        m["operators.atomic.publish_s"] = secs("operators.atomic.publish")
        m["oplog.append_s"] = secs("oplog.append")
        m["oplog.metadata_s"] = secs("oplog.metadata")
        m["trace_overhead"] = (pass_seconds(traced)
                               / pass_seconds([p for p in self.passes if not p["traced"]]))
        m.update(self.layer)
        return m

    def fail(self, n: int, why: str) -> None:
        """Count ``n`` failed operations; inside an ``except`` block the
        traceback goes to stderr."""
        if sys.exc_info()[0] is not None:
            traceback.print_exc()
        self.failed += n
        self.problems.append(why)

    # -- llm_ops -----------------------------------------------------------

    def llm_setup(self):
        # plans.import_s (and setup_s) cover the import without the oracle rewrite
        with self.tracer.span("plans.import"):
            plans, self.oracle_rewrite = import_plans_deferring_oracle_rewrite()
        self.plans = plans
        self.spark = self.start_session()
        self.layers = LLM_LAYERS
        self.outputs = {}
        self.ok_runs = dict.fromkeys(LLM_QUERIES, 0)
        for name in LLM_QUERIES:  # warm-up pass; its outputs feed the gate
            self.attempted += 1
            try:
                df = plans.QUERIES[name](self.spark, self.inputs)
                ports = [f.name for f in df.schema.fields
                         if "decimal" in f.dataType.simpleString()]
                self.outputs[name] = (df.columns, [tuple(r) for r in df.collect()], ports)
                self.ok_runs[name] += 1
            except Exception as exc:
                self.outputs[name] = None
                self.fail(1, f"{name}: warm-up raised {type(exc).__name__}: {exc}")

    def llm_pass(self, traced: bool) -> dict:
        spark, queries = self.spark, self.plans.QUERIES
        layer: dict[str, float] = {}
        ops: dict[str, float] = {}
        outputs: dict[str, tuple] = {}
        for name in LLM_QUERIES:
            self.tracer.op_id = f"{name}#{len(self.passes)}"
            mark = self.op_mark(traced)
            t0 = time.perf_counter()
            self.attempted += 1
            try:
                df = queries[name](spark, self.inputs)
                t1 = time.perf_counter()
                outputs[name] = (df.columns, df.collect())
            except Exception as exc:
                self.fail(1, f"{name}: {type(exc).__name__}: {exc}")
                continue
            t2 = time.perf_counter()
            ops[name] = t2 - t0
            layer["plans.build_s"] = layer.get("plans.build_s", 0.0) + (t1 - t0)
            if traced:
                python_bytes = self.add_op(layer, mark)
                if name.startswith("x4_"):
                    layer["functions.multimodal.s"] = (
                        layer.get("functions.multimodal.s", 0.0) + t2 - t0)
                    layer["functions.multimodal.python_mb"] = (
                        layer.get("functions.multimodal.python_mb", 0.0) + python_bytes / 2**20)
        self.tracer.op_id = None
        return {"traced": traced, "ops": ops, "layer": layer, "outputs": outputs}

    def llm_check_pass(self, p: dict) -> None:
        """Compare each timed run's output with the warm-up output, which
        ``llm_check`` compares with the oracle. Runs after the pass, outside
        its wall and CPU time."""
        from tools.check_oracle import rows_multiset

        if self.expected is None:
            self.expected = {name: rows_multiset(*out[:2])
                             for name, out in self.outputs.items() if out is not None}
        for name, (cols, rows) in p.pop("outputs").items():
            if name not in self.expected:
                self.fail(1, f"{name}: no checked warm-up output to compare with")
            elif rows_multiset(cols, [tuple(r) for r in rows]) != self.expected[name]:
                self.fail(1, f"{name}: pass {len(self.passes) - 1} output differs "
                             f"from the warm-up output")
            else:
                self.ok_runs[name] += 1

    def llm_check(self) -> None:
        import duckdb

        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{os.path.join(self.inputs, t + '.parquet')}'")
        for name in LLM_QUERIES:
            if self.outputs[name] is None:
                continue
            s_cols, s_rows, s_port = self.outputs[name]
            why = compare_with_oracle(con, self.oracle_sql(name), s_cols, s_rows, s_port)
            if why:  # every run whose output matched the wrong warm-up output fails
                self.fail(self.ok_runs[name], f"{name}: {why}")

    def oracle_sql(self, name: str) -> str:
        """``ORACLES[name]`` as registration would have rewritten it. The
        rewrite is a pure function of the SQL text and of registry.py, so its
        output is cached in the work cache keyed by both."""
        raw, rewrite = self.plans.ORACLES[name], self.oracle_rewrite
        if rewrite is None:
            return raw
        reg_src = open(self.plans.registry.__file__, "rb").read()
        key = hashlib.sha256(reg_src + raw.encode()).hexdigest()[:32]
        path = os.path.join(CACHE_DIR, f"oracle-{key}.sql")
        if os.path.exists(path):
            return open(path).read()
        sql = rewrite(raw)
        os.makedirs(CACHE_DIR, exist_ok=True)
        tmp = f"{path}.{os.getpid()}"
        with open(tmp, "w") as fh:
            fh.write(sql)
        os.replace(tmp, path)
        return sql

    # -- ingest ------------------------------------------------------------

    def ingest_setup(self):
        # the ingest modules (no plans) are imported here so set-up time covers them
        from dockerized_data_pipeline_spark import config, pipeline  # noqa: F401
        from dockerized_data_pipeline_spark.streaming import ingest as streaming  # noqa: F401

        self.spark = self.start_session()
        self.layers = INGEST_LAYERS
        with open(os.path.join(self.inputs, "ticks.json")) as fh:
            self.ticks = json.load(fh)
        self.symbols = sorted(self.ticks[0]["fetches"])
        self.ingest_pass("warmup", traced=False)

    def transport(self, tick: dict):
        def fetch(url, params):
            f = tick["fetches"][params["symbol"]]
            if f["kind"] == "error":
                raise ConnectionError(f["body"])
            return f["body"]
        return fetch

    def tick(self, tick: dict, dirs: dict):
        from dockerized_data_pipeline_spark.config import PipelineConfig
        from dockerized_data_pipeline_spark.pipeline import ingest

        cfg = PipelineConfig(symbols=self.symbols, api_key="bench",
                             request_delay_sec=0, max_retries=1)
        return ingest(self.spark, self.symbols, self.transport(tick), dirs["stock_data"],
                      cfg, as_of=tick["as_of"], logs_path=dirs["pipeline_logs"],
                      metadata_path=dirs["stock_metadata"], sleep=lambda s: None)

    def ingest_pass(self, label, traced: bool) -> dict:
        from dockerized_data_pipeline_spark.pipeline import PRESERVE_COLS, UPDATE_COLS
        from dockerized_data_pipeline_spark.streaming.ingest import ingest_stream, stream_events

        root = os.path.join(self.work, f"pass-{label}")
        dirs = {k: os.path.join(root, k) for k in
                ("stock_data", "pipeline_logs", "stock_metadata", "stream_target", "ckpt")}
        seen: dict[str, int] = {}
        written = [0, 0]  # bytes, files

        def snapshot():
            for path, size in parquet_files(root).items():
                if seen.get(path) != size:
                    seen[path] = size
                    written[0] += size
                    written[1] += 1

        layer: dict[str, float] = {}
        ops: dict[str, float] = {}
        fetched, attempted_syms, rows_total, rows_valid = 0, 0, 0, 0
        for i, tick in enumerate(self.ticks):
            self.tracer.op_id = f"tick{i}#{label}"
            mark = self.op_mark(traced)
            t0 = time.perf_counter()
            self.attempted += 1
            try:
                summary = self.tick(tick, dirs)
            except Exception as exc:
                self.fail(1, f"tick {i}: {type(exc).__name__}: {exc}")
                continue
            ops[f"tick{i}"] = time.perf_counter() - t0
            if traced:
                self.add_op(layer, mark)
            snapshot()
            attempted_syms += summary.symbols_attempted
            fetched += summary.symbols_fetched
            q = summary.quality
            rows_total += q.get("rows_total", 0)
            rows_valid += (q.get("rows_total", 0) - q.get("bad_timestamp", 0)
                           - q.get("bad_open", 0) - q.get("bad_volume", 0))
        # streaming leg: drain the seeded files, one file per micro-batch
        self.tracer.op_id = f"stream#{label}"
        mark = self.op_mark(traced)
        stream_dir = os.path.join(self.inputs, "stream")
        n_files = len(glob.glob(os.path.join(stream_dir, "*.parquet")))
        t0 = time.perf_counter()
        self.attempted += n_files
        progress = []
        try:
            q = ingest_stream(
                stream_events(self.spark, stream_dir, stream_schema(), max_files_per_trigger=1),
                dirs["stream_target"], keys=["symbol", "timestamp"],
                order_by=["last_refreshed"], update_cols=UPDATE_COLS,
                preserve_cols=PRESERVE_COLS, checkpoint_dir=dirs["ckpt"],
                partition_col="symbol")
            q.awaitTermination()
            ops["stream"] = time.perf_counter() - t0
            progress = [p for p in q.recentProgress if p.get("numInputRows", 0) > 0]
        except Exception as exc:
            self.fail(n_files, f"stream: {type(exc).__name__}: {exc}")
        self.tracer.op_id = None
        if traced:
            self.add_op(layer, mark)
        snapshot()
        live = live_bytes(dirs)
        batch_ms = [p["durationMs"]["triggerExecution"] for p in progress]

        def med(key):
            vals = [p["durationMs"].get(key, 0) for p in progress]
            return statistics.median(vals) if vals else 0.0

        layer.update({
            "operators.merge.mb_written": written[0] / 2**20,
            "operators.merge.files_written": float(written[1]),
            "operators.merge.write_amp": written[0] / live if live else 0.0,
            "sources.http.failed_ratio": 1 - fetched / attempted_syms if attempted_syms else 0.0,
            "sources.parse.valid_ratio": rows_valid / rows_total if rows_total else 0.0,
            "streaming.add_batch_ms": med("addBatch"),
            "streaming.wal_commit_ms": med("walCommit"),
            "streaming.planning_ms": med("queryPlanning"),
            "streaming.input_rows": float(sum(p["numInputRows"] for p in progress)),
        })
        self.last_dirs = dirs
        return {"traced": traced, "ops": ops, "layer": layer,
                "batches_ms": batch_ms, "root": root}

    def ingest_timed_pass(self, traced: bool) -> dict:
        prev = self.passes[-1]["root"] if self.passes else os.path.join(self.work, "pass-warmup")
        shutil.rmtree(prev, ignore_errors=True)
        return self.ingest_pass(str(len(self.passes)), traced)

    def ingest_check(self) -> None:
        from reference import reference_upsert

        dirs, spark = self.last_dirs, self.spark
        n_ticks = len(self.ticks)
        want = reference_upsert(self.ticks)
        got = read_table(spark, dirs["stock_data"])
        if got != want:
            self.fail(n_ticks, f"stock_data differs from the reference upsert "
                               f"({len(got)} rows vs {len(want)}; {diff_sample(got, want)})")
        logs = spark.read.parquet(dirs["pipeline_logs"]).count()
        if logs != n_ticks:
            self.fail(n_ticks, f"pipeline_logs has {logs} rows for {n_ticks} ticks")
        got_s = read_table(spark, dirs["stream_target"])  # the stream drains the same bars
        if got_s != want:
            self.fail(len(glob.glob(os.path.join(self.inputs, "stream", "*.parquet"))),
                      f"streaming target differs from the reference "
                      f"({len(got_s)} rows vs {len(want)}; {diff_sample(got_s, want)})")
        meta = sorted(tuple(r) for r in spark.read.parquet(dirs["stock_metadata"]).collect())
        self.tick(self.ticks[-1], dirs)  # replay the last tick: must change nothing
        meta2 = sorted(tuple(r) for r in spark.read.parquet(dirs["stock_metadata"]).collect())
        if read_table(spark, dirs["stock_data"]) != got or meta2 != meta:
            self.fail(1, "replaying the last tick changed stock_data or stock_metadata")

    # -- driver ------------------------------------------------------------

    def execute(self) -> dict:
        if self.workload == "llm_ops":
            self.llm_setup()
            body, self.check_pass, check = self.llm_pass, self.llm_check_pass, self.llm_check
        else:
            self.ingest_setup()
            body, self.check_pass, check = self.ingest_timed_pass, None, self.ingest_check
        setup_s = time.time() - self.t0
        steal0, total0 = host_cpu_jiffies()
        self.timed(body)
        steal1, total1 = host_cpu_jiffies()
        t_check = time.perf_counter()
        check()
        check_s = time.perf_counter() - t_check
        untraced = [p for p in self.passes if not p["traced"]]
        result = {
            "setup_s": setup_s,
            "pass_wall_s": pass_seconds(untraced),
            "pass_cpu_s": statistics.median(p["cpu_s"] for p in untraced),
            "passes": len(untraced),
            "check_s": check_s,
            "steal_share": (steal1 - steal0) / max(total1 - total0, 1),
            "attempted": self.attempted,
            "failed": self.failed,
            "problems": self.problems[:20],
            "env": {"spark": self.spark.version, "python": platform.python_version(),
                    "java": self.spark.sparkContext._jvm.System.getProperty("java.version")},
        }
        if self.workload == "ingest":
            ticks = [v for p in untraced for k, v in p["ops"].items() if k.startswith("tick")]
            batches = [b / 1e3 for p in untraced for b in p["batches_ms"]]
            self.layer["pipeline.tick_p50_s"] = statistics.median(ticks)
            self.layer["pipeline.tick_tail_s"], self.layer["pipeline.tick_tail_pct"] = tail(ticks)
            self.layer["streaming.microbatch_p50_s"] = (statistics.median(batches)
                                                       if batches else 0.0)
        if self.trace:
            result["per_layer"] = self.layer_metrics()
            os.makedirs(SPANS_DIR, exist_ok=True)
            result["spans"] = os.path.join(SPANS_DIR, f"{self.workload}-seed{self.seed}.json")
            self.tracer.dump(result["spans"])
        return result


# -- helpers -------------------------------------------------------------------

CACHE_DIR = os.path.join(ROOT, ".perfbench", "cache")
SPANS_DIR = os.path.join(ROOT, ".perfbench", "spans")


def import_plans_deferring_oracle_rewrite():
    """Import the query registry with the registration-time oracle rewrite
    (``registry.roundtrip_double_casts``) deferred: it is quadratic in the
    generated oracles and costs ~95 s per process on a 4-core machine, beyond
    the benchmark's per-run budget. Returns the package and the deferred
    rewrite, which the gate applies to the workload's own oracles
    (``Run.oracle_sql``)."""
    spec = importlib.util.find_spec(f"{PKG}.plans")
    pkg = importlib.util.module_from_spec(spec)
    sys.modules[spec.name] = pkg
    registry = importlib.import_module(f"{PKG}.plans.registry")
    rewrite = getattr(registry, "roundtrip_double_casts", None)
    if rewrite is not None:
        registry.roundtrip_double_casts = lambda sql: sql
    try:
        spec.loader.exec_module(pkg)
    finally:
        if rewrite is not None:
            registry.roundtrip_double_casts = rewrite
    return pkg, rewrite


def compare_with_oracle(con, sql, s_cols, s_rows, s_port) -> str | None:
    """The comparison of tools/check_oracle.py: row count, column names and
    an order-insensitive multiset of normalized values; a Decimal output
    column on either side is a portability failure."""
    from tools.check_oracle import rows_multiset

    try:
        rel = con.sql(sql)
        d_cols = [c.lower() for c in rel.columns]
        d_types = [str(t).upper() for t in rel.types]
        d_rows = rel.fetchall()
    except Exception as exc:
        return f"duckdb error: {exc}"
    d_float = frozenset(i for i, t in enumerate(d_types) if "DECIMAL" in t or "HUGEINT" in t)
    problems = []
    if s_port:
        problems.append(f"spark decimal output {s_port}")
    if d_float:
        problems.append("duck decimal/hugeint output")
    if len(s_rows) != len(d_rows):
        problems.append(f"rowcount spark={len(s_rows)} duck={len(d_rows)}")
    s_ms, s_c = rows_multiset([c.lower() for c in s_cols], s_rows)
    d_ms, d_c = rows_multiset(d_cols, d_rows, duck=True, float_cols=d_float)
    if s_c != d_c:
        problems.append(f"cols spark={s_c} duck={d_c}")
    elif s_ms != d_ms:
        problems.append("values differ")
    return "; ".join(problems) or None


def stream_schema():
    from dockerized_data_pipeline_spark.catalog import STOCK_DATA_SCHEMA

    return STOCK_DATA_SCHEMA


def parquet_files(root: str) -> dict[str, int]:
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(dirpath, f)
                try:
                    out[p] = os.path.getsize(p)
                except OSError:
                    pass
    return out


def live_bytes(dirs: dict) -> int:
    """Bytes of the parquet files the final tables are read from."""
    from dockerized_data_pipeline_spark.operators.atomic import current_version

    total = 0
    for k in ("stock_data", "pipeline_logs", "stream_target", "stock_metadata"):
        path = dirs[k]
        if k == "stock_metadata":
            path = current_version(path) or path
        total += sum(parquet_files(path).values())
    return total


def read_table(spark, path: str) -> dict:
    cols = ["symbol", "timestamp", "open_price", "high_price", "low_price",
            "close_price", "volume", "last_refreshed", "time_zone", "created_at"]
    return {(r["symbol"], r["timestamp"]): {c: r[c] for c in cols}
            for r in spark.read.parquet(path).collect()}


def diff_sample(got: dict, want: dict) -> str:
    for k in sorted(set(got) | set(want), key=str):
        if got.get(k) != want.get(k):
            return f"first difference at {k}: got {got.get(k)} want {want.get(k)}"
    return "no difference"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--t0", type=float, required=True)
    a = ap.parse_args()
    run = Run(a.workload, a.seed, a.seconds, bool(a.trace), a.inputs, a.work, a.t0)
    result = run.execute()
    with open(a.out, "w") as fh:
        json.dump(result, fh)
    run.spark.stop()


if __name__ == "__main__":
    main()
