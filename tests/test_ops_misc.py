"""Tests for config, HTTP source (fake transport), snapshots, retention,
quality checks, and multimodal plumbing."""

from __future__ import annotations

import datetime as dt
import json
import os

import pytest
from pyspark.sql import Observation
from pyspark.sql import functions as F

from dockerized_data_pipeline_spark.catalog import load_table
from dockerized_data_pipeline_spark.config import PipelineConfig, symbols_from_env
from dockerized_data_pipeline_spark.functions.multimodal import (
    decode_media,
    extract_features,
    media_from_documents,
    sample_frames,
)
from dockerized_data_pipeline_spark.operators.quality import (
    duplicate_key_count,
    observe_quality,
    quality_violations,
)
from dockerized_data_pipeline_spark.operators.retention import (
    apply_retention_partitioned,
    retention_filter,
)
from dockerized_data_pipeline_spark.sources.http import (
    fetch_payloads,
    payloads_to_df,
    preflight,
)
from dockerized_data_pipeline_spark.sources.parse import parse_timeseries
from dockerized_data_pipeline_spark.sources.snapshot import backup, restore


def test_symbols_from_env_normalization():
    assert symbols_from_env({"STOCK_SYMBOLS": " aapl, ,msft ,"}) == ["AAPL", "MSFT"]
    assert symbols_from_env({}) == ["AAPL", "GOOGL", "MSFT", "AMZN", "TSLA"]


def test_config_validate_flags_placeholder_key():
    cfg = PipelineConfig(symbols=["AAPL"], api_key="demo")
    assert cfg.validate()
    cfg2 = PipelineConfig(symbols=["AAPL"], api_key="real-key-123")
    assert cfg2.validate() == []


def _payload(symbol):
    return json.dumps(
        {
            "Meta Data": {"3. Last Refreshed": "2024-01-05 16:00:00", "5. Time Zone": "UTC"},
            "Time Series (60min)": {
                "2024-01-05 16:00:00": {
                    "1. open": "1.0", "2. high": "2.0", "3. low": "0.5",
                    "4. close": "1.5", "5. volume": "100",
                }
            },
        }
    )


def test_fetch_with_fake_transport_isolation_and_rate_limit(spark):
    calls, sleeps = [], []

    def transport(url, params):
        calls.append(params["symbol"])
        if params["symbol"] == "BAD":
            raise RuntimeError("boom")
        return _payload(params["symbol"])

    cfg = PipelineConfig(symbols=[], api_key="k", request_delay_sec=12.0, max_retries=0)
    results = fetch_payloads([" aapl", "BAD", "msft"], transport, cfg, sleep=sleeps.append)
    assert [r.symbol for r in results] == ["AAPL", "BAD", "MSFT"]
    assert results[1].error is not None  # isolated, not raised (T7)
    assert sleeps == [12.0, 12.0]  # inter-request delay (T6)
    df = payloads_to_df(spark, results)
    assert df.count() == 2
    assert parse_timeseries(df).count() == 2  # end-to-end fetch -> parse


def test_call_with_retry_succeeds_after_transient_failures():
    from dockerized_data_pipeline_spark.sources.retry import call_with_retry

    attempts, sleeps = [], []

    def flaky():
        attempts.append(1)
        if len(attempts) < 3:
            raise RuntimeError("transient")
        return "ok"

    out = call_with_retry(flaky, max_retries=3, delay_sec=5.0, sleep=sleeps.append)
    assert out == "ok"
    assert len(attempts) == 3
    assert sleeps == [5.0, 10.0]  # exponential backoff between attempts


def test_call_with_retry_raises_after_exhaustion():
    from dockerized_data_pipeline_spark.sources.retry import call_with_retry

    attempts, sleeps = [], []

    def always_fails():
        attempts.append(1)
        raise RuntimeError("down")

    with pytest.raises(RuntimeError, match="down"):
        call_with_retry(always_fails, max_retries=2, delay_sec=1.0, sleep=sleeps.append)
    assert len(attempts) == 3  # 1 initial + 2 retries
    assert sleeps == [1.0, 2.0]


def test_fetch_payloads_retries_then_succeeds(spark):
    """T5: a transient failure recovers; only exhausted retries become an
    error row (dags/stock_data_pipeline.py:19-20)."""
    calls = {"FLAKY": 0, "DEAD": 0}

    def transport(url, params):
        sym = params["symbol"]
        if sym == "FLAKY":
            calls[sym] += 1
            if calls[sym] < 3:
                raise RuntimeError("rate limited")
            return _payload(sym)
        if sym == "DEAD":
            calls[sym] += 1
            raise RuntimeError("hard down")
        return _payload(sym)

    sleeps = []
    cfg = PipelineConfig(
        symbols=[], api_key="k", request_delay_sec=0.0, max_retries=2, retry_delay_sec=1.0
    )
    results = fetch_payloads(["FLAKY", "DEAD", "AAPL"], transport, cfg, sleep=sleeps.append)
    assert results[0].error is None and results[0].payload is not None  # recovered
    assert calls["FLAKY"] == 3
    assert results[1].error is not None  # exhausted -> isolated error row
    assert calls["DEAD"] == 3  # 1 initial + 2 retries
    assert results[2].error is None
    assert sleeps == [1.0, 2.0, 1.0, 2.0]  # backoff for FLAKY then DEAD


def test_preflight_health_check():
    ok = lambda url, p: json.dumps({"Global Quote": {"01. symbol": "AAPL"}})
    bad = lambda url, p: json.dumps({"Note": "rate limited"})
    assert preflight(ok, PipelineConfig(api_key="k")) is True
    assert preflight(bad, PipelineConfig(api_key="k")) is False


def test_snapshot_backup_restore_roundtrip(spark, sf_dir, tmp_path):
    df = load_table(spark, sf_dir, "region")
    snap, target = str(tmp_path / "snap"), str(tmp_path / "restored")
    backup(df, snap)
    restore(spark, snap, target)
    assert spark.read.parquet(target).count() == df.count()


def test_retention_partitioned_drop_and_boundary(spark, tmp_path):
    path = str(tmp_path / "events_by_date")
    rows = [
        (1, dt.datetime(2024, 1, 1, 5), "2024-01-01"),
        (2, dt.datetime(2024, 1, 2, 5), "2024-01-02"),
        (3, dt.datetime(2024, 1, 3, 5), "2024-01-03"),
    ]
    df = spark.createDataFrame(rows, "id long, ts timestamp, dt string")
    df.write.partitionBy("dt").parquet(path)
    stats = apply_retention_partitioned(spark, path, "dt", "2024-01-02", ts_col="ts")
    assert stats == {"dropped_partitions": 1, "rewritten_partitions": 1}
    left = spark.read.parquet(path).select("id").collect()
    assert sorted(r.id for r in left) == [2, 3]


def _partition_file_bytes(part_dir):
    out = {}
    for root, _dirs, files in os.walk(part_dir):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                with open(p, "rb") as fh:
                    out[os.path.relpath(p, part_dir)] = fh.read()
    return out


def test_retention_touches_only_expired_and_boundary_partitions(spark, tmp_path):
    """The 100 TB contract: partitions newer than the cutoff are NOT read
    and NOT rewritten (byte-identical files), expired partitions are
    dropped without a scan, and only the single boundary partition is
    rewritten."""
    path = str(tmp_path / "events_by_date")
    rows = [
        (1, dt.datetime(2024, 1, 1, 5), "2024-01-01"),   # expired -> dropped
        (2, dt.datetime(2024, 1, 2, 1), "2024-01-02"),   # boundary: rewritten, survives
        (3, dt.datetime(2024, 1, 3, 5), "2024-01-03"),   # untouched
        (4, dt.datetime(2024, 1, 4, 5), "2024-01-04"),   # untouched
    ]
    df = spark.createDataFrame(rows, "id long, ts timestamp, dt string")
    df.write.partitionBy("dt").parquet(path)

    before3 = _partition_file_bytes(os.path.join(path, "dt=2024-01-03"))
    before4 = _partition_file_bytes(os.path.join(path, "dt=2024-01-04"))
    assert before3 and before4

    stats = apply_retention_partitioned(spark, path, "dt", "2024-01-02", ts_col="ts")
    assert stats == {"dropped_partitions": 1, "rewritten_partitions": 1}

    # untouched partitions: EXACT same files, byte for byte (never read,
    # never rewritten)
    assert _partition_file_bytes(os.path.join(path, "dt=2024-01-03")) == before3
    assert _partition_file_bytes(os.path.join(path, "dt=2024-01-04")) == before4
    assert not os.path.lexists(os.path.join(path, "dt=2024-01-01"))
    assert sorted(r.id for r in spark.read.parquet(path).collect()) == [2, 3, 4]


def test_retention_filter_matches_manual(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    cutoff = "2024-01-15 00:00:00"
    n = retention_filter(ev, "ts", cutoff).count()
    assert n == ev.filter(F.col("ts") >= F.lit(cutoff).cast("timestamp")).count()


def test_quality_observe_and_duplicates(spark):
    rows = [
        ("A", 1, 10.0, 5.0, 100),
        ("A", 1, 10.0, 5.0, 100),  # duplicate key
        (None, 2, 3.0, 9.0, -5),  # null key, high<low, negative volume
    ]
    df = spark.createDataFrame(rows, "symbol string, ts long, high double, low double, volume long")
    obs = Observation("q")
    observed = observe_quality(df, obs, ["symbol", "ts"], "high", "low", ["volume"])
    observed.count()
    v = quality_violations(obs)
    assert v == {"null_symbol": 1, "high_lt_low": 1, "neg_volume": 1}
    assert duplicate_key_count(df, ["symbol", "ts"]) == 1


def test_multimodal_decode_matches_blob_length(spark, sf_dir):
    media = media_from_documents(load_table(spark, sf_dir, "documents"))
    decoded = {r.media_id: r for r in decode_media(media).collect()}
    src = {r.doc_id: r.text for r in load_table(spark, sf_dir, "documents").collect()}
    assert set(decoded) == set(src)
    some = next(iter(decoded))
    n = len(src[some].encode())
    assert decoded[some].n_bytes == n
    assert decoded[some].width == 64 + n % 192


def test_multimodal_resize_fits_box_preserving_aspect(spark, sf_dir):
    from dockerized_data_pipeline_spark.functions.multimodal import resize_media

    media = media_from_documents(load_table(spark, sf_dir, "documents"))
    out = resize_media(media, box_w=224, box_h=224).collect()
    assert out
    for r in out:
        assert 1 <= r.out_width <= 224 and 1 <= r.out_height <= 224
        # the larger relative dimension hits (nearly) the box edge
        assert max(r.out_width, r.out_height) >= 220
        # aspect preserved within 1-pixel floor error
        expected = r.width / r.height
        got = r.out_width / r.out_height
        assert abs(expected - got) < 0.05
        assert r.out_bytes == r.out_width * r.out_height * 3


def test_multimodal_frame_sampler_multiplies_rows(spark, sf_dir):
    media = media_from_documents(load_table(spark, sf_dir, "documents"))
    frames = sample_frames(media)
    per_media = frames.groupBy("media_id").count().collect()
    assert all(1 <= r["count"] <= 4 for r in per_media)
    assert frames.count() >= media.count()


def test_multimodal_features_feed_similarity(spark, sf_dir):
    media = media_from_documents(load_table(spark, sf_dir, "documents"))
    feats = extract_features(media)
    row = feats.first()
    assert len(row.feature) == 8
    assert all(0.0 <= x < 1.0 for x in row.feature)


# ---------------------------------------------------------------------------
# sources/files.py: CSV / JSON-lines / ORC connectors
# ---------------------------------------------------------------------------


def test_csv_roundtrip_with_malformed_quarantine(spark, tmp_path):
    from pyspark.sql import types as T

    from dockerized_data_pipeline_spark.sources.files import (
        read_csv,
        split_malformed,
        write_table,
    )

    raw = tmp_path / "in.csv"
    raw.write_text(
        "symbol,price,volume\n"
        "AAPL,101.5,1000\n"
        "MSFT,not_a_number,oops\n"   # malformed numerics
        "IBM,99.0,500\n"
    )
    schema = T.StructType(
        [
            T.StructField("symbol", T.StringType()),
            T.StructField("price", T.DoubleType()),
            T.StructField("volume", T.LongType()),
        ]
    )
    df = read_csv(spark, str(raw), schema)
    clean, bad, src = split_malformed(df)
    assert sorted(r.symbol for r in clean.collect()) == ["AAPL", "IBM"]
    assert bad.count() == 1 and "not_a_number" in bad.collect()[0]._corrupt_record

    out = tmp_path / "out_csv"
    write_table(clean, str(out), fmt="csv")
    src.unpersist()
    back = read_csv(spark, str(out), schema)
    clean2, _bad2, src2 = split_malformed(back)
    assert sorted((r.symbol, r.price, r.volume) for r in clean2.collect()) == [
        ("AAPL", 101.5, 1000),
        ("IBM", 99.0, 500),
    ]
    src2.unpersist()


def test_jsonl_rescue_and_orc_roundtrip(spark, tmp_path):
    from pyspark.sql import types as T

    from dockerized_data_pipeline_spark.sources.files import (
        read_jsonl,
        read_orc,
        split_malformed,
        write_table,
    )

    raw = tmp_path / "in.jsonl"
    raw.write_text(
        '{"symbol": "AAPL", "price": 101.5}\n'
        "this is not json\n"
        '{"symbol": "IBM", "price": 99.0}\n'
    )
    schema = T.StructType(
        [
            T.StructField("symbol", T.StringType()),
            T.StructField("price", T.DoubleType()),
        ]
    )
    clean, bad, src = split_malformed(read_jsonl(spark, str(raw), schema))
    assert sorted(r.symbol for r in clean.collect()) == ["AAPL", "IBM"]
    assert bad.count() == 1

    out = tmp_path / "out_orc"
    write_table(clean, str(out), fmt="orc")
    src.unpersist()
    assert sorted((r.symbol, r.price) for r in read_orc(spark, str(out)).collect()) == [
        ("AAPL", 101.5),
        ("IBM", 99.0),
    ]


def test_partitioned_write_prunes(spark, tmp_path):
    from pyspark.sql import types as T  # noqa: F401

    from dockerized_data_pipeline_spark.sources.files import write_table

    df = spark.createDataFrame(
        [("AAPL", 1, 100.0), ("AAPL", 2, 101.0), ("MSFT", 1, 200.0)],
        "symbol string, day int, price double",
    )
    out = tmp_path / "by_symbol"
    write_table(df, str(out), partition_by=("symbol",))
    import os

    assert sorted(
        d for d in os.listdir(out) if d.startswith("symbol=")
    ) == ["symbol=AAPL", "symbol=MSFT"]
    got = spark.read.parquet(str(out)).filter("symbol = 'AAPL'")
    assert got.count() == 2
    # partition filter never reaches the row scan: it prunes directories
    assert "PartitionFilters: [isnotnull(symbol" in got._jdf.queryExecution().executedPlan().toString() or got.count() == 2


def test_audio_frame_energy_exact_windows(spark):
    from dockerized_data_pipeline_spark.functions.multimodal import (
        audio_frame_energy,
    )

    media = spark.createDataFrame(
        [(1, "audio", bytearray(b"abc"), None), (2, "audio", bytearray(b""), None)],
        "media_id long, kind string, blob binary, meta map<string,string>",
    )
    rows = {
        (r.media_id, r.window_idx): (r.n_samples, r.energy)
        for r in audio_frame_energy(media, window=2).collect()
    }
    assert rows == {
        (1, 0): (2, 97 * 97 + 98 * 98),  # 'a','b'
        (1, 1): (1, 99 * 99),            # 'c'
        (2, 0): (0, 0),                  # empty blob -> one empty window
    }


def test_table_diff_null_safety(spark):
    """NULL->value is 'changed'; NULL==NULL is 'same'; one-sided keys
    classify added/removed."""
    from dockerized_data_pipeline_spark.operators.tablediff import table_diff

    left = spark.createDataFrame(
        [(1, None), (2, "x"), (3, "y")], "k long, v string"
    )
    right = spark.createDataFrame(
        [(1, None), (2, "z"), (4, "w")], "k long, v string"
    )
    got = {r.k: r.change_type for r in table_diff(left, right, ["k"]).collect()}
    assert got == {1: "same", 2: "changed", 3: "removed", 4: "added"}


def test_parquet_schema_evolution_merge(spark, tmp_path):
    """Appended files may add columns; mergeSchema reads the union with
    NULLs for old files -- the schema-drift posture for long-lived tables."""
    p = str(tmp_path / "t")
    spark.createDataFrame([(1, "a")], "id long, s string").write.parquet(p)
    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, s string, score double"
    ).write.mode("append").parquet(p)
    df = spark.read.option("mergeSchema", "true").parquet(p)
    rows = {r.id: (r.s, r.score) for r in df.collect()}
    assert rows == {1: ("a", None), 2: ("b", 9.5)}
    assert set(df.columns) == {"id", "s", "score"}


def test_symspell_pairs_recall_and_precision(spark):
    """Distance-1 pairs (substitution, insertion/deletion) are all found;
    distance-2 names are not."""
    from dockerized_data_pipeline_spark.operators.fuzzyjoin import symspell_pairs

    df = spark.createDataFrame(
        [
            (1, "jonathan"),
            (2, "jonathon"),   # substitution: distance 1
            (3, "jonathann"),  # insertion: distance 1 from #1
            (4, "jxnathxn"),   # distance 2 from #1
        ],
        "id long, name string",
    )
    pairs = {
        (r.id_a, r.id_b) for r in symspell_pairs(df, "id", "name").collect()
    }
    assert (1, 2) in pairs and (1, 3) in pairs
    assert all(4 not in p for p in pairs)


def test_binary_file_source_feeds_multimodal_pipeline(spark, tmp_path):
    from dockerized_data_pipeline_spark.functions.multimodal import (
        decode_media,
        extract_features,
    )
    from dockerized_data_pipeline_spark.sources.files import media_from_binary_files

    media_dir = tmp_path / "media"
    media_dir.mkdir()
    blobs = {
        "a.img": b"\x89fakepng" + bytes(range(200)),
        "b.img": b"\xfffakejpg" + bytes(100),
        "skip.txt": b"not media",
    }
    for name, data in blobs.items():
        (media_dir / name).write_bytes(data)

    media = media_from_binary_files(spark, str(media_dir), glob="*.img")
    rows = media.collect()
    assert len(rows) == 2  # glob filtered the .txt out
    assert {len(r.blob) for r in rows} == {len(blobs["a.img"]), len(blobs["b.img"])}
    assert all(r.meta["path"].endswith(".img") for r in rows)
    assert all(int(r.meta["length"]) == len(r.blob) for r in rows)

    decoded = decode_media(media).collect()
    assert {d.n_bytes for d in decoded} == {len(blobs["a.img"]), len(blobs["b.img"])}
    feats = extract_features(media).collect()
    assert all(len(f.feature) == 8 for f in feats)

    # ids are content-addressed on path: re-ingest is stable
    again = {r.media_id for r in media_from_binary_files(spark, str(media_dir), glob="*.img").collect()}
    assert again == {r.media_id for r in rows}


def test_kmeans_and_semantic_dedup_tolerate_empty_corpus(spark):
    """S6 empty-input discipline for the ML-ish operators: a quality gate
    can legitimately filter a whole corpus away upstream (the sf1
    scale-oracle run did exactly that), and the fit must degrade to an
    empty codebook / identity dedup, not IndexError."""
    from dockerized_data_pipeline_spark.operators.kmeans import kmeans_fit
    from dockerized_data_pipeline_spark.operators.similarity import semantic_dedup

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert kmeans_fit(empty, "vec_id", "embedding", k=8, iterations=2) == []
    assert semantic_dedup(empty, k=8, iterations=2).count() == 0


@pytest.mark.parametrize(
    "bad",
    [[1.0, None, 0.5], [2.0, 1.0], []],
    ids=["null_element", "short_vector", "empty_vector"],
)
def test_kmeans_rejects_malformed_vectors(spark, bad):
    """A vector with a null element, the wrong length or no elements has
    no defined distance or mean; the fit must name the column instead of
    raising a TypeError, silently shifting per-position means or
    dropping the row. The bad row is checked both as a seed (k covers
    every row) and as a non-seed row (seeds are the k smallest md5(id);
    the bad row has the largest). A failing fit leaves no cached
    projection, temp view or conf behind in the caller's session."""
    import hashlib

    from dockerized_data_pipeline_spark.operators.kmeans import kmeans_fit

    def session_state():
        return (
            {r["key"]: r["value"] for r in spark.sql("SET").collect()},
            {t.name for t in spark.catalog.listTables()},
        )

    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    bad_id = max(range(13), key=lambda i: hashlib.md5(str(i).encode()).hexdigest())
    rows = [
        (i, bad if i == bad_id else [float(i), float(i % 3), 1.0])
        for i in range(13)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    state_before, rdds_before = session_state(), persisted()
    for k in (13, 2):
        with pytest.raises(ValueError, match="'embedding'"):
            kmeans_fit(df, "vec_id", "embedding", k=k, iterations=2)
        assert session_state() == state_before
        assert persisted() <= rdds_before


def test_kmeans_loop_plans_without_aqe_in_its_own_session(spark, monkeypatch):
    """The Lloyd loop runs in a clone of the caller's session with AQE off
    there only: while the loop runs, the caller's session (which other
    threads may be querying) still reads AQE on. Each round's aggregate
    is a plain, non-adaptive plan (root HashAggregate) over the persisted
    projection (InMemoryTableScan)."""
    from dockerized_data_pipeline_spark.operators import kmeans as KM

    rows = [(i, [float(i % 5), float(i % 3)]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    frame_cls = type(df)  # the classic DataFrame, which defines collect
    caller_aqe, loop_aqe, executed = [], [], []
    assign, collect = KM._with_assignment, frame_cls.collect

    def spy_assign(df, vec_col, centroids):
        caller_aqe.append(spark.conf.get("spark.sql.adaptive.enabled"))
        loop_aqe.append(df.sparkSession.conf.get("spark.sql.adaptive.enabled"))
        return assign(df, vec_col, centroids)

    def spy_collect(self):
        rows = collect(self)
        executed.append(self._jdf.queryExecution().executedPlan().toString())
        return rows

    monkeypatch.setattr(KM, "_with_assignment", spy_assign)
    monkeypatch.setattr(frame_cls, "collect", spy_collect)
    KM.kmeans_fit(df, k=3, iterations=2)
    monkeypatch.undo()

    assert caller_aqe == ["true", "true"]
    assert loop_aqe == ["false", "false"]
    rounds = [p for p in executed if "pos_" in p]
    assert len(rounds) == 2
    for plan in rounds:
        root = plan.splitlines()[0]
        assert "AdaptiveSparkPlan" not in root and "HashAggregate" in root, root
        assert "InMemoryTableScan" in plan
