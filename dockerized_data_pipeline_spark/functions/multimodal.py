"""Multimodal columns (SURVEY section 2.11 X4): image/audio/video as opaque
``binary`` columns with typed metadata, processed by Arrow-batched pandas
UDFs over ``mapInPandas``.

The Spark-side plumbing -- schema, partitioning, UDF signatures, batch
iteration, row-multiplying frame sampling -- is real and tested. Codecs:

- REAL, stdlib-only, oracle-checked end-to-end: WAV/PCM16 audio (``wave``),
  netpbm P5/PGM images (incl. nearest-neighbor resize), PNG 8-bit grayscale
  (``zlib``: CRC-verified chunks, inflate, all five scanline filters),
  baseline JFIF/JPEG (canonical-Huffman entropy coding with byte stuffing,
  zigzag, dequant, IDCT, DRI/RST restarts, edge-block crop), and
  YUV4MPEG2 video (stream header, FRAME markers, planar C420, strided
  keyframe sampling).
- STUBBED (this container has no imaging libraries): the generic
  ``decode_media`` path tries PIL behind an import-guard and otherwise
  falls back to a deterministic fake derived from blob length -- swapping
  in a real decoder changes only the inner per-batch function; the
  distributed shape (no shuffle, scan-speed parallelism, Arrow transfer)
  is identical, as the real codecs above demonstrate.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import spread_input

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image | audio | video
        T.StructField("blob", T.BinaryType(), True),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

DECODED_SCHEMA = (
    "media_id long, kind string, n_bytes long, width int, height int, aspect_ppm long"
)

FRAME_SCHEMA = "media_id long, frame_idx int, frame_bytes long"

FEATURE_DIM = 8
FEATURE_SCHEMA = f"media_id long, feature array<double>"


# Per-codec single-blob cost (encode + decode, ms), measured by per-blob
# microbenchmarks (OPTIMIZATION_r11.md).
CODEC_MS_PER_BLOB = {
    "wav": 0.12,
    "pgm": 0.05,
    "y4m": 0.36,
    "png": 0.25,
    "jpeg": 0.84,
    "jpeg_color": 1.34,
    "jpeg_progressive": 1.93,
}

# Spread hint per codec for catalog.spread_input: plan bytes of id input per
# ~100 ms Arrow task at 12 plan bytes per id row, i.e. 12 x 100 /
# ms_per_blob (wav 10,000 B, jpeg_progressive ~622 B). Spark estimates ~25 B
# per bare id row, so a task gets ~200 ms of codec work; 12 is kept because
# the codec stage widths were measured with it. The codec stage inherits
# the partitioning of its id input, and only int64 ids cross the exchange,
# never blobs; at scale blobs arrive in many splits and the spread is a
# no-op (the lever there is spark.sql.files.maxPartitionBytes).
CODEC_BYTES_PER_TASK = {c: 12 * 100 / ms for c, ms in CODEC_MS_PER_BLOB.items()}


def media_from_documents(docs: DataFrame) -> DataFrame:
    """Build a media table from the documents fixture: text bytes stand in
    for encoded image blobs (deterministic, no external data)."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode("text", "UTF-8").alias("blob"),
        F.create_map(F.lit("src"), F.col("source"), F.lit("lang"), F.col("lang")).alias(
            "meta"
        ),
    )


def _fake_dims(n_bytes: int) -> tuple[int, int]:
    """Deterministic stand-in for a real header parse."""
    return 64 + n_bytes % 192, 64 + (n_bytes * 7) % 192


def decode_media(media: DataFrame) -> DataFrame:
    """blob -> (dims, size) via mapInPandas. Arrow-batched; per-partition,
    zero shuffle -- the decode cost parallelizes at scan speed."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            # NULL blob -> NULL decode (r10 NULL tier): an absent blob has
            # no byte length or dimensions; SQL strlen(NULL) agrees.
            n_bytes = pdf["blob"].map(lambda b: len(b) if b is not None else None)
            dims = n_bytes.map(lambda n: _fake_dims(n) if n is not None else (None, None))
            width = dims.map(lambda d: d[0])
            height = dims.map(lambda d: d[1])
            aspect = [
                w * 1_000_000 // h if w is not None else None
                for w, h in zip(width, height)
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": n_bytes,
                    "width": width,
                    "height": height,
                    "aspect_ppm": aspect,
                }
            )

    return media.select("media_id", "kind", "blob").mapInPandas(batches, schema=DECODED_SCHEMA)


def sample_frames(media: DataFrame) -> DataFrame:
    """Row-multiplying frame sampler: each media row yields 1 + n_bytes % 4
    frame rows (a real sampler would seek the container by timestamp)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {"media_id": [], "frame_idx": [], "frame_bytes": []}
            for mid, blob in zip(pdf["media_id"], pdf["blob"]):
                if blob is None:  # no container -> no frames (r10 NULL tier)
                    continue
                n = len(blob)
                for idx in range(1 + n % 4):
                    out["media_id"].append(mid)
                    out["frame_idx"].append(idx)
                    out["frame_bytes"].append(n // (idx + 1))
            yield pd.DataFrame(out)

    return media.select("media_id", "blob").mapInPandas(batches, schema=FRAME_SCHEMA)


RESIZED_SCHEMA = (
    "media_id long, width int, height int, out_width int, out_height int, out_bytes long"
)


def resize_media(media: DataFrame, box_w: int = 224, box_h: int = 224) -> DataFrame:
    """Aspect-preserving fit-into-box resize via mapInPandas.

    A real implementation would decode, resample, and re-encode per Arrow
    batch (PIL ``Image.thumbnail``); the stub keeps the exact geometry
    arithmetic (scale = min(box/w, box/h), floor to pixels, >= 1) over the
    fake decoded dims, so the math and the distributed shape -- per-batch,
    zero shuffle -- are what tests and the oracle verify. ``out_bytes``
    estimates the resized payload as out_w*out_h*3 (RGB).
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = {
                "media_id": pdf["media_id"], "width": [], "height": [],
                "out_width": [], "out_height": [], "out_bytes": [],
            }
            for b in pdf["blob"]:
                if b is None:  # NULL blob -> NULL geometry (r10 NULL tier)
                    for k in ("width", "height", "out_width", "out_height", "out_bytes"):
                        rows[k].append(None)
                    continue
                w, h = _fake_dims(len(b))
                scale = min(box_w / w, box_h / h)
                ow = max(1, int(w * scale))
                oh = max(1, int(h * scale))
                rows["width"].append(w)
                rows["height"].append(h)
                rows["out_width"].append(ow)
                rows["out_height"].append(oh)
                rows["out_bytes"].append(ow * oh * 3)
            yield pd.DataFrame(rows)

    return media.select("media_id", "blob").mapInPandas(batches, schema=RESIZED_SCHEMA)


def extract_features(media: DataFrame) -> DataFrame:
    """blob -> fixed-dim feature vector (deterministic fake; a real extractor
    would run an encoder model per Arrow batch). Output feeds the similarity
    operators (array<double> column)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats = [
                [None] * FEATURE_DIM  # NULL blob: per-component NULL, like
                # the oracle's list_transform over strlen(NULL)
                if b is None
                else [((len(b) * 31 + i * 7) % 1000) / 1000.0 for i in range(FEATURE_DIM)]
                for b in pdf["blob"]
            ]
            yield pd.DataFrame({"media_id": pdf["media_id"], "feature": feats})

    return media.select("media_id", "blob").mapInPandas(batches, schema=FEATURE_SCHEMA)


ENERGY_SCHEMA = "media_id long, window_idx int, n_samples int, energy long"

AUDIO_WINDOW = 256  # samples (= bytes in the stub's 8-bit PCM reading)


def audio_from_documents(docs: DataFrame) -> DataFrame:
    """Audio twin of media_from_documents: text bytes stand in for an
    encoded waveform blob."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("audio").alias("kind"),
        F.encode("text", "UTF-8").alias("blob"),
        F.create_map(F.lit("src"), F.col("source"), F.lit("lang"), F.col("lang")).alias(
            "meta"
        ),
    )


def audio_frame_energy(media: DataFrame, window: int = AUDIO_WINDOW) -> DataFrame:
    """Windowed signal energy: decode the blob to PCM samples (STUB: the
    raw bytes read as unsigned 8-bit samples -- a real path would run
    ffmpeg/soundfile per Arrow batch) and emit one row per fixed-size
    window with its exact integer energy (sum of squared samples).

    The distributed shape is the one a real feature pipeline needs:
    row-multiplying mapInPandas (a 3-minute clip yields ~700 windows),
    numpy-vectorized inner loop, zero shuffle, exact integer output --
    deterministic run-to-run, so downstream silence-trimming / VAD gates
    are reproducible."""
    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {"media_id": [], "window_idx": [], "n_samples": [], "energy": []}
            for mid, blob in zip(pdf["media_id"], pdf["blob"]):
                if blob is None:
                    # one empty window with NULL sample count (the oracle's
                    # GREATEST(strlen, 1) / strlen(NULL) / COALESCE chain)
                    out["media_id"].append(mid)
                    out["window_idx"].append(0)
                    out["n_samples"].append(None)
                    out["energy"].append(0)
                    continue
                samples = np.frombuffer(blob, dtype=np.uint8).astype(np.int64)
                for w in range(0, max(len(samples), 1), window):
                    chunk = samples[w : w + window]
                    out["media_id"].append(mid)
                    out["window_idx"].append(w // window)
                    out["n_samples"].append(len(chunk))
                    out["energy"].append(int((chunk * chunk).sum()))
            yield pd.DataFrame(out)

    return media.select("media_id", "blob").mapInPandas(batches, schema=ENERGY_SCHEMA)


# ---------------------------------------------------------------------------
# REAL codec path: WAV/PCM via stdlib ``wave`` (no external deps). Unlike the
# stubbed image decode above, nothing here is faked: blobs are genuine RIFF
# containers, and decode parses the real header and PCM frames. Synthesis is
# deterministic from media_id, so an SQL oracle can derive every decoded
# property arithmetically -- the wave round-trip is oracle-checked end-to-end.
# ---------------------------------------------------------------------------

WAV_RATE = 8000
WAV_SCHEMA = (
    "media_id long, kind string, blob binary,"
    " meta map<string,string>"
)
WAV_DECODED_SCHEMA = (
    "media_id long, n_channels int, sample_width int, sample_rate int,"
    " n_frames long, peak int, energy long"
)


def _wav_frame_count(media_id: int) -> int:
    return 64 + media_id % 64


def _wav_samples(media_id: int):
    """Deterministic int16 mono waveform: sample i = (((id*31 + i*7) % 256)
    - 128) * 256. Pure integer arithmetic so DuckDB reproduces it exactly."""
    import numpy as np

    i = np.arange(_wav_frame_count(media_id), dtype=np.int64)
    return ((((media_id * 31 + i * 7) % 256) - 128) * 256).astype("<i2")


def _wav_encode(media_id: int) -> bytes:
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(WAV_RATE)
        w.writeframes(_wav_samples(media_id).tobytes())
    return buf.getvalue()


def wav_media(ids: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(ids) -> real WAV blobs, one per id, synthesized executor-side in
    Arrow batches (the ingest half of the audio pipeline; swap ``_wav_encode``
    for an S3/HTTP fetch and the shape is production ingest)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            mids = pdf[id_col].astype("int64")
            yield pd.DataFrame(
                {
                    "media_id": mids,
                    "kind": "audio/wav",
                    "blob": [_wav_encode(int(m)) for m in mids],
                    "meta": [
                        {"rate": str(WAV_RATE), "codec": "pcm_s16le"} for _ in mids
                    ],
                }
            )

    return spread_input(ids.select(id_col), CODEC_BYTES_PER_TASK["wav"]).mapInPandas(batches, schema=WAV_SCHEMA)


def _wav_stats(rows) -> pd.DataFrame:
    """Decode an iterable of (media_id, wav_blob) to exact signal stats
    (the shared body of decode_wav and synth_decode_wav)."""
    import io
    import wave

    import numpy as np

    out = {k: [] for k in (
        "media_id", "n_channels", "sample_width", "sample_rate",
        "n_frames", "peak", "energy",
    )}
    for mid, blob in rows:
        with wave.open(io.BytesIO(blob), "rb") as w:
            frames = w.readframes(w.getnframes())
            samples = np.frombuffer(frames, dtype="<i2").astype(np.int64)
            out["media_id"].append(mid)
            out["n_channels"].append(w.getnchannels())
            out["sample_width"].append(w.getsampwidth())
            out["sample_rate"].append(w.getframerate())
            out["n_frames"].append(w.getnframes())
            out["peak"].append(int(np.abs(samples).max(initial=0)))
            out["energy"].append(int((samples * samples).sum()))
    return pd.DataFrame(out)


def decode_wav(media: DataFrame) -> DataFrame:
    """REAL decode: parse the RIFF/WAVE header and PCM16 frames with stdlib
    ``wave`` + numpy, emitting exact integer signal stats (peak = max |s|,
    energy = sum s^2). Same distributed shape as decode_media: Arrow-batched
    mapInPandas, zero shuffle, scan-speed parallelism."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield _wav_stats(zip(pdf["media_id"], pdf["blob"]))

    return media.select("media_id", "blob").mapInPandas(batches, schema=WAV_DECODED_SCHEMA)


# ---------------------------------------------------------------------------
# REAL image codec path: netpbm PGM (P5 binary graymap) -- a real image
# format with a pure-stdlib container, so like the WAV path above nothing is
# faked: blobs are genuine P5 files (header + raw pixels), decode parses the
# real header, and resize resamples real pixel data with numpy. Synthesis is
# deterministic from media_id so SQL oracles re-derive pixel sums exactly.
# ---------------------------------------------------------------------------

PGM_DECODED_SCHEMA = (
    "media_id long, width int, height int, maxval int,"
    " n_pixels long, pixel_sum long, pixel_max int"
)

PGM_RESIZED_SCHEMA = (
    "media_id long, out_width int, out_height int, pixel_sum long"
)


def _pgm_dims(media_id: int) -> tuple[int, int]:
    return 8 + media_id % 9, 8 + (media_id * 3) % 9  # (width, height)


def _pgm_pixels(media_id: int):
    """Deterministic grayscale image: pixel(y, x) = (id*31 + y*17 + x*7) % 256.
    Pure integer arithmetic -> DuckDB reproduces every pixel exactly."""
    import numpy as np

    w, h = _pgm_dims(media_id)
    y = np.arange(h, dtype=np.int64)[:, None]
    x = np.arange(w, dtype=np.int64)[None, :]
    return ((media_id * 31 + y * 17 + x * 7) % 256).astype(np.uint8)


def _pgm_encode(media_id: int) -> bytes:
    px = _pgm_pixels(media_id)
    h, w = px.shape
    return f"P5\n{w} {h}\n255\n".encode() + px.tobytes()


def _pgm_parse(blob: bytes):
    """Real P5 parse: magic, whitespace/comment-tolerant header, raw pixels."""
    import numpy as np

    if blob[:2] != b"P5":
        raise ValueError("not a P5 (binary PGM) blob")
    # header = magic + 3 whitespace-separated ints (comments start with '#');
    # every scan is bounds-checked so a truncated header raises instead of
    # spinning (b''.isspace() is False, so an unguarded scan never ends)
    fields: list[int] = []
    i = 2
    n = len(blob)
    while len(fields) < 3:
        while i < n and blob[i : i + 1].isspace():
            i += 1
        if i >= n:
            raise ValueError("truncated PGM header")
        if blob[i : i + 1] == b"#":
            nl = blob.find(b"\n", i)
            if nl < 0:
                raise ValueError("truncated PGM header comment")
            i = nl + 1
            continue
        j = i
        while j < n and not blob[j : j + 1].isspace():
            j += 1
        if j >= n:
            raise ValueError("truncated PGM header")
        fields.append(int(blob[i:j]))
        i = j
    i += 1  # single whitespace after maxval
    w, h, maxval = fields
    # only 8-bit P5 is supported: maxval > 255 means 2 bytes/sample big-endian
    # (which this parser would silently misread as 8-bit), maxval <= 0 is
    # malformed -- both must reject cleanly, like the PNG variant guard
    if not 1 <= maxval <= 255:
        raise ValueError(f"unsupported PGM maxval {maxval} (8-bit P5 only)")
    if n < i + w * h:
        raise ValueError("truncated PGM pixel payload")
    px = np.frombuffer(blob, dtype=np.uint8, count=w * h, offset=i).reshape(h, w)
    return w, h, maxval, px


def pgm_media(ids: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(ids) -> real PGM image blobs, one per id (the image twin of
    wav_media)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            mids = pdf[id_col].astype("int64")
            yield pd.DataFrame(
                {
                    "media_id": mids,
                    "kind": "image/x-portable-graymap",
                    "blob": [_pgm_encode(int(m)) for m in mids],
                    "meta": [{"codec": "pgm-p5"} for _ in mids],
                }
            )

    return spread_input(ids.select(id_col), CODEC_BYTES_PER_TASK["pgm"]).mapInPandas(batches, schema=WAV_SCHEMA)


def _pgm_stats(rows) -> pd.DataFrame:
    """(media_id, pgm_blob) rows -> exact pixel stats (shared body of
    decode_pgm and synth_decode_pgm)."""
    import numpy as np

    out = {k: [] for k in (
        "media_id", "width", "height", "maxval",
        "n_pixels", "pixel_sum", "pixel_max",
    )}
    for mid, blob in rows:
        w, h, maxval, px = _pgm_parse(bytes(blob))
        s = px.astype(np.int64)
        out["media_id"].append(mid)
        out["width"].append(w)
        out["height"].append(h)
        out["maxval"].append(maxval)
        out["n_pixels"].append(w * h)
        out["pixel_sum"].append(int(s.sum()))
        out["pixel_max"].append(int(s.max(initial=0)))
    return pd.DataFrame(out)


def decode_pgm(media: DataFrame) -> DataFrame:
    """REAL image decode: parse the P5 header and pixel payload, emit exact
    integer stats (sum/max over real pixel bytes). Arrow-batched
    mapInPandas, zero shuffle."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield _pgm_stats(zip(pdf["media_id"], pdf["blob"]))

    return media.select("media_id", "blob").mapInPandas(batches, schema=PGM_DECODED_SCHEMA)


def resize_pgm(media: DataFrame, out_w: int = 4, out_h: int = 4) -> DataFrame:
    """REAL resize: nearest-neighbor resample of the decoded pixel grid
    (source index = floor(out_index * src_dim / out_dim) -- the standard
    NN mapping, integer-exact so the oracle can re-derive the resampled
    checksum). Returns the resized image's exact pixel sum."""
    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {"media_id": [], "out_width": [], "out_height": [], "pixel_sum": []}
            for mid, blob in zip(pdf["media_id"], pdf["blob"]):
                w, h, _maxval, px = _pgm_parse(bytes(blob))
                ys = (np.arange(out_h, dtype=np.int64) * h) // out_h
                xs = (np.arange(out_w, dtype=np.int64) * w) // out_w
                resized = px[np.ix_(ys, xs)].astype(np.int64)
                out["media_id"].append(mid)
                out["out_width"].append(out_w)
                out["out_height"].append(out_h)
                out["pixel_sum"].append(int(resized.sum()))
            yield pd.DataFrame(out)

    return media.select("media_id", "blob").mapInPandas(batches, schema=PGM_RESIZED_SCHEMA)


def decode_media_arrow(media: DataFrame) -> DataFrame:
    """Arrow-native twin of ``decode_media`` via ``mapInArrow``: operates
    on pyarrow RecordBatches directly, skipping the Arrow<->pandas
    conversion both ways -- the lower-overhead path when the per-row work
    is C-level (binary length, header peeks) rather than pandas-ish.
    Same output schema and values as decode_media (asserted in tests)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def batches(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in it:
            blob = rb.column(rb.schema.get_field_index("blob"))
            # NULL blob stays NULL end-to-end (r10 NULL tier): all the
            # arithmetic kernels below propagate validity bitmaps natively
            n_bytes = pc.binary_length(blob).cast(pa.int64())
            # width = 64 + n % 192 ; height = 64 + (n*7) % 192 (fake header
            # parse, arithmetic identical to _fake_dims)
            width = pc.add(
                pa.scalar(64, pa.int64()),
                pc.subtract(
                    n_bytes,
                    pc.multiply(
                        pc.divide(n_bytes, pa.scalar(192, pa.int64())),
                        pa.scalar(192, pa.int64()),
                    ),
                ),
            )
            n7 = pc.multiply(n_bytes, pa.scalar(7, pa.int64()))
            height = pc.add(
                pa.scalar(64, pa.int64()),
                pc.subtract(
                    n7,
                    pc.multiply(
                        pc.divide(n7, pa.scalar(192, pa.int64())),
                        pa.scalar(192, pa.int64()),
                    ),
                ),
            )
            aspect = pc.divide(
                pc.multiply(width, pa.scalar(1_000_000, pa.int64())), height
            )
            yield pa.RecordBatch.from_arrays(
                [
                    rb.column(rb.schema.get_field_index("media_id")),
                    rb.column(rb.schema.get_field_index("kind")),
                    n_bytes,
                    width.cast(pa.int32()),
                    height.cast(pa.int32()),
                    aspect,
                ],
                names=["media_id", "kind", "n_bytes", "width", "height", "aspect_ppm"],
            )

    return media.select("media_id", "kind", "blob").mapInArrow(batches, schema=DECODED_SCHEMA)


# ---------------------------------------------------------------------------
# REAL video codec: YUV4MPEG2 (.y4m) -- plain-text stream header, FRAME
# markers, raw planar YUV payload. A genuine public video container
# (mjpegtools/ffmpeg interchange format) that is fully parseable with the
# stdlib, which makes the VIDEO modality real end-to-end: genuine container
# bytes, real header/frame-marker parsing, real plane decode -- the same
# posture as the WAV (audio) and PGM (image) codecs. The pixel planes are
# deterministic integer functions of (media_id, frame, y, x) so a DuckDB
# oracle re-derives every plane sum arithmetically; any container bug
# (header layout, frame offsets, plane order/sizes) hash-fails the query.
# ---------------------------------------------------------------------------

Y4M_DECODED_SCHEMA = (
    "media_id long, width int, height int, n_frames int,"
    " y_sum long, uv_sum long, y_max int"
)

Y4M_FRAME_SCHEMA = "media_id long, frame_idx int, y_sum long"


# Media-scale knob (r10, VERDICT task 5): multiplies synthesized codec
# dimensions for the throughput probe (tools/media_scale_probe.py). The
# registered ORACLES assume scale 1 (default; dims re-derived in SQL
# from doc_id), so correctness runs never set this -- the probe's scaled
# series checks the real container parsers structurally (a dims bug
# breaks the parse) and verifies y4m plane sums against an independent
# numpy reference. Read at import so Spark's reused Python workers (same
# env in local mode) agree with the driver.
_MEDIA_DIM_SCALE = int(os.environ.get("SPARK_GRAFT_MEDIA_DIM_SCALE", "1"))


def _y4m_dims(media_id: int) -> tuple[int, int]:
    # even dims (C420 subsamples chroma 2x2): w in {4,6,8,10}, h likewise
    s = _MEDIA_DIM_SCALE
    return 2 * s * (2 + media_id % 4), 2 * s * (2 + (media_id * 3) % 4)


def _y4m_frame_count(media_id: int) -> int:
    return 3 + media_id % 6


def _y4m_planes(media_id: int, t: int):
    """Deterministic planar YUV420 frame: pure integer pixel functions."""
    import numpy as np

    w, h = _y4m_dims(media_id)
    yy = np.arange(h, dtype=np.int64)[:, None]
    xx = np.arange(w, dtype=np.int64)[None, :]
    y_plane = ((media_id * 31 + t * 13 + yy * 17 + xx * 7) % 256).astype(np.uint8)
    cy = np.arange(h // 2, dtype=np.int64)[:, None]
    cx = np.arange(w // 2, dtype=np.int64)[None, :]
    u_plane = ((media_id * 7 + t * 11 + cy * 5 + cx * 3) % 256).astype(np.uint8)
    v_plane = ((media_id * 13 + t * 3 + cy * 7 + cx * 11) % 256).astype(np.uint8)
    return y_plane, u_plane, v_plane


def _y4m_encode(media_id: int) -> bytes:
    w, h = _y4m_dims(media_id)
    out = [f"YUV4MPEG2 W{w} H{h} F25:1 Ip A1:1 C420\n".encode()]
    for t in range(_y4m_frame_count(media_id)):
        y, u, v = _y4m_planes(media_id, t)
        out.append(b"FRAME\n")
        out.append(y.tobytes())
        out.append(u.tobytes())
        out.append(v.tobytes())
    return b"".join(out)


def _y4m_parse(blob: bytes):
    """Real YUV4MPEG2 parse: stream header tokens, per-frame FRAME markers
    (parameter-tolerant), raw C420 planes. Returns (w, h, frames) with
    frames = list of (Y, U, V) uint8 arrays."""
    import numpy as np

    nl = blob.index(b"\n")
    tokens = blob[:nl].split(b" ")
    if tokens[0] != b"YUV4MPEG2":
        raise ValueError("not a YUV4MPEG2 stream")
    w = h = None
    colorspace = b"C420"  # the spec's default
    for tok in tokens[1:]:
        if tok[:1] == b"W":
            w = int(tok[1:])
        elif tok[:1] == b"H":
            h = int(tok[1:])
        elif tok[:1] == b"C":
            colorspace = tok
    if w is None or h is None:
        raise ValueError("missing W/H in stream header")
    if not colorspace.startswith(b"C420"):
        raise ValueError(f"unsupported colorspace {colorspace!r}")
    y_size, c_size = w * h, (w // 2) * (h // 2)
    frames = []
    i = nl + 1
    while i < len(blob):
        if blob[i : i + 5] != b"FRAME":
            raise ValueError(f"expected FRAME marker at offset {i}")
        i = blob.index(b"\n", i) + 1  # frame params (if any) end at newline
        y = np.frombuffer(blob, np.uint8, y_size, i).reshape(h, w)
        u = np.frombuffer(blob, np.uint8, c_size, i + y_size).reshape(h // 2, w // 2)
        v = np.frombuffer(blob, np.uint8, c_size, i + y_size + c_size).reshape(
            h // 2, w // 2
        )
        frames.append((y, u, v))
        i += y_size + 2 * c_size
    return w, h, frames


def y4m_media(ids: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(ids) -> real .y4m video blobs, one per id (the video sibling of
    wav_media / pgm_media)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            mids = pdf[id_col].astype("int64")
            yield pd.DataFrame(
                {
                    "media_id": mids,
                    "kind": "video/x-yuv4mpeg2",
                    "blob": [_y4m_encode(int(m)) for m in mids],
                    "meta": [{"codec": "y4m-c420"} for _ in mids],
                }
            )

    return spread_input(ids.select(id_col), CODEC_BYTES_PER_TASK["y4m"]).mapInPandas(batches, schema=WAV_SCHEMA)


def _y4m_stats(rows) -> pd.DataFrame:
    """(media_id, y4m_blob) rows -> exact per-stream YUV stats (shared
    body of decode_y4m and synth_decode_y4m)."""
    import numpy as np

    out = {k: [] for k in (
        "media_id", "width", "height", "n_frames",
        "y_sum", "uv_sum", "y_max",
    )}
    for mid, blob in rows:
        w, h, frames = _y4m_parse(bytes(blob))
        y_sum = uv_sum = 0
        y_max = 0
        for y, u, v in frames:
            y_sum += int(y.astype(np.int64).sum())
            uv_sum += int(u.astype(np.int64).sum()) + int(
                v.astype(np.int64).sum()
            )
            y_max = max(y_max, int(y.max(initial=0)))
        out["media_id"].append(mid)
        out["width"].append(w)
        out["height"].append(h)
        out["n_frames"].append(len(frames))
        out["y_sum"].append(y_sum)
        out["uv_sum"].append(uv_sum)
        out["y_max"].append(y_max)
    return pd.DataFrame(out)


def decode_y4m(media: DataFrame) -> DataFrame:
    """REAL video decode: parse the stream header, walk the FRAME markers,
    decode every YUV plane, emit exact integer stats. Arrow-batched
    mapInPandas, zero shuffle."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield _y4m_stats(zip(pdf["media_id"], pdf["blob"]))

    return media.select("media_id", "blob").mapInPandas(batches, schema=Y4M_DECODED_SCHEMA)


def sample_y4m_frames(media: DataFrame, stride: int = 2) -> DataFrame:
    """REAL frame sampling: decode only frames 0, stride, 2*stride, ...
    and emit one row per kept frame with its exact luma sum -- the
    keyframe-extraction shape of a video training pipeline
    (row-multiplying mapInPandas, like audio_frame_energy)."""
    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {"media_id": [], "frame_idx": [], "y_sum": []}
            for mid, blob in zip(pdf["media_id"], pdf["blob"]):
                _w, _h, frames = _y4m_parse(bytes(blob))
                for t in range(0, len(frames), stride):
                    out["media_id"].append(mid)
                    out["frame_idx"].append(t)
                    out["y_sum"].append(int(frames[t][0].astype(np.int64).sum()))
            yield pd.DataFrame(out)

    return media.select("media_id", "blob").mapInPandas(batches, schema=Y4M_FRAME_SCHEMA)


# ---------------------------------------------------------------------------
# REAL compressed-image codec: PNG (8-bit grayscale) -- the stdlib ships
# zlib, so PNG needs no external imaging library: chunk walking with CRC32
# verification, IHDR parsing, IDAT inflate, and all five scanline filters
# (None/Sub/Up/Average/Paeth) unfiltered per the spec. The synthesizer
# cycles the filter type per row, so a decoder that skips real unfiltering
# cannot round-trip. Pixels remain deterministic integer functions of
# (media_id, y, x) -> DuckDB re-derives every stat arithmetically.
# ---------------------------------------------------------------------------

PNG_DECODED_SCHEMA = (
    "media_id long, width int, height int, bit_depth int,"
    " n_pixels long, pixel_sum long, pixel_max int"
)

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_dims(media_id: int) -> tuple[int, int]:
    return 9 + media_id % 8, 9 + (media_id * 5) % 8  # (width, height)


def _png_pixels(media_id: int):
    import numpy as np

    w, h = _png_dims(media_id)
    y = np.arange(h, dtype=np.int64)[:, None]
    x = np.arange(w, dtype=np.int64)[None, :]
    return ((media_id * 31 + y * 17 + x * 7) % 256).astype(np.uint8)


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def _png_encode(media_id: int) -> bytes:
    """Write a real 8-bit grayscale PNG, cycling the scanline filter type
    per row (y % 5) so decoding requires genuine unfiltering."""
    import struct
    import zlib

    px = _png_pixels(media_id)
    h, w = px.shape
    raw = bytearray()
    prior = bytes(w)
    for y in range(h):
        row = bytes(px[y])
        ftype = y % 5
        raw.append(ftype)
        for x in range(w):
            left = row[x - 1] if x > 0 else 0
            up = prior[x]
            upleft = prior[x - 1] if x > 0 else 0
            if ftype == 0:
                out = row[x]
            elif ftype == 1:
                out = row[x] - left
            elif ftype == 2:
                out = row[x] - up
            elif ftype == 3:
                out = row[x] - (left + up) // 2
            else:
                out = row[x] - _paeth(left, up, upleft)
            raw.append(out & 0xFF)
        prior = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)  # 8-bit grayscale
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )


def _png_parse(blob: bytes):
    """Real PNG decode: signature, CRC-verified chunk walk, IHDR, IDAT
    inflate, per-row unfilter (all five filter types). 8-bit grayscale
    non-interlaced only -- everything this engine synthesizes."""
    import struct
    import zlib

    import numpy as np

    if blob[: len(_PNG_SIG)] != _PNG_SIG:
        raise ValueError("not a PNG stream")
    i = len(_PNG_SIG)
    w = h = depth = None
    idat = bytearray()
    n = len(blob)
    while i < n:
        if i + 8 > n:
            raise ValueError("truncated PNG chunk header")
        (length,) = struct.unpack(">I", blob[i : i + 4])
        ctype = blob[i + 4 : i + 8]
        data_end = i + 8 + length
        if data_end + 4 > n:
            raise ValueError("truncated PNG chunk")
        data = blob[i + 8 : data_end]
        (crc,) = struct.unpack(">I", blob[data_end : data_end + 4])
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {ctype!r} CRC mismatch")
        if ctype == b"IHDR":
            w, h, depth, color, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", data
            )
            if depth != 8 or color != 0 or interlace != 0:
                raise ValueError("unsupported PNG variant")
            # IHDR dims are attacker-controlled and size the inflate cap
            # below: without this guard a ~200-byte blob declaring
            # 50000x50000 forces a multi-GB allocation (zeros compress
            # ~1000:1) plus a 2.5e9-iteration unfilter loop
            if w * h > 16_777_216:
                raise ValueError(f"PNG dimensions too large: {w}x{h}")
        elif ctype == b"IDAT":
            idat.extend(data)
        elif ctype == b"IEND":
            break
        i = data_end + 4
    if w is None:
        raise ValueError("missing IHDR")
    expected = h * (w + 1)
    try:
        # bounded inflate: a crafted tiny IDAT could otherwise expand to
        # gigabytes before the size check; cap at expected + 1 so any
        # over-long stream is detected without materializing it
        d = zlib.decompressobj()
        raw = d.decompress(bytes(idat), expected + 1)
    except zlib.error as exc:  # corrupt-but-CRC-valid deflate payload
        raise ValueError(f"PNG IDAT inflate failed: {exc}") from exc
    if len(raw) != expected or d.unconsumed_tail or not d.eof:
        raise ValueError("PNG scanline payload size mismatch")
    px = np.zeros((h, w), dtype=np.uint8)
    prior = np.zeros(w, dtype=np.int64)
    pos = 0
    for y in range(h):
        ftype = raw[pos]
        pos += 1
        row = list(raw[pos : pos + w])
        pos += w
        out = [0] * w
        for x in range(w):
            left = out[x - 1] if x > 0 else 0
            up = int(prior[x])
            upleft = int(prior[x - 1]) if x > 0 else 0
            if ftype == 0:
                v = row[x]
            elif ftype == 1:
                v = row[x] + left
            elif ftype == 2:
                v = row[x] + up
            elif ftype == 3:
                v = row[x] + (left + up) // 2
            elif ftype == 4:
                v = row[x] + _paeth(left, up, upleft)
            else:
                raise ValueError(f"unknown PNG filter type {ftype}")
            out[x] = v & 0xFF
        px[y] = out
        prior = np.array(out, dtype=np.int64)
    return w, h, 8, px


def png_media(ids: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(ids) -> real PNG blobs, one per id (compressed-image sibling of
    pgm_media)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            mids = pdf[id_col].astype("int64")
            yield pd.DataFrame(
                {
                    "media_id": mids,
                    "kind": "image/png",
                    "blob": [_png_encode(int(m)) for m in mids],
                    "meta": [{"codec": "png-gray8"} for _ in mids],
                }
            )

    return spread_input(ids.select(id_col), CODEC_BYTES_PER_TASK["png"]).mapInPandas(batches, schema=WAV_SCHEMA)


def _png_stats(rows) -> pd.DataFrame:
    """(media_id, png_blob) rows -> exact pixel stats (shared body of
    decode_png and synth_decode_png)."""
    import numpy as np

    out = {k: [] for k in (
        "media_id", "width", "height", "bit_depth",
        "n_pixels", "pixel_sum", "pixel_max",
    )}
    for mid, blob in rows:
        w, h, depth, px = _png_parse(bytes(blob))
        s = px.astype(np.int64)
        out["media_id"].append(mid)
        out["width"].append(w)
        out["height"].append(h)
        out["bit_depth"].append(depth)
        out["n_pixels"].append(w * h)
        out["pixel_sum"].append(int(s.sum()))
        out["pixel_max"].append(int(s.max(initial=0)))
    return pd.DataFrame(out)


def decode_png(media: DataFrame) -> DataFrame:
    """REAL compressed-image decode: CRC-checked chunk walk, inflate,
    unfilter, exact integer pixel stats. Arrow-batched mapInPandas."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield _png_stats(zip(pdf["media_id"], pdf["blob"]))

    return media.select("media_id", "blob").mapInPandas(batches, schema=PNG_DECODED_SCHEMA)


# ---------------------------------------------------------------------------
# Perceptual image hash (nearest-neighbor aHash): the image analog of
# SimHash for near-duplicate IMAGE detection (the LAION-style dedup step).
# Sampling + thresholding are exact integer arithmetic, so the 64-bit hash
# is engine-portable and the whole hash is DuckDB-oracle-checkable --
# unlike DCT pHash, whose float cosines cannot cross engines bit-exactly.
# ---------------------------------------------------------------------------

AHASH_SCHEMA = "media_id long, hash_hi long, hash_lo long"


def _ahash_bits(px) -> tuple[int, int]:
    """64 sample points on a fixed 8x8 nearest-neighbor grid; bit = sample
    strictly above the grid mean (s*64 > total keeps it integer-exact).
    Returned as two 32-bit halves: bit 63 would overflow signed int64."""
    h, w = px.shape
    samples = [
        int(px[(i * h) // 8][(j * w) // 8]) for i in range(8) for j in range(8)
    ]
    total = sum(samples)
    bits = [1 if s * 64 > total else 0 for s in samples]
    hi = sum(b << k for k, b in enumerate(bits[32:]))
    lo = sum(b << k for k, b in enumerate(bits[:32]))
    return hi, lo


def image_ahash(media: DataFrame) -> DataFrame:
    """PGM blobs -> perceptual hash halves via real pixel decode. Two
    images whose CONTENT is near-identical (re-encode, light noise, small
    crop) land at small hamming distance; banding the halves gives the
    same bounded-cost near-dup join as SimHash text dedup."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {"media_id": [], "hash_hi": [], "hash_lo": []}
            for mid, blob in zip(pdf["media_id"], pdf["blob"]):
                _w, _h, _maxval, px = _pgm_parse(bytes(blob))
                hi, lo = _ahash_bits(px)
                out["media_id"].append(mid)
                out["hash_hi"].append(hi)
                out["hash_lo"].append(lo)
            yield pd.DataFrame(out)

    return media.select("media_id", "blob").mapInPandas(batches, schema=AHASH_SCHEMA)


# ---------------------------------------------------------------------------
# Audio fingerprint: the audio analog of the perceptual image hash -- a
# windowed-energy bit signature over REAL decoded PCM (the shape of
# Shazam-style landmark hashing, reduced to exact integer arithmetic so the
# fingerprint itself is cross-engine oracle-checkable).
# ---------------------------------------------------------------------------

AUDIO_FP_SCHEMA = "media_id long, n_windows int, fingerprint long"


def _audio_fp_bits(samples, n_windows: int = 16) -> int:
    """Split the waveform into n equal index windows ([k*n//W, (k+1)*n//W)),
    bit k = window energy strictly above the per-window average
    (W * E_k > total, integer-exact)."""
    import numpy as np

    s = samples.astype(np.int64)
    n = len(s)
    energies = [
        int((s[(k * n) // n_windows : ((k + 1) * n) // n_windows] ** 2).sum())
        for k in range(n_windows)
    ]
    total = sum(energies)
    return sum(
        (1 << k) for k, e in enumerate(energies) if e * n_windows > total
    )


def audio_fingerprint(media: DataFrame, n_windows: int = 16) -> DataFrame:
    """WAV blobs -> integer energy fingerprint via real RIFF/PCM16 decode.
    Near-identical recordings (re-encode, light noise) agree on most bits;
    banding the fingerprint gives the same bounded near-dup join as
    SimHash/aHash. Arrow-batched mapInPandas, zero shuffle."""
    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io
        import wave

        for pdf in it:
            out = {"media_id": [], "n_windows": [], "fingerprint": []}
            for mid, blob in zip(pdf["media_id"], pdf["blob"]):
                with wave.open(io.BytesIO(blob), "rb") as w:
                    samples = np.frombuffer(
                        w.readframes(w.getnframes()), dtype="<i2"
                    )
                out["media_id"].append(mid)
                out["n_windows"].append(n_windows)
                out["fingerprint"].append(_audio_fp_bits(samples, n_windows))
            yield pd.DataFrame(out)

    return media.select("media_id", "blob").mapInPandas(batches, schema=AUDIO_FP_SCHEMA)


Y4M_MOTION_SCHEMA = "media_id long, frame_idx int, luma_delta long"


def y4m_frame_motion(media: DataFrame) -> DataFrame:
    """Per-frame motion energy over REAL decoded video: exact integer sum
    of |Y_t - Y_{t-1}| across the luma plane for every frame after the
    first -- the scene-cut / static-segment signal a video curation
    pipeline thresholds on (row-multiplying mapInPandas)."""
    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {"media_id": [], "frame_idx": [], "luma_delta": []}
            for mid, blob in zip(pdf["media_id"], pdf["blob"]):
                _w, _h, frames = _y4m_parse(bytes(blob))
                for t in range(1, len(frames)):
                    prev = frames[t - 1][0].astype(np.int64)
                    cur = frames[t][0].astype(np.int64)
                    out["media_id"].append(mid)
                    out["frame_idx"].append(t)
                    out["luma_delta"].append(int(np.abs(cur - prev).sum()))
            yield pd.DataFrame(out)

    return media.select("media_id", "blob").mapInPandas(batches, schema=Y4M_MOTION_SCHEMA)


# ---------------------------------------------------------------------------
# REAL lossy-image codec: baseline sequential JFIF/JPEG (ITU T.81), pure
# stdlib + numpy -- no imaging library. The encoder writes genuine JPEG
# streams (SOI/APP0/DQT/SOF0/DHT/SOS markers, canonical Huffman entropy
# coding with 0xFF byte stuffing, zigzag coefficient order, optional
# DRI/RSTn restart intervals); the decoder does the full inverse: marker
# walk, canonical Huffman table build from DHT, entropy decode with
# unstuffing, DC prediction, dequantization, un-zigzag, 2-D IDCT, level
# shift, clamp, and edge-block cropping for non-multiple-of-8 dimensions.
#
# JPEG is lossy in general, but the synthesized test images are EXACTLY
# representable: each 8x8 block is a constant level c plus the (4,4) DCT
# basis (a +--+ checkerboard, the only non-DC basis whose cosines are all
# +-1/2, hence rational) scaled by amplitude a, and the quant table is all
# 8s -- so F(0,0) = 8*(c-128) and F(4,4) = 8*a quantize losslessly and the
# decoded pixels equal c + s(x)s(y)*a exactly (s = +1 when t%4 in {0,3},
# else -1). That makes every decoded pixel an integer function of
# media_id, and the DuckDB oracle re-derives the full pixel grid
# arithmetically: any Huffman/marker/dequant/IDCT/crop bug hash-fails.
# Closes the last X4 modality gap (VERDICT r3 item 1); the reference has
# no media path at all -- this is north-star surface.
# ---------------------------------------------------------------------------

JPEG_DECODED_SCHEMA = (
    "media_id long, width int, height int, n_pixels long,"
    " pixel_sum long, pixel_min int, pixel_max int, wsum long"
)

# natural (row-major) flat indices in zigzag transmission order (T.81 fig 5)
def _zigzag_order() -> list[int]:
    order = []
    for s in range(15):
        rng = range(s, -1, -1) if s % 2 == 0 else range(0, s + 1)
        for i in rng:
            j = s - i
            if i < 8 and j < 8:
                order.append(i * 8 + j)
    return order


_JPEG_ZIGZAG = _zigzag_order()
assert _JPEG_ZIGZAG[39] == 4 * 8 + 4  # (4,4) -- the checkerboard basis

# encoder-side Huffman alphabets: every symbol the synthesizer can emit,
# all coded at length 4 (canonical codes 0..11; the all-ones code 0xF is
# unused, per the baseline convention). The DECODER is table-general --
# it rebuilds whatever canonical tables the DHT segments declare.
_JPEG_DC_SYMBOLS = list(range(12))  # DC difference categories 0..11
_JPEG_AC_SYMBOLS = [0x00, 0xF0] + [0x60 | s for s in range(1, 11)]  # EOB, ZRL, (6,s)
# progressive encoder alphabet: EOB0..EOB4 (block runs to 31), ZRL,
# (run 0, size) for band-start coefficients, (run 6, size) for the
# checkerboard position after 2 ZRLs
_JPEG_PROG_AC_SYMBOLS = (
    [0x00, 0x10, 0x20, 0x30, 0x40, 0xF0]
    + [s for s in range(1, 11)]
    + [0x60 | s for s in range(1, 11)]
)


def _jpeg_dims(media_id: int) -> tuple[int, int]:
    s = _MEDIA_DIM_SCALE
    return s * (16 + media_id % 17), s * (16 + (media_id * 5) % 17)


def _jpeg_block_params(media_id: int, bx: int, by: int) -> tuple[int, int]:
    """(c, a): block mean level and checkerboard amplitude, bounded so
    c +- a stays inside [0, 255] (the clamp path is pytest-covered with a
    crafted out-of-range block instead)."""
    c = 32 + (media_id * 31 + by * 17 + bx * 7) % 160
    a = (media_id + 3 * bx + 5 * by) % 17
    return c, a


def _jpeg_pixels(media_id: int):
    """Ground-truth decoded image, derived arithmetically (the oracle's
    twin): pixel(x, y) = c(block) + s(x%4)*s(y%4)*a(block), cropped to
    the declared non-multiple-of-8 dimensions."""
    import numpy as np

    w, h = _jpeg_dims(media_id)
    y = np.arange(h)[:, None]
    x = np.arange(w)[None, :]
    c = 32 + (media_id * 31 + (y // 8) * 17 + (x // 8) * 7) % 160
    a = (media_id + 3 * (x // 8) + 5 * (y // 8)) % 17
    s = lambda t: np.where((t % 4 == 0) | (t % 4 == 3), 1, -1)  # noqa: E731
    return (c + s(x) * s(y) * a).astype(np.uint8)


class _JpegBitWriter:
    """MSB-first bit accumulator with JPEG 0xFF byte stuffing."""

    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, nbits: int) -> None:
        if nbits == 0:
            return
        self.acc = (self.acc << nbits) | (value & ((1 << nbits) - 1))
        self.nbits += nbits
        while self.nbits >= 8:
            self.nbits -= 8
            byte = (self.acc >> self.nbits) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:
                self.buf.append(0x00)  # stuffing: 0xFF in entropy data
        self.acc &= (1 << self.nbits) - 1

    def align_ones(self) -> None:
        """Pad to a byte boundary with 1-bits (T.81 F.1.2.3)."""
        if self.nbits:
            self.write((1 << (8 - self.nbits)) - 1, 8 - self.nbits)

    def raw_marker(self, byte2: int) -> None:
        """Emit a byte-aligned marker (RSTn) -- NOT subject to stuffing."""
        self.align_ones()
        self.buf += bytes((0xFF, byte2))


def _jpeg_seg(marker: int, payload: bytes) -> bytes:
    import struct

    return bytes((0xFF, marker)) + struct.pack(">H", len(payload) + 2) + payload


def _jpeg_dht_payload(tc_th: int, symbols: list[int], length: int = 4) -> bytes:
    counts = [0] * 16
    counts[length - 1] = len(symbols)  # all codes at one length
    return bytes([tc_th] + counts + symbols)


def _jpeg_write_block(
    wr: _JpegBitWriter, dc_code, ac_code, dc_q: int, ac44_q: int, pred: int
) -> int:
    """Entropy-code one block holding quantized DC ``dc_q`` and a single
    quantized AC coefficient ``ac44_q`` at zigzag 39 = (4,4) (shared by
    the grayscale and color encoders). Returns the new DC predictor."""
    diff = dc_q - pred
    cat = abs(diff).bit_length()
    code, n = dc_code[cat]
    wr.write(code, n)
    if cat:
        wr.write(diff if diff >= 0 else diff + (1 << cat) - 1, cat)
    if ac44_q:
        # zigzag index 39 = (4,4): 38 AC zeros = ZRL + ZRL + run 6
        for _ in range(2):
            code, n = ac_code[0xF0]
            wr.write(code, n)
        size = ac44_q.bit_length()
        code, n = ac_code[0x60 | size]
        wr.write(code, n)
        wr.write(ac44_q, size)
    code, n = ac_code[0x00]  # EOB
    wr.write(code, n)
    return dc_q


def _jpeg_encode_blocks(
    c_grid, a_grid, w: int, h: int, restart_interval: int = 0
) -> bytes:
    """Write a real baseline JFIF stream for a block grid of (c, a)
    params. Declared dims (w, h) may crop the right/bottom blocks."""
    import struct

    bw = len(c_grid[0])
    bh = len(c_grid)
    if not (0 < w <= bw * 8 and 0 < h <= bh * 8):
        raise ValueError("declared dims do not match the block grid")
    dc_code = {s: (i, 4) for i, s in enumerate(_JPEG_DC_SYMBOLS)}
    ac_code = {s: (i, 4) for i, s in enumerate(_JPEG_AC_SYMBOLS)}

    wr = _JpegBitWriter()
    pred = 0
    mcu = 0
    rst = 0
    for by in range(bh):
        for bx in range(bw):
            if restart_interval and mcu and mcu % restart_interval == 0:
                wr.raw_marker(0xD0 + rst)  # RSTn, n cycles 0..7
                rst = (rst + 1) % 8
                pred = 0  # restart resets the DC predictor
            c, a = int(c_grid[by][bx]), int(a_grid[by][bx])
            # quantized DC: F(0,0)=8*(c-128), q=8
            pred = _jpeg_write_block(wr, dc_code, ac_code, c - 128, a, pred)
            mcu += 1
    wr.align_ones()

    qtab = _jpeg_seg(0xDB, bytes([0x00]) + bytes([8] * 64))  # Pq=0 Tq=0, all 8s
    sof = _jpeg_seg(
        0xC0, struct.pack(">BHHB", 8, h, w, 1) + bytes((1, 0x11, 0))
    )
    dht_dc = _jpeg_seg(0xC4, _jpeg_dht_payload(0x00, _JPEG_DC_SYMBOLS))
    dht_ac = _jpeg_seg(0xC4, _jpeg_dht_payload(0x10, _JPEG_AC_SYMBOLS))
    dri = (
        _jpeg_seg(0xDD, struct.pack(">H", restart_interval))
        if restart_interval
        else b""
    )
    app0 = _jpeg_seg(0xE0, b"JFIF\x00" + bytes((1, 1, 0)) + struct.pack(">HH", 1, 1) + b"\x00\x00")
    sos = _jpeg_seg(0xDA, bytes((1, 1, 0x00, 0, 63, 0)))
    return (
        b"\xff\xd8" + app0 + qtab + sof + dht_dc + dht_ac + dri + sos
        + bytes(wr.buf) + b"\xff\xd9"
    )


def _jpeg_encode(media_id: int, restart_interval: int = 0) -> bytes:
    w, h = _jpeg_dims(media_id)
    bw, bh = (w + 7) // 8, (h + 7) // 8
    c_grid = [
        [_jpeg_block_params(media_id, bx, by)[0] for bx in range(bw)]
        for by in range(bh)
    ]
    a_grid = [
        [_jpeg_block_params(media_id, bx, by)[1] for bx in range(bw)]
        for by in range(bh)
    ]
    return _jpeg_encode_blocks(c_grid, a_grid, w, h, restart_interval)


class _JpegBitReader:
    """Entropy-segment bit reader: unstuffs 0xFF00, stops at markers."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def read_bit(self) -> int:
        if self.nbits == 0:
            d, p = self.data, self.pos
            if p >= len(d):
                raise ValueError("truncated JPEG entropy data")
            b = d[p]
            if b == 0xFF:
                if p + 1 >= len(d):
                    raise ValueError("truncated JPEG entropy data")
                nxt = d[p + 1]
                if nxt != 0x00:
                    raise ValueError(
                        f"unexpected marker 0xFF{nxt:02X} inside entropy data"
                    )
                self.pos = p + 2  # stuffed 0xFF
            else:
                self.pos = p + 1
            self.acc = b
            self.nbits = 8
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def sync_restart(self, expected_n: int) -> None:
        """Discard padding bits and consume the byte-aligned RSTn marker."""
        self.nbits = 0
        d, p = self.data, self.pos
        if p + 2 > len(d) or d[p] != 0xFF or d[p + 1] != 0xD0 + expected_n:
            got = d[p : p + 2].hex() if p + 2 <= len(d) else "EOF"
            raise ValueError(
                f"expected RST{expected_n} marker, got {got}"
            )
        self.pos = p + 2


def _jpeg_build_huff(counts: list[int], symbols: list[int]) -> dict:
    """Canonical Huffman decode table from DHT counts: (length, code) -> symbol."""
    table = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            table[(length, code)] = symbols[k]
            k += 1
            code += 1
        code <<= 1
    return table


def _jpeg_huff_decode(reader: _JpegBitReader, table: dict) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | reader.read_bit()
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid JPEG Huffman code")


def _jpeg_extend(bits: int, cat: int) -> int:
    """T.81 EXTEND: map cat magnitude bits to a signed coefficient."""
    if cat == 0:
        return 0
    return bits if bits >= (1 << (cat - 1)) else bits - (1 << cat) + 1


_JPEG_IDCT_BASIS = None


def _jpeg_idct_basis():
    global _JPEG_IDCT_BASIS
    if _JPEG_IDCT_BASIS is None:
        import math

        import numpy as np

        b = np.empty((8, 8), dtype=np.float64)
        for u in range(8):
            cu = (1.0 / math.sqrt(2.0)) if u == 0 else 1.0
            for x in range(8):
                b[u, x] = 0.5 * cu * math.cos((2 * x + 1) * u * math.pi / 16.0)
        _JPEG_IDCT_BASIS = b
    return _JPEG_IDCT_BASIS


def _jpeg_scan_headers_any(blob: bytes):
    """Shared marker walk for every decoder (grayscale full, DC-only,
    color): SOI check, segment loop (DQT/DHT/SOF0/DRI/SOS, APPn/COM
    skipped), every malformed-input guard in ONE place so all decode
    paths reject identically. Returns (comps, w, h, restart_interval,
    reader) positioned at the entropy data, where ``comps`` is the
    scan-ordered component list: dicts with keys ``cid`` (component id),
    ``h``/``v`` (sampling factors), ``q`` (64 zigzag quant entries),
    ``dc``/``ac`` (canonical Huffman decode tables)."""
    import struct

    if blob[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG stream (missing SOI)")
    n = len(blob)
    i = 2
    qtables: dict[int, list[int]] = {}
    dc_tables: dict[int, dict] = {}
    ac_tables: dict[int, dict] = {}
    w = h = None
    sof_comps: list[dict] = []
    restart_interval = 0
    while True:
        if i + 2 > n:
            raise ValueError("truncated JPEG marker stream")
        if blob[i] != 0xFF:
            raise ValueError(f"expected marker at byte {i}")
        # T.81 B.1.1.2: any marker may be preceded by optional 0xFF fill
        # bytes; some real encoders emit them for alignment. Skip the run
        # and read the marker id from its last byte.
        while blob[i + 1] == 0xFF:
            i += 1
            if i + 2 > n:
                raise ValueError("truncated JPEG marker stream")
        marker = blob[i + 1]
        i += 2
        if marker == 0xD9:  # EOI before SOS
            raise ValueError("no scan data before EOI")
        if 0xD0 <= marker <= 0xD7:  # RSTn outside a scan
            raise ValueError("unexpected RST marker outside scan")
        if i + 2 > n:
            raise ValueError("truncated JPEG segment header")
        (seglen,) = struct.unpack(">H", blob[i : i + 2])
        if seglen < 2 or i + seglen > n:
            raise ValueError("truncated JPEG segment")
        seg = blob[i + 2 : i + seglen]
        i += seglen
        if marker == 0xDB:  # DQT (possibly several tables per segment)
            j = 0
            while j < len(seg):
                pq, tq = seg[j] >> 4, seg[j] & 0x0F
                if pq != 0:
                    raise ValueError("16-bit quantization tables unsupported")
                if j + 65 > len(seg):
                    raise ValueError("truncated DQT table")
                qtables[tq] = list(seg[j + 1 : j + 65])  # zigzag order
                j += 65
        elif marker == 0xC4:  # DHT (possibly several tables per segment)
            j = 0
            while j < len(seg):
                if j + 17 > len(seg):
                    raise ValueError("truncated DHT header")
                tc, th = seg[j] >> 4, seg[j] & 0x0F
                counts = list(seg[j + 1 : j + 17])
                total = sum(counts)
                if j + 17 + total > len(seg):
                    raise ValueError("truncated DHT symbols")
                symbols = list(seg[j + 17 : j + 17 + total])
                (dc_tables if tc == 0 else ac_tables)[th] = _jpeg_build_huff(
                    counts, symbols
                )
                j += 17 + total
        elif marker == 0xC0:  # SOF0: baseline sequential
            if len(seg) < 6:
                raise ValueError("truncated SOF0 segment")
            prec, h, w, ncomp = struct.unpack(">BHHB", seg[:6])
            if prec != 8:
                raise ValueError("only 8-bit precision supported")
            if ncomp not in (1, 3):
                raise ValueError(
                    f"{ncomp}-component JPEG unsupported (grayscale or YCbCr)"
                )
            if len(seg) < 6 + 3 * ncomp:
                raise ValueError("truncated SOF0 component specs")
            if w == 0 or h == 0 or w * h > 16_777_216:
                # attacker-controlled dims size the decode loop and the
                # pixel allocation -- same guard as the PNG parser
                raise ValueError(f"JPEG dimensions out of range: {w}x{h}")
            sof_comps = []
            for c in range(ncomp):
                cid, hv, tq = seg[6 + 3 * c : 9 + 3 * c]
                ch, cv = hv >> 4, hv & 0x0F
                if ch not in (1, 2) or cv not in (1, 2):
                    raise ValueError(
                        f"sampling factors {ch}x{cv} unsupported (1 or 2)"
                    )
                sof_comps.append({"cid": cid, "h": ch, "v": cv, "tq": tq})
            if ncomp == 1 and (sof_comps[0]["h"], sof_comps[0]["v"]) != (1, 1):
                raise ValueError("subsampling unsupported for grayscale")
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB):
            if marker == 0xC2:
                raise ValueError(
                    "progressive JPEG (SOF2): use the progressive decode path"
                )
            kind = "progressive" if marker in (0xC6, 0xCA) else "extended"
            raise ValueError(f"{kind} JPEG (SOF{marker - 0xC0}) unsupported")
        elif marker == 0xDD:  # DRI
            if len(seg) < 2:
                raise ValueError("truncated DRI segment")
            (restart_interval,) = struct.unpack(">H", seg[:2])
        elif marker == 0xDA:  # SOS: scan follows
            if w is None:
                raise ValueError("SOS before SOF")
            if len(seg) < 1 or len(seg) < 1 + 2 * seg[0]:
                raise ValueError("truncated SOS segment")
            if seg[0] != len(sof_comps):
                raise ValueError(
                    "partial (non-interleaved) scan unsupported: SOS must "
                    "cover every SOF component"
                )
            by_cid = {c["cid"]: c for c in sof_comps}
            comps = []
            for c in range(len(sof_comps)):
                cs, tdta = seg[1 + 2 * c], seg[2 + 2 * c]
                if cs not in by_cid:
                    raise ValueError(f"SOS references unknown component {cs}")
                spec = by_cid[cs]
                td, ta = tdta >> 4, tdta & 0x0F
                if spec["tq"] not in qtables:
                    raise ValueError("scan references missing quant table")
                if td not in dc_tables or ta not in ac_tables:
                    raise ValueError("scan references missing Huffman table")
                comps.append(
                    {
                        "cid": cs,
                        "h": spec["h"],
                        "v": spec["v"],
                        "q": qtables[spec["tq"]],
                        "dc": dc_tables[td],
                        "ac": ac_tables[ta],
                    }
                )
            # T.81 B.2.3: scan component order must follow frame order
            if [c["cid"] for c in comps] != [c["cid"] for c in sof_comps]:
                raise ValueError("SOS component order differs from SOF order")
            return comps, w, h, restart_interval, _JpegBitReader(blob, i)
        # APPn / COM / anything else: skipped


def _jpeg_scan_headers(blob: bytes):
    """Single-component (grayscale) view of the shared marker walk, kept
    as the full/DC-only decoders' entry point: rejects color streams
    with a routing hint instead of mis-decoding them. Returns
    (qtable_zz, dc_tab, ac_tab, w, h, restart_interval, reader)."""
    comps, w, h, restart_interval, reader = _jpeg_scan_headers_any(blob)
    if len(comps) != 1:
        raise ValueError(
            "color (multi-component) JPEG: use the color decode path"
        )
    c = comps[0]
    return c["q"], c["dc"], c["ac"], w, h, restart_interval, reader


def _jpeg_decode_block_zz(reader, dc_tab, ac_tab, pred: int):
    """Entropy-decode one 8x8 block (shared by the grayscale and color
    decoders): returns (zigzag int64[64] coefficients, new DC
    predictor)."""
    import numpy as np

    coeff_zz = np.zeros(64, dtype=np.int64)
    cat = _jpeg_huff_decode(reader, dc_tab)
    pred += _jpeg_extend(reader.read_bits(cat), cat)
    coeff_zz[0] = pred
    k = 1
    while k < 64:
        sym = _jpeg_huff_decode(reader, ac_tab)
        if sym == 0x00:  # EOB
            break
        if sym == 0xF0:  # ZRL: 16 zeros
            k += 16
            continue
        run, size = sym >> 4, sym & 0x0F
        k += run
        if k > 63:
            raise ValueError("AC coefficient index out of range")
        coeff_zz[k] = _jpeg_extend(reader.read_bits(size), size)
        k += 1
    return coeff_zz, pred


def _jpeg_idct_block(coeff_zz, q_zz, zz, basis):
    """Dequantize + 2-D IDCT + level shift + clamp for one block;
    floor(f + 128.5) is floor-half-up, the documented cross-engine
    rounding (see _jpeg_parse_dc)."""
    import numpy as np

    F = np.zeros(64, dtype=np.float64)
    F[zz] = (coeff_zz * q_zz).astype(np.float64)
    f = np.einsum("uv,ux,vy->xy", F.reshape(8, 8), basis, basis)
    return np.clip(np.floor(f + 128.5), 0, 255).astype(np.uint8)


def _jpeg_idct_plane(coeffs_zz, q_zz, zz, basis):
    """Batched dequantize + 2-D IDCT over a whole component plane.

    ``coeffs_zz`` is int64[bh, bw, 64] in zigzag index space. One einsum
    across all blocks replaces bh*bw per-block einsum dispatches -- the
    per-block Python/numpy call overhead was the largest single line in
    the decode profile (~25% of progressive decode), and it's pure
    per-blob constant that the batched form removes. Identical
    arithmetic to :func:`_jpeg_idct_block` (same floor-half-up rounding),
    just vectorized over the leading block axis. Returns
    uint8[bh*8, bw*8]."""
    import numpy as np

    bh, bw = coeffs_zz.shape[:2]
    F = np.zeros((bh * bw, 64), dtype=np.float64)
    F[:, zz] = (coeffs_zz.reshape(-1, 64) * q_zz).astype(np.float64)
    f = np.einsum("buv,ux,vy->bxy", F.reshape(-1, 8, 8), basis, basis)
    px = np.clip(np.floor(f + 128.5), 0, 255).astype(np.uint8)
    return (
        px.reshape(bh, bw, 8, 8).transpose(0, 2, 1, 3).reshape(bh * 8, bw * 8)
    )


def _jpeg_parse(blob: bytes):
    """Real baseline JPEG decode. Returns (width, height, pixels uint8
    h x w). Grayscale (1-component) baseline sequential only; progressive
    (SOF2), extended (SOF1+), and 16-bit quant tables reject cleanly --
    same explicit-subset posture as the PNG parser's variant guard --
    and color streams are rejected with a routing hint to
    :func:`_jpeg_parse_color`. Header walk shared with the DC-only fast
    path (:func:`_jpeg_scan_headers`)."""
    import numpy as np

    q_zz_list, dc_tab, ac_tab, w, h, restart_interval, reader = (
        _jpeg_scan_headers(blob)
    )
    q_zz = np.array(q_zz_list, dtype=np.int64)
    zz = np.array(_JPEG_ZIGZAG, dtype=np.int64)
    basis = _jpeg_idct_basis()
    bw, bh = (w + 7) // 8, (h + 7) // 8
    coefs = np.zeros((bh, bw, 64), dtype=np.int64)
    pred = 0
    mcu = 0
    rst = 0
    for by in range(bh):
        for bx in range(bw):
            if restart_interval and mcu and mcu % restart_interval == 0:
                reader.sync_restart(rst)
                rst = (rst + 1) % 8
                pred = 0
            coefs[by, bx], pred = _jpeg_decode_block_zz(
                reader, dc_tab, ac_tab, pred
            )
            mcu += 1
    px = _jpeg_idct_plane(coefs, q_zz, zz, basis)
    return w, h, px[:h, :w]  # crop edge blocks to the declared dims


def jpeg_media(ids: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(ids) -> real baseline JFIF blobs, one per id (the lossy-compressed
    sibling of png_media)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            mids = pdf[id_col].astype("int64")
            yield pd.DataFrame(
                {
                    "media_id": mids,
                    "kind": "image/jpeg",
                    "blob": [_jpeg_encode(int(m)) for m in mids],
                    "meta": [{"codec": "jfif-baseline-gray8"} for _ in mids],
                }
            )

    return spread_input(ids.select(id_col), CODEC_BYTES_PER_TASK["jpeg"]).mapInPandas(batches, schema=WAV_SCHEMA)


def _jpeg_gray_stats(rows, parse_fn) -> pd.DataFrame:
    """(media_id, jpeg_blob) rows -> exact grayscale pixel stats +
    position-weighted checksum (shared body of the full/DC decoders and
    their fused synth+decode forms)."""
    import numpy as np

    out = {k: [] for k in (
        "media_id", "width", "height", "n_pixels",
        "pixel_sum", "pixel_min", "pixel_max", "wsum",
    )}
    for mid, blob in rows:
        w, h, px = parse_fn(bytes(blob))
        flat = px.astype(np.int64).ravel()
        weights = 1 + np.arange(flat.size, dtype=np.int64) % 251
        out["media_id"].append(mid)
        out["width"].append(w)
        out["height"].append(h)
        out["n_pixels"].append(w * h)
        out["pixel_sum"].append(int(flat.sum()))
        out["pixel_min"].append(int(flat.min(initial=255)))
        out["pixel_max"].append(int(flat.max(initial=0)))
        out["wsum"].append(int((flat * weights).sum()))
    return pd.DataFrame(out)


def _jpeg_stats_decoder(media: DataFrame, parse_fn) -> DataFrame:
    """Shared Arrow stats body for the full and DC-only decoders: exact
    integer pixel stats plus a position-weighted checksum that pins
    every pixel to its (x, y). Shuffle-free, scan-speed parallel."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield _jpeg_gray_stats(zip(pdf["media_id"], pdf["blob"]), parse_fn)

    return media.select("media_id", "blob").mapInPandas(batches, schema=JPEG_DECODED_SCHEMA)


def decode_jpeg(media: DataFrame) -> DataFrame:
    """REAL lossy-image decode: marker walk, canonical Huffman entropy
    decode, dequant, IDCT, crop; exact integer pixel stats plus a
    position-weighted checksum that pins every pixel to its (x, y)."""
    return _jpeg_stats_decoder(media, _jpeg_parse)


def _jpeg_parse_dc(blob: bytes):
    """DC-only fast decode: the production thumbnailing path. Runs the
    SAME header walk as the full decoder (:func:`_jpeg_scan_headers` --
    every malformed-input guard is literally shared) and the same
    Huffman scan, but keeps ONLY each block's DC term (AC coefficients
    are entropy-decoded just far enough to be skipped -- no dequant
    matrix application beyond the DC entry, no IDCT) and reconstructs
    the 8x-downscaled image one pixel per block. The flat-block value is
    floor(DC * q00 / 8 + 0.5) + 128 in exact integer arithmetic --
    floor-half-up, matching the full decoder's floor(f + 128.5) for a
    flat block bit-for-bit at ANY quant table (round() would diverge by
    one on exact halves: banker's rounding, the documented cross-engine
    trap). ~64x less inverse-transform work per image than a full
    decode, which is why thumbnail/triage pipelines ship it. Returns
    (thumb_w, thumb_h, uint8 grid)."""
    import numpy as np

    q_zz, dc_tab, ac_tab, w, h, restart_interval, reader = (
        _jpeg_scan_headers(blob)
    )
    q00 = q_zz[0]
    bw, bh = (w + 7) // 8, (h + 7) // 8
    thumb = np.empty((bh, bw), dtype=np.uint8)
    pred = 0
    mcu = 0
    rst = 0
    for by in range(bh):
        for bx in range(bw):
            if restart_interval and mcu and mcu % restart_interval == 0:
                reader.sync_restart(rst)
                rst = (rst + 1) % 8
                pred = 0
            cat = _jpeg_huff_decode(reader, dc_tab)
            pred += _jpeg_extend(reader.read_bits(cat), cat)
            # AC terms: decode to SKIP (no storage, no dequant, no IDCT)
            k = 1
            while k < 64:
                sym = _jpeg_huff_decode(reader, ac_tab)
                if sym == 0x00:
                    break
                if sym == 0xF0:
                    k += 16
                    continue
                run, size = sym >> 4, sym & 0x0F
                k += run
                if k > 63:
                    raise ValueError("AC coefficient index out of range")
                reader.read_bits(size)
                k += 1
            # DC-only inverse transform, exact integers: floor-half-up of
            # F(0,0)/8 = DC*q00/8, level-shifted and clamped
            val = (pred * q00 + 4) // 8 + 128
            thumb[by, bx] = max(0, min(255, val))
            mcu += 1
    return bw, bh, thumb


def decode_jpeg_thumbnail(media: DataFrame) -> DataFrame:
    """8x-downscaled decode via the DC-only fast path: one pixel per
    block, AC coefficients Huffman-skipped. Emits exact integer stats
    plus the position-weighted checksum over the THUMBNAIL grid."""
    return _jpeg_stats_decoder(media, _jpeg_parse_dc)


# ---------------------------------------------------------------------------
# Color JPEG: 3-component YCbCr baseline with subsampling (the production
# image format -- real-world corpora are overwhelmingly color JPEG). The
# r4 grayscale decoder deliberately rejected multi-component streams; this
# is the interleaved-MCU decode that closes that gap: per-component
# Huffman/quant table selection, three independent DC predictors, chroma
# upsampling by sample replication, and YCbCr->RGB in exact fixed-point
# integer arithmetic so the oracle can replay every pixel.
# ---------------------------------------------------------------------------

# BT.601/JFIF YCbCr->RGB coefficients scaled by 2^16 (libjpeg's classic
# fixed-point constants): R = Y + 1.402 Cr', G = Y - 0.344136 Cb'
# - 0.714136 Cr', B = Y + 1.772 Cb' with Cb' = Cb-128, Cr' = Cr-128.
_JPEG_FIX_R_CR = 91881  # round(1.402 * 65536)
_JPEG_FIX_G_CB = -22554  # round(-0.344136 * 65536)
_JPEG_FIX_G_CR = -46802  # round(-0.714136 * 65536)
_JPEG_FIX_B_CB = 116130  # round(1.772 * 65536)
# floor-division offset: adding 2^31 (an exact multiple of 2^16) before
# the // 2^16 keeps the numerator positive, so truncating and flooring
# division agree -- the same trick on both engines makes the conversion
# bit-exact cross-engine regardless of either engine's negative-division
# convention.
_JPEG_FIX_OFF = 1 << 31


def _jpeg_ycc_to_rgb(yv, cb, cr):
    """Exact fixed-point YCbCr->RGB (int64 numpy arrays in, uint8 out):
    term = floor((coef * chroma' + 32768 + 2^31) / 65536) - 32768, then
    clamp(Y + term). Replayed verbatim by the x4_jpeg_color_decode
    oracle SQL."""
    import numpy as np

    cb = cb - 128
    cr = cr - 128
    r = yv + (_JPEG_FIX_R_CR * cr + 32768 + _JPEG_FIX_OFF) // 65536 - 32768
    g = (
        yv
        + (_JPEG_FIX_G_CB * cb + _JPEG_FIX_G_CR * cr + 32768 + _JPEG_FIX_OFF)
        // 65536
        - 32768
    )
    b = yv + (_JPEG_FIX_B_CB * cb + 32768 + _JPEG_FIX_OFF) // 65536 - 32768
    clip = lambda t: np.clip(t, 0, 255).astype(np.uint8)  # noqa: E731
    return clip(r), clip(g), clip(b)


def _jpeg_color_dims(media_id: int) -> tuple[int, int]:
    """16..32 on both axes: spans images needing 1x1 to 2x2 MCU grids,
    including non-multiple-of-16 dims that force padded edge MCUs in
    BOTH the luma and chroma planes."""
    s = _MEDIA_DIM_SCALE
    return s * (16 + media_id % 17), s * (16 + (media_id * 5) % 17)


def _jpeg_chroma_params(media_id: int, comp: int, bx: int, by: int):
    """(c, a) for chroma block (bx, by) of component 1=Cb / 2=Cr. Values
    are even so the chroma quant table of 16s divides F(0,0) = 8*(c-128)
    and F(4,4) = 8*a exactly -- quantization lossless BY CONSTRUCTION,
    like the luma fixtures (and unlike luma, exercising a genuinely
    different quant table per component). Ranges keep c +- a inside
    [0, 255] so the IDCT clamp never fires on fixtures (the clamp path
    has its own crafted test)."""
    if comp == 1:
        c = 2 * (48 + (media_id * 13 + by * 11 + bx * 19) % 72)  # 96..238
        a = 2 * ((media_id + 7 * bx + 3 * by) % 8)  # 0..14
    else:
        c = 2 * (44 + (media_id * 17 + by * 7 + bx * 13) % 76)  # 88..238
        a = 2 * ((media_id + 5 * bx + 7 * by) % 8)
    return c, a


def _jpeg_color_pixels(media_id: int):
    """Ground-truth decoded RGB, derived arithmetically (the oracle's
    twin): Y from the grayscale block formulas at full resolution,
    Cb/Cr from the chroma block formulas at half resolution indexed by
    (x//2, y//2) -- nearest-neighbor 2x upsample by construction -- then
    the exact fixed-point YCbCr->RGB. Returns (r, g, b) uint8 h x w."""
    import numpy as np

    w, h = _jpeg_color_dims(media_id)
    y = np.arange(h)[:, None]
    x = np.arange(w)[None, :]
    s = lambda t: np.where((t % 4 == 0) | (t % 4 == 3), 1, -1)  # noqa: E731

    yc = 32 + (media_id * 31 + (y // 8) * 17 + (x // 8) * 7) % 160
    ya = (media_id + 3 * (x // 8) + 5 * (y // 8)) % 17
    yv = yc + s(x) * s(y) * ya

    cx, cy = x // 2, y // 2
    mbx, mby = cx // 8, cy // 8
    cb = (
        2 * (48 + (media_id * 13 + mby * 11 + mbx * 19) % 72)
        + s(cx) * s(cy) * 2 * ((media_id + 7 * mbx + 3 * mby) % 8)
    )
    cr = (
        2 * (44 + (media_id * 17 + mby * 7 + mbx * 13) % 76)
        + s(cx) * s(cy) * 2 * ((media_id + 5 * mbx + 7 * mby) % 8)
    )
    return _jpeg_ycc_to_rgb(
        yv.astype(np.int64), cb.astype(np.int64), cr.astype(np.int64)
    )


def _jpeg_color_encode(media_id: int, restart_interval: int = 0) -> bytes:
    """Write a real 3-component baseline JFIF stream with 4:2:0
    subsampling (Y 2x2, Cb/Cr 1x1) in interleaved MCU order: per MCU
    four luma blocks (raster within the MCU) then one Cb and one Cr
    block, three independent DC predictors, luma on quant/Huffman
    tables 0 and chroma on tables 1 -- the layout every mainstream
    encoder emits."""
    import struct

    w, h = _jpeg_color_dims(media_id)
    mcux, mcuy = (w + 15) // 16, (h + 15) // 16
    dc_code = {s: (i, 4) for i, s in enumerate(_JPEG_DC_SYMBOLS)}
    ac_code = {s: (i, 4) for i, s in enumerate(_JPEG_AC_SYMBOLS)}

    wr = _JpegBitWriter()
    preds = [0, 0, 0]
    mcu = 0
    rst = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu and mcu % restart_interval == 0:
                wr.raw_marker(0xD0 + rst)
                rst = (rst + 1) % 8
                preds = [0, 0, 0]  # restart resets EVERY DC predictor
            for vi in range(2):  # 4 luma blocks, raster order in the MCU
                for hi in range(2):
                    c, a = _jpeg_block_params(
                        media_id, 2 * mx + hi, 2 * my + vi
                    )
                    preds[0] = _jpeg_write_block(
                        wr, dc_code, ac_code, c - 128, a, preds[0]
                    )
            for comp in (1, 2):  # Cb then Cr, one block each (1x1 sampling)
                c, a = _jpeg_chroma_params(media_id, comp, mx, my)
                # chroma quant table is all 16s: quantized DC = (c-128)/2,
                # quantized (4,4) = a/2 -- exact because c and a are even
                preds[comp] = _jpeg_write_block(
                    wr, dc_code, ac_code, (c - 128) // 2, a // 2, preds[comp]
                )
            mcu += 1
    wr.align_ones()

    qtabs = _jpeg_seg(  # both tables packed in ONE DQT segment
        0xDB,
        bytes([0x00]) + bytes([8] * 64) + bytes([0x01]) + bytes([16] * 64),
    )
    sof = _jpeg_seg(
        0xC0,
        struct.pack(">BHHB", 8, h, w, 3)
        + bytes((1, 0x22, 0))  # Y: 2x2 sampling, quant table 0
        + bytes((2, 0x11, 1))  # Cb: 1x1, quant table 1
        + bytes((3, 0x11, 1)),  # Cr: 1x1, quant table 1
    )
    dht_luma = _jpeg_seg(
        0xC4,
        _jpeg_dht_payload(0x00, _JPEG_DC_SYMBOLS)
        + _jpeg_dht_payload(0x10, _JPEG_AC_SYMBOLS),
    )
    dht_chroma = _jpeg_seg(
        0xC4,
        _jpeg_dht_payload(0x01, _JPEG_DC_SYMBOLS)
        + _jpeg_dht_payload(0x11, _JPEG_AC_SYMBOLS),
    )
    dri = (
        _jpeg_seg(0xDD, struct.pack(">H", restart_interval))
        if restart_interval
        else b""
    )
    app0 = _jpeg_seg(
        0xE0,
        b"JFIF\x00" + bytes((1, 1, 0)) + struct.pack(">HH", 1, 1) + b"\x00\x00",
    )
    sos = _jpeg_seg(
        0xDA, bytes((3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0))
    )
    return (
        b"\xff\xd8" + app0 + qtabs + sof + dht_luma + dht_chroma + dri + sos
        + bytes(wr.buf) + b"\xff\xd9"
    )


def _jpeg_parse_color(blob: bytes):
    """Interleaved multi-component baseline JPEG decode, table-general:
    any 1- or 3-component stream with per-component sampling factors in
    {1, 2} (4:4:4, 4:2:2, 4:2:0, ...). Per MCU, each component
    contributes h x v blocks in raster order, each entropy-decoded with
    ITS tables and ITS DC predictor; component planes are cropped to
    their own ceil-scaled dims, upsampled to full resolution by sample
    replication, and converted YCbCr->RGB in exact fixed-point. A
    grayscale stream decodes to R=G=B=Y (the JFIF convention), so this
    is a strict superset of :func:`_jpeg_parse`. Returns
    (w, h, r, g, b) uint8 h x w channel arrays."""
    import numpy as np

    comps, w, h, restart_interval, reader = _jpeg_scan_headers_any(blob)
    zz = np.array(_JPEG_ZIGZAG, dtype=np.int64)
    basis = _jpeg_idct_basis()
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    # entropy-decode every block's coefficients first, then one batched
    # IDCT per component plane (_jpeg_idct_plane) -- same arithmetic,
    # ~an order of magnitude fewer numpy dispatches per blob
    coef_planes = [
        np.zeros((mcuy * c["v"], mcux * c["h"], 64), dtype=np.int64)
        for c in comps
    ]
    q_arrs = [np.array(c["q"], dtype=np.int64) for c in comps]
    preds = [0] * len(comps)
    mcu = 0
    rst = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu and mcu % restart_interval == 0:
                reader.sync_restart(rst)
                rst = (rst + 1) % 8
                preds = [0] * len(comps)
            for ci, c in enumerate(comps):
                for vi in range(c["v"]):
                    for hi in range(c["h"]):
                        coeff_zz, preds[ci] = _jpeg_decode_block_zz(
                            reader, c["dc"], c["ac"], preds[ci]
                        )
                        coef_planes[ci][
                            my * c["v"] + vi, mx * c["h"] + hi
                        ] = coeff_zz
            mcu += 1

    planes = [
        _jpeg_idct_plane(coef_planes[ci], q_arrs[ci], zz, basis)
        for ci in range(len(comps))
    ]
    return (w, h) + _jpeg_assemble_rgb(comps, planes, w, h, hmax, vmax)


def _jpeg_assemble_rgb(comps, planes, w, h, hmax, vmax):
    """Shared decode tail (baseline color + progressive): crop each
    component plane to its ceil-scaled dims (T.81 A.1.1), upsample to
    full resolution by sample replication, and convert YCbCr->RGB in
    exact fixed-point; a 1-component stream yields R=G=B=Y (JFIF
    grayscale convention). Returns (r, g, b) uint8 h x w."""
    import numpy as np

    out = []
    for ci, c in enumerate(comps):
        # T.81 A.1.1: component dims are ceil(full * factor / max)
        cw = -(-w * c["h"] // hmax)
        ch = -(-h * c["v"] // vmax)
        p = planes[ci][:ch, :cw]
        p = np.repeat(p, vmax // c["v"], axis=0)
        p = np.repeat(p, hmax // c["h"], axis=1)
        out.append(p[:h, :w].astype(np.int64))
    if len(out) == 1:
        gray = out[0].astype(np.uint8)
        return gray, gray.copy(), gray.copy()
    yv, cb, cr = out
    return _jpeg_ycc_to_rgb(yv, cb, cr)


JPEG_COLOR_SCHEMA = (
    "media_id long, width int, height int, n_pixels long, "
    "r_sum long, g_sum long, b_sum long, chan_min int, chan_max int, "
    "wsum_r long, wsum_g long, wsum_b long"
)


def jpeg_color_media(ids: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(ids) -> real 4:2:0 color JFIF blobs, one per id."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            mids = pdf[id_col].astype("int64")
            yield pd.DataFrame(
                {
                    "media_id": mids,
                    "kind": "image/jpeg",
                    "blob": [_jpeg_color_encode(int(m)) for m in mids],
                    "meta": [{"codec": "jfif-baseline-ycbcr420"} for _ in mids],
                }
            )

    return spread_input(ids.select(id_col), CODEC_BYTES_PER_TASK["jpeg_color"]).mapInPandas(batches, schema=WAV_SCHEMA)


def decode_jpeg_color(media: DataFrame) -> DataFrame:
    """REAL color-image decode: interleaved-MCU entropy decode with
    per-component tables and predictors, chroma upsample, fixed-point
    YCbCr->RGB; exact per-channel integer stats plus position-weighted
    per-channel checksums that pin every (x, y, channel) value.
    Shuffle-free Arrow stage, parallelism = input splits."""
    return _jpeg_color_stats_decoder(media, _jpeg_parse_color)


def _jpeg_rgb_stats(rows, parse_fn) -> pd.DataFrame:
    """(media_id, jpeg_blob) rows -> exact per-channel stats + checksums
    (shared body of the color/progressive decoders and their fused
    synth+decode forms)."""
    import numpy as np

    out = {k: [] for k in (
        "media_id", "width", "height", "n_pixels",
        "r_sum", "g_sum", "b_sum", "chan_min", "chan_max",
        "wsum_r", "wsum_g", "wsum_b",
    )}
    for mid, blob in rows:
        w, h, r, g, b = parse_fn(bytes(blob))
        fr = r.astype(np.int64).ravel()
        fg = g.astype(np.int64).ravel()
        fb = b.astype(np.int64).ravel()
        weights = 1 + np.arange(fr.size, dtype=np.int64) % 251
        out["media_id"].append(mid)
        out["width"].append(w)
        out["height"].append(h)
        out["n_pixels"].append(w * h)
        out["r_sum"].append(int(fr.sum()))
        out["g_sum"].append(int(fg.sum()))
        out["b_sum"].append(int(fb.sum()))
        out["chan_min"].append(
            int(min(fr.min(initial=255), fg.min(initial=255),
                    fb.min(initial=255)))
        )
        out["chan_max"].append(
            int(max(fr.max(initial=0), fg.max(initial=0),
                    fb.max(initial=0)))
        )
        out["wsum_r"].append(int((fr * weights).sum()))
        out["wsum_g"].append(int((fg * weights).sum()))
        out["wsum_b"].append(int((fb * weights).sum()))
    return pd.DataFrame(out)


def _jpeg_color_stats_decoder(media: DataFrame, parse_fn) -> DataFrame:
    """Shared Arrow stats body for the RGB-producing decoders (baseline
    color and progressive): per-channel integer stats + per-channel
    position-weighted checksums. Shuffle-free, scan-speed parallel."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield _jpeg_rgb_stats(zip(pdf["media_id"], pdf["blob"]), parse_fn)

    return media.select("media_id", "blob").mapInPandas(batches, schema=JPEG_COLOR_SCHEMA)


# ---------------------------------------------------------------------------
# Progressive JPEG (SOF2, ITU T.81 Annex G): the OTHER half of real-world
# JPEG. Web corpora are full of progressive streams (most encoders emit
# them at quality presets; large images almost always), and the baseline
# decoder above rejects them by design. Progressive transmits each
# image's DCT coefficients across MULTIPLE scans -- spectral selection
# (frequency bands per scan) and successive approximation (high-order
# magnitude bits first, one refinement bit per later scan) -- with
# end-of-band (EOBn) run codes spanning whole blocks. The decoder below
# is table-general and spec-complete for 8-bit SOF2: interleaved DC
# scans, non-interleaved AC band scans, DC+AC refinement (correction
# bits, T.81 G.1.2.3), EOB runs, restart markers, multi-scan DHT
# redefinition. The fixture encoder re-encodes the SAME pixel content as
# the baseline color fixtures (identical block parameters), so
# progressive decode must equal baseline color decode bit-for-bit and
# the x4_jpeg_color_decode oracle replays it unchanged.
# ---------------------------------------------------------------------------


def _jpeg_parse_progressive(blob: bytes):
    """Progressive (SOF2) JPEG decode. Multi-scan driver: the marker
    walk persists quant/Huffman tables ACROSS scans (real encoders emit
    fresh DHTs before most scans), each SOS decodes one scan into the
    per-component coefficient store, and dequant + IDCT + upsample +
    YCbCr->RGB run once at EOI over the final coefficients. Returns
    (w, h, r, g, b) uint8 h x w channel arrays -- same contract as
    :func:`_jpeg_parse_color`, and bit-identical to it on streams that
    carry the same coefficients."""
    import struct

    import numpy as np

    if blob[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG stream (missing SOI)")
    n = len(blob)
    i = 2
    qtables: dict[int, list[int]] = {}
    dc_tables: dict[int, dict] = {}
    ac_tables: dict[int, dict] = {}
    w = h = None
    sof_comps: list[dict] = []
    restart_interval = 0
    coeffs: list = []  # per comp: int64[bh, bw, 64] in ZIGZAG index space
    dc_started: list[bool] = []
    mcux = mcuy = hmax = vmax = 0
    nblocks: list[tuple[int, int]] = []  # non-interleaved (bw, bh) per comp

    while True:
        if i + 2 > n:
            raise ValueError("truncated JPEG marker stream")
        if blob[i] != 0xFF:
            raise ValueError(f"expected marker at byte {i}")
        while blob[i + 1] == 0xFF:  # optional fill bytes (T.81 B.1.1.2)
            i += 1
            if i + 2 > n:
                raise ValueError("truncated JPEG marker stream")
        marker = blob[i + 1]
        i += 2
        if marker == 0xD9:  # EOI
            break
        if 0xD0 <= marker <= 0xD7:
            raise ValueError("unexpected RST marker outside scan")
        if i + 2 > n:
            raise ValueError("truncated JPEG segment header")
        (seglen,) = struct.unpack(">H", blob[i : i + 2])
        if seglen < 2 or i + seglen > n:
            raise ValueError("truncated JPEG segment")
        seg = blob[i + 2 : i + seglen]
        i += seglen
        if marker == 0xDB:  # DQT
            j = 0
            while j < len(seg):
                pq, tq = seg[j] >> 4, seg[j] & 0x0F
                if pq != 0:
                    raise ValueError("16-bit quantization tables unsupported")
                if j + 65 > len(seg):
                    raise ValueError("truncated DQT table")
                qtables[tq] = list(seg[j + 1 : j + 65])
                j += 65
        elif marker == 0xC4:  # DHT -- may be redefined between scans
            j = 0
            while j < len(seg):
                if j + 17 > len(seg):
                    raise ValueError("truncated DHT header")
                tc, th = seg[j] >> 4, seg[j] & 0x0F
                counts = list(seg[j + 1 : j + 17])
                total = sum(counts)
                if j + 17 + total > len(seg):
                    raise ValueError("truncated DHT symbols")
                symbols = list(seg[j + 17 : j + 17 + total])
                (dc_tables if tc == 0 else ac_tables)[th] = _jpeg_build_huff(
                    counts, symbols
                )
                j += 17 + total
        elif marker == 0xC2:  # SOF2: progressive DCT
            if sof_comps:
                raise ValueError("multiple SOF segments")
            if len(seg) < 6:
                raise ValueError("truncated SOF2 segment")
            prec, h, w, ncomp = struct.unpack(">BHHB", seg[:6])
            if prec != 8:
                raise ValueError("only 8-bit precision supported")
            if ncomp not in (1, 3):
                raise ValueError(
                    f"{ncomp}-component JPEG unsupported (grayscale or YCbCr)"
                )
            if len(seg) < 6 + 3 * ncomp:
                raise ValueError("truncated SOF2 component specs")
            if w == 0 or h == 0 or w * h > 16_777_216:
                raise ValueError(f"JPEG dimensions out of range: {w}x{h}")
            for c in range(ncomp):
                cid, hv, tq = seg[6 + 3 * c : 9 + 3 * c]
                ch, cv = hv >> 4, hv & 0x0F
                if ch not in (1, 2) or cv not in (1, 2):
                    raise ValueError(
                        f"sampling factors {ch}x{cv} unsupported (1 or 2)"
                    )
                sof_comps.append({"cid": cid, "h": ch, "v": cv, "tq": tq})
            hmax = max(c["h"] for c in sof_comps)
            vmax = max(c["v"] for c in sof_comps)
            mcux = -(-w // (8 * hmax))
            mcuy = -(-h // (8 * vmax))
            for c in sof_comps:
                coeffs.append(
                    np.zeros((mcuy * c["v"], mcux * c["h"], 64), dtype=np.int64)
                )
                dc_started.append(False)
                # T.81 A.2.2: non-interleaved scans cover the component's
                # OWN ceil-scaled dims, not the MCU-padded grid
                cw = -(-w * c["h"] // hmax)
                chh = -(-h * c["v"] // vmax)
                nblocks.append((-(-cw // 8), -(-chh // 8)))
        elif marker in (0xC0, 0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB):
            raise ValueError(
                f"SOF{marker - 0xC0} stream in the progressive decoder: "
                "route baseline streams to the baseline paths"
            )
        elif marker == 0xDD:  # DRI
            if len(seg) < 2:
                raise ValueError("truncated DRI segment")
            (restart_interval,) = struct.unpack(">H", seg[:2])
        elif marker == 0xDA:  # SOS: one progressive scan
            if not sof_comps:
                raise ValueError("SOS before SOF")
            ns = seg[0] if seg else 0
            if len(seg) < 1 + 2 * ns + 3 or ns < 1:
                raise ValueError("truncated SOS segment")
            ss, se, ahal = seg[1 + 2 * ns : 4 + 2 * ns]
            ah, al = ahal >> 4, ahal & 0x0F
            by_cid = {c["cid"]: ci for ci, c in enumerate(sof_comps)}
            scan_cis = []
            scan_tabs = []
            for c in range(ns):
                cs, tdta = seg[1 + 2 * c], seg[2 + 2 * c]
                if cs not in by_cid:
                    raise ValueError(f"SOS references unknown component {cs}")
                scan_cis.append(by_cid[cs])
                scan_tabs.append((tdta >> 4, tdta & 0x0F))
            reader = _JpegBitReader(blob, i)
            _jpeg_decode_progressive_scan(
                reader, sof_comps, coeffs, dc_started, nblocks,
                mcux, mcuy, scan_cis, scan_tabs, dc_tables, ac_tables,
                ss, se, ah, al, restart_interval,
            )
            reader.nbits = 0  # drop padding bits before the next marker
            i = reader.pos
        # APPn / COM / anything else: skipped

    if not sof_comps:
        raise ValueError("no SOF2 frame before EOI")
    if not all(dc_started):
        raise ValueError("component missing its first DC scan")
    zz = np.array(_JPEG_ZIGZAG, dtype=np.int64)
    basis = _jpeg_idct_basis()
    planes = []
    for ci, c in enumerate(sof_comps):
        if c["tq"] not in qtables:
            raise ValueError("frame references missing quant table")
        q_zz = np.array(qtables[c["tq"]], dtype=np.int64)
        planes.append(_jpeg_idct_plane(coeffs[ci], q_zz, zz, basis))
    return (w, h) + _jpeg_assemble_rgb(sof_comps, planes, w, h, hmax, vmax)


def _jpeg_decode_progressive_scan(
    reader, sof_comps, coeffs, dc_started, nblocks, mcux, mcuy,
    scan_cis, scan_tabs, dc_tables, ac_tables, ss, se, ah, al,
    restart_interval,
):
    """Decode ONE progressive scan into the coefficient store. Validates
    the T.81 G scan-header constraints, then dispatches: interleaved or
    single-component DC scans (first pass Huffman-coded, refinements one
    raw bit per block), and single-component AC band scans (first pass
    with EOBn run codes, refinement with correction bits per G.1.2.3).
    Restart markers reset DC predictors and the EOB run."""
    if se > 63 or ss > 63:
        raise ValueError("spectral band out of range")
    if al > 13 or (ah and ah != al + 1):
        # successive approximation reveals exactly one bit per scan
        raise ValueError("invalid successive-approximation Ah/Al")
    if ss == 0:
        if se != 0:
            raise ValueError("DC scan must have Se=0 (no DC+AC mixed scans)")
    else:
        if len(scan_cis) != 1:
            raise ValueError("AC scans must be single-component (T.81 G.1)")
        if se < ss:
            raise ValueError("empty spectral band")

    if ss == 0:
        dc_tabs = []
        for (td, _ta), ci in zip(scan_tabs, scan_cis):
            if ah == 0:
                if td not in dc_tables:
                    raise ValueError("scan references missing Huffman table")
                dc_tabs.append(dc_tables[td])
            else:
                if not dc_started[ci]:
                    raise ValueError(
                        "DC refinement before the component's first DC scan"
                    )
                dc_tabs.append(None)  # refinement: raw bits, no table
        preds = [0] * len(scan_cis)
        rst = 0
        since_restart = 0

        def dc_block(si, ci, by, bx):
            blk = coeffs[ci][by, bx]
            if ah == 0:
                cat = _jpeg_huff_decode(reader, dc_tabs[si])
                preds[si] += _jpeg_extend(reader.read_bits(cat), cat)
                blk[0] = preds[si] << al
            elif reader.read_bit():
                # two's-complement OR appends the revealed magnitude bit
                # for positive AND negative DC values alike
                blk[0] |= 1 << al

        if len(scan_cis) > 1:  # interleaved over MCUs
            for my in range(mcuy):
                for mx in range(mcux):
                    if (
                        restart_interval
                        and since_restart == restart_interval
                    ):
                        reader.sync_restart(rst)
                        rst = (rst + 1) % 8
                        preds = [0] * len(scan_cis)
                        since_restart = 0
                    for si, ci in enumerate(scan_cis):
                        c = sof_comps[ci]
                        for vi in range(c["v"]):
                            for hi in range(c["h"]):
                                dc_block(
                                    si, ci, my * c["v"] + vi, mx * c["h"] + hi
                                )
                    since_restart += 1
        else:  # single-component DC scan: the comp's own block grid
            ci = scan_cis[0]
            bw_i, bh_i = nblocks[ci]
            for by in range(bh_i):
                for bx in range(bw_i):
                    if (
                        restart_interval
                        and since_restart == restart_interval
                    ):
                        reader.sync_restart(rst)
                        rst = (rst + 1) % 8
                        preds = [0]
                        since_restart = 0
                    dc_block(0, ci, by, bx)
                    since_restart += 1
        if ah == 0:
            for ci in scan_cis:
                dc_started[ci] = True
        return

    # AC band scan: single component, non-interleaved
    ci = scan_cis[0]
    if not dc_started[ci]:
        raise ValueError("AC scan before the component's first DC scan")
    ta = scan_tabs[0][1]
    if ta not in ac_tables:
        raise ValueError("scan references missing Huffman table")
    ac_tab = ac_tables[ta]
    bw_i, bh_i = nblocks[ci]
    eobrun = 0
    rst = 0
    since_restart = 0
    p1 = 1 << al
    m1 = -(1 << al)
    for by in range(bh_i):
        for bx in range(bw_i):
            if restart_interval and since_restart == restart_interval:
                reader.sync_restart(rst)
                rst = (rst + 1) % 8
                eobrun = 0  # EOB runs never cross a restart boundary
                since_restart = 0
            since_restart += 1
            blk = coeffs[ci][by, bx]
            if ah == 0:  # first pass for this band
                if eobrun:
                    eobrun -= 1
                    continue
                k = ss
                while k <= se:
                    sym = _jpeg_huff_decode(reader, ac_tab)
                    r, s = sym >> 4, sym & 0x0F
                    if s == 0:
                        if r != 15:
                            eobrun = (1 << r) - 1
                            if r:
                                eobrun += reader.read_bits(r)
                            break
                        k += 16  # ZRL
                    else:
                        k += r
                        if k > se:
                            raise ValueError("AC coefficient outside band")
                        blk[k] = _jpeg_extend(reader.read_bits(s), s) << al
                        k += 1
            else:  # refinement pass (T.81 G.1.2.3)
                k = ss
                if eobrun == 0:
                    while k <= se:
                        sym = _jpeg_huff_decode(reader, ac_tab)
                        r, s = sym >> 4, sym & 0x0F
                        val = 0
                        if s == 0:
                            if r != 15:
                                eobrun = 1 << r
                                if r:
                                    eobrun += reader.read_bits(r)
                                break
                            # r == 15: ZRL skips 16 ZERO-HISTORY coeffs
                        elif s != 1:
                            raise ValueError(
                                "refinement scan coded magnitude != 1"
                            )
                        else:
                            val = p1 if reader.read_bit() else m1
                        while k <= se:
                            if blk[k] != 0:
                                # correction bit for already-significant
                                if reader.read_bit() and not (blk[k] & p1):
                                    blk[k] += p1 if blk[k] >= 0 else m1
                            else:
                                if r == 0:
                                    break
                                r -= 1
                            k += 1
                        if val != 0:
                            if k > se:
                                raise ValueError(
                                    "AC coefficient outside band"
                                )
                            blk[k] = val
                        k += 1
                if eobrun > 0:
                    # inside an EOB run: correction bits only
                    while k <= se:
                        if blk[k] != 0 and reader.read_bit() and not (
                            blk[k] & p1
                        ):
                            blk[k] += p1 if blk[k] >= 0 else m1
                        k += 1
                    eobrun -= 1


class _JpegProgressiveACWriter:
    """Encoder-side state for one progressive AC scan: accumulates EOB
    runs (with their buffered correction bits, jcphuff's BE mechanism)
    and flushes them as EOBn + extra bits + bits, exactly the stream the
    refinement decoder reads back."""

    def __init__(self, wr: _JpegBitWriter, ac_code) -> None:
        self.wr = wr
        self.ac_code = ac_code
        self.eobrun = 0
        self.pending_bits: list[int] = []

    def emit_symbol(self, sym: int) -> None:
        code, nb = self.ac_code[sym]
        self.wr.write(code, nb)

    # the encoder alphabet carries EOB0..EOB4 only (runs to 31 blocks);
    # emitting a larger EOBn would KeyError in emit_symbol, so runs are
    # capped here and split into <=31-block chunks when that is valid
    _EOBN_MAX_BITS = 4

    def flush_eobrun(self) -> None:
        while self.eobrun:
            nbits = min(self.eobrun.bit_length() - 1, self._EOBN_MAX_BITS)
            run = min(self.eobrun, (1 << (nbits + 1)) - 1)
            if self.pending_bits and run < self.eobrun:
                # refinement correction bits belong to specific skipped
                # blocks; splitting the run would hand chunk-2's bits to
                # chunk-1's decoder read. Unreachable while dims stay
                # <= 32x32 (<= 16 blocks/scan); fail loudly, not KeyError.
                raise ValueError(
                    f"EOB refinement run of {self.eobrun} blocks exceeds "
                    "the EOB4 alphabet (31); extend _JPEG_PROG_AC_SYMBOLS "
                    "before raising image dimensions"
                )
            self.emit_symbol(nbits << 4)
            if nbits:
                self.wr.write(run - (1 << nbits), nbits)
            for bit in self.pending_bits:
                self.wr.write(bit, 1)
            self.pending_bits = []
            self.eobrun -= run

    def end_block_eob(self, correction_bits: list[int]) -> None:
        self.eobrun += 1
        self.pending_bits.extend(correction_bits)
        if self.eobrun == 0x7FFF:
            self.flush_eobrun()


def _jpeg_write_ac_first(acw, band_vals, ss, se, al) -> None:
    """One block of an AC first-pass scan (Ah=0): run/size-code every
    coefficient whose point-transformed magnitude is nonzero, EOB-run
    the zero tail. ``band_vals[k]`` are the SIGNED quantized
    coefficients in zigzag index space."""
    coded = [
        (k, band_vals[k]) for k in range(ss, se + 1)
        if abs(band_vals[k]) >> al
    ]
    if not coded:
        acw.end_block_eob([])
        return
    acw.flush_eobrun()
    prev = ss - 1
    for k, v in coded:
        run = k - prev - 1
        while run > 15:
            acw.emit_symbol(0xF0)  # ZRL
            run -= 16
        t = abs(v) >> al
        size = t.bit_length()
        acw.emit_symbol((run << 4) | size)
        # signed magnitude bits, T.81 F.1.2.2 style: negative values send
        # the one's complement of |t|
        acw.wr.write(t if v >= 0 else (t ^ ((1 << size) - 1)), size)
        prev = k
    if prev < se:
        acw.end_block_eob([])


def _jpeg_write_ac_refine(acw, band_vals, ss, se, al) -> None:
    """One block of an AC refinement scan (Ah=Al+1): newly-significant
    coefficients as (run,1)+sign, correction bits for already-significant
    ones -- buffered across EOB runs exactly like jcphuff's BE buffer, so
    the decoder's G.1.2.3 bit order is exercised end-to-end."""
    absvals = [0] * (se + 1)
    eob = 0
    for k in range(ss, se + 1):
        t = abs(band_vals[k]) >> al
        absvals[k] = t
        if t == 1:
            eob = k
    r = 0
    br: list[int] = []
    for k in range(ss, se + 1):
        t = absvals[k]
        if t == 0:
            r += 1
            continue
        while r > 15 and k <= eob:
            acw.flush_eobrun()
            acw.emit_symbol(0xF0)
            r -= 16
            for bit in br:
                acw.wr.write(bit, 1)
            br = []
        if t > 1:  # already significant: one correction bit
            br.append(t & 1)
            continue
        acw.flush_eobrun()
        acw.emit_symbol((r << 4) | 1)
        acw.wr.write(1 if band_vals[k] >= 0 else 0, 1)
        for bit in br:
            acw.wr.write(bit, 1)
        br = []
        r = 0
    if r > 0 or br:
        acw.end_block_eob(br)


def _jpeg_progressive_encode(media_id: int, restart_interval: int = 0) -> bytes:
    """Write a REAL progressive (SOF2) 4:2:0 color JFIF stream carrying
    the SAME quantized coefficients as :func:`_jpeg_color_encode` --
    identical block parameters and quant tables -- across an 11-scan
    script that exercises every progressive decode path:

      1. interleaved DC first (Al=1) for all three components
      2. interleaved DC refinement (Ah=1, Al=0): one raw bit per block
      3-5. per component: AC band 1..38 first (Al=1) -- all-zero band,
           pure EOBn run aggregation across blocks
      6-8. per component: AC band 39..63 first (Al=1) -- the (4,4)
           checkerboard coefficient, mixing run/size codes and EOB runs
      9-11. per component: AC 1..63 refinement (Ah=1, Al=0) -- newly
           significant (amplitude 1) coefficients, correction bits for
           already-significant ones, buffered bits across EOB runs

    Optional DRI applies to every scan (restart markers inside
    interleaved DC and non-interleaved AC scans, EOB runs flushed at
    each boundary)."""
    import struct

    w, h = _jpeg_color_dims(media_id)
    mcux, mcuy = (w + 15) // 16, (h + 15) // 16
    dc_code = {s: (i, 4) for i, s in enumerate(_JPEG_DC_SYMBOLS)}
    # progressive AC alphabet: EOBn for runs up to 31 blocks, ZRL,
    # (run 0|6, size) pairs -- 26 symbols, all coded at length 5
    # (canonical codes 0..25; all-ones unused)
    ac_code = {s: (i, 5) for i, s in enumerate(_JPEG_PROG_AC_SYMBOLS)}

    # quantized coefficient store, zigzag index space (DC at 0, the
    # (4,4) checkerboard at 39), mirroring the baseline color encoder:
    # Y blocks on the MCU-padded 2x grid, chroma on the MCU grid
    comps_blocks = []  # per comp: dict[(by, bx)] -> (dcq, ac39q)
    yb = {}
    for by in range(2 * mcuy):
        for bx in range(2 * mcux):
            c, a = _jpeg_block_params(media_id, bx, by)
            yb[(by, bx)] = (c - 128, a)
    comps_blocks.append(yb)
    for comp in (1, 2):
        cb = {}
        for by in range(mcuy):
            for bx in range(mcux):
                c, a = _jpeg_chroma_params(media_id, comp, bx, by)
                cb[(by, bx)] = ((c - 128) // 2, a // 2)
        comps_blocks.append(cb)
    samp = [(2, 2), (1, 1), (1, 1)]
    # non-interleaved AC-scan block grids (T.81 A.2.2: the component's
    # own ceil-scaled dims, NOT the MCU-padded grid)
    nblocks = []
    for ch, cv in samp:
        cw = -(-w * ch // 2)
        chh = -(-h * cv // 2)
        nblocks.append(((cw + 7) // 8, (chh + 7) // 8))

    wr = _JpegBitWriter()

    def sos_header(comp_specs, ss, se, ah, al):
        body = bytes((len(comp_specs),))
        for cid, tdta in comp_specs:
            body += bytes((cid, tdta))
        return _jpeg_seg(0xDA, body + bytes((ss, se, (ah << 4) | al)))

    def band_vals(ci, by, bx):
        vals = [0] * 64
        dcq, ac39 = comps_blocks[ci][(by, bx)]
        vals[0] = dcq
        vals[39] = ac39
        return vals

    scans = []

    # --- scan 1: interleaved DC first, Al=1 ---
    def dc_first():
        preds = [0, 0, 0]
        rst = 0
        since = 0
        for my in range(mcuy):
            for mx in range(mcux):
                if restart_interval and since == restart_interval:
                    wr.raw_marker(0xD0 + rst)
                    rst = (rst + 1) % 8
                    preds = [0, 0, 0]
                    since = 0
                for ci, (ch, cv) in enumerate(samp):
                    for vi in range(cv):
                        for hi in range(ch):
                            dcq = comps_blocks[ci][
                                (my * cv + vi, mx * ch + hi)
                            ][0]
                            v = dcq >> 1  # arithmetic shift, T.81 G.1.2.1
                            diff = v - preds[ci]
                            preds[ci] = v
                            cat = abs(diff).bit_length()
                            code, nb = dc_code[cat]
                            wr.write(code, nb)
                            if cat:
                                wr.write(
                                    diff if diff >= 0
                                    else diff + (1 << cat) - 1,
                                    cat,
                                )
                since += 1
        wr.align_ones()

    scans.append((
        sos_header([(1, 0x00), (2, 0x10), (3, 0x10)], 0, 0, 0, 1), dc_first
    ))

    # --- scan 2: interleaved DC refinement, Ah=1 Al=0 ---
    def dc_refine():
        rst = 0
        since = 0
        for my in range(mcuy):
            for mx in range(mcux):
                if restart_interval and since == restart_interval:
                    wr.raw_marker(0xD0 + rst)
                    rst = (rst + 1) % 8
                    since = 0
                for ci, (ch, cv) in enumerate(samp):
                    for vi in range(cv):
                        for hi in range(ch):
                            dcq = comps_blocks[ci][
                                (my * cv + vi, mx * ch + hi)
                            ][0]
                            wr.write(dcq & 1, 1)  # two's-complement bit
                since += 1
        wr.align_ones()

    scans.append((
        sos_header([(1, 0x00), (2, 0x00), (3, 0x00)], 0, 0, 1, 0), dc_refine
    ))

    # --- AC scans: per component, bands then refinement ---
    def ac_scan(ci, ss, se, ah, al):
        def run():
            acw = _JpegProgressiveACWriter(wr, ac_code)
            bw_i, bh_i = nblocks[ci]
            rst = 0
            since = 0
            for by in range(bh_i):
                for bx in range(bw_i):
                    if restart_interval and since == restart_interval:
                        acw.flush_eobrun()
                        wr.raw_marker(0xD0 + rst)
                        rst = (rst + 1) % 8
                        since = 0
                    since += 1
                    vals = band_vals(ci, by, bx)
                    if ah == 0:
                        _jpeg_write_ac_first(acw, vals, ss, se, al)
                    else:
                        _jpeg_write_ac_refine(acw, vals, ss, se, al)
            acw.flush_eobrun()
            wr.align_ones()

        return run

    cids_t = [(1, 0x10), (2, 0x11), (3, 0x11)]
    for ci in range(3):
        scans.append((
            sos_header([cids_t[ci]], 1, 38, 0, 1), ac_scan(ci, 1, 38, 0, 1)
        ))
    for ci in range(3):
        scans.append((
            sos_header([cids_t[ci]], 39, 63, 0, 1), ac_scan(ci, 39, 63, 0, 1)
        ))
    for ci in range(3):
        scans.append((
            sos_header([cids_t[ci]], 1, 63, 1, 0), ac_scan(ci, 1, 63, 1, 0)
        ))

    qtabs = _jpeg_seg(
        0xDB,
        bytes([0x00]) + bytes([8] * 64) + bytes([0x01]) + bytes([16] * 64),
    )
    sof = _jpeg_seg(
        0xC2,
        struct.pack(">BHHB", 8, h, w, 3)
        + bytes((1, 0x22, 0))
        + bytes((2, 0x11, 1))
        + bytes((3, 0x11, 1)),
    )
    dht = _jpeg_seg(
        0xC4,
        _jpeg_dht_payload(0x00, _JPEG_DC_SYMBOLS)  # DC table 0 (luma)
        + _jpeg_dht_payload(0x01, _JPEG_DC_SYMBOLS)  # DC table 1 (chroma)
        + _jpeg_dht_payload(0x10, _JPEG_PROG_AC_SYMBOLS, 5)  # AC table 0
        + _jpeg_dht_payload(0x11, _JPEG_PROG_AC_SYMBOLS, 5),  # AC table 1
    )
    dri = (
        _jpeg_seg(0xDD, struct.pack(">H", restart_interval))
        if restart_interval
        else b""
    )
    app0 = _jpeg_seg(
        0xE0,
        b"JFIF\x00" + bytes((1, 1, 0)) + struct.pack(">HH", 1, 1) + b"\x00\x00",
    )
    out = bytearray(b"\xff\xd8" + app0 + qtabs + sof + dht + dri)
    for header, run in scans:
        out += header
        start = len(wr.buf)
        run()
        out += bytes(wr.buf[start:])
    return bytes(out) + b"\xff\xd9"


def jpeg_progressive_media(ids: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(ids) -> real progressive (SOF2) 4:2:0 color JFIF blobs, one per
    id -- the same pixel content as :func:`jpeg_color_media`, transmitted
    across 11 spectral-selection / successive-approximation scans."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            mids = pdf[id_col].astype("int64")
            yield pd.DataFrame(
                {
                    "media_id": mids,
                    "kind": "image/jpeg",
                    "blob": [_jpeg_progressive_encode(int(m)) for m in mids],
                    "meta": [
                        {"codec": "jfif-progressive-ycbcr420"} for _ in mids
                    ],
                }
            )

    return spread_input(ids.select(id_col), CODEC_BYTES_PER_TASK["jpeg_progressive"]).mapInPandas(batches, schema=WAV_SCHEMA)


def decode_jpeg_progressive(media: DataFrame) -> DataFrame:
    """REAL progressive-JPEG decode: multi-scan coefficient accumulation
    (spectral selection + successive approximation + EOB runs), then
    dequant, IDCT, chroma upsample, fixed-point YCbCr->RGB -- same
    output contract and checksums as :func:`decode_jpeg_color`.
    Shuffle-free Arrow stage, parallelism = input splits."""
    return _jpeg_color_stats_decoder(media, _jpeg_parse_progressive)


# ---------------------------------------------------------------------------
# Fused synth+decode (r11 perf, guide section 4: eliminate JVM<->Python
# boundary crossings). Every x4 benchmark query is "synthesize real blobs,
# then decode them": as two chained MapInPandas stages the blob bytes cross
# the Python<->JVM boundary twice and the pipeline pays TWO Python-stage
# round trips -- measured ~0.35 s of pure protocol latency per stage on
# this host even for a no-op passthrough (flat down to 1 task, workers
# verified reused). The fused form runs encode + parse in the SAME worker:
# the blob is still real bytes, the decoder still parses the real
# container (the decode bodies are shared verbatim with the decode_*
# operators via the _*_stats helpers), but nothing crosses the boundary
# except ids in and stats out. In production terms this is the standard
# "generate/fetch and featurize in one task" ingest shape.
# ---------------------------------------------------------------------------


def _synth_decode(
    ids: DataFrame, id_col: str, encode_fn, stats_fn, schema: str, codec: str
) -> DataFrame:
    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            mids = pdf[id_col].astype("int64")
            yield stats_fn((int(m), encode_fn(int(m))) for m in mids)

    return spread_input(ids.select(id_col), CODEC_BYTES_PER_TASK[codec]).mapInPandas(
        batches, schema=schema
    )


def synth_decode_wav(ids: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """decode_wav(wav_media(ids)) in one Arrow stage (identical rows)."""
    return _synth_decode(
        ids, id_col, _wav_encode, _wav_stats, WAV_DECODED_SCHEMA,
        "wav",
    )


def synth_decode_pgm(ids: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """decode_pgm(pgm_media(ids)) in one Arrow stage (identical rows)."""
    return _synth_decode(
        ids, id_col, _pgm_encode, _pgm_stats, PGM_DECODED_SCHEMA,
        "pgm",
    )


def synth_decode_y4m(ids: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """decode_y4m(y4m_media(ids)) in one Arrow stage (identical rows)."""
    return _synth_decode(
        ids, id_col, _y4m_encode, _y4m_stats, Y4M_DECODED_SCHEMA,
        "y4m",
    )


def synth_decode_png(ids: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """decode_png(png_media(ids)) in one Arrow stage (identical rows)."""
    return _synth_decode(
        ids, id_col, _png_encode, _png_stats, PNG_DECODED_SCHEMA,
        "png",
    )


def synth_decode_jpeg(ids: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """decode_jpeg(jpeg_media(ids)) in one Arrow stage (identical rows)."""
    return _synth_decode(
        ids,
        id_col,
        _jpeg_encode,
        lambda rows: _jpeg_gray_stats(rows, _jpeg_parse),
        JPEG_DECODED_SCHEMA,
        "jpeg",
    )


def synth_decode_jpeg_color(ids: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """decode_jpeg_color(jpeg_color_media(ids)) in one Arrow stage."""
    return _synth_decode(
        ids,
        id_col,
        _jpeg_color_encode,
        lambda rows: _jpeg_rgb_stats(rows, _jpeg_parse_color),
        JPEG_COLOR_SCHEMA,
        "jpeg_color",
    )


def synth_decode_jpeg_progressive(ids: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """decode_jpeg_progressive(jpeg_progressive_media(ids)) in one Arrow
    stage."""
    return _synth_decode(
        ids,
        id_col,
        _jpeg_progressive_encode,
        lambda rows: _jpeg_rgb_stats(rows, _jpeg_parse_progressive),
        JPEG_COLOR_SCHEMA,
        "jpeg_progressive",
    )
