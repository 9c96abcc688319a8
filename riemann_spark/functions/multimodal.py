"""Multimodal columns: image/audio/video as opaque binary + typed
metadata (BASELINE.json north-star extras).

Layout: ``content BINARY`` next to a ``media STRUCT<kind, mime, width,
height, duration_ms, sample_rate>`` metadata column. All Spark-side
plumbing (schema, partitioning, Arrow batch shapes, UDF signatures) is
real and tested. Codec status: PPM, WAV, PNG, and baseline JPEG have
REAL in-container codecs (functions/media_codecs.py — pure
stdlib/numpy) wired into ``real_decode_features``; the remaining
formats (video containers, exotic image types) stay STUBBED behind
``NotImplementedError`` with a deterministic fake (md5-seeded) so
pipelines are testable end-to-end.

At 100 TB: binary payloads dominate storage — these operators use
``mapInPandas`` (Arrow-batched, streaming through partitions without
materializing whole groups), select only the columns they need
(column pruning drops the heavy binary from every stage that doesn't
touch it), and emit compact features, so the wide binary column
crosses no shuffle.
"""

from __future__ import annotations

import hashlib
import struct
import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from riemann_spark.operators.skew import spread_for_python

# Any malformed media payload dead-letters to a NULL row instead of
# crashing the executor task: the pure-stdlib codecs surface corruption
# as ValueError/IndexError/KeyError, truncated headers as struct.error
# (unpack_from past EOF), and corrupt PNG IDAT streams as zlib.error.
_DECODE_ERRS = (ValueError, IndexError, KeyError, struct.error, zlib.error)
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_META = StructType(
    [
        StructField("kind", StringType()),        # image | audio | video
        StructField("mime", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("duration_ms", LongType()),
        StructField("sample_rate", IntegerType()),
    ]
)

#: set True only where real codec libs exist; the container has none
REAL_CODECS = False


def _fake_stats(payload: bytes, n: int = 4) -> list[float]:
    """Deterministic pseudo-features from the payload hash — stands in
    for decoded pixel/sample statistics in tests."""
    h = hashlib.md5(payload or b"").digest()
    return [h[i] / 255.0 for i in range(n)]


FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("n_bytes", LongType()),
        StructField("f0", StringType()),  # feature vector, csv-packed
    ]
)


def decode_features(df: DataFrame, id_col: str = "media_id") -> DataFrame:
    """image decode → feature extract (Arrow-batched mapInPandas).

    Real path would decode with PIL/libav per batch; stubbed with the
    deterministic fake. The plumbing — batch iteration, column
    pruning, output schema — is the real shape."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if REAL_CODECS:
                raise NotImplementedError("real image/audio decode: install codec libs")
            feats = [
                ",".join(f"{x:.6f}" for x in _fake_stats(b))
                for b in pdf["content"]
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col],
                    "kind": [m["kind"] if m is not None else None for m in pdf["media"]],
                    "n_bytes": [len(b or b"") for b in pdf["content"]],
                    "f0": feats,
                }
            )

    return spread_for_python(df.select(id_col, "media", "content")).mapInPandas(run, FEATURE_SCHEMA)


RESIZE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("content", BinaryType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
    ]
)


def resize_images(df: DataFrame, width: int, height: int, id_col: str = "media_id") -> DataFrame:
    """Resize plumbing: binary→binary mapInPandas with target dims.
    Stub passes payloads through (real path: decode→resize→encode)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if REAL_CODECS:
                raise NotImplementedError("real resize: install codec libs")
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col],
                    "content": pdf["content"],
                    "width": width,
                    "height": height,
                }
            )

    return spread_for_python(df.select(id_col, "content")).mapInPandas(run, RESIZE_SCHEMA)


FRAME_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("frame", BinaryType()),
    ]
)


def sample_frames(df: DataFrame, every_ms: int, id_col: str = "media_id") -> DataFrame:
    """Video frame sampling plumbing: one output row per sampled frame
    (row explosion inside mapInPandas — the batch shape real frame
    extraction uses). Stub emits hash-derived placeholder frames at
    the metadata-declared duration."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if REAL_CODECS:
                raise NotImplementedError("real frame sampling: install codec libs")
            ids, idxs, frames = [], [], []
            for mid, media, content in zip(pdf[id_col], pdf["media"], pdf["content"]):
                dur = (media or {}).get("duration_ms") or 0
                n = max(int(dur // every_ms), 1)
                payload_hex = (content or b"").hex()
                for i in range(n):
                    ids.append(mid)
                    idxs.append(i)
                    # fake frame = md5 over (payload hex || 2-hex frame
                    # byte): defined on hex TEXT so any engine (or the
                    # DuckDB oracle, whose md5 is varchar-only) can
                    # recompute it without blob hashing
                    seed = payload_hex + format(i % 256, "02x")
                    frames.append(hashlib.md5(seed.encode()).digest())
            yield pd.DataFrame({"media_id": ids, "frame_idx": idxs, "frame": frames})

    return spread_for_python(df.select(id_col, "media", "content")).mapInPandas(run, FRAME_SCHEMA)


REAL_FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_units", LongType()),  # pixel bytes | samples
        StructField("sum_val", LongType()),  # exact integer — no float parity risk
        StructField("min_val", LongType()),
        StructField("max_val", LongType()),
    ]
)


def real_decode_features(df: DataFrame, id_col: str = "media_id") -> DataFrame:
    """THE REAL DECODE PATH (no stub): dispatch on magic bytes and run
    the pure-stdlib parsers in functions/media_codecs.py — PNG →
    full inflate + un-filter → dimensions + pixel stats, P6 PPM →
    dimensions + RGB byte stats, PCM WAV → rate + sample stats.
    Arrow-batched mapInPandas; undecodable payloads yield a NULL-kind
    row (the dead-letter convention) instead of poisoning the batch."""
    from riemann_spark.functions.media_codecs import (
        PNG_SIG,
        decode_jpeg,
        decode_png,
        decode_ppm,
        decode_wav,
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, content in zip(pdf[id_col], pdf["content"]):
                b = bytes(content or b"")
                try:
                    if b[: len(PNG_SIG)] == PNG_SIG:
                        w, h, _ch, px = decode_png(b)
                        vals = list(px)
                        rows.append(
                            [int(mid), "image", w, h, None, len(vals),
                             sum(vals), min(vals), max(vals)]
                        )
                    elif b[:2] == b"P6":
                        w, h, _maxval, px = decode_ppm(b)
                        vals = list(px)
                        rows.append(
                            [int(mid), "image", w, h, None, len(vals),
                             sum(vals), min(vals), max(vals)]
                        )
                    elif b[:2] == b"\xff\xd8":
                        w, h, _ch, px = decode_jpeg(b)
                        vals = list(px)
                        rows.append(
                            [int(mid), "image", w, h, None, len(vals),
                             sum(vals), min(vals), max(vals)]
                        )
                    elif b[:4] == b"RIFF":
                        rate, samples = decode_wav(b)
                        rows.append(
                            [int(mid), "audio", None, None, rate, len(samples),
                             sum(samples), min(samples), max(samples)]
                        )
                    else:
                        raise ValueError("unknown magic")
                except _DECODE_ERRS + (ZeroDivisionError,):
                    rows.append([int(mid), None, None, None, None, 0, None, None, None])
            yield pd.DataFrame(rows, columns=[f.name for f in REAL_FEATURE_SCHEMA.fields])

    return spread_for_python(df.select(id_col, "content")).mapInPandas(run, REAL_FEATURE_SCHEMA)


def synthetic_media(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic real-format fixtures from an id column: even ids
    become 8×8 RGB images with pixel(i) = (id·7 + i·13) mod 256 —
    encoded as PNG when id % 4 == 0 (zlib deflate + filter-0
    scanlines), as P6 PPM otherwise — and odd ids become 256-sample
    8 kHz WAVs with sample(i) = ((id·31 + i·17) mod 2001) − 1000.
    Closed-form generators an oracle can mirror with generate_series
    (the PNG/PPM split is invisible to the oracle: both decode back to
    the same pixel bytes, which is exactly what makes the round-trip a
    correctness check on the codecs), while the Spark side goes
    through the REAL encoders/decoders."""
    from riemann_spark.functions.media_codecs import (
        encode_png,
        encode_ppm,
        encode_wav,
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, blobs = [], []
            for mid in pdf[id_col]:
                d = int(mid)
                if d % 2 == 0:
                    px = bytes((d * 7 + i * 13) % 256 for i in range(8 * 8 * 3))
                    enc = encode_png if d % 4 == 0 else encode_ppm
                    blobs.append(enc(8, 8, px))
                else:
                    smp = [((d * 31 + i * 17) % 2001) - 1000 for i in range(256)]
                    blobs.append(encode_wav(8000, smp))
                ids.append(d)
            yield pd.DataFrame({"media_id": ids, "content": blobs})

    schema = StructType(
        [StructField("media_id", LongType()), StructField("content", BinaryType())]
    )
    return spread_for_python(df.select(id_col)).mapInPandas(run, schema)


def real_video_frames(df: DataFrame, id_col: str = "media_id") -> DataFrame:
    """REAL video frame extraction: AVI container walk →  per-frame
    baseline-JPEG entropy decode → one stats row per frame
    (media_codecs.decode_avi_mjpeg + decode_jpeg, pure stdlib/numpy).
    Same mapInPandas batch shape as the stubbed sample_frames, but the
    frames come out of an actual container parse. Undecodable payloads
    yield a NULL-kind row (dead-letter convention)."""
    from riemann_spark.functions.media_codecs import decode_avi_mjpeg, decode_jpeg

    schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("frame_idx", IntegerType()),
            StructField("width", IntegerType()),
            StructField("height", IntegerType()),
            StructField("n_units", LongType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, content in zip(pdf[id_col], pdf["content"]):
                b = bytes(content or b"")
                try:
                    _w, _h, _n, frames = decode_avi_mjpeg(b)
                    for fi, blob in enumerate(frames):
                        fw, fh, _ch, px = decode_jpeg(blob)
                        rows.append([int(mid), fi, fw, fh, len(px)])
                except _DECODE_ERRS:
                    rows.append([int(mid), None, None, None, None])
            yield pd.DataFrame(rows, columns=[f.name for f in schema.fields])

    return spread_for_python(df.select(id_col, "content")).mapInPandas(run, schema)


def synthetic_avi(df: DataFrame, id_col: str = "doc_id", n_frames: int = 3) -> DataFrame:
    """Deterministic MJPEG-AVI fixtures: every id becomes an AVI of
    ``n_frames`` 16×8 RGB frames, frame f's pixels from the smooth
    generator (id·3 + f·11 + x·5 + y·9 + c·17) mod 256, each frame
    through the REAL JPEG encoder, the set through the REAL AVI muxer."""
    from riemann_spark.functions.media_codecs import encode_avi_mjpeg, encode_jpeg

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, blobs = [], []
            for mid in pdf[id_col]:
                d = int(mid)
                frames = []
                for f in range(n_frames):
                    px = bytes(
                        (d * 3 + f * 11 + x * 5 + y * 9 + c * 17) % 256
                        for y in range(8)
                        for x in range(16)
                        for c in range(3)
                    )
                    frames.append(encode_jpeg(16, 8, px))
                blobs.append(encode_avi_mjpeg(16, 8, frames))
                ids.append(d)
            yield pd.DataFrame({"media_id": ids, "content": blobs})

    schema = StructType(
        [StructField("media_id", LongType()), StructField("content", BinaryType())]
    )
    return spread_for_python(df.select(id_col)).mapInPandas(run, schema)


def synthetic_jpeg(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic baseline-JPEG fixtures: every id becomes a 16×16
    RGB image with pixel(y,x,c) = (id·3 + x·5 + y·9 + c·17) mod 256,
    run through the REAL Annex-K encoder (media_codecs.encode_jpeg).
    JPEG is lossy, so unlike synthetic_media the pixel VALUES are not
    oracle-assertable — but the structural outputs (dimensions, unit
    count, kind) survive the codec exactly, which is what the
    multimodal_jpeg_decode oracle checks."""
    from riemann_spark.functions.media_codecs import encode_jpeg

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, blobs = [], []
            for mid in pdf[id_col]:
                d = int(mid)
                px = bytes(
                    (d * 3 + x * 5 + y * 9 + c * 17) % 256
                    for y in range(16)
                    for x in range(16)
                    for c in range(3)
                )
                blobs.append(encode_jpeg(16, 16, px))
                ids.append(d)
            yield pd.DataFrame({"media_id": ids, "content": blobs})

    schema = StructType(
        [StructField("media_id", LongType()), StructField("content", BinaryType())]
    )
    return spread_for_python(df.select(id_col)).mapInPandas(run, schema)


def make_media_frame(df: DataFrame, payload_col: str, kind: str, id_col: str) -> DataFrame:
    """Wrap an arbitrary binary column into the multimodal layout."""
    return df.select(
        F.col(id_col).cast("long").alias("media_id"),
        F.col(payload_col).cast("binary").alias("content"),
        F.struct(
            F.lit(kind).alias("kind"),
            F.lit(None).cast("string").alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            (F.length(F.col(payload_col)) * 10).cast("long").alias("duration_ms"),
            F.lit(None).cast("int").alias("sample_rate"),
        ).alias("media"),
    )


def real_audio_features(df: DataFrame, id_col: str = "media_id") -> DataFrame:
    """REAL audio feature extraction over decoded PCM: energy (sum of
    squared samples), peak (max |sample|), and zero-crossing count —
    the standard cheap speech/music discriminators — computed from an
    actual WAV parse (media_codecs.decode_wav), not container
    metadata. All-integer features, so the closed-form fixture oracle
    checks them exactly. Non-WAV payloads yield a NULL-kind row
    (dead-letter convention, same as real_decode_features).

    Scale shape: Arrow-batched mapInPandas over the binary column —
    decode cost is per-row CPU, embarrassingly parallel, no shuffle;
    output is one short numeric row per blob (the binary never rides
    an exchange)."""
    from riemann_spark.functions.media_codecs import decode_wav

    schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("kind", StringType()),
            StructField("sample_rate", IntegerType()),
            StructField("n_samples", LongType()),
            StructField("energy", LongType()),
            StructField("peak", LongType()),
            StructField("zero_crossings", LongType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, blob in zip(pdf[id_col], pdf["content"]):
                try:
                    rate, samples = decode_wav(bytes(blob))
                    zc = sum(
                        1
                        for i in range(1, len(samples))
                        if (samples[i] >= 0) != (samples[i - 1] >= 0)
                    )
                    rows.append(
                        [
                            int(mid),
                            "audio",
                            rate,
                            len(samples),
                            sum(s * s for s in samples),
                            max((abs(s) for s in samples), default=0),
                            zc,
                        ]
                    )
                except Exception:
                    rows.append([int(mid), None, None, None, None, None, None])
            yield pd.DataFrame(rows, columns=schema.fieldNames())

    return df.mapInPandas(run, schema)


def real_image_features(df: DataFrame, id_col: str = "media_id") -> DataFrame:
    """REAL image feature extraction over decoded pixels: per-channel
    sums (the color-balance signal) and horizontal gradient L1 energy
    (sum |p[x+1] - p[x]| per channel row — the cheap sharpness/
    flatness discriminator) computed from actual PNG / P6-PPM parses.
    All-integer features; the closed-form fixture oracle fails if the
    decoder mangles any byte. Non-image payloads dead-letter as a
    NULL-kind row. Same Arrow-batched no-shuffle shape as
    real_audio_features."""
    from riemann_spark.functions.media_codecs import PNG_SIG, decode_png, decode_ppm

    schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("kind", StringType()),
            StructField("width", IntegerType()),
            StructField("height", IntegerType()),
            StructField("sum_r", LongType()),
            StructField("sum_g", LongType()),
            StructField("sum_b", LongType()),
            StructField("grad_l1", LongType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, content in zip(pdf[id_col], pdf["content"]):
                b = bytes(content or b"")
                try:
                    if b[: len(PNG_SIG)] == PNG_SIG:
                        w, h, _ch, px = decode_png(b)
                    elif b[:2] == b"P6":
                        w, h, _maxval, px = decode_ppm(b)
                    else:
                        raise ValueError("not an image")
                    sums = [0, 0, 0]
                    for i, v in enumerate(px):
                        sums[i % 3] += v
                    grad = 0
                    row_bytes = w * 3
                    for y in range(h):
                        base = y * row_bytes
                        for i in range(base, base + row_bytes - 3):
                            grad += abs(px[i + 3] - px[i])
                    rows.append([int(mid), "image", w, h, *sums, grad])
                except _DECODE_ERRS:
                    rows.append([int(mid), None, None, None, None, None, None, None])
            yield pd.DataFrame(rows, columns=schema.fieldNames())

    return df.mapInPandas(run, schema)


def synthetic_avi_scenes(
    df: DataFrame, id_col: str = "doc_id", n_frames: int = 4, cut_at: int = 2
) -> DataFrame:
    """Two-scene MJPEG-AVI fixtures for shot-boundary detection:
    frames before ``cut_at`` are a dark low-range gradient
    ((id·3 + f·11 + x·5 + y·9 + c·17) mod 64 — mean ≈ 32), frames
    from ``cut_at`` on are a near-solid bright card
    (220 + (x+y) mod 8 — mean ≈ 223). Within a scene consecutive
    frames differ by ≤ the generator drift; across the cut the mean
    luma jumps ~190 — far beyond JPEG noise, so the cut decision is
    deterministic even though the codec is lossy."""
    from riemann_spark.functions.media_codecs import encode_avi_mjpeg, encode_jpeg

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, blobs = [], []
            for mid in pdf[id_col]:
                d = int(mid)
                frames = []
                for f in range(n_frames):
                    if f < cut_at:
                        px = bytes(
                            (d * 3 + f * 11 + x * 5 + y * 9 + c * 17) % 64
                            for y in range(8)
                            for x in range(16)
                            for c in range(3)
                        )
                    else:
                        px = bytes(
                            220 + (x + y) % 8
                            for y in range(8)
                            for x in range(16)
                            for _c in range(3)
                        )
                    frames.append(encode_jpeg(16, 8, px))
                blobs.append(encode_avi_mjpeg(16, 8, frames))
                ids.append(d)
            yield pd.DataFrame({"media_id": ids, "content": blobs})

    schema = StructType(
        [StructField("media_id", LongType()), StructField("content", BinaryType())]
    )
    return spread_for_python(df.select(id_col)).mapInPandas(run, schema)


def real_scene_cuts(
    df: DataFrame, threshold: float = 96.0, id_col: str = "media_id"
) -> DataFrame:
    """Shot-boundary detection over REAL decoded video: AVI walk →
    per-frame JPEG decode → mean pixel level per frame → a frame is a
    cut iff |mean − prev_mean| > threshold (the classic
    frame-difference detector every video-curation pipeline runs
    before frame sampling, so sampled frames span shots instead of
    duplicating one). Emits (media_id, frame_idx, is_cut); frame 0 is
    never a cut.

    100 TB shape: same as every decode op — Arrow-batched mapInPandas
    over binary payloads, one row per frame, zero shuffle; the
    per-media frame sequence lives inside one payload, so no
    window/state is needed across rows."""
    from riemann_spark.functions.media_codecs import decode_avi_mjpeg, decode_jpeg

    schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("frame_idx", IntegerType()),
            StructField("is_cut", BooleanType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, content in zip(pdf[id_col], pdf["content"]):
                b = bytes(content or b"")
                try:
                    _w, _h, _n, frames = decode_avi_mjpeg(b)
                    prev = None
                    for fi, blob in enumerate(frames):
                        _fw, _fh, _ch, px = decode_jpeg(blob)
                        mean = sum(px) / len(px)
                        cut = prev is not None and abs(mean - prev) > threshold
                        rows.append([int(mid), fi, bool(cut)])
                        prev = mean
                except _DECODE_ERRS:
                    rows.append([int(mid), None, None])
            yield pd.DataFrame(rows, columns=[f.name for f in schema.fields])

    return spread_for_python(df.select(id_col, "content")).mapInPandas(run, schema)


#: VAD fixture layout: 8 frames × 128 samples @ 8 kHz; frame f of doc d
#: is SPEECH iff (d + f) % 3 != 0 (loud ±1000 generator), else silence
#: (|s| ≤ 20 generator). Shared by the fixture, the detector's test,
#: and the SQL oracle.
VAD_FRAME = 128
VAD_FRAMES = 8
VAD_ENERGY_THRESHOLD = VAD_FRAME * 1000  # mean-square > 1000


def synthetic_wav_vad(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Speech/silence WAV fixtures: deterministic loud frames
    (((d·31 + i·17) mod 2001) − 1000, mean square ≈ 334k) alternate
    with near-silent ones (((d·7 + i·3) mod 41) − 20, mean square
    ≤ 400) on the (d + frame) % 3 pattern — lossless PCM, so every
    per-frame energy is an exact integer an oracle can mirror."""
    from riemann_spark.functions.media_codecs import encode_wav

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, blobs = [], []
            for mid in pdf[id_col]:
                d = int(mid)
                smp = []
                for i in range(VAD_FRAME * VAD_FRAMES):
                    f = i // VAD_FRAME
                    if (d + f) % 3 != 0:
                        smp.append(((d * 31 + i * 17) % 2001) - 1000)
                    else:
                        smp.append(((d * 7 + i * 3) % 41) - 20)
                blobs.append(encode_wav(8000, smp))
                ids.append(d)
            yield pd.DataFrame({"media_id": ids, "content": blobs})

    schema = StructType(
        [StructField("media_id", LongType()), StructField("content", BinaryType())]
    )
    return spread_for_python(df.select(id_col)).mapInPandas(run, schema)


def real_vad_segments(
    df: DataFrame,
    frame: int = VAD_FRAME,
    threshold: int = VAD_ENERGY_THRESHOLD,
    id_col: str = "media_id",
) -> DataFrame:
    """Energy-threshold voice-activity detection over REAL decoded
    PCM: WAV parse → fixed frames → exact integer energy (Σ s²) per
    frame → active iff energy > threshold → run-length segment ids
    (the speech-segment extraction an audio-training pipeline runs
    before transcription/feature windows, so silence never reaches
    the expensive stage). Emits one row per frame:
    (media_id, frame_idx, energy, active, seg_id) with seg_id NULL on
    silence — lossless PCM keeps every output exactly mirrorable.

    100 TB shape: Arrow-batched mapInPandas, frame sequence internal
    to one payload (no cross-row state), zero shuffle."""
    from riemann_spark.functions.media_codecs import decode_wav

    schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("frame_idx", IntegerType()),
            StructField("energy", LongType()),
            StructField("active", BooleanType()),
            StructField("seg_id", LongType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, blob in zip(pdf[id_col], pdf["content"]):
                try:
                    _rate, samples = decode_wav(bytes(blob))
                except _DECODE_ERRS:
                    rows.append([int(mid), None, None, None, None])
                    continue
                seg, prev_active = -1, False
                for fi in range(len(samples) // frame):
                    window = samples[fi * frame : (fi + 1) * frame]
                    energy = sum(s * s for s in window)
                    active = energy > threshold
                    if active and not prev_active:
                        seg += 1
                    rows.append(
                        [
                            int(mid),
                            fi,
                            energy,
                            active,
                            seg if active else None,
                        ]
                    )
                    prev_active = active
            yield pd.DataFrame(rows, columns=[f.name for f in schema.fields])

    return spread_for_python(df.select(id_col, "content")).mapInPandas(run, schema)


def synthetic_image_grid(
    df: DataFrame, id_col: str = "doc_id", group_size: int = 4
) -> DataFrame:
    """Deterministic 36x32 RGB fixtures in NEAR-DUPLICATE GROUPS for
    perceptual-hash dedup: g = id // group_size picks the visual
    content (block-uniform pixels, v(bx,by,c) = ((g*7+3)*(bx*13 + by*29
    + 17) + c*11) mod 256 over exact 4x4 blocks - multiplicative in g
    so different groups land on genuinely different hashes), and each group member
    differs only by one clamped single-pixel bump (channel 0 of flat
    pixel (id*53) mod 1152, +17*(id mod group_size), clamped at 255) -
    so within a group the dHash is equal or a bit or two off, across
    groups it diverges. id % 4 == 0 routes through the REAL PNG
    encoder, the rest through P6 PPM - the same codec-gate trick as
    synthetic_media. Closed-form, so an oracle replays box sums with
    generate_series."""
    import numpy as np

    from riemann_spark.functions.media_codecs import encode_png, encode_ppm

    W, H = 36, 32

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bxs = np.arange(W) // 4
        bys = np.arange(H) // 4
        chans = np.arange(3)
        for pdf in batches:
            ids, blobs = [], []
            for mid in pdf[id_col]:
                d = int(mid)
                g, r0 = d // group_size, d % group_size
                base = (g * 7 + 3) * (bxs[None, :] * 13 + bys[:, None] * 29 + 17)
                px = ((base[:, :, None] + chans[None, None, :] * 11) % 256).astype(
                    np.uint8
                )
                p = (d * 53) % (W * H)
                x0, y0 = p % W, p // W
                px[y0, x0, 0] = min(int(px[y0, x0, 0]) + r0 * 17, 255)
                enc = encode_png if d % 4 == 0 else encode_ppm
                blobs.append(enc(W, H, px.tobytes()))
                ids.append(d)
            yield pd.DataFrame({"media_id": ids, "content": blobs})

    schema = StructType(
        [StructField("media_id", LongType()), StructField("content", BinaryType())]
    )
    return spread_for_python(df.select(id_col)).mapInPandas(run, schema)


def image_dhash_bands(df: DataFrame, id_col: str = "media_id") -> DataFrame:
    """64-bit difference-hash over REAL decoded pixels, emitted as
    4x16-bit integer bands (the LSH-ready form: Hamming-close images
    agree exactly on some band with high probability, so near-dup
    candidate generation is a band-bucket join, never all-pairs).

    The grid is 9x8 boxes of exact 4x4 pixels; each box's signal is
    the INTEGER sum over the 16 pixels and all 3 channels (equal-size
    boxes make sums order-equivalent to means with zero float risk).
    Bit (by%2)*8+bx of band by//2 is set iff the right box sum
    strictly exceeds the left. Images whose dimensions don't tile the
    9x8 grid (w % 9 or h % 8 != 0) dead-letter as a NULL row.
    Arrow-batched mapInPandas; the binary column crosses no shuffle."""
    import numpy as np

    from riemann_spark.functions.media_codecs import PNG_SIG, decode_png, decode_ppm

    schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("b0", IntegerType()),
            StructField("b1", IntegerType()),
            StructField("b2", IntegerType()),
            StructField("b3", IntegerType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, content in zip(pdf[id_col], pdf["content"]):
                b = bytes(content or b"")
                try:
                    if b[: len(PNG_SIG)] == PNG_SIG:
                        w, h, _ch, px = decode_png(b)
                    elif b[:2] == b"P6":
                        w, h, _maxval, px = decode_ppm(b)
                    else:
                        raise ValueError("not an image")
                    if w % 9 or h % 8:
                        raise ValueError("grid does not tile")
                    arr = (
                        np.frombuffer(px, dtype=np.uint8)
                        .astype(np.int64)
                        .reshape(h, w, 3)
                    )
                    s = arr.reshape(8, h // 8, 9, w // 9, 3).sum(axis=(1, 3, 4))
                    cmp = s[:, 1:] > s[:, :-1]  # (8 rows, 8 comparisons)
                    bands = [0, 0, 0, 0]
                    for by in range(8):
                        for bx in range(8):
                            if cmp[by, bx]:
                                bands[by // 2] |= 1 << ((by % 2) * 8 + bx)
                    rows.append([int(mid), *bands])
                except _DECODE_ERRS:
                    rows.append([int(mid), None, None, None, None])
            yield pd.DataFrame(rows, columns=schema.fieldNames())

    return df.mapInPandas(run, schema)


def synthetic_wav_groups(
    df: DataFrame, id_col: str = "doc_id", group_size: int = 4
) -> DataFrame:
    """Deterministic 256-sample 8 kHz WAV fixtures in NEAR-DUPLICATE
    GROUPS for envelope-fingerprint dedup: g = id // group_size picks
    the signal (16 frames of 16 samples, frame amplitude A(g,f) =
    ((g*31+5)*(f*19+7)) mod 2001 - 1000), and each group member
    differs only by one clamped single-sample bump (sample (id*29)
    mod 256, +13*(id mod group_size), clamped at 1000) - the audio
    sibling of synthetic_image_grid. Closed-form for the oracle;
    Spark goes through the REAL WAV encoder."""
    from riemann_spark.functions.media_codecs import encode_wav

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, blobs = [], []
            for mid in pdf[id_col]:
                d = int(mid)
                g, r0 = d // group_size, d % group_size
                smp = []
                for f in range(16):
                    a = ((g * 31 + 5) * (f * 19 + 7)) % 2001 - 1000
                    smp.extend([a] * 16)
                s0 = (d * 29) % 256
                smp[s0] = min(smp[s0] + r0 * 13, 1000)
                blobs.append(encode_wav(8000, smp))
                ids.append(d)
            yield pd.DataFrame({"media_id": ids, "content": blobs})

    schema = StructType(
        [StructField("media_id", LongType()), StructField("content", BinaryType())]
    )
    return spread_for_python(df.select(id_col)).mapInPandas(run, schema)


def audio_envelope_fp(df: DataFrame, id_col: str = "media_id") -> DataFrame:
    """15-bit audio envelope fingerprint from REAL decoded PCM: the
    256 samples tile into 16 frames of 16; frame signal = integer sum
    of |sample|; bit f-1 is set iff frame f's energy strictly exceeds
    frame f-1's. The shape-of-loudness signature is invariant to
    small sample-level edits (re-encodes, dither) - the audio
    perceptual hash that makes dedup a fingerprint groupBy. Streams
    whose sample count doesn't tile 16 frames dead-letter as a NULL
    row. Arrow-batched mapInPandas, binary never shuffles."""
    import numpy as np

    from riemann_spark.functions.media_codecs import decode_wav

    schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("envelope_fp", IntegerType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, content in zip(pdf[id_col], pdf["content"]):
                try:
                    _rate, smp = decode_wav(bytes(content or b""))
                    if not smp or len(smp) % 16:
                        raise ValueError("does not tile 16 frames")
                    arr = np.abs(np.asarray(smp, dtype=np.int64))
                    en = arr.reshape(16, len(smp) // 16).sum(axis=1)
                    fp = 0
                    for f in range(1, 16):
                        if en[f] > en[f - 1]:
                            fp |= 1 << (f - 1)
                    rows.append([int(mid), fp])
                except _DECODE_ERRS:
                    rows.append([int(mid), None])
            yield pd.DataFrame(rows, columns=schema.fieldNames())

    return df.mapInPandas(run, schema)


def real_resize_box(
    df: DataFrame, id_col: str = "media_id", factor: int = 4
) -> DataFrame:
    """REAL image resize over real decoded pixels: decode (PNG or P6
    PPM via the pure-stdlib codecs), box-filter downsample by
    ``factor`` (the INTER_AREA posture: each output pixel is the
    exact INTEGER sum of a factor×factor box — order-equivalent to
    the mean with zero float risk), and emit a verifiable digest of
    the resized image (md5 over the box-sum sequence in (by, bx, c)
    order) plus the global mean pixel value. This is the
    decode→resize stage of a multimodal training pipeline with the
    resized content reduced to an engine-checkable fingerprint;
    resize_images keeps the opaque-payload API shape for deploys
    with full codec libs. Images whose dimensions don't tile the box
    grid dead-letter as a NULL row.

    Arrow-batched mapInPandas; binary never shuffles."""
    import hashlib as _hl

    import numpy as np

    from riemann_spark.functions.media_codecs import (
        PNG_SIG,
        decode_png,
        decode_ppm,
    )

    schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("out_w", IntegerType()),
            StructField("out_h", IntegerType()),
            StructField("resize_digest", StringType()),
            StructField("mean_px", DoubleType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, content in zip(pdf[id_col], pdf["content"]):
                b = bytes(content or b"")
                try:
                    if b[: len(PNG_SIG)] == PNG_SIG:
                        w, h, _ch, px = decode_png(b)
                    elif b[:2] == b"P6":
                        w, h, _maxval, px = decode_ppm(b)
                    else:
                        raise ValueError("not an image")
                    if w % factor or h % factor:
                        raise ValueError("boxes do not tile")
                    w2, h2 = w // factor, h // factor
                    arr = (
                        np.frombuffer(px, dtype=np.uint8)
                        .astype(np.int64)
                        .reshape(h, w, 3)
                    )
                    sums = arr.reshape(h2, factor, w2, factor, 3).sum(
                        axis=(1, 3)
                    )
                    seq = ",".join(str(int(s)) for s in sums.ravel())
                    rows.append(
                        [
                            int(mid),
                            w2,
                            h2,
                            _hl.md5(seq.encode()).hexdigest(),
                            float(sums.sum()) / (h * w * 3),
                        ]
                    )
                except _DECODE_ERRS:
                    rows.append([int(mid), None, None, None, None])
            yield pd.DataFrame(rows, columns=schema.fieldNames())

    return df.mapInPandas(run, schema)
