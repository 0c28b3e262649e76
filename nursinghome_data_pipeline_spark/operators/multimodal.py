"""Multimodal column plumbing (north-star extension).

Image/audio/video payloads are opaque ``binary`` columns with a typed
metadata struct; all Spark-side mechanics — schema, partition sizing,
Arrow batch shape, Pandas-UDF signatures — are real and tested.

Decode depth is tiered:

- **Header decode is REAL**: :func:`parse_image_header` reads
  container bytes (PNG IHDR, GIF screen descriptor, JPEG SOF scan,
  BMP info header) and :func:`parse_audio_header` reads WAV RIFF
  chunks and FLAC STREAMINFO with the stdlib only — no codec library
  — and :func:`image_metadata` / :func:`audio_metadata` /
  ``extract_features(decode_stub=False)`` run them distributed.
  :func:`encode_png` / :func:`encode_wav` write real zlib-compressed
  PNGs / PCM WAVs, so tests and oracle queries round-trip genuine
  bytes.
- **Pixel/sample decode stays stubbed**: full raster decode, audio
  resample, video frame extraction need media libraries NOT in this
  environment; the stubs (``extract_features(decode_stub=True)``, the
  default, and :func:`sample_frames`' frame bytes) compute a
  deterministic fake from the bytes, and pixel resampling is left to
  the decode workers that consume :func:`resize_plan`'s geometry.

Scale notes: media blobs make rows wide — ``media_repartition`` sizes
partitions by *bytes*, not rows, so Arrow batches stay within executor
memory; feature extraction is ``mapInPandas`` (streamed batches, no
per-row pickling).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: canonical multimodal record schema
MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("mime", T.StringType(), True),
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("duration_ms", T.LongType(), True),
                ]
            ),
            True,
        ),
    ]
)

FEATURE_DIM = 8


def media_repartition(df: DataFrame, *, target_bytes: int = 128 << 20) -> DataFrame:
    """Repartition a media table so each partition holds ~target_bytes
    of payload (blob tables must be sized by bytes, not row counts)."""
    total = df.agg(
        F.sum(F.coalesce(F.length("payload"), F.lit(0))).alias("b")
    ).first()["b"] or 0
    n = max(1, int(total / target_bytes) + 1)
    return df.repartition(n)


def parse_image_header(payload: bytes | None) -> tuple[str | None, int | None, int | None]:
    """REAL image container decode — (format, width, height) from raw
    bytes, stdlib-only.

    Formats: PNG (IHDR chunk), GIF87a/89a (logical screen descriptor),
    JPEG (walk markers to the first SOF0-SOF15 frame header), BMP
    (BITMAPINFOHEADER). Returns (None, None, None) for anything else —
    callers decide whether unknown payloads are errors.
    """
    import struct

    if not payload or len(payload) < 10:
        return (None, None, None)
    if payload[:8] == b"\x89PNG\r\n\x1a\n" and len(payload) >= 24:
        w, h = struct.unpack(">II", payload[16:24])
        return ("png", w, h)
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        w, h = struct.unpack("<HH", payload[6:10])
        return ("gif", w, h)
    if payload[:2] == b"BM" and len(payload) >= 26:
        w, h = struct.unpack("<ii", payload[18:26])
        return ("bmp", w, abs(h))
    if payload[:2] == b"\xff\xd8":  # JPEG SOI; scan marker segments
        i = 2
        while i + 9 <= len(payload):
            if payload[i] != 0xFF:
                i += 1
                continue
            marker = payload[i + 1]
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                i += 2
                continue
            seg_len = struct.unpack(">H", payload[i + 2 : i + 4])[0]
            # SOF0-SOF15 except DHT(C4)/DAC(CC)
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                h, w = struct.unpack(">HH", payload[i + 5 : i + 9])
                return ("jpeg", w, h)
            i += 2 + seg_len
    return (None, None, None)


def encode_png(width: int, height: int, *, seed: int = 0) -> bytes:
    """Minimal REAL PNG writer (stdlib zlib+struct): 8-bit grayscale,
    deterministic pixel pattern from ``seed``. Produces spec-valid
    files any PNG reader accepts — the fixture side of the round-trip
    tests for :func:`parse_image_header`."""
    import struct
    import zlib

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    import numpy as np

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    # pixel(x, y) = (seed + y*width + x) % 256 — vectorized: one arange
    # over the raster, a filter byte (0 = None) prepended per scanline
    px = ((seed + np.arange(width * height)) % 256).astype(np.uint8)
    rows = px.reshape(height, width)
    raster = b"".join(b"\x00" + row.tobytes() for row in rows)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raster))
        + chunk(b"IEND", b"")
    )


def image_metadata(df: DataFrame) -> DataFrame:
    """Distributed REAL header decode: (media_id, format, width,
    height) parsed from payload bytes via ``mapInPandas`` — same Arrow
    batch shape as :func:`extract_features`, but nothing is stubbed."""
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("format", T.StringType(), True),
            T.StructField("width", T.LongType(), True),
            T.StructField("height", T.LongType(), True),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            parsed = [parse_image_header(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "format": [p[0] for p in parsed],
                    "width": [p[1] for p in parsed],
                    "height": [p[2] for p in parsed],
                }
            )

    return df.mapInPandas(batches, schema=out_schema)


def resize_plan(df: DataFrame, *, target: int = 224) -> DataFrame:
    """Aspect-preserving resize PLANNING over real container bytes.

    Parses each payload's header (REAL decode — the same
    :func:`parse_image_header` as :func:`image_metadata`) and derives
    the output geometry for a downscale-only fit into a ``target`` x
    ``target`` box: when the longest side exceeds ``target``, each side
    becomes ``max(1, side * target // longest_side)``; smaller images
    pass through unchanged (no upscaling). Pure integer floor division
    keeps the plan bit-portable across engines, so a SQL oracle can
    recompute it from the source dimensions.

    The pixel resample itself is the codec boundary (media libraries
    are absent in this environment). That split is deliberate at scale:
    a training pipeline runs this metadata-only plan stage first, so
    the stage that groups media for the GPU/codec workers shuffles
    (media_id, geometry) rows — never the payload bytes, which stay
    where :func:`media_repartition` put them.
    """
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("format", T.StringType(), True),
            T.StructField("width", T.LongType(), True),
            T.StructField("height", T.LongType(), True),
            T.StructField("out_width", T.LongType(), True),
            T.StructField("out_height", T.LongType(), True),
        ]
    )

    def plan(w: int | None, h: int | None) -> tuple[int | None, int | None]:
        if w is None or h is None:
            return (None, None)
        m = max(w, h)
        if m <= target:
            return (w, h)
        return (max(1, w * target // m), max(1, h * target // m))

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            parsed = [parse_image_header(p) for p in pdf["payload"]]
            plans = [plan(p[1], p[2]) for p in parsed]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "format": [p[0] for p in parsed],
                    "width": pd.array([p[1] for p in parsed], dtype="Int64"),
                    "height": pd.array([p[2] for p in parsed], dtype="Int64"),
                    "out_width": pd.array([q[0] for q in plans], dtype="Int64"),
                    "out_height": pd.array([q[1] for q in plans], dtype="Int64"),
                }
            )

    return df.mapInPandas(batches, schema=out_schema)


def parse_audio_header(
    payload: bytes | None,
) -> tuple[str | None, int | None, int | None, int | None, int | None]:
    """REAL audio container decode — (format, channels, sample_rate,
    bits_per_sample, n_frames) from raw bytes, stdlib-only.

    Formats: WAV (RIFF chunk walk: ``fmt `` + ``data``), FLAC
    (STREAMINFO metadata block bit-unpack). Returns all-None for
    anything else — callers decide whether unknown payloads are errors.
    """
    import struct

    if not payload or len(payload) < 12:
        return (None, None, None, None, None)
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        channels = rate = bits = None
        block_align = data_size = None
        i = 12
        while i + 8 <= len(payload):
            tag = payload[i : i + 4]
            (size,) = struct.unpack("<I", payload[i + 4 : i + 8])
            if tag == b"fmt " and i + 24 <= len(payload):
                _, channels, rate, _, block_align, bits = struct.unpack(
                    "<HHIIHH", payload[i + 8 : i + 24]
                )
            elif tag == b"data":
                data_size = size
            i += 8 + size + (size & 1)  # chunks are word-aligned
        if channels and rate and block_align:
            frames = (data_size // block_align) if data_size is not None else None
            return ("wav", channels, rate, bits, frames)
        return (None, None, None, None, None)
    if payload[:4] == b"fLaC" and len(payload) >= 4 + 4 + 34:
        # first metadata block must be STREAMINFO (34 bytes); the
        # 8 bytes at offset 18 pack rate(20) ch-1(3) bits-1(5) total(36)
        block_type = payload[4] & 0x7F
        if block_type != 0:
            return (None, None, None, None, None)
        body = payload[8:42]
        packed = int.from_bytes(body[10:18], "big")
        rate = packed >> 44
        channels = ((packed >> 41) & 0x7) + 1
        bits = ((packed >> 36) & 0x1F) + 1
        total = packed & ((1 << 36) - 1)
        return ("flac", channels, rate, bits, total)
    return (None, None, None, None, None)


def encode_wav(
    channels: int, sample_rate: int, n_frames: int, *, bits: int = 16, seed: int = 0
) -> bytes:
    """Minimal REAL PCM WAV writer (stdlib struct + numpy samples):
    deterministic 16-bit samples from ``seed``. Produces spec-valid
    RIFF/WAVE files any audio reader accepts — the fixture side of the
    round-trip tests for :func:`parse_audio_header`."""
    import struct

    import numpy as np

    assert bits == 16, "fixture writer emits 16-bit PCM only"
    block_align = channels * bits // 8
    byte_rate = sample_rate * block_align
    n = n_frames * channels
    samples = (
        ((seed + np.arange(n, dtype=np.int64)) * 2654435761) % 65536 - 32768
    ).astype("<i2")
    data = samples.tobytes()
    fmt = struct.pack("<HHIIHH", 1, channels, sample_rate, byte_rate, block_align, bits)
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
        + (b"\x00" if len(data) & 1 else b"")
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def audio_metadata(df: DataFrame) -> DataFrame:
    """Distributed REAL audio header decode: (media_id, format,
    channels, sample_rate, bits_per_sample, duration_ms) parsed from
    payload bytes via ``mapInPandas`` — the audio twin of
    :func:`image_metadata`. duration_ms is integer floor millis so it
    stays exactly checkable cross-engine."""
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("format", T.StringType(), True),
            T.StructField("channels", T.LongType(), True),
            T.StructField("sample_rate", T.LongType(), True),
            T.StructField("bits_per_sample", T.LongType(), True),
            T.StructField("duration_ms", T.LongType(), True),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            parsed = [parse_audio_header(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "format": [p[0] for p in parsed],
                    "channels": [p[1] for p in parsed],
                    "sample_rate": [p[2] for p in parsed],
                    "bits_per_sample": [p[3] for p in parsed],
                    "duration_ms": [
                        (p[4] * 1000) // p[2]
                        if p[4] is not None and p[2]
                        else None
                        for p in parsed
                    ],
                }
            )

    return df.mapInPandas(batches, schema=out_schema)


def _fake_feature(payload: bytes | None) -> list[float]:
    """Deterministic stand-in for a real decoder: FEATURE_DIM floats
    derived from a sha256 of the bytes."""
    if payload is None:
        return [0.0] * FEATURE_DIM
    digest = hashlib.sha256(payload).digest()
    return [b / 255.0 for b in digest[:FEATURE_DIM]]


def extract_features(df: DataFrame, *, decode_stub: bool = True) -> DataFrame:
    """Per-payload feature vectors via ``mapInPandas`` (Arrow-batched).

    Output: (media_id, mime, feature array<double>).

    ``decode_stub=True``: sha256-derived fake feature (no decode).
    ``decode_stub=False``: REAL decode via :func:`parse_image_header` —
    the feature is [width, height, aspect, payload_kb, is_png, is_gif,
    is_jpeg, is_bmp]; unrecognized payloads raise
    ``NotImplementedError`` (pixel-level codecs are absent in this
    environment — a model forward pass would slot in here with the
    Spark plumbing unchanged).
    """
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("mime", T.StringType(), True),
            T.StructField("feature", T.ArrayType(T.DoubleType()), True),
        ]
    )

    def real_feature(payload: bytes | None) -> list[float]:
        fmt, w, h = parse_image_header(payload)
        if fmt is None:
            raise NotImplementedError(
                "payload is not a PNG/GIF/JPEG/BMP container; pixel-level "
                "codecs are not present in this environment"
            )
        return [
            float(w),
            float(h),
            float(w) / float(h) if h else 0.0,
            len(payload or b"") / 1024.0,
            1.0 if fmt == "png" else 0.0,
            1.0 if fmt == "gif" else 0.0,
            1.0 if fmt == "jpeg" else 0.0,
            1.0 if fmt == "bmp" else 0.0,
        ]

    fn = _fake_feature if decode_stub else real_feature

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "mime": [m.get("mime") if m else None for m in pdf["meta"]],
                    "feature": [fn(p) for p in pdf["payload"]],
                }
            )

    return df.mapInPandas(batches, schema=out_schema)


def sample_frames(df: DataFrame, *, every_ms: int = 1000) -> DataFrame:
    """Frame sampling for video payloads: one output row per sampled
    frame timestamp (media_id, frame_ts_ms, frame binary).

    The frame timestamps come from metadata (duration), so the row
    explosion is computable WITHOUT decoding; only the frame pixel
    payload needs the codec (stubbed: sha256-derived bytes).
    """
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("frame_ts_ms", T.LongType(), False),
            T.StructField("frame", T.BinaryType(), True),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, ts, frames = [], [], []
            for _, row in pdf.iterrows():
                meta = row["meta"] or {}
                duration = meta.get("duration_ms") or 0
                for t in range(0, int(duration), every_ms):
                    ids.append(row["media_id"])
                    ts.append(t)
                    seed = hashlib.sha256(
                        (row["payload"] or b"") + t.to_bytes(8, "little")
                    ).digest()
                    frames.append(seed)
            yield pd.DataFrame(
                {"media_id": ids, "frame_ts_ms": ts, "frame": frames}
            )

    return df.mapInPandas(batches, schema=out_schema)


def encode_mp4(
    width: int, height: int, timescale: int, duration_units: int
) -> bytes:
    """Minimal REAL ISO-BMFF (MP4) container: ftyp + moov{mvhd,
    trak{tkhd}} — spec-valid box structure any MP4 demuxer accepts
    for stream metadata (no media samples; encoding frames needs a
    codec library). The video fixture twin of :func:`encode_wav`."""
    import struct

    def box(tag: bytes, body: bytes) -> bytes:
        return struct.pack(">I", 8 + len(body)) + tag + body

    ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 0) + b"isommp41")
    matrix = struct.pack(
        ">9I", 0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000
    )
    mvhd = box(
        b"mvhd",
        struct.pack(">BBHIIII", 0, 0, 0, 0, 0, timescale, duration_units)
        + struct.pack(">IH", 0x00010000, 0x0100)
        + b"\x00" * 10
        + matrix
        + b"\x00" * 24
        + struct.pack(">I", 2),
    )
    tkhd = box(
        b"tkhd",
        struct.pack(">BBHIIII", 0, 0, 7, 0, 0, 1, 0)
        + struct.pack(">I", duration_units)
        + b"\x00" * 8
        + struct.pack(">HHHH", 0, 0, 0, 0)
        + matrix
        + struct.pack(">II", width << 16, height << 16),
    )
    moov = box(b"moov", mvhd + box(b"trak", tkhd))
    return ftyp + moov


def parse_video_header(
    payload: bytes | None,
) -> tuple[str | None, int | None, int | None, int | None, int | None]:
    """REAL MP4 container decode — (format, width, height, timescale,
    duration_units) from an ISO-BMFF box walk, stdlib-only. Returns
    all-None for non-MP4 bytes."""
    import struct

    def walk(buf: bytes):
        i = 0
        while i + 8 <= len(buf):
            (size,) = struct.unpack(">I", buf[i : i + 4])
            tag = buf[i + 4 : i + 8]
            hdr = 8
            if size == 1:
                # 64-bit largesize follows the tag (big mdat boxes)
                if i + 16 > len(buf):
                    return
                (size,) = struct.unpack(">Q", buf[i + 8 : i + 16])
                hdr = 16
            elif size == 0:
                # box extends to end of file (ISO-BMFF §4.2)
                size = len(buf) - i
            if size < hdr or i + size > len(buf):
                return
            yield tag, buf[i + hdr : i + size]
            i += size

    if not payload or len(payload) < 12 or payload[4:8] != b"ftyp":
        return (None, None, None, None, None)
    width = height = timescale = duration = None
    for tag, body in walk(payload):
        if tag != b"moov":
            continue
        for t2, b2 in walk(body):
            if t2 == b"mvhd" and len(b2) >= 20:
                # v0 layout: ver/flags(4) created(4) modified(4)
                # timescale(4) duration(4)
                timescale, duration = struct.unpack(">II", b2[12:20])
            elif t2 == b"trak":
                for t3, b3 in walk(b2):
                    if t3 == b"tkhd" and len(b3) >= 84:
                        w, h = struct.unpack(">II", b3[76:84])
                        width, height = w >> 16, h >> 16
    if timescale is None:
        return (None, None, None, None, None)
    return ("mp4", width, height, timescale, duration)


def video_metadata(df: DataFrame) -> DataFrame:
    """Distributed REAL MP4 header decode: (media_id, format, width,
    height, duration_ms) via ``mapInPandas`` — the video member of the
    image/audio/video metadata triple."""
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("format", T.StringType(), True),
            T.StructField("width", T.LongType(), True),
            T.StructField("height", T.LongType(), True),
            T.StructField("duration_ms", T.LongType(), True),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            parsed = [parse_video_header(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "format": [p[0] for p in parsed],
                    "width": [p[1] for p in parsed],
                    "height": [p[2] for p in parsed],
                    "duration_ms": [
                        (p[4] * 1000) // p[3]
                        if p[4] is not None and p[3]
                        else None
                        for p in parsed
                    ],
                }
            )

    return df.mapInPandas(batches, schema=out_schema)
