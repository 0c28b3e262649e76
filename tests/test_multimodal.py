"""Multimodal plumbing tests: schema, Arrow batch shape, real header
decode, stub decode behavior, byte-based repartitioning."""

from __future__ import annotations

import pytest

from nursinghome_data_pipeline_spark.operators.multimodal import (
    FEATURE_DIM,
    MEDIA_SCHEMA,
    encode_png,
    extract_features,
    image_metadata,
    media_repartition,
    parse_image_header,
    resize_plan,
    sample_frames,
)

# hand-built minimal real containers (header-complete, tiny bodies)
GIF_7X5 = b"GIF89a" + (7).to_bytes(2, "little") + (5).to_bytes(2, "little") + b"\x00\x00\x00;"
BMP_9X4 = (
    b"BM" + (70).to_bytes(4, "little") + b"\x00\x00\x00\x00" + (54).to_bytes(4, "little")
    + (40).to_bytes(4, "little") + (9).to_bytes(4, "little", signed=True)
    + (4).to_bytes(4, "little", signed=True) + bytes(28)
)
# JPEG: SOI, APP0 stub, SOF0 with height=3 width=11, EOI
JPEG_11X3 = (
    b"\xff\xd8"
    + b"\xff\xe0" + (4).to_bytes(2, "big") + b"JF"
    + b"\xff\xc0" + (11).to_bytes(2, "big") + b"\x08"
    + (3).to_bytes(2, "big") + (11).to_bytes(2, "big") + b"\x01" + bytes(3)
    + b"\xff\xd9"
)


def test_parse_image_header_real_containers():
    assert parse_image_header(encode_png(13, 8)) == ("png", 13, 8)
    assert parse_image_header(GIF_7X5) == ("gif", 7, 5)
    assert parse_image_header(BMP_9X4) == ("bmp", 9, 4)
    assert parse_image_header(JPEG_11X3) == ("jpeg", 11, 3)
    assert parse_image_header(b"not an image at all") == (None, None, None)
    assert parse_image_header(None) == (None, None, None)


def test_encode_png_is_spec_valid():
    """The fixture encoder must emit bytes a REAL png reader accepts —
    decompress the IDAT and check the raster shape, verify CRCs."""
    import struct
    import zlib

    raw = encode_png(5, 3, seed=7)
    assert raw[:8] == b"\x89PNG\r\n\x1a\n"
    pos, chunks = 8, {}
    while pos < len(raw):
        (length,) = struct.unpack(">I", raw[pos : pos + 4])
        tag = raw[pos + 4 : pos + 8]
        body = raw[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack(">I", raw[pos + 8 + length : pos + 12 + length])
        assert crc == zlib.crc32(tag + body) & 0xFFFFFFFF
        chunks[tag] = body
        pos += 12 + length
    raster = zlib.decompress(chunks[b"IDAT"])
    assert len(raster) == 3 * (1 + 5)  # height × (filter byte + width)


def test_image_metadata_distributed_round_trip(spark):
    rows = [
        (1, encode_png(32, 16)),
        (2, GIF_7X5),
        (3, JPEG_11X3),
        (4, b"garbage"),
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    out = {r.media_id: (r.format, r.width, r.height) for r in image_metadata(df).collect()}
    assert out[1] == ("png", 32, 16)
    assert out[2] == ("gif", 7, 5)
    assert out[3] == ("jpeg", 11, 3)
    assert out[4] == (None, None, None)


def test_resize_plan_geometry_and_codec_boundary(spark):
    rows = [
        (1, encode_png(20, 10)),  # downscale: longest side 20 → 16
        (2, encode_png(10, 5)),  # within the box → pass-through
        (3, encode_png(1, 31)),  # extreme aspect: floor would hit 0 → clamped to 1
        (4, b"garbage"),  # unparseable → NULL geometry
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    out = {
        r.media_id: (r.width, r.height, r.out_width, r.out_height)
        for r in resize_plan(df, target=16).collect()
    }
    assert out[1] == (20, 10, 16, 8)
    assert out[2] == (10, 5, 10, 5)
    assert out[3] == (1, 31, 1, 16)
    assert out[4] == (None, None, None, None)


@pytest.fixture(scope="module")
def media(spark):
    rows = [
        (1, b"\x00\x01payload-one", ("image/png", 64, 64, None)),
        (2, b"another-payload", ("video/mp4", 1920, 1080, 3500)),
        (3, None, ("image/png", None, None, None)),
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_extract_features_stub(media):
    feats = {r.media_id: r for r in extract_features(media).collect()}
    assert len(feats) == 3
    assert len(feats[1].feature) == FEATURE_DIM
    assert feats[1].mime == "image/png"
    assert feats[3].feature == [0.0] * FEATURE_DIM  # NULL payload → zeros
    # deterministic: same payload → same feature
    again = {r.media_id: r for r in extract_features(media).collect()}
    assert again[1].feature == feats[1].feature


def test_extract_features_real_decode_raises_on_non_image(media):
    """Pixel-level decode of non-container payloads still needs absent
    codec libraries → the real path refuses rather than faking."""
    with pytest.raises(Exception, match="NotImplementedError|codec"):
        extract_features(media, decode_stub=False).collect()


def test_extract_features_real_decode_on_png(spark):
    df = spark.createDataFrame(
        [(1, encode_png(20, 10), ("image/png", 20, 10, None))], MEDIA_SCHEMA
    )
    (row,) = extract_features(df, decode_stub=False).collect()
    w, h, aspect, kb, is_png, is_gif, is_jpeg, is_bmp = row.feature
    assert (w, h) == (20.0, 10.0)
    assert aspect == pytest.approx(2.0)
    assert kb > 0
    assert (is_png, is_gif, is_jpeg, is_bmp) == (1.0, 0.0, 0.0, 0.0)


def test_sample_frames(media):
    frames = sample_frames(media, every_ms=1000).collect()
    # only media 2 has a duration: 3500ms → frames at 0,1000,2000,3000
    assert [f.frame_ts_ms for f in frames] == [0, 1000, 2000, 3000]
    assert all(f.media_id == 2 for f in frames)
    assert all(isinstance(f.frame, (bytes, bytearray)) for f in frames)


def test_media_repartition(media):
    out = media_repartition(media, target_bytes=10)
    assert out.count() == 3
    assert out.rdd.getNumPartitions() >= 2


def test_parse_audio_header_wav_round_trip():
    from nursinghome_data_pipeline_spark.operators.multimodal import (
        encode_wav,
        parse_audio_header,
    )

    for ch, rate, frames, seed in [
        (1, 8000, 100, 0),
        (2, 44100, 2099, 7),
        (2, 22050, 555, 3),
    ]:
        fmt, c, r, bits, n = parse_audio_header(
            encode_wav(ch, rate, frames, seed=seed)
        )
        assert (fmt, c, r, bits, n) == ("wav", ch, rate, 16, frames)


def encode_flac_streaminfo(
    channels: int, sample_rate: int, total_samples: int, *, bits: int = 16
) -> bytes:
    """Spec-valid FLAC STREAMINFO header (container metadata only — no
    encoded frames). Enough for any FLAC reader to report stream
    parameters."""
    packed = (
        (sample_rate << 44)
        | ((channels - 1) << 41)
        | ((bits - 1) << 36)
        | (total_samples & ((1 << 36) - 1))
    )
    body = (
        (0).to_bytes(2, "big")  # min block size
        + (0).to_bytes(2, "big")  # max block size
        + (0).to_bytes(3, "big")  # min frame size
        + (0).to_bytes(3, "big")  # max frame size
        + packed.to_bytes(8, "big")
        + b"\x00" * 16  # md5 of raw samples (unset)
    )
    # 0x80: last-metadata-block flag; type 0 = STREAMINFO
    return b"fLaC" + bytes([0x80]) + len(body).to_bytes(3, "big") + body


def test_parse_audio_header_flac_streaminfo():
    from nursinghome_data_pipeline_spark.operators.multimodal import (
        parse_audio_header,
    )

    fmt, c, r, bits, n = parse_audio_header(
        encode_flac_streaminfo(2, 48000, 123456, bits=24)
    )
    assert (fmt, c, r, bits, n) == ("flac", 2, 48000, 24, 123456)


def test_parse_audio_header_rejects_unknown():
    from nursinghome_data_pipeline_spark.operators.multimodal import (
        parse_audio_header,
    )

    assert parse_audio_header(b"not audio at all") == (None,) * 5
    assert parse_audio_header(None) == (None,) * 5
    # RIFF but not WAVE (e.g. AVI) must not parse as wav
    assert parse_audio_header(b"RIFF\x00\x00\x00\x00AVI LIST") == (None,) * 5


def test_wav_samples_are_decodable_by_stdlib_wave():
    import io
    import wave

    from nursinghome_data_pipeline_spark.operators.multimodal import encode_wav

    with wave.open(io.BytesIO(encode_wav(2, 16000, 321, seed=5))) as w:
        assert w.getnchannels() == 2
        assert w.getframerate() == 16000
        assert w.getnframes() == 321
        assert w.getsampwidth() == 2


def test_audio_metadata_distributed_round_trip(spark):
    import pandas as pd

    from nursinghome_data_pipeline_spark.operators.multimodal import (
        audio_metadata,
        encode_wav,
    )

    rows = [(i, encode_wav(i % 2 + 1, 8000, 100 + i, seed=i)) for i in range(20)]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    out = {r.media_id: r for r in audio_metadata(df).collect()}
    for i in range(20):
        r = out[i]
        assert r.format == "wav" and r.channels == i % 2 + 1
        assert r.duration_ms == (100 + i) * 1000 // 8000


def test_parse_headers_never_crash_on_arbitrary_bytes():
    # parsers must be total functions over bytes: fuzz with adversarial
    # prefixes (truncated magic numbers, huge declared chunk sizes)
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from nursinghome_data_pipeline_spark.operators.multimodal import (
        parse_audio_header,
        parse_image_header,
        parse_video_header,
    )

    prefixes = [b"", b"RIFF", b"RIFF\xff\xff\xff\xffWAVE", b"fLaC",
                b"\x89PNG\r\n\x1a\n", b"\xff\xd8", b"GIF89a", b"BM",
                b"\x00\x00\x00\x14ftyp", b"\x00\x00\x00\x08moov"]

    @settings(max_examples=200, deadline=None)
    @given(st.sampled_from(prefixes), st.binary(max_size=64))
    def fuzz(prefix, tail):
        parse_audio_header(prefix + tail)
        parse_image_header(prefix + tail)
        parse_video_header(prefix + tail)

    fuzz()


def test_mp4_roundtrip_and_garbage():
    from nursinghome_data_pipeline_spark.operators.multimodal import (
        encode_mp4,
        parse_video_header,
    )

    assert parse_video_header(encode_mp4(1920, 1080, 24000, 48000)) == (
        "mp4",
        1920,
        1080,
        24000,
        48000,
    )
    assert parse_video_header(b"not an mp4 at all") == (
        None,
        None,
        None,
        None,
        None,
    )
    assert parse_video_header(None)[0] is None
    # truncated box sizes must not crash or over-read
    b = encode_mp4(64, 48, 600, 1200)
    for cut in (3, 9, 20, len(b) - 5):
        parse_video_header(b[:cut])


def test_mp4_largesize_and_eof_boxes():
    # spec-valid MP4s commonly carry size==1 (64-bit largesize, e.g. a
    # big mdat before moov) and size==0 (box extends to EOF); the walk
    # must step over / into both instead of bailing (r2 advice item).
    import struct

    from nursinghome_data_pipeline_spark.operators.multimodal import (
        encode_mp4,
        parse_video_header,
    )

    normal = encode_mp4(640, 360, 1000, 5000)
    (ftyp_size,) = struct.unpack(">I", normal[:4])
    ftyp, moov = normal[:ftyp_size], normal[ftyp_size:]

    # size==1: insert a largesize mdat between ftyp and moov
    payload = b"\xab" * 32
    mdat_large = (
        struct.pack(">I", 1) + b"mdat" + struct.pack(">Q", 16 + len(payload)) + payload
    )
    assert parse_video_header(ftyp + mdat_large + moov) == (
        "mp4", 640, 360, 1000, 5000,
    )

    # size==0: rewrite the trailing moov box to extend-to-EOF
    moov_eof = struct.pack(">I", 0) + moov[4:]
    assert parse_video_header(ftyp + mdat_large + moov_eof) == (
        "mp4", 640, 360, 1000, 5000,
    )

    # truncated largesize header must not crash or over-read
    for cut in (ftyp_size + 4, ftyp_size + 12):
        parse_video_header((ftyp + mdat_large + moov)[:cut])
