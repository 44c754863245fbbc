"""Pure-Python AVI demuxer (sources/avi.py): RIFF walk, BI_RGB and
MJPG frame codecs, the header-parts contract the byte-level oracle
relies on, and the decode_video_frames Spark plumbing."""

from __future__ import annotations

import numpy as np
import pytest

from biggis_landuse_spark.sources.avi import (
    AviFormatError,
    avi_header_parts,
    decode_avi,
    encode_avi,
    encode_avi_mjpg,
)

pytestmark = pytest.mark.slow


def _frames(h, w, n=3, seed=7):
    rng = np.random.RandomState(seed)
    return [rng.randint(0, 256, (h, w, 3), dtype=np.uint8) for _ in range(n)]


@pytest.mark.parametrize("h,w", [(2, 4), (5, 3), (1, 1), (8, 7), (6, 16)])
def test_raw_round_trip(h, w):
    frames = _frames(h, w)
    width, height, rate, scale, out = decode_avi(
        encode_avi(frames, rate=30, scale=1)
    )
    assert (width, height, rate, scale) == (w, h, 30, 1)
    assert len(out) == len(frames)
    for a, b in zip(frames, out):
        assert np.array_equal(a, b)


def test_stride_padding_rows_are_independent():
    # w=3 → 9 row bytes padded to 12; pad bytes must not leak into
    # pixels and rows must not shear
    fr = np.zeros((2, 3, 3), dtype=np.uint8)
    fr[0, 2] = (9, 8, 7)
    fr[1, 0] = (1, 2, 3)
    _, _, _, _, out = decode_avi(encode_avi([fr]))
    assert np.array_equal(out[0], fr)


def test_bottom_up_bgr_orientation():
    # a single red pixel at RGB (0,0) lives at file offset
    # stride*(h-1)+2 — the byte media_video_frames' first_px_r pins
    fr = np.zeros((2, 4, 3), dtype=np.uint8)
    fr[0, 0] = (255, 1, 2)
    data = encode_avi([fr])
    prefix, headers = avi_header_parts(4, 2, 1)
    payload = data[len(prefix) + len(headers[0]):]
    assert payload[12 + 2] == 255  # R at stride*(h-1)+2
    assert payload[12 + 0] == 2    # B first in the file's BGR order
    _, _, _, _, out = decode_avi(data)
    assert tuple(out[0][0, 0]) == (255, 1, 2)


def test_header_parts_contract():
    # prefix + identical chunk headers + raw payloads == encode_avi —
    # the two-hex-literal synthesis media_video_frames performs in SQL
    frames = _frames(2, 4)
    prefix, headers = avi_header_parts(4, 2, 3, rate=25, scale=1)
    assert len(set(headers)) == 1  # equal sizes → one SEP literal
    payloads = [
        b"".join(fr[::-1, :, ::-1][r].tobytes() for r in range(2))
        for fr in frames
    ]
    manual = prefix + b"".join(
        hd + p for hd, p in zip(headers, payloads)
    )
    assert manual == encode_avi(frames, rate=25, scale=1)


def test_mjpg_frames_round_trip_through_own_jpeg_codec():
    from biggis_landuse_spark.sources.jpeg import decode_jpeg, encode_jpeg

    w, h = 16, 8
    xx, yy = np.meshgrid(np.arange(w), np.arange(h))
    rgb = np.stack(
        [(xx * 255) // (w - 1), (yy * 255) // (h - 1), xx * 0 + 128], -1
    ).astype(np.uint8)
    jpegs = [
        encode_jpeg(w, h, rgb.tobytes(), channels=3, quality=95)
        for _ in range(2)
    ]
    data = encode_avi_mjpg(jpegs, w, h, rate=10, scale=1)
    width, height, rate, scale, frames = decode_avi(data)
    assert (width, height, rate, scale) == (w, h, 10, 1)
    assert len(frames) == 2
    # container adds nothing: each frame equals the direct JPEG decode
    dw, dh, dc, buf = decode_jpeg(jpegs[0])
    direct = np.frombuffer(bytes(buf), dtype=np.uint8).reshape(dh, dw, dc)
    for fr in frames:
        assert np.array_equal(fr, direct)


def test_odd_mjpg_chunk_word_alignment():
    from biggis_landuse_spark.sources.jpeg import encode_jpeg

    w, h = 8, 8
    gray = bytes(range(64))
    j = encode_jpeg(w, h, gray, channels=1, quality=95)
    j = j if len(j) & 1 else j + b""  # either parity exercises the walk
    data = encode_avi_mjpg([j, j, j], w, h)
    _, _, _, _, frames = decode_avi(data)
    assert len(frames) == 3
    assert frames[0].shape == (h, w, 3)  # gray promoted to RGB


def test_honest_bounds():
    with pytest.raises(AviFormatError, match="RIFF/AVI"):
        decode_avi(b"RIFF\x10\x00\x00\x00WAVEdata")
    with pytest.raises(AviFormatError, match="at least one frame"):
        encode_avi([])
    # unsupported pixel format: 8-bit palette DIB
    frames = _frames(2, 4, n=1)
    data = bytearray(encode_avi(frames))
    strf_bitcount = data.index(b"strf") + 8 + 14
    data[strf_bitcount:strf_bitcount + 2] = (8).to_bytes(2, "little")
    with pytest.raises(AviFormatError, match="BI_RGB 24-bit and MJPG"):
        decode_avi(bytes(data))


def test_decode_video_frames_spark_plumbing(spark):
    from biggis_landuse_spark import multimodal as MM

    frames = _frames(2, 4, n=3, seed=11)
    data = encode_avi(frames, rate=25, scale=1)
    df = spark.createDataFrame(
        [(1, bytearray(data))], "doc_id long, content binary"
    )
    rows = (
        MM.decode_video_frames(df)
        .orderBy("frame_idx")
        .collect()
    )
    assert [r["frame_idx"] for r in rows] == [0, 1, 2]
    assert all((r["width"], r["height"]) == (4, 2) for r in rows)
    assert all((r["fps_rate"], r["fps_scale"]) == (25, 1) for r in rows)
    got = np.array(rows[0]["pixels"]).reshape(2, 4, 3)
    assert np.allclose(got, frames[0].astype(float) / 255.0)


def test_media_video_frames_total_on_empty_and_null_text(spark, tmp_path):
    # the registry query must drop NULL/empty docs on BOTH sides and
    # return zero rows on an empty corpus, never throw
    from pyspark.sql import functions as F

    from biggis_landuse_spark.queries import (
        REGISTRY,
        _ensure_loaded,
        release_caches,
    )
    from tests.conftest import SF_DIR

    _ensure_loaded()
    out = tmp_path / "corpus"
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    docs.withColumn(
        "text",
        F.when(F.col("doc_id") % 2 == 0, F.lit(None)).otherwise(
            F.lit("")
        ),
    ).write.parquet(str(out / "documents.parquet"))
    try:
        assert REGISTRY["media_video_frames"].spark(
            spark, str(out)
        ).count() == 0
    finally:
        release_caches()


def test_audio_stream_first_video_is_stream_one():
    # r7 review fix: the audio strl's strf (a WAVEFORMATEX) must not
    # clobber the video BITMAPINFOHEADER, and frame chunks must be
    # matched by the vids stream's INDEX ('01db' here), not by a
    # hardcoded '00'
    import struct

    frames = _frames(2, 4, n=2)
    data = encode_avi(frames)
    # rebuild: insert an audio strl BEFORE the video strl and renumber
    # the frame chunks to stream 01
    auds_strh = (
        b"auds" + b"\x00" * 4
        + struct.pack("<IHHIIIIIIiI4H", 0, 0, 0, 0, 1, 8000, 0, 0, 0,
                      -1, 1, 0, 0, 0, 0)
    )
    # a 20-byte WAVEFORMATEX-ish strf whose fields would parse as a
    # nonsense BITMAPINFOHEADER if the guard were missing
    auds_strf = struct.pack("<HHIIHHI", 85, 2, 8000, 16000, 2, 16, 0)[:20]
    auds_strl = (
        b"strl"
        + b"strh" + struct.pack("<I", len(auds_strh)) + auds_strh
        + b"strf" + struct.pack("<I", len(auds_strf)) + auds_strf
    )
    hdrl_at = data.index(b"hdrl")
    strl_at = data.index(b"LIST", hdrl_at)
    patched = (
        data[:strl_at]
        + b"LIST" + struct.pack("<I", len(auds_strl)) + auds_strl
        + data[strl_at:]
    ).replace(b"00db", b"01db")
    # fix the RIFF and hdrl LIST sizes the insertion grew
    grown = 8 + len(auds_strl)
    patched = bytearray(patched)
    patched[4:8] = struct.pack(
        "<I", struct.unpack("<I", patched[4:8])[0] + grown
    )
    hdrl_size_at = patched.index(b"hdrl") - 4
    patched[hdrl_size_at:hdrl_size_at + 4] = struct.pack(
        "<I",
        struct.unpack("<I", patched[hdrl_size_at:hdrl_size_at + 4])[0]
        + grown,
    )
    width, height, rate, scale, out = decode_avi(bytes(patched))
    assert (width, height) == (4, 2)
    assert len(out) == 2
    for a, b in zip(frames, out):
        assert np.array_equal(a, b)
