"""Uncompressed and MJPG AVI codec."""

from __future__ import annotations

import numpy as np
import pytest

from docling_eval_spark.operators.avi_codec import avi_decode, avi_encode


def _fixture_frames(n=8, h=10, w=7, seed=3):
    rng = np.random.RandomState(seed)
    return rng.randint(0, 256, size=(n, h, w, 3), dtype=np.uint8)


def test_avi_roundtrip_exact_pixels():
    frames = _fixture_frames()  # w=7 → rows need 4-byte padding
    data = avi_encode(frames, fps=12.0)
    got, fps = avi_decode(data)
    assert got.shape == frames.shape
    assert np.array_equal(got, frames)
    assert abs(fps - 12.0) < 1e-6


def test_avi_rejects_compressed_stream():
    frames = _fixture_frames(2)
    data = bytearray(avi_encode(frames))
    # flip biCompression in strf (BI_RGB=0 → fourcc 'H264')
    idx = data.find(b"strf")
    data[idx + 8 + 16 : idx + 8 + 20] = b"H264"
    with pytest.raises(ValueError, match="compression"):
        avi_decode(bytes(data))
    # MJPG fourcc over non-JPEG chunk bytes must also fail loudly
    data[idx + 8 + 16 : idx + 8 + 20] = b"MJPG"
    with pytest.raises(ValueError):
        avi_decode(bytes(data))


def test_video_features_real_vs_fake():
    """The temporal hash reads decoded frames: a still clip has no
    energy drop between frame groups (hash 0), a clip that darkens
    every frame sets all 64 bits, and bytes that are no AVI hash None."""
    from docling_eval_spark.operators.multimodal import video_thash

    still = np.full((65, 6, 6, 3), 128, dtype=np.uint8)
    assert video_thash(avi_encode(still, fps=5.0)) == 0
    fading = np.stack(
        [np.full((6, 6, 3), 200 - 2 * i, dtype=np.uint8) for i in range(65)]
    )
    assert video_thash(avi_encode(fading)) == -1  # all 64 bits, signed i64
    assert video_thash(b"\x00\x01" * 100) is None


def test_avi_malformed_header_degrades_not_crashes(spark):
    import struct

    from docling_eval_spark.operators.multimodal import video_thash_stage

    frames = _fixture_frames(2, h=6, w=6)
    data = bytearray(avi_encode(frames))
    # declare absurd dimensions in BOTH headers (avih + BMIH agree, so
    # only the plausibility guard can save us)
    huge = 0x40000000
    i = data.find(b"avih") + 8
    data[i + 32 : i + 40] = struct.pack("<II", huge, huge)
    j = data.find(b"strf") + 8
    data[j + 4 : j + 12] = struct.pack("<ii", huge, huge)
    with pytest.raises(ValueError, match="implausible"):
        avi_decode(bytes(data))
    # through the hash stage: a NULL hash, never a task failure
    df = spark.createDataFrame(
        [("bad", bytearray(bytes(data)))], "url string, media binary"
    )
    rows = video_thash_stage(df).collect()
    assert rows and all(r["thash"] is None for r in rows)


def test_avi_header_dimension_mismatch_rejected():
    import struct

    frames = _fixture_frames(2, h=6, w=6)
    data = bytearray(avi_encode(frames))
    i = data.find(b"avih") + 8
    data[i + 32 : i + 36] = struct.pack("<I", 12)  # avih width != BMIH
    with pytest.raises(ValueError, match="disagrees"):
        avi_decode(bytes(data))


def test_avi_top_down_dib_and_selective_decode():
    import numpy as np
    import struct

    frames = _fixture_frames(5, h=4, w=4)
    data = bytearray(avi_encode(frames))
    got, _ = avi_decode(bytes(data))
    assert np.array_equal(got, frames)
    # top-down: negate biHeight; stored rows are bottom-up so the
    # decoded frames should now be vertically flipped
    j = data.find(b"strf") + 8
    (h,) = struct.unpack("<i", data[j + 8 : j + 12])
    data[j + 8 : j + 12] = struct.pack("<i", -h)
    flipped, _ = avi_decode(bytes(data))
    assert np.array_equal(flipped, frames[:, ::-1])


def test_avi_mjpg_real_decode():
    import numpy as np

    # smooth gradient frames (JPEG-friendly); decode is lossy so
    # compare within a tolerance, plus exact dims and frame count
    h, w = 16, 24
    yy, xx = np.mgrid[0:h, 0:w]
    frames = np.stack(
        [
            np.stack(
                [(xx * 10 + t * 3) % 256, (yy * 8) % 256,
                 ((xx + yy) * 4) % 256], axis=-1
            ).astype(np.uint8)
            for t in range(4)
        ]
    )
    data = avi_encode(frames, fps=6.0, codec="mjpg")
    got, fps = avi_decode(data)
    assert got.shape == frames.shape and abs(fps - 6.0) < 1e-6
    err = np.abs(got.astype(int) - frames.astype(int)).mean()
    assert err < 12.0  # lossy but clearly the same pixels
