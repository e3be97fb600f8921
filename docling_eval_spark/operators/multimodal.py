"""Multimodal near-duplicate hashing over binary media columns.

The reference stores page renders and picture crops as image columns
(`benchmarks/utils.py:48-65` Features schema with Sequence(Image),
crop at `utils.py:406-436`). At web scale the engine treats media as
``binary`` columns processed by Arrow-batched kernels over
``mapInPandas``.

Each medium gets a 64-bit perceptual hash computed from real samples
(image dHash, audio energy hash, video temporal hash) and a
near-duplicate pair join on Hamming distance. Pixels come from the
pure-Python+numpy codecs ``operators.png_codec`` (zlib + the five spec
scanline filters), ``operators.gif_codec`` (variable-width LZW),
``operators.jpeg_codec`` (T.81 baseline + progressive,
4:4:4/4:2:2/4:2:0, DRI/RSTn) and ``operators.avi_codec`` (RIFF DIB and
MJPG frames); WAV needs no codec. A payload no codec decodes hashes to
NULL.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
import pyspark.sql.types as T
from pyspark.sql import DataFrame


def decode_pixels(data: bytes):
    """bytes → (H, W, C) uint8 for the formats with real codecs
    (PNG, GIF, baseline JPEG); raises on anything else."""
    if data[:8] == b"\x89PNG\r\n\x1a\n":
        from docling_eval_spark.operators.png_codec import png_decode

        return png_decode(data)
    if data[:6] in (b"GIF87a", b"GIF89a"):
        from docling_eval_spark.operators.gif_codec import gif_decode

        return gif_decode(data)
    if data[:2] == b"\xff\xd8":
        from docling_eval_spark.operators.jpeg_codec import jpeg_decode

        return jpeg_decode(data)  # baseline+progressive; else ValueError → fake
    raise ValueError("no real codec for this payload")


# ------------------------------------------------------------------ audio


def wav_decode(data: bytes):
    """RIFF/WAVE PCM (8/16-bit) → (samples float64 in [-1,1] shaped
    (n, channels), sample_rate). Pure stdlib+numpy — WAV needs no
    codec. Raises ValueError on non-PCM/compressed payloads."""
    import struct as st

    import numpy as np

    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a WAV")
    pos = 12
    fmt = None
    samples = None
    while pos + 8 <= len(data):
        tag = data[pos : pos + 4]
        (ln,) = st.unpack("<I", data[pos + 4 : pos + 8])
        body = data[pos + 8 : pos + 8 + ln]
        pos += 8 + ln + (ln & 1)
        if tag == b"fmt ":
            fmt = st.unpack("<HHIIHH", body[:16])
        elif tag == b"data":
            samples = body
    if fmt is None or samples is None:
        raise ValueError("truncated WAV")
    audio_fmt, channels, rate, _, _, bits = fmt
    if audio_fmt != 1 or bits not in (8, 16):
        raise ValueError("only 8/16-bit PCM WAV supported")
    if bits == 16:
        arr = np.frombuffer(samples, dtype="<i2").astype(np.float64) / 32768.0
    else:
        arr = (np.frombuffer(samples, dtype=np.uint8).astype(np.float64) - 128.0) / 128.0
    n = (len(arr) // channels) * channels
    return arr[:n].reshape(-1, channels), rate


# ---------------------------------------------------------- perceptual hash

def image_dhash(data: bytes) -> int | None:
    """64-bit difference hash (dHash) of a decodable image, else None.

    The standard perceptual near-dup signature (public technique:
    gradient/difference hashing as popularized for web-scale image
    dedup): grayscale → 8x9 box-mean grid → bit j (= r*8+c) set iff
    grid[r, c] > grid[r, c+1]. Invariant to uniform brightness shifts
    and any monotone per-pixel transform that preserves cell-mean
    ordering; robust to recompression noise within a few bits. Returned
    as a SIGNED i64 (two's complement) so it lands in a Spark LongType
    column and Hamming distance is ``bit_count(a ^ b)``.
    """
    import numpy as np

    try:
        px = decode_pixels(data)
    except Exception:
        return None
    a = px.astype(np.int64)
    if a.ndim == 3:
        if a.shape[2] >= 3:  # integer ITU-R 601 luma (deterministic)
            gray = (299 * a[..., 0] + 587 * a[..., 1] + 114 * a[..., 2]) // 1000
        else:
            gray = a[..., 0]
    else:
        gray = a
    if gray.shape[0] < 8 or gray.shape[1] < 9:  # too small for the grid
        return None
    grid = np.empty((8, 9), dtype=np.float64)
    for r, band in enumerate(np.array_split(gray, 8, axis=0)):
        for c, cell in enumerate(np.array_split(band, 9, axis=1)):
            grid[r, c] = cell.mean()
    bits = (grid[:, :-1] > grid[:, 1:]).ravel()  # row-major: j = r*8 + c
    val = np.uint64(0)
    one = np.uint64(1)
    for j in np.nonzero(bits)[0]:
        val |= one << np.uint64(j)
    return int(val.astype(np.int64))


def image_dhash_stage(
    df: DataFrame, binary_col: str = "media", out_col: str = "dhash"
) -> DataFrame:
    """Append the dHash (nullable long) for a binary image column."""
    fields = [f.name for f in df.schema.fields]
    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField(out_col, T.LongType())]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf[fields].copy()
            out[out_col] = pd.array(
                [
                    image_dhash(b) if b is not None else None
                    for b in pdf[binary_col]
                ],
                dtype="Int64",
            )
            yield out

    return df.mapInPandas(kernel, schema=out_schema)


def image_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    binary_col: str = "media",
    max_hamming: int = 2,
) -> DataFrame:
    """Near-duplicate image pairs by dHash Hamming distance — the
    LAION-style image-dedup step, over an opaque binary column.

    Scale shape: decode + hash are one Arrow-batched narrow pass; the
    candidate join reuses ``dedup.simhash_near_pairs``'s pigeonhole
    block scheme (two hashes within distance d must agree on one of
    d+1 disjoint bit blocks), so the only shuffle is the slim
    (block, block_val) equi-join on 16-byte rows — never all-pairs.
    Undecodable payloads (dhash NULL) are excluded, never paired.
    Output: (id_l < id_r, hamming).
    """
    from docling_eval_spark.operators.dedup import simhash_near_pairs

    import pyspark.sql.functions as F

    sigs = (
        image_dhash_stage(df.select(id_col, binary_col), binary_col)
        .filter(F.col("dhash").isNotNull())
        .select(F.col(id_col).cast("long").alias("id"), F.col("dhash").alias("simhash"))
    )
    # The pigeonhole join self-joins two differently-aliased branches,
    # which Spark plans as two INDEPENDENT subtrees — without pinning,
    # the decode kernel would run twice (verified: 4 MapInPandas nodes
    # in the unpinned plan). Eagerly checkpoint the slim (id, dhash)
    # projection (16 B/row — for 10^9 images ~16 GB across the
    # cluster) so both branches read one materialization and pixels
    # are decoded exactly once.
    sigs = sigs.localCheckpoint(eager=True)
    return simhash_near_pairs(sigs, max_hamming=max_hamming)


def cell_grid_image(seed: str | int, brightness: int = 0) -> bytes:
    """Deterministic 72x64 grayscale PNG whose 8x9 dHash grid is
    ANALYTIC: cell (r, c) (k = r*9+c) is filled with
    ``int(md5(f"{seed}:{k}")[:2], 16) % 201 + brightness`` over an
    8x8-pixel block, so the box means recover the cell values exactly
    and the expected dHash is computable from the seed alone (the
    oracle recomputes it in SQL). ``brightness`` <= 54 never clips, so
    a brightness-shifted twin has the identical dHash — the fixture
    for near-dup pairing tests and the driver-gated oracle query."""
    import numpy as np

    from docling_eval_spark.operators.png_codec import png_encode

    cells = np.empty((8, 9), dtype=np.uint8)
    for k in range(72):
        v = int(hashlib.md5(f"{seed}:{k}".encode()).hexdigest()[:2], 16) % 201
        cells[k // 9, k % 9] = v + brightness
    return png_encode(np.repeat(np.repeat(cells, 8, axis=0), 8, axis=1))


def cell_grid_image_stage(
    df: DataFrame,
    seed_col: str = "seed",
    brightness_col: str = "bright",
    out_col: str = "media",
) -> DataFrame:
    """Render ``cell_grid_image`` per row (executor-side, Arrow-batched)."""
    fields = [f.name for f in df.schema.fields]
    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField(out_col, T.BinaryType())]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf[fields].copy()
            out[out_col] = [
                cell_grid_image(s, int(b))
                for s, b in zip(pdf[seed_col], pdf[brightness_col])
            ]
            yield out

    return df.mapInPandas(kernel, schema=out_schema)


def audio_ehash(data: bytes) -> int | None:
    """64-bit energy-difference hash of a decodable PCM WAV, else None.

    The audio twin of ``image_dhash`` (public technique family:
    frame-energy fingerprinting): mono mix → 65 equal frames → RMS per
    frame → bit j (0..63) set iff rms[j] > rms[j+1]. Invariant to
    uniform gain (any positive scale preserves the RMS ordering) and
    robust to low-level noise; returned as a signed i64 for LongType +
    ``bit_count(a ^ b)`` Hamming distance."""
    import numpy as np

    try:
        arr, _rate = wav_decode(data)
    except Exception:
        return None
    mono = arr.mean(axis=1)
    if mono.shape[0] < 65:
        return None
    rms = np.array(
        [float(np.sqrt((f * f).mean())) for f in np.array_split(mono, 65)]
    )
    bits = rms[:-1] > rms[1:]
    val = np.uint64(0)
    one = np.uint64(1)
    for j in np.nonzero(bits)[0]:
        val |= one << np.uint64(j)
    return int(val.astype(np.int64))


def audio_ehash_stage(
    df: DataFrame, binary_col: str = "media", out_col: str = "ehash"
) -> DataFrame:
    """Append the energy hash (nullable long) for a binary WAV column."""
    fields = [f.name for f in df.schema.fields]
    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField(out_col, T.LongType())]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf[fields].copy()
            out[out_col] = pd.array(
                [
                    audio_ehash(b) if b is not None else None
                    for b in pdf[binary_col]
                ],
                dtype="Int64",
            )
            yield out

    return df.mapInPandas(kernel, schema=out_schema)


def audio_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    binary_col: str = "media",
    max_hamming: int = 2,
) -> DataFrame:
    """Near-duplicate audio pairs by energy-hash Hamming distance —
    same scale shape as ``image_near_dup_pairs`` (one Arrow-batched
    decode pass, eager checkpoint of the slim (id, hash) projection,
    pigeonhole Hamming-block join). Undecodable payloads never pair."""
    from docling_eval_spark.operators.dedup import simhash_near_pairs

    import pyspark.sql.functions as F

    sigs = (
        audio_ehash_stage(df.select(id_col, binary_col), binary_col)
        .filter(F.col("ehash").isNotNull())
        .select(F.col(id_col).cast("long").alias("id"), F.col("ehash").alias("simhash"))
    )
    sigs = sigs.localCheckpoint(eager=True)  # decode once, not per branch
    return simhash_near_pairs(sigs, max_hamming=max_hamming)


def tone_block_wav(seed: str | int, gain: int = 1) -> bytes:
    """Deterministic mono 16-bit PCM WAV whose energy hash is
    ANALYTIC: frame k (k = 0..64, 64 samples each) holds the constant
    sample ``(int(md5(f"{seed}:{k}")[:2], 16) % 201) * 64 * gain``, so
    per-frame RMS recovers the cell value exactly (dyadic /32768
    scaling; sqrt of an exact square) and the expected hash is
    computable from the seed alone. ``gain`` in [1, 2] never clips
    (200*64*2 = 25600 < 32767), so a gain-scaled twin has the
    identical hash — the audio analogue of the brightness-twin PNG."""
    import struct as st

    import numpy as np

    vals = np.empty(65 * 64, dtype="<i2")
    for k in range(65):
        v = int(hashlib.md5(f"{seed}:{k}".encode()).hexdigest()[:2], 16) % 201
        vals[k * 64 : (k + 1) * 64] = v * 64 * gain
    pcm = vals.tobytes()
    hdr = st.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF", 36 + len(pcm), b"WAVE", b"fmt ", 16, 1, 1, 16000,
        16000 * 2, 2, 16, b"data", len(pcm),
    )
    return hdr + pcm


def tone_block_wav_stage(
    df: DataFrame,
    seed_col: str = "seed",
    gain_col: str = "gain",
    out_col: str = "media",
) -> DataFrame:
    """Render ``tone_block_wav`` per row (executor-side, Arrow-batched)."""
    fields = [f.name for f in df.schema.fields]
    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField(out_col, T.BinaryType())]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf[fields].copy()
            out[out_col] = [
                tone_block_wav(s, int(g))
                for s, g in zip(pdf[seed_col], pdf[gain_col])
            ]
            yield out

    return df.mapInPandas(kernel, schema=out_schema)


def video_thash(data: bytes) -> int | None:
    """64-bit temporal-energy hash of a decodable AVI, else None.

    The video member of the near-dup hash family (image dHash / audio
    energy hash): per-frame mean intensity → 65 equal frame groups →
    bit j (0..63) set iff energy[j] > energy[j+1]. Invariant to
    uniform brightness shifts and any monotone intensity transform
    that preserves the per-frame ordering; videos shorter than 65
    frames hash None."""
    import numpy as np

    from docling_eval_spark.operators.avi_codec import avi_decode

    try:
        frames, _fps = avi_decode(data)
    except Exception:
        return None
    if frames.shape[0] < 65:
        return None
    per_frame = frames.reshape(frames.shape[0], -1).mean(axis=1)
    energy = np.array([float(g.mean()) for g in np.array_split(per_frame, 65)])
    bits = energy[:-1] > energy[1:]
    val = np.uint64(0)
    one = np.uint64(1)
    for j in np.nonzero(bits)[0]:
        val |= one << np.uint64(j)
    return int(val.astype(np.int64))


def video_thash_stage(
    df: DataFrame, binary_col: str = "media", out_col: str = "thash"
) -> DataFrame:
    """Append the temporal hash (nullable long) for a binary AVI column."""
    fields = [f.name for f in df.schema.fields]
    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField(out_col, T.LongType())]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf[fields].copy()
            out[out_col] = pd.array(
                [
                    video_thash(b) if b is not None else None
                    for b in pdf[binary_col]
                ],
                dtype="Int64",
            )
            yield out

    return df.mapInPandas(kernel, schema=out_schema)


def video_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    binary_col: str = "media",
    max_hamming: int = 2,
) -> DataFrame:
    """Near-duplicate video pairs by temporal-hash Hamming distance —
    same scale shape as the image/audio twins (one Arrow-batched
    decode pass, eager checkpoint of the slim (id, hash) projection,
    pigeonhole Hamming-block join). Undecodable payloads never pair."""
    from docling_eval_spark.operators.dedup import simhash_near_pairs

    import pyspark.sql.functions as F

    sigs = (
        video_thash_stage(df.select(id_col, binary_col), binary_col)
        .filter(F.col("thash").isNotNull())
        .select(F.col(id_col).cast("long").alias("id"), F.col("thash").alias("simhash"))
    )
    sigs = sigs.localCheckpoint(eager=True)  # decode once, not per branch
    return simhash_near_pairs(sigs, max_hamming=max_hamming)


def tone_block_avi(seed: str | int, brightness: int = 0) -> bytes:
    """Deterministic 65-frame 8x8 DIB AVI whose temporal hash is
    ANALYTIC: frame k is a constant gray level
    ``int(md5(f"{seed}:{k}")[:2], 16) % 201 + brightness`` (mean
    intensity recovers the value exactly), so the expected hash is
    computable from the seed alone. ``brightness`` <= 54 never clips,
    so a brightness-shifted twin has the identical hash — the video
    analogue of the brightness-twin PNG / gain-twin WAV."""
    import numpy as np

    from docling_eval_spark.operators.avi_codec import avi_encode

    frames = np.empty((65, 8, 8, 3), dtype=np.uint8)
    for k in range(65):
        v = int(hashlib.md5(f"{seed}:{k}".encode()).hexdigest()[:2], 16) % 201
        frames[k] = v + brightness
    return avi_encode(frames, fps=10.0, codec="dib")


def tone_block_avi_stage(
    df: DataFrame,
    seed_col: str = "seed",
    brightness_col: str = "bright",
    out_col: str = "media",
) -> DataFrame:
    """Render ``tone_block_avi`` per row (executor-side, Arrow-batched)."""
    fields = [f.name for f in df.schema.fields]
    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField(out_col, T.BinaryType())]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf[fields].copy()
            out[out_col] = [
                tone_block_avi(s, int(b))
                for s, b in zip(pdf[seed_col], pdf[brightness_col])
            ]
            yield out

    return df.mapInPandas(kernel, schema=out_schema)
