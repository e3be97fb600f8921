"""Uncompressed AVI (RIFF) video codec — the real video pixel path.

Same role as the WAV/PNG/GIF/JPEG codecs (`multimodal.py` K11 family):
without ffmpeg/PIL, the video hash decodes RIFF AVI carrying
uncompressed DIB frames (raw bottom-up BGR, no entropy codec — the WAV
analogue) or MJPG frames (each a self-contained baseline JPEG, decoded
by the in-repo T.81 codec), parsed here from scratch.

Format per the public AVI RIFF specification (Microsoft "AVI RIFF File
Reference"): RIFF('AVI ' LIST('hdrl' avih LIST('strl' strh strf))
LIST('movi' '00db'…) [idx1]); frame chunks are BITMAPINFOHEADER
``BI_RGB`` 24-bit rows, bottom-up, each row padded to 4 bytes.
Other fourccs (H264/VP8/…) raise ValueError and the video hash is
NULL — never silent wrong pixels.
"""

from __future__ import annotations

import struct

import numpy as np

_AVIH = struct.Struct("<14I")
_BMIH = struct.Struct("<IiiHHIIiiII")
_MJPG = int.from_bytes(b"MJPG", "little")


def _walk_chunks(data: bytes, pos: int, end: int):
    """Yield (fourcc, body_start, body_len) for a RIFF chunk run."""
    while pos + 8 <= end:
        tag = data[pos : pos + 4]
        (ln,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        yield tag, pos + 8, min(ln, end - pos - 8)
        pos += 8 + ln + (ln & 1)


# safety valve: a malformed header can declare absurd dimensions; the
# decoder must degrade (ValueError → caller's fake path), never try to
# allocate the claimed buffer (MemoryError would kill the Spark task)
_MAX_FRAME_PIXELS = 64_000_000  # ~8k × 8k


def avi_decode(data: bytes):
    """AVI bytes → (frames, fps) with frames an (n, h, w, 3) uint8 RGB
    array. Uncompressed 24-bit BI_RGB and MJPG streams are supported —
    anything else raises ValueError (caller degrades to fake).

    Dimensions come from the authoritative BITMAPINFOHEADER
    (``biWidth``/``biHeight``, negative biHeight = top-down DIB) and
    are cross-checked against the avih header — a mismatch is a
    malformed file, ValueError, never silently-garbled pixels.
    """
    if data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not an AVI")
    avih_w = avih_h = None
    usec_per_frame = 0
    scale = rate = 0
    bmih = None
    frames_raw: list[bytes] = []

    def walk_list(pos: int, end: int) -> None:
        nonlocal avih_w, avih_h, usec_per_frame, scale, rate, bmih
        for tag, start, ln in _walk_chunks(data, pos, end):
            body_end = start + ln
            if tag == b"LIST":
                walk_list(start + 4, body_end)
            elif tag == b"avih" and ln >= _AVIH.size:
                v = _AVIH.unpack_from(data, start)
                usec_per_frame, avih_w, avih_h = v[0], v[8], v[9]
            elif tag == b"strh" and ln >= 32:
                if data[start : start + 4] == b"vids":
                    scale, rate = struct.unpack_from("<II", data, start + 20)
            elif tag == b"strf" and ln >= _BMIH.size and bmih is None:
                bmih = _BMIH.unpack_from(data, start)
            elif tag in (b"00db", b"00dc"):
                frames_raw.append(data[start:body_end])

    walk_list(12, len(data))
    if bmih is None or not frames_raw:
        raise ValueError("no video stream/frames found")
    width, bi_height = bmih[1], bmih[2]
    top_down = bi_height < 0
    height = abs(bi_height)
    bitcount, compression = bmih[4], bmih[5]
    is_mjpg = compression == _MJPG
    if not is_mjpg and (bitcount != 24 or compression != 0):
        raise ValueError(
            "only uncompressed 24-bit BI_RGB or MJPG AVI supported "
            f"(bitcount={bitcount}, compression={compression})"
        )
    if avih_w is not None and (avih_w, avih_h) != (width, height):
        raise ValueError(
            f"avih {avih_w}x{avih_h} disagrees with BITMAPINFOHEADER "
            f"{width}x{height}"
        )
    if width <= 0 or height <= 0 or width * height > _MAX_FRAME_PIXELS:
        raise ValueError(f"implausible frame dimensions {width}x{height}")
    row_bytes = (width * 3 + 3) & ~3
    out = np.empty((len(frames_raw), height, width, 3), dtype=np.uint8)
    for i, raw in enumerate(frames_raw):
        if is_mjpg:
            # each 00dc chunk is a self-contained JPEG; the in-repo
            # T.81 decoder handles it (MJPEG streams that omit DHT
            # tables raise there → caller's honest-fake path)
            from docling_eval_spark.operators.jpeg_codec import jpeg_decode

            img = jpeg_decode(raw)
            if img.ndim == 2:
                img = np.stack([img] * 3, axis=-1)
            if img.shape[:2] != (height, width):
                raise ValueError(
                    f"MJPG frame {i} is {img.shape[1]}x{img.shape[0]}, "
                    f"header says {width}x{height}"
                )
            out[i] = img
            continue
        if len(raw) < row_bytes * height:
            raise ValueError("truncated frame %d" % i)
        rows = np.frombuffer(raw[: row_bytes * height], dtype=np.uint8)
        rows = rows.reshape(height, row_bytes)[:, : width * 3]
        bgr = rows.reshape(height, width, 3)
        if not top_down:
            bgr = bgr[::-1]  # bottom-up DIB → top-down
        out[i] = bgr[:, :, ::-1]  # BGR → RGB
    fps = (
        rate / scale
        if scale
        else (1e6 / usec_per_frame if usec_per_frame else 0.0)
    )
    return out, fps


def avi_encode(
    frames: np.ndarray, fps: float = 10.0, codec: str = "dib"
) -> bytes:
    """(n, h, w, 3) uint8 RGB → AVI (fixtures). ``codec``: 'dib' =
    uncompressed 24-bit bottom-up frames; 'mjpg' = per-frame baseline
    JPEG 00dc chunks (the common webcam/capture format)."""
    frames = np.asarray(frames, dtype=np.uint8)
    n, h, w, _ = frames.shape
    row_bytes = (w * 3 + 3) & ~3
    frame_size = row_bytes * h
    mjpg = codec == "mjpg"

    def chunk(tag: bytes, body: bytes) -> bytes:
        return tag + struct.pack("<I", len(body)) + body + (b"\x00" * (len(body) & 1))

    def lst(fourcc: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", fourcc + body)

    avih = _AVIH.pack(
        int(1e6 / fps), frame_size * int(fps), 0, 0x10, n, 0, 1,
        frame_size, w, h, 0, 0, 0, 0,
    )
    strh = (
        b"vids" + (b"MJPG" if mjpg else b"DIB ")
        + struct.pack("<IHHIIIIIIII", 0, 0, 0, 0,
        1000, int(fps * 1000), 0, n, frame_size, 10000, 0)
        + struct.pack("<4H", 0, 0, w, h)
    )
    strf = _BMIH.pack(
        40, w, h, 1, 24, _MJPG if mjpg else 0, frame_size, 0, 0, 0, 0
    )
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    movi_parts = []
    for f in frames:
        if mjpg:
            from docling_eval_spark.operators.jpeg_codec import jpeg_encode

            movi_parts.append(chunk(b"00dc", jpeg_encode(f)))
            continue
        # top-down RGB → bottom-up BGR, rows padded to 4 bytes
        bgr = f[::-1, :, ::-1]
        if row_bytes != w * 3:
            padded = np.zeros((h, row_bytes), dtype=np.uint8)
            padded[:, : w * 3] = bgr.reshape(h, w * 3)
            body = padded.tobytes()
        else:
            body = bgr.tobytes()
        movi_parts.append(chunk(b"00db", body))
    movi = lst(b"movi", b"".join(movi_parts))
    riff_body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body
