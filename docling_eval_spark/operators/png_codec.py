"""Pure-Python + numpy PNG codec (encoder + decoder).

No raster libraries exist in this container, but PNG needs only zlib
(stdlib) plus the five scanline filters of the public PNG spec
(RFC 2083 / ISO 15948 §9): None, Sub, Up, Average, Paeth. That makes
real pixel-level image ops implementable without PIL: this module is
the codec behind operators.multimodal's image hash for PNG payloads
and behind the reports' PNG histograms.

Supported: 8-bit depth, color types 0 (gray), 2 (RGB), 4 (gray+alpha),
6 (RGBA), no interlacing. Anything else raises ValueError (the image hash is
then NULL).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_SIG = b"\x89PNG\r\n\x1a\n"
_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def _chunk(tag: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def png_encode(arr: np.ndarray, filter_type: int = 0) -> bytes:
    """(H, W) gray or (H, W, {1,2,3,4}) uint8 array → PNG bytes.

    ``filter_type`` applies one spec filter to every scanline (encoding
    filters against the ORIGINAL neighbor bytes, so it vectorizes);
    0 is the simple default, 1-4 exist mainly so the decoder's
    unfiltering paths can be round-trip tested."""
    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        a = a[:, :, None]
    h, w, ch = a.shape
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    flat = a.reshape(h, w * ch).astype(np.int16)
    zero = np.zeros((1, w * ch), dtype=np.int16)
    up = np.vstack([zero, flat[:-1]])
    left = np.zeros_like(flat)
    left[:, ch:] = flat[:, :-ch]
    ul = np.zeros_like(flat)
    ul[1:, ch:] = flat[:-1, :-ch]
    if filter_type == 0:
        filt = flat
    elif filter_type == 1:
        filt = flat - left
    elif filter_type == 2:
        filt = flat - up
    elif filter_type == 3:
        filt = flat - (left + up) // 2
    elif filter_type == 4:
        filt = flat - _paeth(
            left.astype(np.uint8), up.astype(np.uint8), ul.astype(np.uint8)
        )
    else:
        raise ValueError(f"unknown filter type {filter_type}")
    filt = (filt & 0xFF).astype(np.uint8)
    raw = b"".join(
        bytes([filter_type]) + filt[r].tobytes() for r in range(h)
    )
    return (
        _SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw))
        + _chunk(b"IEND", b"")
    )


def _paeth(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Paeth predictor, vectorized (spec §9.4)."""
    p = a.astype(np.int16) + b.astype(np.int16) - c.astype(np.int16)
    pa = np.abs(p - a)
    pb = np.abs(p - b)
    pc = np.abs(p - c)
    out = np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))
    return out.astype(np.uint8)


def png_decode(data: bytes) -> np.ndarray:
    """PNG bytes → (H, W, C) uint8 array. Raises ValueError on
    unsupported variants (caller may degrade)."""
    if data[:8] != _SIG:
        raise ValueError("not a PNG")
    pos = 8
    width = height = None
    bit_depth = color_type = interlace = None
    idat = bytearray()
    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            width, height, bit_depth, color_type, _, _, interlace = struct.unpack(
                ">IIBBBBB", body
            )
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
    if width is None or not idat:
        raise ValueError("truncated PNG")
    if bit_depth != 8 or interlace != 0 or color_type not in _CHANNELS:
        raise ValueError(
            f"unsupported PNG variant (depth={bit_depth}, color={color_type}, "
            f"interlace={interlace})"
        )
    ch = _CHANNELS[color_type]
    raw = zlib.decompress(bytes(idat))
    stride = width * ch
    if len(raw) != height * (stride + 1):
        raise ValueError("bad scanline data length")
    out = np.zeros((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for r in range(height):
        ftype = raw[r * (stride + 1)]
        line = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=r * (stride + 1) + 1
        ).copy()
        if ftype == 0:
            cur = line
        elif ftype == 1:  # Sub — sequential in pixel units
            cur = line
            for i in range(ch, stride):
                cur[i] = (int(cur[i]) + int(cur[i - ch])) & 0xFF
        elif ftype == 2:  # Up
            cur = (line.astype(np.int16) + prev).astype(np.uint8)
        elif ftype == 3:  # Average
            cur = line
            for i in range(stride):
                left = int(cur[i - ch]) if i >= ch else 0
                cur[i] = (int(cur[i]) + (left + int(prev[i])) // 2) & 0xFF
        elif ftype == 4:  # Paeth
            cur = line
            for i in range(stride):
                left = cur[i - ch] if i >= ch else np.uint8(0)
                ul = prev[i - ch] if i >= ch else np.uint8(0)
                cur[i] = (
                    int(cur[i]) + int(_paeth(left, prev[i], ul))
                ) & 0xFF
        else:
            raise ValueError(f"unknown filter type {ftype}")
        out[r] = cur
        prev = out[r]
    return out.reshape(height, width, ch)
