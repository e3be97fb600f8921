"""Pure-Python GIF decoder.

GIF87a/89a is fully decodable with stdlib-only code: the container is
a sequence of blocks and the pixel data is LZW with variable-width
codes (public spec, CompuServe 1989/W3C). This gives the image hash
a real pixel path for GIF payloads beside PNG and JPEG.

Supported: global/local color tables, interlaced and non-interlaced
frames, 89a extensions (skipped), first frame decoded.
"""

from __future__ import annotations

import struct

import numpy as np

_TRAILER = 0x3B
_IMAGE = 0x2C
_EXTENSION = 0x21


def gif_decode(data: bytes) -> np.ndarray:
    """First frame of a GIF → (H, W, 3) uint8 RGB array."""
    if data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    sw, sh, flags, _bg, _ar = struct.unpack("<HHBBB", data[6:13])
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        gct = np.frombuffer(data[pos : pos + 3 * n], dtype=np.uint8).reshape(n, 3)
        pos += 3 * n
    while pos < len(data):
        block = data[pos]
        pos += 1
        if block == _TRAILER:
            break
        if block == _EXTENSION:
            pos += 1  # label
            while data[pos] != 0:  # skip sub-blocks
                pos += 1 + data[pos]
            pos += 1
            continue
        if block != _IMAGE:
            raise ValueError(f"unexpected GIF block 0x{block:02x}")
        ix, iy, iw, ih, iflags = struct.unpack("<HHHHB", data[pos : pos + 9])
        pos += 9
        ct = gct
        if iflags & 0x80:
            n = 2 << (iflags & 0x07)
            ct = np.frombuffer(data[pos : pos + 3 * n], dtype=np.uint8).reshape(n, 3)
            pos += 3 * n
        if ct is None:
            raise ValueError("GIF frame without a color table")
        min_code_size = data[pos]
        pos += 1
        chunks = []
        while data[pos] != 0:
            ln = data[pos]
            chunks.append(data[pos + 1 : pos + 1 + ln])
            pos += 1 + ln
        pos += 1
        indices = _lzw_decode(b"".join(chunks), min_code_size, iw * ih)
        idx = np.array(indices[: iw * ih], dtype=np.int32).reshape(ih, iw)
        if iflags & 0x40:  # interlaced: rows in 4 passes
            order = (
                list(range(0, ih, 8))
                + list(range(4, ih, 8))
                + list(range(2, ih, 4))
                + list(range(1, ih, 2))
            )
            de = np.zeros_like(idx)
            de[order] = idx
            idx = de
        return ct[np.clip(idx, 0, len(ct) - 1)]
    raise ValueError("no image block in GIF")


def _lzw_decode(data: bytes, min_code_size: int, max_pixels: int) -> list[int]:
    clear = 1 << min_code_size
    eoi = clear + 1
    code_size = min_code_size + 1
    table: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    out: list[int] = []
    prev: bytes | None = None
    acc = bits = 0
    for byte in data:
        acc |= byte << bits
        bits += 8
        while bits >= code_size:
            code = acc & ((1 << code_size) - 1)
            acc >>= code_size
            bits -= code_size
            if code == clear:
                table = [bytes([i]) for i in range(clear)] + [b"", b""]
                code_size = min_code_size + 1
                prev = None
                continue
            if code == eoi:
                return out
            if prev is None:
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            else:  # the KwKwK case
                entry = prev + prev[:1]
                table.append(entry)
            out.extend(entry)
            if len(out) >= max_pixels:
                return out
            prev = entry
            if len(table) == (1 << code_size) and code_size < 12:
                code_size += 1
    return out
