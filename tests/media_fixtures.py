"""Media fixture writers for the tests: encoders whose decoders the
package runs (``gif_codec.gif_decode``, ``multimodal.wav_decode`` and the
progressive path of ``jpeg_codec.jpeg_decode``) but which no shipped code
calls itself."""

from __future__ import annotations

import struct

import numpy as np

from docling_eval_spark.operators.gif_codec import _IMAGE, _TRAILER
from docling_eval_spark.operators.jpeg_codec import (
    _AC_SPEC,
    _D,
    _DC_SPEC,
    _Q_FLAT,
    _ZZ,
    _BitWriter,
    _canonical,
    _category,
    _rgb_to_ycbcr,
)


def gif_encode(arr: np.ndarray) -> bytes:
    """(H, W, 3) uint8 → GIF89a with a 256-entry palette built from the
    image's distinct colors (must be ≤ 256) and literal LZW codes."""
    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        a = np.stack([a] * 3, axis=2)
    h, w, _ = a.shape
    flat = a.reshape(-1, 3)
    colors, idx = np.unique(flat, axis=0, return_inverse=True)
    if len(colors) > 256:
        raise ValueError("gif_encode supports <= 256 distinct colors")
    pal = np.zeros((256, 3), dtype=np.uint8)
    pal[: len(colors)] = colors
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | 0x07, 0, 0)  # GCT, 256 entries
    out += pal.tobytes()
    out += struct.pack("<BHHHHB", _IMAGE, 0, 0, w, h, 0)
    min_code_size = 8
    out.append(min_code_size)
    clear, eoi = 256, 257
    code_size = 9
    acc = bits = 0
    payload = bytearray()

    def emit(code: int) -> None:
        nonlocal acc, bits
        acc |= code << bits
        bits += code_size
        while bits >= 8:
            payload.append(acc & 0xFF)
            acc >>= 8
            bits -= 8

    emit(clear)
    for n, px in enumerate(idx.tolist()):
        emit(int(px))
        # re-clear before the (never-extended) table width would grow:
        # each literal after a clear appends one table entry
        if n % 250 == 249:
            emit(clear)
    emit(eoi)
    if bits:
        payload.append(acc & 0xFF)
    for i in range(0, len(payload), 255):
        chunk = payload[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out.append(0)
    out.append(_TRAILER)
    return bytes(out)


def wav_encode(samples, rate: int = 16000) -> bytes:
    """(n,) or (n, ch) float in [-1,1] → 16-bit PCM WAV."""
    a = np.asarray(samples, dtype=np.float64)
    if a.ndim == 1:
        a = a[:, None]
    pcm = (np.clip(a, -1, 1) * 32767).astype("<i2").tobytes()
    ch = a.shape[1]
    hdr = struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF", 36 + len(pcm), b"WAVE", b"fmt ", 16, 1, ch, rate,
        rate * ch * 2, ch * 2, 16, b"data", len(pcm),
    )
    return hdr + pcm


def jpeg_encode_progressive(
    arr: np.ndarray, restart_interval: int = 0
) -> bytes:
    """(H, W) gray or (H, W, 3) RGB uint8 → PROGRESSIVE (SOF2) JPEG
    bytes, 1×1 sampling, flat q=16 tables. Scan script exercises both
    progressive dimensions: DC successive approximation (first pass at
    Al=1, then a 1-bit refinement) and AC spectral selection (bands
    1-5 then 6-63 per component, EOB-run coded). """
    a = np.asarray(arr, dtype=np.float64)
    gray = a.ndim == 2
    h, w = a.shape[:2]
    planes = [a] if gray else list(np.moveaxis(_rgb_to_ycbcr(a), -1, 0))
    ncomp = len(planes)
    ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
    q = _Q_FLAT.reshape(8, 8)
    nby, nbx = ph // 8, pw // 8
    # all coefficients up front (zigzag order)
    coefs = np.zeros((ncomp, nby, nbx, 64), dtype=np.int32)
    for ci, p in enumerate(planes):
        pp = np.pad(p, ((0, ph - h), (0, pw - w)), mode="edge") - 128.0
        for by in range(nby):
            for bx in range(nbx):
                blockc = np.rint(
                    (_D @ pp[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] @ _D.T) / q
                ).astype(np.int32)
                coefs[ci, by, bx] = [blockc[r, c] for r, c in _ZZ]

    dc_bits, dc_syms, dc_codes = _canonical(_DC_SPEC)
    ac_bits, ac_syms, ac_codes = _canonical(_AC_SPEC)

    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes(
        int(x) for x in _Q_FLAT
    )
    sof = struct.pack(">HBHHB", 8 + 3 * ncomp, 8, h, w, ncomp)
    for cid in range(1, ncomp + 1):
        sof += bytes([cid, 0x11, 0])
    out += b"\xff\xc2" + sof
    for cls, (bits, syms) in ((0, (dc_bits, dc_syms)), (1, (ac_bits, ac_syms))):
        body = bytes([cls << 4]) + bytes(bits) + bytes(syms)
        out += b"\xff\xc4" + struct.pack(">H", 2 + len(body)) + body
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)

    def sos_header(comp_ids: list[int], ss: int, se: int, ah: int, al: int) -> bytes:
        b = struct.pack(">HB", 6 + 2 * len(comp_ids), len(comp_ids))
        for cid in comp_ids:
            b += bytes([cid, 0x00])
        return b"\xff\xda" + b + bytes([ss, se, (ah << 4) | al])

    # ---- scan 1: DC first pass, interleaved, Al=1
    out += sos_header(list(range(1, ncomp + 1)), 0, 0, 0, 1)
    bw = _BitWriter()
    preds = [0] * ncomp
    n = 0
    rst = 0
    for by in range(nby):
        for bx in range(nbx):
            if restart_interval and n and n % restart_interval == 0:
                bw.flush()
                out += bw.out + bytes([0xFF, 0xD0 + rst])
                rst = (rst + 1) % 8
                bw = _BitWriter()
                preds = [0] * ncomp
            for ci in range(ncomp):
                v = int(coefs[ci, by, bx, 0]) >> 1
                diff = v - preds[ci]
                preds[ci] = v
                t = _category(diff)
                code, ln = dc_codes[t]
                bw.write(code, ln)
                if t:
                    bw.write(diff if diff >= 0 else diff + (1 << t) - 1, t)
            n += 1
    bw.flush()
    out += bw.out
    # ---- scan 2: DC refinement, Ah=1 Al=0 (one bit per block).
    # DRI applies to EVERY scan after it (T.81 B.2.4.4), so restart
    # markers must be emitted here and in the AC scans too.
    out += sos_header(list(range(1, ncomp + 1)), 0, 0, 1, 0)
    bw = _BitWriter()
    n = 0
    rst = 0
    for by in range(nby):
        for bx in range(nbx):
            if restart_interval and n and n % restart_interval == 0:
                bw.flush()
                out += bw.out + bytes([0xFF, 0xD0 + rst])
                rst = (rst + 1) % 8
                bw = _BitWriter()
            for ci in range(ncomp):
                bw.write(int(coefs[ci, by, bx, 0]) & 1, 1)
            n += 1
    bw.flush()
    out += bw.out
    # ---- AC spectral-selection scans per component (Al=0)
    for ci in range(ncomp):
        for ss, se in ((1, 5), (6, 63)):
            out += sos_header([ci + 1], ss, se, 0, 0)
            bw = _BitWriter()
            n = 0
            rst = 0
            for by in range(nby):
                for bx in range(nbx):
                    if restart_interval and n and n % restart_interval == 0:
                        bw.flush()
                        out += bw.out + bytes([0xFF, 0xD0 + rst])
                        rst = (rst + 1) % 8
                        bw = _BitWriter()
                    n += 1
                    band = coefs[ci, by, bx]
                    run = 0
                    emitted = False
                    for k in range(ss, se + 1):
                        v = int(band[k])
                        if v == 0:
                            run += 1
                            continue
                        while run >= 16:
                            c, l = ac_codes[0xF0]
                            bw.write(c, l)
                            run -= 16
                        s = _category(v)
                        c, l = ac_codes[(run << 4) | s]
                        bw.write(c, l)
                        bw.write(v if v >= 0 else v + (1 << s) - 1, s)
                        run = 0
                        emitted = True
                    if run > 0 or not emitted:
                        c, l = ac_codes[0x00]  # EOB covering this block
                        bw.write(c, l)
            bw.flush()
            out += bw.out
    out += b"\xff\xd9"
    return bytes(out)
