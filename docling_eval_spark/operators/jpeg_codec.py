"""Pure-Python + numpy baseline JPEG codec (decoder + encoder).

Baseline sequential JPEG (ITU-T T.81, public) decodes with stdlib +
numpy: segment parsing, canonical Huffman tables read FROM THE STREAM
(DHT), dequantization (DQT), inverse zigzag, 8×8 IDCT as two matrix
multiplies, YCbCr→RGB. Supported: 8-bit baseline (SOF0), 1 or 3
components with sampling factors in {1, 2} — i.e. 4:4:4, 4:2:2 and
the dominant wild format 4:2:0 (generic MCU-interleaved decode,
nearest-neighbor chroma upsampling) — plus DRI/RSTn restart markers
(byte-realign + DC-predictor reset every restart interval) AND
progressive SOF2 (T.81 annex G: spectral selection + successive
approximation, DC and AC scans, EOB runs, refinement correction
bits). Anything else (lossless/arithmetic coding, 16-bit tables,
baseline multi-scan) raises ValueError and the image hash is NULL.

The encoder writes the MJPG frames of ``avi_codec.avi_encode``: it
writes flat quantization tables and deliberately simple fixed-length
canonical Huffman tables (every table is embedded in the stream, so
no Annex-K recall is needed; the output is spec-valid, just not
size-optimal). ``subsample="420"`` emits 2×2-subsampled chroma;
``restart_interval=n`` emits DRI + RSTn markers.
"""

from __future__ import annotations

import struct

import numpy as np

# orthonormal 8x8 DCT-II matrix — identical to T.81's FDCT scaling
_D = np.array(
    [
        [
            (np.sqrt(1 / 8) if k == 0 else np.sqrt(2 / 8))
            * np.cos((2 * n + 1) * k * np.pi / 16)
            for n in range(8)
        ]
        for k in range(8)
    ]
)


def _zigzag() -> list[tuple[int, int]]:
    order = sorted(
        ((r, c) for r in range(8) for c in range(8)),
        # T.81 order: odd diagonals walk down-left (row ascending),
        # even diagonals walk up-right (column ascending)
        key=lambda rc: (rc[0] + rc[1], rc[0] if (rc[0] + rc[1]) % 2 else rc[1]),
    )
    return order


_ZZ = _zigzag()


def _rgb_to_ycbcr(a: np.ndarray) -> np.ndarray:
    r, g, b = a[..., 0], a[..., 1], a[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    return np.stack([y, cb, cr], axis=-1)


def _ycbcr_to_rgb(a: np.ndarray) -> np.ndarray:
    y, cb, cr = a[..., 0], a[..., 1] - 128.0, a[..., 2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.clip(np.stack([r, g, b], axis=-1).round(), 0, 255).astype(np.uint8)


# ------------------------------------------------------------------ encoder

_Q_FLAT = np.full(64, 16, dtype=np.int32)  # flat table: error ≤ ~q/2 per coeff


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((code >> i) & 1)
            self.nbits += 1
            if self.nbits == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.acc = 0
                self.nbits = 0

    def flush(self) -> None:
        while self.nbits:
            self.write(1, 1)  # pad with 1s per spec


def _canonical(lengths_by_symbol: list[tuple[int, int]]):
    """[(symbol, length)] → (bits[16] counts, symbols order, code map)."""
    by_len: dict[int, list[int]] = {}
    for sym, ln in lengths_by_symbol:
        by_len.setdefault(ln, []).append(sym)
    bits = [0] * 16
    symbols: list[int] = []
    codes: dict[int, tuple[int, int]] = {}
    code = 0
    for ln in range(1, 17):
        for sym in by_len.get(ln, []):
            codes[sym] = (code, ln)
            code += 1
            bits[ln - 1] += 1
            symbols.append(sym)
        code <<= 1
    return bits, symbols, codes


# DC categories 0..11 at a fixed 4-bit length (12 ≤ 15 codes available);
# AC: all 162 baseline symbols at 8 bits (162 ≤ 255). Spec-valid prefix
# codes, embedded in DHT — optimality is irrelevant for the tests.
_DC_SPEC = [(s, 4) for s in range(12)]
_AC_SYMBOLS = [0x00, 0xF0] + [
    (run << 4) | size for run in range(16) for size in range(1, 11)
]
_AC_SPEC = [(s, 8) for s in _AC_SYMBOLS]


def _category(v: int) -> int:
    return int(v).bit_length() if v > 0 else int(-v).bit_length()


def _encode_block(
    bw: _BitWriter, coefs: np.ndarray, pred: int, dc_codes, ac_codes
) -> int:
    zz = np.array([coefs[r, c] for r, c in _ZZ], dtype=np.int32)
    diff = int(zz[0]) - pred
    t = _category(diff)
    code, ln = dc_codes[t]
    bw.write(code, ln)
    if t:
        bw.write(diff if diff >= 0 else diff + (1 << t) - 1, t)
    run = 0
    last_nz = max((i for i in range(1, 64) if zz[i]), default=0)
    for i in range(1, last_nz + 1):
        v = int(zz[i])
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
    if last_nz < 63:
        c, l = ac_codes[0x00]
        bw.write(c, l)
    return int(zz[0])


def jpeg_encode(
    arr: np.ndarray, subsample: str = "444", restart_interval: int = 0
) -> bytes:
    """(H, W) gray or (H, W, 3) RGB uint8 → baseline JPEG bytes
    (flat q=16 tables, simple embedded Huffman tables).

    ``subsample``: "444" (1×1 everywhere) or "420" (Y 2×2, chroma
    2×2-averaged — the dominant wild format). ``restart_interval`` > 0
    emits a DRI segment and an RSTn marker (byte-aligned, DC reset)
    every n MCUs."""
    if subsample not in ("444", "420"):
        raise ValueError("subsample must be '444' or '420'")
    a = np.asarray(arr, dtype=np.float64)
    gray = a.ndim == 2
    h, w = a.shape[:2]
    sub = subsample == "420" and not gray
    # per-component (plane, hi, vi); 4:2:0 pads to 16, averages chroma
    if gray:
        comps_px = [(a, 1, 1)]
    else:
        y, cb, cr = np.moveaxis(_rgb_to_ycbcr(a), -1, 0)
        if sub:
            ph16, pw16 = -(-h // 16) * 16, -(-w // 16) * 16
            cbp = np.pad(cb, ((0, ph16 - h), (0, pw16 - w)), mode="edge")
            crp = np.pad(cr, ((0, ph16 - h), (0, pw16 - w)), mode="edge")
            ds = lambda p: p.reshape(  # noqa: E731 — 2×2 box average
                p.shape[0] // 2, 2, p.shape[1] // 2, 2
            ).mean(axis=(1, 3))
            comps_px = [(y, 2, 2), (ds(cbp), 1, 1), (ds(crp), 1, 1)]
        else:
            comps_px = [(y, 1, 1), (cb, 1, 1), (cr, 1, 1)]
    hmax = max(c[1] for c in comps_px)
    vmax = max(c[2] for c in comps_px)
    mcux, mcuy = -(-w // (8 * hmax)), -(-h // (8 * vmax))
    q = _Q_FLAT.reshape(8, 8)

    dc_bits, dc_syms, dc_codes = _canonical(_DC_SPEC)
    ac_bits, ac_syms, ac_codes = _canonical(_AC_SPEC)

    out = bytearray(b"\xff\xd8")  # SOI
    zz_q = bytes(int(_Q_FLAT[i]) for i in range(64))
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + zz_q  # DQT id 0
    ncomp = len(comps_px)
    sof = struct.pack(">HBHHB", 8 + 3 * ncomp, 8, h, w, ncomp)
    for cid, (_, hi, vi) in enumerate(comps_px, start=1):
        sof += bytes([cid, (hi << 4) | vi, 0])
    out += b"\xff\xc0" + sof
    for cls, (bits, syms) in ((0, (dc_bits, dc_syms)), (1, (ac_bits, ac_syms))):
        body = bytes([cls << 4]) + bytes(bits) + bytes(syms)
        out += b"\xff\xc4" + struct.pack(">H", 2 + len(body)) + body
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    sos = struct.pack(">HB", 6 + 2 * ncomp, ncomp)
    for cid in range(1, ncomp + 1):
        sos += bytes([cid, 0x00])
    sos += b"\x00\x3f\x00"
    out += b"\xff\xda" + sos

    bw = _BitWriter()
    preds = [0] * ncomp
    padded = []
    for p, hi, vi in comps_px:
        tph, tpw = mcuy * 8 * vi, mcux * 8 * hi
        padded.append(
            np.pad(
                p,
                ((0, tph - p.shape[0]), (0, tpw - p.shape[1])),
                mode="edge",
            )
            - 128.0
        )
    mcu_n = 0
    rst = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_n and mcu_n % restart_interval == 0:
                bw.flush()
                out += bw.out
                out += bytes([0xFF, 0xD0 + rst])
                rst = (rst + 1) % 8
                bw = _BitWriter()
                preds = [0] * ncomp
            for ci, (_, hi, vi) in enumerate(comps_px):
                for byi in range(vi):
                    for bxi in range(hi):
                        by = (my * vi + byi) * 8
                        bx = (mx * hi + bxi) * 8
                        block = padded[ci][by : by + 8, bx : bx + 8]
                        coefs = np.rint((_D @ block @ _D.T) / q).astype(np.int32)
                        preds[ci] = _encode_block(
                            bw, coefs, preds[ci], dc_codes, ac_codes
                        )
            mcu_n += 1
    bw.flush()
    out += bw.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# ------------------------------------------------------------------ decoder


class _BitReader:
    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def bit(self) -> int:
        if self.nbits == 0:
            if self.pos >= len(self.data):
                raise ValueError("truncated entropy stream")
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                if self.pos < len(self.data) and self.data[self.pos] == 0x00:
                    self.pos += 1  # stuffed byte
                else:
                    raise ValueError("unexpected marker in scan")
            self.acc = b
            self.nbits = 8
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v

    def restart(self) -> None:
        """Byte-align and consume the expected RSTn marker."""
        self.nbits = 0  # discard padding bits
        if (
            self.pos + 1 < len(self.data)
            and self.data[self.pos] == 0xFF
            and 0xD0 <= self.data[self.pos + 1] <= 0xD7
        ):
            self.pos += 2
        else:
            raise ValueError("missing restart marker")


def _decode_huff(br: _BitReader, table: dict[tuple[int, int], int]) -> int:
    code, ln = 0, 0
    while ln < 16:
        code = (code << 1) | br.bit()
        ln += 1
        if (ln, code) in table:
            return table[(ln, code)]
    raise ValueError("bad Huffman code")


def _extend(v: int, t: int) -> int:
    return v if t == 0 or v >= (1 << (t - 1)) else v - (1 << t) + 1


def jpeg_decode(data: bytes) -> np.ndarray:
    """Baseline (SOF0) or progressive (SOF2) JPEG → (H, W) or
    (H, W, 3) uint8. Progressive support covers spectral selection AND
    successive approximation, DC and AC scans, interleaved DC,
    non-interleaved AC, and restart markers (T.81 annex G.2)."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    pos = 2
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    h = w = None
    comps: list[tuple[int, int, int, int]] = []  # (comp id, quant id, hi, vi)
    scan: list[tuple[int, int, int]] = []  # (comp index, dc table, ac table)
    restart_interval = 0
    progressive = False
    prog_coefs: list[np.ndarray] | None = None  # per comp, zigzag order
    while pos + 2 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError("bad marker")
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:
            if progressive and prog_coefs is not None:
                return _reconstruct_progressive(h, w, comps, qt, prog_coefs)
            break
        (seglen,) = struct.unpack(">H", data[pos : pos + 2])
        body = data[pos + 2 : pos + seglen]
        pos += seglen
        if marker == 0xDB:
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0x0F
                if pq != 0:
                    raise ValueError("16-bit quant tables unsupported")
                qt[tq] = np.frombuffer(body[i + 1 : i + 65], dtype=np.uint8).astype(
                    np.int32
                )
                i += 65
        elif marker in (0xC1, 0xC3):
            raise ValueError("only baseline SOF0 / progressive SOF2 supported")
        elif marker in (0xC0, 0xC2):
            progressive = marker == 0xC2
            _prec, h, w, nc = struct.unpack(">BHHB", body[:6])
            for ci in range(nc):
                cid, samp, tq = body[6 + 3 * ci : 9 + 3 * ci]
                hi, vi = samp >> 4, samp & 0x0F
                if hi not in (1, 2) or vi not in (1, 2):
                    raise ValueError("sampling factors beyond 2x2 unsupported")
                if nc == 1:
                    # a single-component scan is non-interleaved: MCU =
                    # one block regardless of declared factors (T.81
                    # A.2.2) — normalize so the MCU walk is per-block
                    hi = vi = 1
                comps.append((cid, tq, hi, vi))
        elif marker == 0xDD:
            (restart_interval,) = struct.unpack(">H", body[:2])
        elif marker == 0xC4:
            i = 0
            while i < len(body):
                cls, tid = body[i] >> 4, body[i] & 0x0F
                bits = body[i + 1 : i + 17]
                nsyms = sum(bits)
                syms = body[i + 17 : i + 17 + nsyms]
                tbl: dict[tuple[int, int], int] = {}
                code, k = 0, 0
                for ln in range(1, 17):
                    for _ in range(bits[ln - 1]):
                        tbl[(ln, code)] = syms[k]
                        code += 1
                        k += 1
                    code <<= 1
                huff[(cls, tid)] = tbl
                i += 17 + nsyms
        elif marker == 0xDA:
            ns = body[0]
            if not progressive and ns != len(comps):
                # a baseline scan covering a SUBSET of the SOF
                # components is a non-interleaved multi-scan file;
                # decoding only the first scan would return wrong
                # pixels silently — degrade honestly instead
                raise ValueError("multi-scan (non-interleaved) JPEG unsupported")
            scan = []
            for si in range(ns):
                cid, tids = body[1 + 2 * si], body[2 + 2 * si]
                ci = next(i for i, c in enumerate(comps) if c[0] == cid)
                scan.append((ci, tids >> 4, tids & 0x0F))
            ss, se, ahal = body[1 + 2 * ns : 4 + 2 * ns]
            ent_start = pos
            # entropy data runs until the next real marker
            j = ent_start
            while j + 1 < len(data):
                if data[j] == 0xFF and data[j + 1] not in (0x00,) and not (
                    0xD0 <= data[j + 1] <= 0xD7
                ):
                    break
                j += 1
            ent = data[ent_start:j]
            pos = j
            if not progressive:
                return _decode_scan(ent, h, w, comps, scan, qt, huff, restart_interval)
            if prog_coefs is None:
                prog_coefs = _prog_alloc(h, w, comps)
            _progressive_scan(
                ent, h, w, comps, scan, ss, se, ahal >> 4, ahal & 0x0F,
                qt, huff, restart_interval, prog_coefs,
            )
    raise ValueError("no scan in JPEG")


def _prog_geometry(h: int, w: int, comps):
    hmax = max(c[2] for c in comps)
    vmax = max(c[3] for c in comps)
    mcux, mcuy = -(-w // (8 * hmax)), -(-h // (8 * vmax))
    return hmax, vmax, mcux, mcuy


def _prog_alloc(h: int, w: int, comps) -> list[np.ndarray]:
    """Per-component coefficient store, ZIGZAG order, sized to the
    MCU-padded block grid (interleaved DC scans cover the padding)."""
    hmax, vmax, mcux, mcuy = _prog_geometry(h, w, comps)
    return [
        np.zeros((mcuy * vi, mcux * hi, 64), dtype=np.int32)
        for (_, _, hi, vi) in comps
    ]


def _comp_block_dims(h: int, w: int, comps, ci: int) -> tuple[int, int]:
    """Non-interleaved data-unit grid of one component (T.81 A.2.2:
    ceil of the scaled dimensions, NOT padded to the MCU grid)."""
    hmax, vmax, _, _ = _prog_geometry(h, w, comps)
    _, _, hi, vi = comps[ci]
    cw = -(-w * hi // hmax)
    ch = -(-h * vi // vmax)
    return -(-ch // 8), -(-cw // 8)  # (rows, cols)


def _progressive_scan(
    ent, h, w, comps, scan, ss, se, ah, al, qt, huff, restart_interval, coefs
) -> None:
    """One progressive scan (T.81 G.2): DC scans may interleave all
    components; AC scans cover exactly one. ``ah == 0`` is a first
    pass (spectral band at approximation level ``al``); ``ah > 0`` is
    a refinement appending one magnitude bit per coefficient."""
    br = _BitReader(ent)
    if ss == 0:
        if se != 0:
            raise ValueError("DC scan must have Se = 0")
        _dc_scan(br, h, w, comps, scan, ah, al, huff, restart_interval, coefs)
    else:
        if len(scan) != 1:
            raise ValueError("AC progressive scan must be non-interleaved")
        ci, _, act = scan[0]
        _ac_scan(
            br, h, w, comps, ci, huff[(1, act)], ss, se, ah, al,
            restart_interval, coefs[ci],
        )


def _dc_scan(br, h, w, comps, scan, ah, al, huff, restart_interval, coefs):
    preds = [0] * len(scan)
    hmax, vmax, mcux, mcuy = _prog_geometry(h, w, comps)
    interleaved = len(scan) > 1
    if interleaved:
        units = [(my, mx) for my in range(mcuy) for mx in range(mcux)]
    else:
        ci = scan[0][0]
        bh, bw = _comp_block_dims(h, w, comps, ci)
        units = [(by, bx) for by in range(bh) for bx in range(bw)]
    n = 0
    for uy, ux in units:
        if restart_interval and n and n % restart_interval == 0:
            br.restart()
            preds = [0] * len(scan)
        for si, (ci, dct, _) in enumerate(scan):
            _, _, hi, vi = comps[ci]
            blocks = (
                [
                    (uy * vi + byi, ux * hi + bxi)
                    for byi in range(vi)
                    for bxi in range(hi)
                ]
                if interleaved
                else [(uy, ux)]
            )
            for by, bx in blocks:
                if ah == 0:
                    t = _decode_huff(br, huff[(0, dct)])
                    diff = _extend(br.bits(t), t) if t else 0
                    preds[si] += diff
                    coefs[ci][by, bx, 0] = preds[si] << al
                else:
                    if br.bit():
                        coefs[ci][by, bx, 0] |= 1 << al
        n += 1


def _ac_scan(br, h, w, comps, ci, act, ss, se, ah, al, restart_interval, coef):
    bh, bw = _comp_block_dims(h, w, comps, ci)
    eobrun = 0
    n = 0
    for by in range(bh):
        for bx in range(bw):
            if restart_interval and n and n % restart_interval == 0:
                br.restart()
                eobrun = 0
            n += 1
            blk = coef[by, bx]
            if ah == 0:
                eobrun = _ac_first_block(br, blk, act, ss, se, al, eobrun)
            else:
                eobrun = _ac_refine_block(br, blk, act, ss, se, al, eobrun)


def _ac_first_block(br, blk, act, ss, se, al, eobrun) -> int:
    """First AC pass (T.81 G.1.2.2): band coefficients at level al,
    EOB-run coded."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        sym = _decode_huff(br, act)
        r, s = sym >> 4, sym & 0x0F
        if s == 0:
            if r == 15:  # ZRL
                k += 16
                continue
            eobrun = (1 << r) - 1
            if r:
                eobrun += br.bits(r)
            break
        k += r
        if k > se:
            raise ValueError("AC band overflow")
        blk[k] = _extend(br.bits(s), s) * (1 << al)
        k += 1
    return eobrun


def _ac_refine_block(br, blk, act, ss, se, al, eobrun) -> int:
    """AC refinement pass (T.81 G.1.2.3): one correction bit per
    already-nonzero coefficient, new ±(1<<al) coefficients run-coded
    over zero-history positions (jdphuff-equivalent control flow,
    reimplemented from the spec)."""
    p1, m1 = 1 << al, -(1 << al)
    k = ss
    if eobrun == 0:
        while k <= se:
            sym = _decode_huff(br, act)
            r, s = sym >> 4, sym & 0x0F
            val = 0
            if s == 0:
                if r < 15:
                    eobrun = 1 << r
                    if r:
                        eobrun += br.bits(r)
                    break
                # r == 15: skip 16 zero-history positions
            else:
                if s != 1:
                    raise ValueError("refinement size must be 1")
                val = p1 if br.bit() else m1
            while k <= se:
                if blk[k] != 0:
                    if br.bit() and (blk[k] & p1) == 0:
                        blk[k] += p1 if blk[k] >= 0 else m1
                    k += 1
                else:
                    r -= 1
                    if r < 0:
                        break
                    k += 1
            if k <= se:
                if val:
                    blk[k] = val
                k += 1
    if eobrun > 0:
        while k <= se:
            if blk[k] != 0 and br.bit() and (blk[k] & p1) == 0:
                blk[k] += p1 if blk[k] >= 0 else m1
            k += 1
        eobrun -= 1
    return eobrun


def _reconstruct_progressive(h, w, comps, qt, coefs) -> np.ndarray:
    hmax, vmax, mcux, mcuy = _prog_geometry(h, w, comps)
    planes = []
    for ci, (_, tq, hi, vi) in enumerate(comps):
        nby, nbx = coefs[ci].shape[:2]
        plane = np.zeros((nby * 8, nbx * 8))
        q = qt[tq]
        for by in range(nby):
            for bx in range(nbx):
                deq = coefs[ci][by, bx] * q
                block = np.zeros((8, 8))
                for k, (r, c) in enumerate(_ZZ):
                    block[r, c] = deq[k]
                plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                    _D.T @ block @ _D + 128.0
                )
        if vi < vmax:
            plane = np.repeat(plane, vmax // vi, axis=0)
        if hi < hmax:
            plane = np.repeat(plane, hmax // hi, axis=1)
        planes.append(plane[:h, :w])
    if len(planes) == 1:
        return np.clip(planes[0].round(), 0, 255).astype(np.uint8)
    return _ycbcr_to_rgb(np.stack(planes, axis=-1))


def _decode_block(br, huff, dct, act, pred: int) -> tuple[np.ndarray, int]:
    zz = np.zeros(64, dtype=np.int32)
    t = _decode_huff(br, huff[(0, dct)])
    diff = _extend(br.bits(t), t) if t else 0
    pred += diff
    zz[0] = pred
    i = 1
    while i < 64:
        sym = _decode_huff(br, huff[(1, act)])
        if sym == 0x00:
            break
        if sym == 0xF0:
            i += 16
            continue
        run, size = sym >> 4, sym & 0x0F
        i += run
        if i > 63:
            raise ValueError("AC run overflow")
        zz[i] = _extend(br.bits(size), size)
        i += 1
    return zz, pred


def _decode_scan(ent, h, w, comps, scan, qt, huff, restart_interval=0) -> np.ndarray:
    """Generic MCU-interleaved scan: each component contributes hi×vi
    blocks per MCU; subsampled planes are decoded at their native
    resolution and upsampled by pixel replication at the end. RSTn
    markers (every restart_interval MCUs) byte-realign the reader and
    reset every DC predictor (T.81 §B.2.1.2 / F.2.1.3.1)."""
    br = _BitReader(ent)
    ncomp = len(scan)
    hmax = max(comps[ci][2] for ci, _, _ in scan)
    vmax = max(comps[ci][3] for ci, _, _ in scan)
    mcux, mcuy = -(-w // (8 * hmax)), -(-h // (8 * vmax))
    planes = []
    for ci, _, _ in scan:
        hi, vi = comps[ci][2], comps[ci][3]
        planes.append(np.zeros((mcuy * 8 * vi, mcux * 8 * hi)))
    preds = [0] * ncomp
    mcu_n = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_n and mcu_n % restart_interval == 0:
                br.restart()
                preds = [0] * ncomp
            for si, (ci, dct, act) in enumerate(scan):
                hi, vi = comps[ci][2], comps[ci][3]
                for byi in range(vi):
                    for bxi in range(hi):
                        zz, preds[si] = _decode_block(br, huff, dct, act, preds[si])
                        deq = zz * qt[comps[ci][1]]
                        block = np.zeros((8, 8))
                        for k, (r, c) in enumerate(_ZZ):
                            block[r, c] = deq[k]
                        by = (my * vi + byi) * 8
                        bx = (mx * hi + bxi) * 8
                        planes[si][by : by + 8, bx : bx + 8] = (
                            _D.T @ block @ _D + 128.0
                        )
            mcu_n += 1
    up = []
    for si, (ci, _, _) in enumerate(scan):
        hi, vi = comps[ci][2], comps[ci][3]
        p = planes[si]
        if vi < vmax:
            p = np.repeat(p, vmax // vi, axis=0)
        if hi < hmax:
            p = np.repeat(p, hmax // hi, axis=1)
        up.append(p[:h, :w])
    if ncomp == 1:
        return np.clip(up[0].round(), 0, 255).astype(np.uint8)
    return _ycbcr_to_rgb(np.stack(up, axis=-1))
