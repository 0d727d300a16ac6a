"""Baseline + progressive JPEG (JFIF) codec in pure numpy + stdlib — no
PIL/libjpeg.

Retires the last compressed-image stub in operators/multimodal.py: PNG
went real in round 6 via zlib+numpy; baseline JPEG needs only huffman
coding and an 8x8 DCT, both expressible in numpy. Supported: baseline
sequential DCT (SOF0) and progressive DCT (SOF2 — spectral selection +
successive approximation per T.81 G.1/G.2, the layout ~6-8% of crawled
web JPEGs use), 8-bit, grayscale or YCbCr with 4:4:4 / 4:2:2 / 4:2:0
sampling, restart intervals. Arithmetic coding and lossless/hierarchical
modes raise (poison-pill null rows in the Spark stage).

The encoder (tests + payload synthesis) writes 4:4:4 with the Annex-K
example huffman tables and a quality-scaled Annex-K quantization matrix.
Encoder (forward DCT -> quantize -> huffman write) and decoder (huffman
read -> dequantize -> IDCT) are independent inverse transforms, so an
encode->decode round-trip pinned against an analytically-computed
expectation is a real correctness check of both.

Scale: decode runs inside Arrow-batched ``mapInPandas`` (see
multimodal.decode_jpeg) — embarrassingly parallel, no shuffle; one
payload never crosses executors.
"""

from __future__ import annotations

import struct

import numpy as np

# ---------------------------------------------------------------------------
# shared tables

ZIGZAG = np.array([
     0,  1,  8, 16,  9,  2,  3, 10,
    17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int32)

# ITU-T T.81 Annex K.1 luminance / K.2 chrominance quantization tables
QUANT_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int32)
QUANT_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int32)

# Annex K.3 example huffman tables: (bits[1..16], huffval)
DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_LUMA_VALS = list(range(12))
DC_CHROMA_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
DC_CHROMA_VALS = list(range(12))
AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_LUMA_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]
AC_CHROMA_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
AC_CHROMA_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41,
    0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15, 0x62, 0x72, 0xD1,
    0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44,
    0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74,
    0x75, 0x76, 0x77, 0x78, 0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A,
    0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]

# 8x8 DCT-II basis matrix: C[u, x] = a(u) cos((2x+1)u pi / 16)
_C = np.zeros((8, 8))
for _u in range(8):
    _a = np.sqrt(0.125) if _u == 0 else 0.5
    for _x in range(8):
        _C[_u, _x] = _a * np.cos((2 * _x + 1) * _u * np.pi / 16)


def _idct2(block: np.ndarray) -> np.ndarray:
    """2-D inverse DCT of one 8x8 coefficient block."""
    return _C.T @ block @ _C


def _fdct2(block: np.ndarray) -> np.ndarray:
    """2-D forward DCT of one 8x8 sample block."""
    return _C @ block @ _C.T


# ---------------------------------------------------------------------------
# huffman machinery


def _build_decode_table(bits: list[int], vals: list[int]) -> dict[tuple[int, int], int]:
    """(code_length, code) -> value, per T.81 canonical code assignment."""
    table: dict[tuple[int, int], int] = {}
    code = 0
    k = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            table[(ln, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _build_encode_table(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """value -> (code_length, code)."""
    return {v: k for k, v in _build_decode_table(bits, vals).items()}


class _BitReader:
    """MSB-first bit reader over entropy-coded data with 0xFF00
    un-stuffing; stops at any non-RST marker."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.bit = 0
        self.cur = 0
        self.nbits = 0

    def _fill(self) -> None:
        d = self.data
        b = d[self.pos]
        if b == 0xFF:
            nxt = d[self.pos + 1]
            if nxt == 0x00:
                self.pos += 2  # stuffed FF
            elif 0xD0 <= nxt <= 0xD7:
                raise _RestartMarker(nxt)
            else:
                raise EOFError("marker in entropy data")
        else:
            self.pos += 1
        self.cur = (self.cur << 8) | b
        self.nbits += 8

    def read(self, n: int) -> int:
        while self.nbits < n:
            self._fill()
        self.nbits -= n
        out = (self.cur >> self.nbits) & ((1 << n) - 1)
        return out

    def align_restart(self) -> None:
        """Drop partial byte and consume one RSTn marker."""
        self.nbits = 0
        self.cur = 0
        d = self.data
        while d[self.pos] != 0xFF or not (0xD0 <= d[self.pos + 1] <= 0xD7):
            self.pos += 1
        self.pos += 2

    def decode_huff(self, table: dict[tuple[int, int], int]) -> int:
        code = 0
        for ln in range(1, 17):
            code = (code << 1) | self.read(1)
            v = table.get((ln, code))
            if v is not None:
                return v
        raise ValueError("bad huffman code")


class _RestartMarker(Exception):
    def __init__(self, marker: int):
        self.marker = marker


def _extend(v: int, size: int) -> int:
    """T.81 F.12 EXTEND: map ``size``-bit magnitude to signed value."""
    if size == 0:
        return 0
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


# ---------------------------------------------------------------------------
# decoder


def jpeg_decode(buf: bytes) -> np.ndarray:
    """Decode a baseline (SOF0) or progressive (SOF2) JFIF payload to an
    (h, w, ncomp) uint8 array (ncomp 1 = gray, 3 = RGB after YCbCr
    conversion). Progressive payloads accumulate DCT coefficients across
    all scans (spectral-selection bands, successive-approximation
    bit-planes) and run dequantize+IDCT once at EOI — same output
    pixels as the equivalent baseline stream, since the coefficients
    are identical once every scan has landed."""
    if buf[:2] != b"\xff\xd8":
        raise ValueError("not JPEG")
    pos = 2
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}  # (class, id) -> decode table
    comps: list[dict] = []
    h = w = None
    restart = 0
    progressive = False
    coefs: list[np.ndarray] = []  # per comp: (bh, bw, 64) zigzag-order int32
    n = len(buf)
    while pos + 4 <= n:
        if buf[pos] != 0xFF:
            raise ValueError("bad marker stream")
        marker = buf[pos + 1]
        if marker == 0xD9:  # EOI
            break
        seglen = struct.unpack(">H", buf[pos + 2 : pos + 4])[0]
        body = buf[pos + 4 : pos + 2 + seglen]
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0xF
                if pq != 0:
                    raise ValueError("16-bit quant tables unsupported")
                tbl = np.zeros(64, np.int32)
                tbl[ZIGZAG] = np.frombuffer(body[i + 1 : i + 65], np.uint8)
                qt[tq] = tbl.reshape(8, 8)
                i += 65
        elif marker in (0xC0, 0xC2):  # SOF0 baseline / SOF2 progressive
            progressive = marker == 0xC2
            h = struct.unpack(">H", body[1:3])[0]
            w = struct.unpack(">H", body[3:5])[0]
            nc = body[5]
            comps = []
            for c in range(nc):
                cid, hv, tq = body[6 + 3 * c], body[7 + 3 * c], body[8 + 3 * c]
                comps.append(
                    {"id": cid, "h": hv >> 4, "v": hv & 0xF, "tq": tq}
                )
            if progressive:
                hmax = max(c["h"] for c in comps)
                vmax = max(c["v"] for c in comps)
                mcux = -(-w // (8 * hmax))
                mcuy = -(-h // (8 * vmax))
                coefs = [
                    np.zeros((mcuy * c["v"], mcux * c["h"], 64), np.int32)
                    for c in comps
                ]
        elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB):
            raise ValueError("only baseline SOF0 / progressive SOF2 supported")
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(body):
                tc, th = body[i] >> 4, body[i] & 0xF
                bits = list(body[i + 1 : i + 17])
                nv = sum(bits)
                vals = list(body[i + 17 : i + 17 + nv])
                huff[(tc, th)] = _build_decode_table(bits, vals)
                i += 17 + nv
        elif marker == 0xDD:  # DRI
            restart = struct.unpack(">H", body[:2])[0]
        elif marker == 0xDA:  # SOS
            ns = body[0]
            sos = {}
            scan_ids = []
            for c in range(ns):
                cid, tabs = body[1 + 2 * c], body[2 + 2 * c]
                sos[cid] = (tabs >> 4, tabs & 0xF)
                scan_ids.append(cid)
            if not progressive:
                pos = pos + 2 + seglen
                return _decode_scan(buf, pos, h, w, comps, sos, qt, huff, restart)
            ss, se = body[1 + 2 * ns], body[2 + 2 * ns]
            ahal = body[3 + 2 * ns]
            ah, al = ahal >> 4, ahal & 0xF
            pos = _decode_prog_scan(
                buf, pos + 2 + seglen, h, w, comps, coefs,
                scan_ids, sos, huff, restart, ss, se, ah, al,
            )
            continue
        pos += 2 + seglen
    if progressive and coefs:
        return _assemble_from_coefs(h, w, comps, coefs, qt)
    raise ValueError("no SOS marker")


def _decode_scan(buf, pos, h, w, comps, sos, qt, huff, restart):
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    planes = []
    for c in comps:
        pw, ph = mcux * 8 * c["h"], mcuy * 8 * c["v"]
        planes.append(np.zeros((ph, pw), np.float64))
    rd = _BitReader(buf, pos)
    pred = [0] * len(comps)
    mcu_count = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart and mcu_count and mcu_count % restart == 0:
                rd.align_restart()
                pred = [0] * len(comps)
            try:
                for ci, c in enumerate(comps):
                    dc_t = huff[(0, sos[c["id"]][0])]
                    ac_t = huff[(1, sos[c["id"]][1])]
                    q = qt[c["tq"]]
                    for by in range(c["v"]):
                        for bx in range(c["h"]):
                            zz = np.zeros(64, np.int32)
                            size = rd.decode_huff(dc_t)
                            diff = _extend(rd.read(size), size)
                            pred[ci] += diff
                            zz[0] = pred[ci]
                            k = 1
                            while k < 64:
                                rs = rd.decode_huff(ac_t)
                                r, s = rs >> 4, rs & 0xF
                                if s == 0:
                                    if r == 15:  # ZRL
                                        k += 16
                                        continue
                                    break  # EOB
                                k += r
                                if k > 63:
                                    raise ValueError("AC overflow")
                                zz[k] = _extend(rd.read(s), s)
                                k += 1
                            coef = np.zeros(64, np.float64)
                            coef[ZIGZAG] = zz * q.reshape(-1)[ZIGZAG]
                            px = _idct2(coef.reshape(8, 8)) + 128.0
                            y0 = (my * c["v"] + by) * 8
                            x0 = (mx * c["h"] + bx) * 8
                            planes[ci][y0 : y0 + 8, x0 : x0 + 8] = px
            except _RestartMarker:
                raise ValueError("unexpected restart marker") from None
            mcu_count += 1
    # upsample to full resolution (nearest) and crop
    full = []
    for ci, c in enumerate(comps):
        p = planes[ci]
        p = np.repeat(np.repeat(p, vmax // c["v"], axis=0), hmax // c["h"], axis=1)
        full.append(p[:h, :w])
    if len(comps) == 1:
        return np.clip(np.round(full[0]), 0, 255).astype(np.uint8)[..., None]
    y, cb, cr = full[0], full[1] - 128.0, full[2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    rgb = np.stack([r, g, b], axis=-1)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


def _next_marker(buf: bytes, pos: int) -> int:
    """Advance past entropy-coded data to the next true marker (skipping
    stuffed FF00 pairs and RSTn)."""
    n = len(buf)
    while pos + 1 < n:
        if (
            buf[pos] == 0xFF
            and buf[pos + 1] != 0x00
            and not (0xD0 <= buf[pos + 1] <= 0xD7)
        ):
            return pos
        pos += 1
    return n


def _decode_prog_scan(
    buf, pos, h, w, comps, coefs, scan_ids, sos, huff, restart, ss, se, ah, al
):
    """One progressive scan (T.81 G.2): updates the per-component zigzag
    coefficient arrays in place and returns the offset of the next
    marker. Four data-unit kinds: DC first (huffman diff << Al), DC
    refinement (one raw bit per block), AC first (run-length band decode
    with EOB runs), AC refinement (correction bits for known-nonzero
    coefficients + newly-significant ±1<<Al insertions — the G.1.2.3
    walk, bit-compatible with libjpeg's decode_mcu_AC_refine)."""
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    rd = _BitReader(buf, pos)
    idx = {c["id"]: i for i, c in enumerate(comps)}
    members = [idx[cid] for cid in scan_ids]
    interleaved = len(members) > 1
    state = {"eobrun": 0}
    pred = [0] * len(comps)

    def dc_first(ci, by, bx):
        dc_t = huff[(0, sos[comps[ci]["id"]][0])]
        size = rd.decode_huff(dc_t)
        pred[ci] += _extend(rd.read(size), size)
        coefs[ci][by, bx, 0] = pred[ci] << al

    def dc_refine(ci, by, bx):
        if rd.read(1):
            coefs[ci][by, bx, 0] |= 1 << al

    def ac_first(ci, by, bx):
        if state["eobrun"] > 0:
            state["eobrun"] -= 1
            return
        ac_t = huff[(1, sos[comps[ci]["id"]][1])]
        blk = coefs[ci][by, bx]
        k = ss
        while k <= se:
            rs = rd.decode_huff(ac_t)
            r, s = rs >> 4, rs & 0xF
            if s == 0:
                if r == 15:  # ZRL
                    k += 16
                    continue
                state["eobrun"] = (1 << r) - 1 + (rd.read(r) if r else 0)
                break
            k += r
            if k > se:
                raise ValueError("AC band overflow")
            blk[k] = _extend(rd.read(s), s) << al
            k += 1

    def ac_refine(ci, by, bx):
        ac_t = huff[(1, sos[comps[ci]["id"]][1])]
        blk = coefs[ci][by, bx]
        p1 = 1 << al
        m1 = -(1 << al)
        k = ss
        if state["eobrun"] == 0:
            while k <= se:
                rs = rd.decode_huff(ac_t)
                r, s = rs >> 4, rs & 0xF
                val = 0
                if s == 0:
                    if r != 15:
                        state["eobrun"] = (1 << r) + (rd.read(r) if r else 0)
                        break
                else:
                    if s != 1:
                        raise ValueError("bad refinement magnitude size")
                    val = p1 if rd.read(1) else m1
                # advance over r zero-HISTORY coefficients, emitting a
                # correction bit at every nonzero-history one passed
                while k <= se:
                    v = int(blk[k])
                    if v != 0:
                        if rd.read(1) and (v & p1) == 0:
                            blk[k] = v + (p1 if v >= 0 else m1)
                    else:
                        if r == 0:
                            break
                        r -= 1
                    k += 1
                if val and k <= se:
                    blk[k] = val
                k += 1
        if state["eobrun"] > 0:
            while k <= se:
                v = int(blk[k])
                if v != 0 and rd.read(1) and (v & p1) == 0:
                    blk[k] = v + (p1 if v >= 0 else m1)
                k += 1
            state["eobrun"] -= 1

    if ss == 0:
        if se != 0:
            raise ValueError("progressive DC scan must have Se=0")
        unit = dc_first if ah == 0 else dc_refine
    else:
        if interleaved:
            raise ValueError("progressive AC scans are single-component")
        unit = ac_first if ah == 0 else ac_refine

    count = 0

    def maybe_restart():
        if restart and count and count % restart == 0:
            rd.align_restart()
            pred[:] = [0] * len(comps)
            state["eobrun"] = 0

    if interleaved:
        mcux = -(-w // (8 * hmax))
        mcuy = -(-h // (8 * vmax))
        for my in range(mcuy):
            for mx in range(mcux):
                maybe_restart()
                for ci in members:
                    c = comps[ci]
                    for by in range(c["v"]):
                        for bx in range(c["h"]):
                            unit(ci, my * c["v"] + by, mx * c["h"] + bx)
                count += 1
    else:
        ci = members[0]
        c = comps[ci]
        # non-interleaved grids cover ceil(ceil(dim * sampling) / 8)
        # blocks, which can be SMALLER than the MCU-padded allocation
        cw = -((-w * c["h"]) // hmax)
        ch = -((-h * c["v"]) // vmax)
        bw = -(-cw // 8)
        bh = -(-ch // 8)
        for by in range(bh):
            for bx in range(bw):
                maybe_restart()
                unit(ci, by, bx)
                count += 1
    return _next_marker(buf, rd.pos)


def _assemble_from_coefs(h, w, comps, coefs, qt):
    """Dequantize + IDCT the accumulated progressive coefficients and
    color-convert — identical math to the baseline path's per-block
    tail, so progressive and baseline encodings of the same quantized
    coefficients decode to identical pixels."""
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    full = []
    for ci, c in enumerate(comps):
        q = qt[c["tq"]].reshape(-1)
        arr = coefs[ci]
        bh, bw = arr.shape[:2]
        plane = np.zeros((bh * 8, bw * 8), np.float64)
        for by in range(bh):
            for bx in range(bw):
                coef = np.zeros(64, np.float64)
                coef[ZIGZAG] = arr[by, bx] * q[ZIGZAG]
                plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                    _idct2(coef.reshape(8, 8)) + 128.0
                )
        plane = np.repeat(
            np.repeat(plane, vmax // c["v"], axis=0), hmax // c["h"], axis=1
        )
        full.append(plane[:h, :w])
    if len(comps) == 1:
        return np.clip(np.round(full[0]), 0, 255).astype(np.uint8)[..., None]
    y, cb, cr = full[0], full[1] - 128.0, full[2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    rgb = np.stack([r, g, b], axis=-1)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


# ---------------------------------------------------------------------------
# encoder (tests + payload synthesis; 4:4:4, Annex-K tables)


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, n: int) -> None:
        self.acc = (self.acc << n) | (code & ((1 << n) - 1))
        self.nbits += n
        while self.nbits >= 8:
            self.nbits -= 8
            b = (self.acc >> self.nbits) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing

    def flush(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1s

    def restart(self, n: int) -> None:
        """Byte-align (1-padded, stuffed) and emit RSTn — marker bytes are
        appended raw, outside the stuffer, per T.81."""
        self.flush()
        self.out.extend(bytes([0xFF, 0xD0 + (n & 7)]))


def _scale_quant(base: np.ndarray, quality: int) -> np.ndarray:
    quality = min(max(quality, 1), 100)
    s = 5000 // quality if quality < 50 else 200 - 2 * quality
    q = (base.astype(np.int64) * s + 50) // 100
    return np.clip(q, 1, 255).astype(np.int32)


def _mag_bits(v: int) -> tuple[int, int]:
    """value -> (size, magnitude-bits) per T.81 F.1.2.1/F.1.2.2."""
    size = int(abs(v)).bit_length()
    if v >= 0:
        return size, v
    return size, v + (1 << size) - 1


def _encode_block(wtr, coef_zz, pred, dc_tab, ac_tab):
    diff = int(coef_zz[0]) - pred
    size, mag = _mag_bits(diff)
    ln, code = dc_tab[size]
    wtr.write(code, ln)
    if size:
        wtr.write(mag, size)
    run = 0
    last_nz = 0
    for k in range(63, 0, -1):
        if coef_zz[k]:
            last_nz = k
            break
    for k in range(1, last_nz + 1):
        v = int(coef_zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            ln, code = ac_tab[0xF0]  # ZRL
            wtr.write(code, ln)
            run -= 16
        size, mag = _mag_bits(v)
        ln, code = ac_tab[(run << 4) | size]
        wtr.write(code, ln)
        wtr.write(mag, size)
        run = 0
    if last_nz < 63:
        ln, code = ac_tab[0x00]  # EOB
        wtr.write(code, ln)
    return int(coef_zz[0])


def _quantized_blocks(plane: np.ndarray, q: np.ndarray, bh: int, bw: int) -> np.ndarray:
    """(bh, bw, 64) zigzag-order quantized coefficients of an edge-padded
    plane — the shared front half of both encoders, so baseline and
    progressive streams of one image carry IDENTICAL coefficients."""
    p = np.pad(
        plane,
        ((0, bh * 8 - plane.shape[0]), (0, bw * 8 - plane.shape[1])),
        mode="edge",
    )
    out = np.zeros((bh, bw, 64), np.int32)
    for my in range(bh):
        for mx in range(bw):
            block = p[my * 8 : my * 8 + 8, mx * 8 : mx * 8 + 8]
            qz = np.round(_fdct2(block - 128.0) / q).astype(np.int32)
            out[my, mx] = qz.reshape(-1)[ZIGZAG]
    return out


def _ycbcr_planes(px: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    r, g, b = (px[..., i].astype(np.float64) for i in range(3))
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    return y, cb, cr


def _box_down(plane: np.ndarray, sh: int, sv: int) -> np.ndarray:
    """sh x sv box-mean downsample (edge-padded to multiples) — the
    chroma subsampler for the 4:2:0 (2x2) and 4:2:2 (2x1) encoders."""
    h, w = plane.shape
    ph, pw = -(-h // sv) * sv, -(-w // sh) * sh
    p = np.pad(plane, ((0, ph - h), (0, pw - w)), mode="edge")
    return p.reshape(ph // sv, sv, pw // sh, sh).mean(axis=(1, 3))


def _sub_geometry(h: int, w: int, quality: int, sh: int, sv: int):
    """Quant tables + MCU grid for the subsampled encoders (4:2:0 when
    (sh, sv) = (2, 2); 4:2:2 when (2, 1))."""
    qy = _scale_quant(QUANT_LUMA.reshape(8, 8), quality)
    qc = _scale_quant(QUANT_CHROMA.reshape(8, 8), quality)
    mcuy, mcux = -(-h // (8 * sv)), -(-w // (8 * sh))
    return qy, qc, mcuy, mcux


def _sampling_factors(subsample) -> tuple[int, int]:
    """True / '420' -> (2, 2); '422' -> (2, 1)."""
    if subsample is True or subsample == "420":
        return 2, 2
    if subsample == "422":
        return 2, 1
    raise ValueError(f"subsample={subsample!r}; expected True|'420'|'422'")


def jpeg_encode(
    px: np.ndarray,
    quality: int = 90,
    subsample: "bool | str" = False,
    restart_interval: int = 0,
) -> bytes:
    """Encode an (h, w, 1|3) uint8 array as baseline JFIF — 4:4:4 by
    default, 4:2:0 (luma 2x2 per MCU, box-mean chroma) with
    ``subsample=True``. ``restart_interval`` emits DRI + RSTn markers
    every N MCUs (resilience markers every real camera/web encoder
    writes; exercises the decoder's align_restart path)."""
    h, w, nc = px.shape
    if subsample and nc == 3:
        sh, sv = _sampling_factors(subsample)
        return _jpeg_encode_420(px, quality, sh, sv, restart_interval)
    qy = _scale_quant(QUANT_LUMA.reshape(8, 8), quality)
    qc = _scale_quant(QUANT_CHROMA.reshape(8, 8), quality)
    if nc == 3:
        r, g, b = (px[..., i].astype(np.float64) for i in range(3))
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        chans = [(y, qy, 0), (cb, qc, 1), (cr, qc, 1)]
    else:
        chans = [(px[..., 0].astype(np.float64), qy, 0)]

    out = bytearray(b"\xff\xd8")  # SOI

    def seg(marker: int, body: bytes) -> None:
        out.extend(struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body)

    seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")  # APP0
    for tid, q in ((0, qy), (1, qc))[: 1 if nc == 1 else 2]:
        zz = np.empty(64, np.uint8)
        zz[np.arange(64)] = q.reshape(-1)[ZIGZAG]
        seg(0xDB, bytes([tid]) + zz.tobytes())
    sof = struct.pack(">BHHB", 8, h, w, nc)
    for c in range(nc):
        sof += bytes([c + 1, 0x11, 0 if c == 0 else 1])
    seg(0xC0, sof)
    tables = [
        (0x00, DC_LUMA_BITS, DC_LUMA_VALS),
        (0x10, AC_LUMA_BITS, AC_LUMA_VALS),
    ]
    if nc == 3:
        tables += [
            (0x01, DC_CHROMA_BITS, DC_CHROMA_VALS),
            (0x11, AC_CHROMA_BITS, AC_CHROMA_VALS),
        ]
    for tid, bits, vals in tables:
        seg(0xC4, bytes([tid] + bits) + bytes(vals))
    if restart_interval:
        seg(0xDD, struct.pack(">H", restart_interval))
    sos = bytes([nc])
    for c in range(nc):
        sos += bytes([c + 1, 0x00 if c == 0 else 0x11])
    sos += b"\x00\x3f\x00"
    seg(0xDA, sos)

    enc_dc = [
        _build_encode_table(DC_LUMA_BITS, DC_LUMA_VALS),
        _build_encode_table(DC_CHROMA_BITS, DC_CHROMA_VALS),
    ]
    enc_ac = [
        _build_encode_table(AC_LUMA_BITS, AC_LUMA_VALS),
        _build_encode_table(AC_CHROMA_BITS, AC_CHROMA_VALS),
    ]
    wtr = _BitWriter()
    preds = [0] * nc
    by_max, bx_max = -(-h // 8), -(-w // 8)
    padded = []
    for ch, q, _t in chans:
        p = np.pad(
            ch,
            ((0, by_max * 8 - h), (0, bx_max * 8 - w)),
            mode="edge",
        )
        padded.append(p)
    mcu_i = 0
    rst = 0
    for my in range(by_max):
        for mx in range(bx_max):
            if restart_interval and mcu_i and mcu_i % restart_interval == 0:
                wtr.restart(rst)
                rst += 1
                preds = [0] * nc
            mcu_i += 1
            for ci, (_, q, tsel) in enumerate(chans):
                block = padded[ci][my * 8 : my * 8 + 8, mx * 8 : mx * 8 + 8]
                coef = _fdct2(block - 128.0)
                qz = np.round(coef / q).astype(np.int32)
                zz = qz.reshape(-1)[ZIGZAG]
                preds[ci] = _encode_block(
                    wtr, zz, preds[ci], enc_dc[tsel], enc_ac[tsel]
                )
    wtr.flush()
    out.extend(wtr.out)
    out.extend(b"\xff\xd9")  # EOI
    return bytes(out)

def _jpeg_encode_420(
    px: np.ndarray,
    quality: int,
    sh: int = 2,
    sv: int = 2,
    restart_interval: int = 0,
) -> bytes:
    """Baseline subsampled encode — 4:2:0 ((sh, sv) = (2, 2): luma 2x2
    blocks per MCU, the layout virtually every web photo uses) or 4:2:2
    ((2, 1): horizontal-only chroma halving, the video-derived layout) —
    so the decoder's subsampled-MCU walk gets same-repo round-trip twins
    instead of relying on external files."""
    h, w, _ = px.shape
    qy, qc, mcuy, mcux = _sub_geometry(h, w, quality, sh, sv)
    y, cb, cr = _ycbcr_planes(px)
    zz_y = _quantized_blocks(y, qy, mcuy * sv, mcux * sh)
    zz_cb = _quantized_blocks(_box_down(cb, sh, sv), qc, mcuy, mcux)
    zz_cr = _quantized_blocks(_box_down(cr, sh, sv), qc, mcuy, mcux)

    out = bytearray(b"\xff\xd8")

    def seg(marker: int, body: bytes) -> None:
        out.extend(struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body)

    seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    for tid, q in ((0, qy), (1, qc)):
        zz = np.empty(64, np.uint8)
        zz[np.arange(64)] = q.reshape(-1)[ZIGZAG]
        seg(0xDB, bytes([tid]) + zz.tobytes())
    sof = struct.pack(">BHHB", 8, h, w, 3)
    sof += bytes([1, (sh << 4) | sv, 0]) + bytes([2, 0x11, 1]) + bytes([3, 0x11, 1])
    seg(0xC0, sof)
    for tid, bits, vals in (
        (0x00, DC_LUMA_BITS, DC_LUMA_VALS),
        (0x10, AC_LUMA_BITS, AC_LUMA_VALS),
        (0x01, DC_CHROMA_BITS, DC_CHROMA_VALS),
        (0x11, AC_CHROMA_BITS, AC_CHROMA_VALS),
    ):
        seg(0xC4, bytes([tid] + bits) + bytes(vals))
    if restart_interval:
        seg(0xDD, struct.pack(">H", restart_interval))
    seg(0xDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11]) + b"\x00\x3f\x00")

    enc_dc = [
        _build_encode_table(DC_LUMA_BITS, DC_LUMA_VALS),
        _build_encode_table(DC_CHROMA_BITS, DC_CHROMA_VALS),
    ]
    enc_ac = [
        _build_encode_table(AC_LUMA_BITS, AC_LUMA_VALS),
        _build_encode_table(AC_CHROMA_BITS, AC_CHROMA_VALS),
    ]
    wtr = _BitWriter()
    preds = [0, 0, 0]
    mcu_i = 0
    rst = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_i and mcu_i % restart_interval == 0:
                wtr.restart(rst)
                rst += 1
                preds = [0, 0, 0]
            mcu_i += 1
            for by in range(sv):
                for bx in range(sh):
                    preds[0] = _encode_block(
                        wtr, zz_y[my * sv + by, mx * sh + bx], preds[0],
                        enc_dc[0], enc_ac[0],
                    )
            preds[1] = _encode_block(wtr, zz_cb[my, mx], preds[1], enc_dc[1], enc_ac[1])
            preds[2] = _encode_block(wtr, zz_cr[my, mx], preds[2], enc_dc[1], enc_ac[1])
    wtr.flush()
    out.extend(wtr.out)
    out.extend(b"\xff\xd9")
    return bytes(out)


# ---------------------------------------------------------------------------
# progressive encoder (tests + payload synthesis; 4:4:4, Annex-K tables)


def _enc_ac_first(wtr, zz, ac_tab, ss, se, al):
    """First AC scan of one block (T.81 G.1.2.2): run-length encode the
    point-transformed band coefficients; per-block EOB (no cross-block
    EOB runs — simpler, still spec-valid)."""
    run = 0
    last_nz = 0
    vals = {}
    for k in range(ss, se + 1):
        v = int(zz[k])
        t = -((-v) >> al) if v < 0 else v >> al  # truncate toward zero
        vals[k] = t
        if t:
            last_nz = k
    for k in range(ss, last_nz + 1):
        t = vals[k]
        if t == 0:
            run += 1
            continue
        while run > 15:
            ln, code = ac_tab[0xF0]  # ZRL
            wtr.write(code, ln)
            run -= 16
        size, mag = _mag_bits(t)
        ln, code = ac_tab[(run << 4) | size]
        wtr.write(code, ln)
        wtr.write(mag, size)
        run = 0
    if last_nz < se:
        ln, code = ac_tab[0x00]  # EOB (run of exactly 1 block)
        wtr.write(code, ln)


def _enc_ac_refine(wtr, zz, ac_tab, ss, se, al):
    """Refinement AC scan of one block (T.81 G.1.2.3 inverse): one
    correction bit per already-significant coefficient, run-length codes
    + sign bit for newly-significant ones (|v|>>al == 1), correction
    bits interleaved AFTER each emitted code in the positional order the
    decoder's walk consumes them."""
    p_hist = al + 1  # bits already transmitted by the first scan
    run = 0
    pending: list[int] = []

    def flush():
        for b in pending:
            wtr.write(b, 1)
        pending.clear()

    for k in range(ss, se + 1):
        v = int(zz[k])
        av = -v if v < 0 else v
        if av >> p_hist:  # nonzero history: correction bit
            pending.append((av >> al) & 1)
            continue
        if (av >> al) & 1:  # newly significant (magnitude exactly 1<<al)
            ln, code = ac_tab[(run << 4) | 1]
            wtr.write(code, ln)
            wtr.write(1 if v > 0 else 0, 1)  # sign
            flush()
            run = 0
        else:
            run += 1
            if run == 16:
                # ZRL must be emitted IN PLACE (at the 16th zero-history
                # slot): the decoder's walk consumes exactly 16 such
                # slots reading the interleaved correction bits as it
                # goes, so corrections seen so far belong to THIS code
                # and later ones to the next — deferring the ZRL would
                # flush them on the wrong side
                ln, code = ac_tab[0xF0]
                wtr.write(code, ln)
                flush()
                run = 0
    if run > 0 or pending:
        ln, code = ac_tab[0x00]  # EOB(1)
        wtr.write(code, ln)
        flush()


def jpeg_encode_progressive(
    px: np.ndarray,
    quality: int = 90,
    subsample: "bool | str" = False,
    restart_interval: int = 0,
) -> bytes:
    """Encode an (h, w, 1|3) uint8 array as progressive JFIF (SOF2) with
    a real successive-approximation script — DC and AC are both sent as
    an Al=1 first pass plus an Al=0 refinement pass, and AC is
    spectrally split (1-5, 6-63), so a decoder must implement every
    progressive data-unit kind (DC first/refine, AC first/refine, EOB
    handling) to reproduce the pixels. ``subsample=True`` emits 4:2:0
    (the layout most progressive web photos use), which additionally
    exercises subsampled interleaved DC MCUs and non-interleaved AC
    block grids SMALLER than the MCU-padded allocation. The quantized
    coefficients are identical to jpeg_encode's at the same
    quality/subsampling, so baseline and progressive encodings of one
    image decode to IDENTICAL pixels — the round-trip test invariant."""
    h, w, nc = px.shape
    qy = _scale_quant(QUANT_LUMA.reshape(8, 8), quality)
    qc = _scale_quant(QUANT_CHROMA.reshape(8, 8), quality)
    if nc == 3 and subsample:
        sh, sv = _sampling_factors(subsample)
        mcuy, mcux = -(-h // (8 * sv)), -(-w // (8 * sh))
        ch_dim = -(-h // sv)  # ceil: chroma plane dims
        cw_dim = -(-w // sh)
        cbh = -(-ch_dim // 8)
        cbw = -(-cw_dim // 8)
        y, cb, cr = _ycbcr_planes(px)
        comps = [
            dict(zz=_quantized_blocks(y, qy, mcuy * sv, mcux * sh), tsel=0,
                 hv=(sh << 4) | sv, mcu=(sv, sh),
                 acg=(-(-h // 8), -(-w // 8))),
            dict(zz=_quantized_blocks(_box_down(cb, sh, sv), qc, mcuy, mcux),
                 tsel=1, hv=0x11, mcu=(1, 1), acg=(cbh, cbw)),
            dict(zz=_quantized_blocks(_box_down(cr, sh, sv), qc, mcuy, mcux),
                 tsel=1, hv=0x11, mcu=(1, 1), acg=(cbh, cbw)),
        ]
    else:
        mcuy, mcux = -(-h // 8), -(-w // 8)
        if nc == 3:
            planes = _ycbcr_planes(px)
            quants = (qy, qc, qc)
            tsels = (0, 1, 1)
        else:
            planes = (px[..., 0].astype(np.float64),)
            quants = (qy,)
            tsels = (0,)
        comps = [
            dict(zz=_quantized_blocks(p, q, mcuy, mcux), tsel=t, hv=0x11,
                 mcu=(1, 1), acg=(mcuy, mcux))
            for p, q, t in zip(planes, quants, tsels)
        ]

    out = bytearray(b"\xff\xd8")  # SOI

    def seg(marker: int, body: bytes) -> None:
        out.extend(struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body)

    seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")  # APP0
    for tid, q in ((0, qy), (1, qc))[: 1 if nc == 1 else 2]:
        zz = np.empty(64, np.uint8)
        zz[np.arange(64)] = q.reshape(-1)[ZIGZAG]
        seg(0xDB, bytes([tid]) + zz.tobytes())
    sof = struct.pack(">BHHB", 8, h, w, nc)
    for ci, c in enumerate(comps):
        sof += bytes([ci + 1, c["hv"], 0 if ci == 0 else 1])
    seg(0xC2, sof)  # SOF2 progressive
    tables = [
        (0x00, DC_LUMA_BITS, DC_LUMA_VALS),
        (0x10, AC_LUMA_BITS, AC_LUMA_VALS),
    ]
    if nc == 3:
        tables += [
            (0x01, DC_CHROMA_BITS, DC_CHROMA_VALS),
            (0x11, AC_CHROMA_BITS, AC_CHROMA_VALS),
        ]
    for tid, bits, vals in tables:
        seg(0xC4, bytes([tid] + bits) + bytes(vals))
    if restart_interval:
        seg(0xDD, struct.pack(">H", restart_interval))

    enc_dc = [
        _build_encode_table(DC_LUMA_BITS, DC_LUMA_VALS),
        _build_encode_table(DC_CHROMA_BITS, DC_CHROMA_VALS),
    ]
    enc_ac = [
        _build_encode_table(AC_LUMA_BITS, AC_LUMA_VALS),
        _build_encode_table(AC_CHROMA_BITS, AC_CHROMA_VALS),
    ]

    def sos_header(comp_list, ss, se, ah, al):
        body = bytes([len(comp_list)])
        for c in comp_list:
            sel = 0 if c == 0 else 1
            body += bytes([c + 1, (sel << 4) | sel])
        body += bytes([ss, se, (ah << 4) | al])
        seg(0xDA, body)

    # scan 1: DC first, interleaved, Al=1 (point transform = arithmetic
    # shift, so the Al=0 refinement bit reconstructs exactly)
    sos_header(list(range(nc)), 0, 0, 0, 1)
    wtr = _BitWriter()
    preds = [0] * nc
    unit_i = 0
    rst = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and unit_i and unit_i % restart_interval == 0:
                wtr.restart(rst)
                rst += 1
                preds = [0] * nc
            unit_i += 1
            for ci, c in enumerate(comps):
                v_, h_ = c["mcu"]
                for by in range(v_):
                    for bx in range(h_):
                        t = int(c["zz"][my * v_ + by, mx * h_ + bx, 0]) >> 1
                        diff = t - preds[ci]
                        preds[ci] = t
                        size, mag = _mag_bits(diff)
                        ln, code = enc_dc[c["tsel"]][size]
                        wtr.write(code, ln)
                        if size:
                            wtr.write(mag, size)
    wtr.flush()
    out.extend(wtr.out)

    # scans 2..: AC first per component, two spectral bands, Al=1
    # (non-interleaved: the block grid is ceil(comp_dim/8), which for
    # subsampled luma is SMALLER than the MCU-padded zz allocation)
    for ci, c in enumerate(comps):
        bh, bw = c["acg"]
        for ss, se in ((1, 5), (6, 63)):
            sos_header([ci], ss, se, 0, 1)
            wtr = _BitWriter()
            unit_i = 0
            rst = 0
            for my in range(bh):
                for mx in range(bw):
                    if restart_interval and unit_i and unit_i % restart_interval == 0:
                        wtr.restart(rst)
                        rst += 1
                    unit_i += 1
                    _enc_ac_first(wtr, c["zz"][my, mx], enc_ac[c["tsel"]], ss, se, 1)
            wtr.flush()
            out.extend(wtr.out)

    # DC refinement: one raw bit per block, Al=0
    sos_header(list(range(nc)), 0, 0, 1, 0)
    wtr = _BitWriter()
    unit_i = 0
    rst = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and unit_i and unit_i % restart_interval == 0:
                wtr.restart(rst)
                rst += 1
            unit_i += 1
            for c in comps:
                v_, h_ = c["mcu"]
                for by in range(v_):
                    for bx in range(h_):
                        wtr.write(int(c["zz"][my * v_ + by, mx * h_ + bx, 0]) & 1, 1)
    wtr.flush()
    out.extend(wtr.out)

    # AC refinement per component, matching spectral bands, Ah=1 Al=0
    for ci, c in enumerate(comps):
        bh, bw = c["acg"]
        for ss, se in ((1, 5), (6, 63)):
            sos_header([ci], ss, se, 1, 0)
            wtr = _BitWriter()
            unit_i = 0
            rst = 0
            for my in range(bh):
                for mx in range(bw):
                    if restart_interval and unit_i and unit_i % restart_interval == 0:
                        wtr.restart(rst)
                        rst += 1
                    unit_i += 1
                    _enc_ac_refine(wtr, c["zz"][my, mx], enc_ac[c["tsel"]], ss, se, 0)
            wtr.flush()
            out.extend(wtr.out)

    out.extend(b"\xff\xd9")  # EOI
    return bytes(out)
