"""Baseline JPEG (ITU-T T.81) codec + MJPEG-in-AVI container, pure
numpy/stdlib — the compressed-video pixel-decode path this engine was
missing.

Why this exists: the r8 verdict left "compressed video" as either a
permanent documented limit or an MJPEG-in-AVI decode path ("JPEG via a
pure-Python baseline decoder is in reach of the existing PNG/GIF
precedent"). This module takes the decode option. Motion-JPEG is the
one mainstream compressed video format whose frames are independently
decodable with no inter-frame prediction and no arithmetic/CABAC
entropy stack — each frame is a self-contained baseline JPEG — so a
spec-conformant still decoder is the whole codec. H.264/H.265/VP9/AV1
remain out of scope (they genuinely need ffmpeg; see
:func:`multimodal.decode_video_frames`).

Decoder scope (the real constraint set, stated loudly):
  * baseline sequential DCT (SOF0), 8-bit samples, Huffman entropy
    coding — what digital cameras and MJPEG hardware emit;
  * 1..4 components, integer sampling factors that DIVIDE the scan's
    maxima (4:4:4, 4:2:2, 4:2:0, ...), replicated-pixel upsampling;
    non-divisor factor sets (e.g. 3:2) raise ``ValueError``;
  * restart markers (DRI / RSTn) with DC-predictor reset;
  * APPn/COM segments skipped; progressive (SOF2), arithmetic coding,
    12-bit precision and hierarchical modes raise ``ValueError``.

The encoder exists to make REAL fixtures and round-trip tests — it is a
complete baseline encoder (FDCT, quantize, zigzag, run-length, the
spec's Annex-K Huffman tables, byte stuffing, optional restart
markers), not a bit-for-bit golden blob, so the decoder is exercised
through the genuine entropy layer.

Everything here is per-payload driver/executor-side Python invoked from
Arrow ``mapInPandas`` batches (multimodal.py) — the Spark-correct shape
for opaque-binary decode: the 1→N frame expansion happens inside the
Python worker, no shuffle, no UDF-per-row.

Exactness contract used by the registry oracle (queries.py
``mjpeg_video_decode``): for a solid-gray 8×8 block the 2-D DCT has a
single DC coefficient ``8·(g−128)`` (every AC basis row sums to zero),
so with DC quant step 8 the quantized DC is exactly ``g−128`` and the
IDCT reconstructs exactly ``g`` — float error through the orthonormal
matrix IDCT is ~1e-13, killed by the final round. Block-constant
fixtures therefore round-trip bit-exactly through the LOSSY codec, and
a DuckDB oracle can recompute frame means from the generator formula
without parsing a byte.
"""

from __future__ import annotations

import math
import struct
from typing import Iterator

import numpy as np

# --- constants: scan order, Annex-K Huffman specs, fixture quant ---------

# zigzag index -> raster index (ITU-T T.81 Figure 5)
ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10,
        17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34,
        27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36,
        29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46,
        53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)

# Annex K typical Huffman tables: (bits[1..16], values)
DC_LUM_SPEC = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
DC_CHR_SPEC = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
AC_LUM_SPEC = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
        0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
        0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
        0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
        0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
        0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
        0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
        0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
        0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
        0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
        0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
        0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
        0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
        0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
        0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
        0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
        0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
        0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
        0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)
AC_CHR_SPEC = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
        0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
        0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
        0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
        0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
        0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
        0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
        0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
        0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
        0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
        0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
        0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
        0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
        0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
        0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
        0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)

# fixture quant table: DC step 8 (the solid-block exactness contract in
# the module docstring), flat 16 elsewhere — a VALID baseline table, not
# a perceptual one; fixtures never produce AC coefficients.
FIXTURE_QTABLE = np.full(64, 16, dtype=np.int64)
FIXTURE_QTABLE[0] = 8

# orthonormal 8-point DCT-II matrix: row 0 = 1/sqrt(8), row k =
# 0.5*cos((2n+1)*k*pi/16); 2-D forward is A @ x @ A.T, inverse A.T @ X @ A
_A = np.array(
    [
        [
            (math.sqrt(1.0 / 8.0) if k == 0 else 0.5)
            * math.cos((2 * n + 1) * k * math.pi / 16.0)
            for n in range(8)
        ]
        for k in range(8)
    ]
)


def _fdct2(block: np.ndarray) -> np.ndarray:
    return _A @ (block.astype(np.float64) - 128.0) @ _A.T


def _idct2(coef: np.ndarray) -> np.ndarray:
    return _A.T @ coef.astype(np.float64) @ _A + 128.0


# --- Huffman ----------------------------------------------------------------


def _huff_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """Canonical JPEG Huffman assignment (T.81 Annex C): symbols in
    ``vals`` order get consecutive codes, shorter lengths first. Returns
    symbol -> (length, code)."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (length, code)
            code += 1
            k += 1
        code <<= 1
    return out


def _huff_decode_table(
    bits: list[int], vals: list[int]
) -> dict[tuple[int, int], int]:
    return {lc: sym for sym, lc in _huff_codes(bits, vals).items()}


class _BitWriter:
    """Entropy-segment bit sink with JPEG byte stuffing (FF -> FF 00)."""

    def __init__(self) -> None:
        self.buf = bytearray()
        self._acc = 0
        self._n = 0

    def put(self, value: int, length: int) -> None:
        if length == 0:
            return
        self._acc = (self._acc << length) | (value & ((1 << length) - 1))
        self._n += length
        while self._n >= 8:
            byte = (self._acc >> (self._n - 8)) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:
                self.buf.append(0x00)
            self._n -= 8
        self._acc &= (1 << self._n) - 1

    def flush(self) -> None:
        """Pad the final partial byte with 1-bits (T.81 F.1.2.3)."""
        if self._n:
            self.put((1 << (8 - self._n)) - 1, 8 - self._n)


class _BitReader:
    """Entropy-segment bit source: un-stuffs FF 00, stops at markers,
    and byte-aligns across RSTn boundaries."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self._acc = 0
        self._n = 0

    def bit(self) -> int:
        if self._n == 0:
            if self.pos >= len(self.data):
                raise ValueError("entropy segment truncated")
            byte = self.data[self.pos]
            self.pos += 1
            if byte == 0xFF:
                nxt = self.data[self.pos] if self.pos < len(self.data) else None
                if nxt == 0x00:
                    self.pos += 1
                else:
                    # a real marker mid-block is malformed input
                    raise ValueError("marker inside entropy-coded block")
            self._acc = byte
            self._n = 8
        self._n -= 1
        return (self._acc >> self._n) & 1

    def receive(self, length: int) -> int:
        v = 0
        for _ in range(length):
            v = (v << 1) | self.bit()
        return v

    def read_symbol(self, table: dict[tuple[int, int], int]) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.bit()
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid Huffman code")

    def restart(self, n: int) -> None:
        """Consume an RSTn marker at a byte boundary (T.81 F.2.2.4)."""
        self._acc = 0
        self._n = 0
        if (
            self.pos + 1 >= len(self.data)
            or self.data[self.pos] != 0xFF
            or self.data[self.pos + 1] != 0xD0 + (n & 7)
        ):
            raise ValueError("expected restart marker")
        self.pos += 2


def _extend(v: int, size: int) -> int:
    """Map a ``size``-bit received value to its signed coefficient
    (T.81 F.2.2.1 EXTEND)."""
    if size == 0:
        return 0
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def _category(v: int) -> tuple[int, int]:
    """Signed coefficient -> (size, size-bit code) — EXTEND's inverse."""
    size = abs(v).bit_length()
    return size, (v if v >= 0 else v + (1 << size) - 1)


# --- encoder ---------------------------------------------------------------


def encode_baseline_jpeg(
    planes: list[np.ndarray],
    width: int,
    height: int,
    sampling: list[tuple[int, int]] | None = None,
    qtable: np.ndarray | None = None,
    restart_interval: int = 0,
) -> bytes:
    """Encode component planes as a baseline sequential JPEG.

    ``planes[i]`` is a 2-D uint8 array at COMPONENT resolution
    (``ceil(width*h_i/hmax)`` × ``ceil(height*v_i/vmax)``) — the caller
    owns chroma downsampling. 1 plane emits a grayscale scan, 3 planes
    a YCbCr scan (component IDs 1,2,3; quant/Huffman table 0 for luma,
    1 for chroma). ``qtable`` is one 64-long raster-order table applied
    to every component (fixtures use :data:`FIXTURE_QTABLE`)."""
    ncomp = len(planes)
    if ncomp not in (1, 3):
        raise ValueError("encoder supports 1 or 3 components")
    sampling = sampling or [(1, 1)] * ncomp
    qt = (FIXTURE_QTABLE if qtable is None else np.asarray(qtable)).astype(
        np.int64
    )
    hmax = max(s[0] for s in sampling)
    vmax = max(s[1] for s in sampling)
    mcux = -(-width // (8 * hmax))
    mcuy = -(-height // (8 * vmax))

    padded: list[np.ndarray] = []
    for (sh, sv), plane in zip(sampling, planes):
        ph, pw = mcuy * sv * 8, mcux * sh * 8
        ch = -(-height * sv // vmax)
        cw = -(-width * sh // hmax)
        if plane.shape != (ch, cw):
            raise ValueError(
                f"plane shape {plane.shape} != component dims {(ch, cw)}"
            )
        p = np.empty((ph, pw), dtype=np.uint8)
        p[:ch, :cw] = plane
        p[:ch, cw:] = plane[:, -1:]  # edge-replicate pad
        p[ch:, :] = p[ch - 1 : ch, :]
        padded.append(p)

    out = bytearray(b"\xff\xd8")  # SOI
    # APP0 / JFIF 1.01, no thumbnail
    out += b"\xff\xe0" + struct.pack(
        ">H5sBBBHHBB", 16, b"JFIF\x00", 1, 1, 0, 1, 1, 0, 0
    )
    # DQT: table 0 (+1 when chroma present; same values — fixtures/tests
    # don't need perceptual chroma tables, the SYNTAX is what matters)
    zz_qt = qt[ZIGZAG]
    for tq in range(1 if ncomp == 1 else 2):
        out += b"\xff\xdb" + struct.pack(">HB", 67, tq) + bytes(
            int(x) for x in zz_qt
        )
    # SOF0
    out += b"\xff\xc0" + struct.pack(">HBHHB", 8 + 3 * ncomp, 8, height, width, ncomp)
    for ci in range(ncomp):
        tq = 0 if ci == 0 else 1
        out += struct.pack(
            "BBB", ci + 1, (sampling[ci][0] << 4) | sampling[ci][1], tq
        )
    # DHT
    specs = [(0x00, DC_LUM_SPEC), (0x10, AC_LUM_SPEC)]
    if ncomp == 3:
        specs += [(0x01, DC_CHR_SPEC), (0x11, AC_CHR_SPEC)]
    for tc_th, (bits, vals) in specs:
        out += b"\xff\xc4" + struct.pack(">HB", 19 + len(vals), tc_th)
        out += bytes(bits) + bytes(vals)
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    # SOS
    out += b"\xff\xda" + struct.pack(">HB", 6 + 2 * ncomp, ncomp)
    for ci in range(ncomp):
        tabs = 0x00 if ci == 0 else 0x11
        out += struct.pack("BB", ci + 1, tabs)
    out += struct.pack("BBB", 0, 63, 0)

    enc_dc = [
        _huff_codes(*(DC_LUM_SPEC if ci == 0 else DC_CHR_SPEC))
        for ci in range(ncomp)
    ]
    enc_ac = [
        _huff_codes(*(AC_LUM_SPEC if ci == 0 else AC_CHR_SPEC))
        for ci in range(ncomp)
    ]

    w = _BitWriter()
    pred = [0] * ncomp
    mcu_n = 0
    rst = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_n and mcu_n % restart_interval == 0:
                w.flush()
                out += w.buf
                w = _BitWriter()
                out += bytes([0xFF, 0xD0 + (rst & 7)])
                rst += 1
                pred = [0] * ncomp
            for ci in range(ncomp):
                sh, sv = sampling[ci]
                for by in range(sv):
                    for bx in range(sh):
                        y0 = (my * sv + by) * 8
                        x0 = (mx * sh + bx) * 8
                        block = padded[ci][y0 : y0 + 8, x0 : x0 + 8]
                        coef = np.rint(_fdct2(block).ravel() / qt).astype(
                            np.int64
                        )
                        zz = coef[ZIGZAG]
                        diff = int(zz[0]) - pred[ci]
                        pred[ci] = int(zz[0])
                        size, code = _category(diff)
                        length, hcode = enc_dc[ci][size]
                        w.put(hcode, length)
                        w.put(code, size)
                        run = 0
                        last_nz = int(np.max(np.nonzero(zz)[0])) if np.any(
                            zz[1:]
                        ) else 0
                        for k in range(1, last_nz + 1):
                            v = int(zz[k])
                            if v == 0:
                                run += 1
                                continue
                            while run > 15:
                                length, hcode = enc_ac[ci][0xF0]  # ZRL
                                w.put(hcode, length)
                                run -= 16
                            size, code = _category(v)
                            length, hcode = enc_ac[ci][(run << 4) | size]
                            w.put(hcode, length)
                            w.put(code, size)
                            run = 0
                        if last_nz < 63:
                            length, hcode = enc_ac[ci][0x00]  # EOB
                            w.put(hcode, length)
            mcu_n += 1
    w.flush()
    out += w.buf
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# --- decoder ---------------------------------------------------------------


def decode_baseline_jpeg(b: bytes) -> tuple[int, int, list[np.ndarray]]:
    """Decode a baseline sequential JPEG to full-resolution component
    planes (chroma replicated up, padding cropped). Returns
    ``(width, height, [plane_uint8, ...])``. Raises ``ValueError`` on
    anything outside the documented scope (module docstring)."""
    if b[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qtabs: dict[int, np.ndarray] = {}
    htabs: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    comps: list[dict] = []
    width = height = 0
    restart_interval = 0
    while pos < len(b):
        if b[pos] != 0xFF:
            raise ValueError("marker expected")
        marker = b[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            raise ValueError("EOI before SOS")
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            continue
        seglen = struct.unpack(">H", b[pos : pos + 2])[0]
        seg = b[pos + 2 : pos + seglen]
        if marker == 0xDB:  # DQT
            off = 0
            while off < len(seg):
                pq, tq = seg[off] >> 4, seg[off] & 15
                if pq != 0:
                    raise ValueError("16-bit quant tables unsupported")
                zz = np.frombuffer(
                    seg[off + 1 : off + 65], dtype=np.uint8
                ).astype(np.int64)
                raster = np.empty(64, dtype=np.int64)
                raster[ZIGZAG] = zz
                qtabs[tq] = raster
                off += 65
        elif marker == 0xC4:  # DHT
            off = 0
            while off < len(seg):
                tc, th = seg[off] >> 4, seg[off] & 15
                bits = list(seg[off + 1 : off + 17])
                n = sum(bits)
                vals = list(seg[off + 17 : off + 17 + n])
                htabs[(tc, th)] = _huff_decode_table(bits, vals)
                off += 17 + n
        elif marker == 0xC0:  # SOF0 baseline
            prec, height, width, nc = struct.unpack(">BHHB", seg[:6])
            if prec != 8:
                raise ValueError("only 8-bit precision supported")
            for ci in range(nc):
                cid, hv, tq = seg[6 + 3 * ci : 9 + 3 * ci]
                comps.append(
                    {"id": cid, "h": hv >> 4, "v": hv & 15, "tq": tq}
                )
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                        0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(
                f"non-baseline SOF marker 0xFF{marker:02X} unsupported"
            )
        elif marker == 0xDD:  # DRI
            restart_interval = struct.unpack(">H", seg[:2])[0]
        elif marker == 0xDA:  # SOS
            ns = seg[0]
            scan: list[dict] = []
            for si in range(ns):
                cs, tdta = seg[1 + 2 * si : 3 + 2 * si]
                matches = [c for c in comps if c["id"] == cs]
                if not matches:
                    raise ValueError(
                        f"scan references undeclared component {cs}"
                    )
                scan.append(
                    {**matches[0], "dc": tdta >> 4, "ac": tdta & 15}
                )
            pos += seglen
            return _decode_scan(
                b, pos, width, height, scan, qtabs, htabs, restart_interval
            )
        pos += seglen
    raise ValueError("no SOS marker found")


def _decode_scan(
    b: bytes,
    pos: int,
    width: int,
    height: int,
    scan: list[dict],
    qtabs: dict[int, np.ndarray],
    htabs: dict,
    restart_interval: int,
) -> tuple[int, int, list[np.ndarray]]:
    hmax = max(c["h"] for c in scan)
    vmax = max(c["v"] for c in scan)
    # the upsampler replicates by the INTEGER ratio vmax//v, hmax//h;
    # non-divisor factors (e.g. h=2 with hmax=3) would silently produce
    # undersized planes and wrong means after the crop — reject them
    # loudly here so the failure is a quarantined ValueError, not bad data
    # (a zero factor, which divides nothing, included)
    for c in scan:
        if not c["v"] or not c["h"] or vmax % c["v"] or hmax % c["h"]:
            raise ValueError(
                "non-divisor sampling factors "
                f"(h={c['h']}/{hmax}, v={c['v']}/{vmax}) unsupported"
            )
    mcux = -(-width // (8 * hmax))
    mcuy = -(-height // (8 * vmax))
    planes = [
        np.zeros((mcuy * c["v"] * 8, mcux * c["h"] * 8), dtype=np.uint8)
        for c in scan
    ]
    rd = _BitReader(b, pos)
    pred = [0] * len(scan)
    mcu_n = 0
    rst = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_n and mcu_n % restart_interval == 0:
                rd.restart(rst)
                rst += 1
                pred = [0] * len(scan)
            for ci, comp in enumerate(scan):
                dc_tab = htabs[(0, comp["dc"])]
                ac_tab = htabs[(1, comp["ac"])]
                qt = qtabs[comp["tq"]]
                for by in range(comp["v"]):
                    for bx in range(comp["h"]):
                        zz = np.zeros(64, dtype=np.int64)
                        size = rd.read_symbol(dc_tab)
                        pred[ci] += _extend(rd.receive(size), size)
                        if not -(1 << 63) <= pred[ci] < 1 << 63:
                            # a corrupt DC table's huge size categories
                            raise ValueError("DC predictor past int64")
                        zz[0] = pred[ci]
                        k = 1
                        while k < 64:
                            sym = rd.read_symbol(ac_tab)
                            if sym == 0x00:  # EOB
                                break
                            if sym == 0xF0:  # ZRL
                                k += 16
                                continue
                            k += sym >> 4
                            if k > 63:
                                raise ValueError("AC run past block end")
                            zz[k] = _extend(
                                rd.receive(sym & 15), sym & 15
                            )
                            k += 1
                        raster = np.zeros(64, dtype=np.int64)
                        raster[ZIGZAG] = zz
                        px = np.clip(
                            np.rint(_idct2((raster * qt).reshape(8, 8))),
                            0,
                            255,
                        ).astype(np.uint8)
                        y0 = (my * comp["v"] + by) * 8
                        x0 = (mx * comp["h"] + bx) * 8
                        planes[ci][y0 : y0 + 8, x0 : x0 + 8] = px
            mcu_n += 1
    full = []
    for ci, comp in enumerate(scan):
        p = planes[ci]
        ry, rx = vmax // comp["v"], hmax // comp["h"]
        if ry > 1 or rx > 1:
            p = np.repeat(np.repeat(p, ry, axis=0), rx, axis=1)
        full.append(p[:height, :width])
    return width, height, full


# --- MJPEG-in-AVI container ------------------------------------------------
#
# RIFF('AVI ') { LIST hdrl { avih, LIST strl { strh('vids'/'MJPG'),
# strf(BITMAPINFOHEADER) } }, LIST movi { '00dc' <jpeg> ... } }.
# Index (idx1) is optional and omitted — frames are walked sequentially.


def build_mjpeg_avi(
    frames: list[bytes], width: int, height: int, fps: int = 25
) -> bytes:
    """Assemble JPEG frame payloads into a minimal valid MJPEG AVI."""
    strf = struct.pack(
        "<IiiHH4sIiiII",
        40, width, height, 1, 24, b"MJPG",
        width * height * 3, 0, 0, 0, 0,
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIII4H",
        b"vids", b"MJPG", 0, 0, 0, 0, 1, fps, 0, len(frames),
        max((len(f) for f in frames), default=0), 10000, 0,
        0, 0, width, height,
    )
    strl = b"LIST" + struct.pack("<I", 4 + 8 + len(strh) + 8 + len(strf))
    strl += b"strl" + b"strh" + struct.pack("<I", len(strh)) + strh
    strl += b"strf" + struct.pack("<I", len(strf)) + strf
    avih = struct.pack(
        "<IIIIIIIIIIIIII",
        1_000_000 // fps, 0, 0, 0x10, len(frames), 0, 1, 0,
        width, height, 0, 0, 0, 0,
    )
    hdrl = b"LIST" + struct.pack("<I", 4 + 8 + len(avih) + len(strl))
    hdrl += b"hdrl" + b"avih" + struct.pack("<I", len(avih)) + avih + strl
    movi = bytearray(b"movi")
    for f in frames:
        movi += b"00dc" + struct.pack("<I", len(f)) + f
        if len(f) % 2:
            movi += b"\x00"  # RIFF chunks are word-aligned
    movi_list = b"LIST" + struct.pack("<I", len(movi)) + bytes(movi)
    body = b"AVI " + hdrl + movi_list
    return b"RIFF" + struct.pack("<I", len(body)) + body


def avi_video_fourcc(b: bytes) -> str | None:
    """The video stream's compression fourcc (strh.fccHandler), or None
    if the payload is not a parseable AVI with a video stream."""
    for chunk_id, data in _iter_riff_chunks(b):
        if chunk_id == b"strh" and data[:4] == b"vids":
            return data[4:8].decode("ascii", "replace")
    return None


def _iter_riff_chunks(b: bytes) -> Iterator[tuple[bytes, bytes]]:
    """Flat walk of every chunk in a RIFF-AVI payload, recursing into
    LIST containers. Malformed/truncated payloads yield what parses."""
    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"AVI ":
        return
    stack = [(12, min(8 + struct.unpack("<I", b[4:8])[0], len(b)))]
    while stack:
        pos, end = stack.pop()
        while pos + 8 <= end:
            cid = b[pos : pos + 4]
            size = struct.unpack("<I", b[pos + 4 : pos + 8])[0]
            data_end = pos + 8 + size
            if data_end > end:
                return
            if cid == b"LIST":
                stack.append((data_end + (size & 1), end))
                stack.append((pos + 12, data_end))
                break
            yield cid, b[pos + 8 : data_end]
            pos = data_end + (size & 1)


def iter_avi_mjpeg_frames(b: bytes) -> Iterator[tuple[int, bytes]]:
    """Yield ``(frame_idx, jpeg_bytes)`` for each video chunk of an
    MJPEG AVI. Non-AVI, non-MJPG-fourcc, or truncated payloads yield
    nothing (quarantine-not-fail, same contract as the Y4M parser)."""
    if avi_video_fourcc(b) != "MJPG":
        return
    idx = 0
    for cid, data in _iter_riff_chunks(b):
        if cid[2:4] in (b"dc", b"db") and data[:2] == b"\xff\xd8":
            yield idx, data
            idx += 1


def parse_mjpeg_avi_stats(
    b: bytes,
) -> Iterator[tuple[int, int, int, float, float, float]]:
    """Yield ``(frame_idx, w, h, mean_y, mean_u, mean_v)`` per frame of
    an MJPEG AVI — the same row contract as multimodal._parse_y4m, so
    decode_video_frames can route on container magic. Component means
    are exact int64 sums over the cropped full-resolution planes; a
    grayscale frame reports NaN chroma. A frame that fails JPEG decode
    is skipped (quarantine), not fatal to earlier frames — including
    truncated headers, whose struct/slice errors must not escape the
    Python worker."""
    for idx, jpeg in iter_avi_mjpeg_frames(b):
        try:
            # KeyError: a scan referencing an undefined Huffman/quant
            # table id — malformed, quarantine like any other decode
            # failure instead of failing the whole Spark task
            w, h, planes = decode_baseline_jpeg(jpeg)
        except (ValueError, struct.error, IndexError, KeyError):
            continue
        if w == 0 or h == 0:
            # a SOF declaring a zero dimension has no pixels to average;
            # skipping mirrors the cnt==0 guard in _jpeg_channel_means
            continue
        means = [
            int(p.astype(np.int64).sum()) / (w * h) for p in planes[:3]
        ]
        while len(means) < 3:
            means.append(float("nan"))
        yield idx, w, h, means[0], means[1], means[2]
