"""JPEG (ITU T.81) decoder from the standard library and numpy.

Baseline sequential DCT: marker parse, canonical huffman decode,
run-length/EOB/ZRL, DC prediction with restart-marker resync, dequant +
de-zigzag + orthonormal IDCT.  PROGRESSIVE (SOF2) is also decoded:
scans accumulate coefficients with spectral selection and successive
approximation (DC first/refine, AC first with EOBRUN, AC refinement
with interleaved correction bits per T.81 G.1.2.3), IDCT at the end.
Only the luma component is inverse-transformed (the output is
luminance); chroma blocks are entropy-decoded to keep the bitstream in
sync.  LOSSLESS (SOF3) decodes via the Annex-H DPCM predictors (2-16
bit, MSB-aligned; 3-component RGB through the reference's Q14 grey
form), and 12-bit DCT precision decodes with the 2^11 level shift + MSB
alignment.  ARITHMETIC-coded DCT modes (SOF9 sequential, SOF10
progressive) decode natively via a T.81 Annex-D QM-coder with the F.1.4
DC/AC decision trees and DAC conditioning.  HIERARCHICAL files (Annex
J) decode when the pyramid is sequential Huffman DCT: DHP, a
non-differential first frame, EXP reference expansion per J.1.1.2
(copy/interpolate/edge-replicate, horizontal before vertical), and SOF5
differential frames whose un-level-shifted, prediction-free corrections
add onto the int32 reference with clamping; pyramids built from
progressive/lossless/arithmetic frames raise UnsupportedMedia.

No entry point imports this module; it is what remains of the former
image/audio/video decode stack and is due for deletion together with
its tests (ROADMAP item C).
"""

from __future__ import annotations

import struct

import numpy as np


class UnsupportedMedia(ValueError):
    """Payload is syntactically valid but outside the decoder's subset."""


MAX_PIXELS = 64 << 20  # decode-bomb guard: 64M pixels (~256MB of float64)


def _q14_gray(r, g, b):
    """The reference's exact RGB2gray fixed-point form (color.h:110-116):
    Q14 BT.601 LUT sum, rounding constant 1<<13, >> 14."""
    return ((4899 * r + 9617 * g + 1868 * b + (1 << 13)) >> 14) \
        .astype(np.uint8)


def _check_dims(width: int, height: int) -> None:
    """Reject absurd dimensions BEFORE allocating planes — a corrupt or
    adversarial header (e.g. a bit-flipped JPEG SOF claiming 65535x65535)
    must raise, not allocate tens of GB (caught by the fuzz suite)."""
    if width <= 0 or height <= 0 or width * height > MAX_PIXELS:
        raise UnsupportedMedia(f"implausible dimensions {width}x{height}")


# ---------------------------------------------------------------------------
# Baseline JPEG (ITU T.81 sequential DCT), luminance-only output
# ---------------------------------------------------------------------------

_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

_IDCT_C = None


def _idct_matrix() -> "np.ndarray":
    """8x8 DCT-III basis: block = C.T @ coefs @ C (orthonormal scaling)."""
    global _IDCT_C
    if _IDCT_C is None:
        k = np.arange(8)
        C = np.cos((2 * k[None, :] + 1) * k[:, None] * np.pi / 16)
        C *= np.sqrt(2.0 / 8.0)
        C[0, :] *= 1.0 / np.sqrt(2.0)
        _IDCT_C = C
    return _IDCT_C


class _HuffTable:
    __slots__ = ("lookup",)

    def __init__(self, counts: list[int], symbols: bytes) -> None:
        # canonical codes: ascending length, ascending order
        self.lookup: dict[tuple[int, int], int] = {}
        code = 0
        k = 0
        for length in range(1, 17):
            for _ in range(counts[length - 1]):
                self.lookup[(length, code)] = symbols[k]
                k += 1
                code += 1
            code <<= 1


class _BitReader:
    """MSB-first bit reader over entropy-coded data with 0xFF00
    unstuffing; stops at any non-RST marker."""

    __slots__ = ("data", "pos", "bitbuf", "nbits")

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.bitbuf = 0
        self.nbits = 0

    def _fill(self) -> None:
        d = self.data
        while self.nbits <= 24:
            if self.pos >= len(d):
                self.bitbuf = (self.bitbuf << 8) | 0  # pad (spec: 1s ok too)
                self.nbits += 8
                continue
            b = d[self.pos]
            if b == 0xFF:
                nxt = d[self.pos + 1] if self.pos + 1 < len(d) else 0xD9
                if nxt == 0x00:
                    self.pos += 2
                elif 0xD0 <= nxt <= 0xD7:
                    break  # restart marker: caller resyncs
                else:
                    break  # EOI / next segment
            else:
                self.pos += 1
            self.bitbuf = (self.bitbuf << 8) | b
            self.nbits += 8

    def bits(self, n: int) -> int:
        if n == 0:
            return 0
        while self.nbits < n:
            self._fill()
            if self.nbits < n:  # marker hit: pad with zeros
                self.bitbuf <<= 8
                self.nbits += 8
        self.nbits -= n
        v = (self.bitbuf >> self.nbits) & ((1 << n) - 1)
        self.bitbuf &= (1 << self.nbits) - 1
        return v

    def huff(self, table: _HuffTable) -> int:
        length = 0
        code = 0
        for _ in range(16):
            code = (code << 1) | self.bits(1)
            length += 1
            sym = table.lookup.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid huffman code in JPEG stream")

    def resync_restart(self) -> None:
        """Skip to just past the next RSTn marker, dropping bit state."""
        d = self.data
        p = self.pos
        while p + 1 < len(d):
            if d[p] == 0xFF and 0xD0 <= d[p + 1] <= 0xD7:
                self.pos = p + 2
                self.bitbuf = 0
                self.nbits = 0
                return
            p += 1
        self.pos = len(d)
        self.bitbuf = 0
        self.nbits = 0


def _extend(v: int, s: int) -> int:
    """DC/AC value extension (T.81 F.2.2.1): s-bit magnitude to signed."""
    if s == 0:
        return 0
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


# ---------------------------------------------------------------------------
# Arithmetic-coded JPEG (ITU T.81 Annex D QM-coder + F.1.4 decision trees)
# ---------------------------------------------------------------------------

# T.81 Table D.3 probability-estimation state machine: one row per
# state, (Qe, next-state-after-LPS, next-state-after-MPS, MPS-switch).
# The values are the published spec table (transcribed and pinned
# against the system libjpeg's export of the same table in
# tests/test_arith_jpeg.py when that library is present).  Entry 113
# is the non-adapting Qe~0.5 bin used for AC signs and refinement
# bits (F.1.4.4.1.3): it transitions to itself, so it never adapts.
_QM_QE = (
    (0x5A1D, 1, 1, 1), (0x2586, 14, 2, 0), (0x1114, 16, 3, 0),
    (0x080B, 18, 4, 0), (0x03D8, 20, 5, 0), (0x01DA, 23, 6, 0),
    (0x00E5, 25, 7, 0), (0x006F, 28, 8, 0), (0x0036, 30, 9, 0),
    (0x001A, 33, 10, 0), (0x000D, 35, 11, 0), (0x0006, 9, 12, 0),
    (0x0003, 10, 13, 0), (0x0001, 12, 13, 0), (0x5A7F, 15, 15, 1),
    (0x3F25, 36, 16, 0), (0x2CF2, 38, 17, 0), (0x207C, 39, 18, 0),
    (0x17B9, 40, 19, 0), (0x1182, 42, 20, 0), (0x0CEF, 43, 21, 0),
    (0x09A1, 45, 22, 0), (0x072F, 46, 23, 0), (0x055C, 48, 24, 0),
    (0x0406, 49, 25, 0), (0x0303, 51, 26, 0), (0x0240, 52, 27, 0),
    (0x01B1, 54, 28, 0), (0x0144, 56, 29, 0), (0x00F5, 57, 30, 0),
    (0x00B7, 59, 31, 0), (0x008A, 60, 32, 0), (0x0068, 62, 33, 0),
    (0x004E, 63, 34, 0), (0x003B, 32, 35, 0), (0x002C, 33, 9, 0),
    (0x5AE1, 37, 37, 1), (0x484C, 64, 38, 0), (0x3A0D, 65, 39, 0),
    (0x2EF1, 67, 40, 0), (0x261F, 68, 41, 0), (0x1F33, 69, 42, 0),
    (0x19A8, 70, 43, 0), (0x1518, 72, 44, 0), (0x1177, 73, 45, 0),
    (0x0E74, 74, 46, 0), (0x0BFB, 75, 47, 0), (0x09F8, 77, 48, 0),
    (0x0861, 78, 49, 0), (0x0706, 79, 50, 0), (0x05CD, 48, 51, 0),
    (0x04DE, 50, 52, 0), (0x040F, 50, 53, 0), (0x0363, 51, 54, 0),
    (0x02D4, 52, 55, 0), (0x025C, 53, 56, 0), (0x01F8, 54, 57, 0),
    (0x01A4, 55, 58, 0), (0x0160, 56, 59, 0), (0x0125, 57, 60, 0),
    (0x00F6, 58, 61, 0), (0x00CB, 59, 62, 0), (0x00AB, 61, 63, 0),
    (0x008F, 61, 32, 0), (0x5B12, 65, 65, 1), (0x4D04, 80, 66, 0),
    (0x412C, 81, 67, 0), (0x37D8, 82, 68, 0), (0x2FE8, 83, 69, 0),
    (0x293C, 84, 70, 0), (0x2379, 86, 71, 0), (0x1EDF, 87, 72, 0),
    (0x1AA9, 87, 73, 0), (0x174E, 72, 74, 0), (0x1424, 72, 75, 0),
    (0x119C, 74, 76, 0), (0x0F6B, 74, 77, 0), (0x0D51, 75, 78, 0),
    (0x0BB6, 77, 79, 0), (0x0A40, 77, 48, 0), (0x5832, 80, 81, 1),
    (0x4D1C, 88, 82, 0), (0x438E, 89, 83, 0), (0x3BDD, 90, 84, 0),
    (0x34EE, 91, 85, 0), (0x2EAE, 92, 86, 0), (0x299A, 93, 87, 0),
    (0x2516, 86, 71, 0), (0x5570, 88, 89, 1), (0x4CA9, 95, 90, 0),
    (0x44D9, 96, 91, 0), (0x3E22, 97, 92, 0), (0x3824, 99, 93, 0),
    (0x32B4, 99, 94, 0), (0x2E17, 93, 86, 0), (0x56A8, 95, 96, 1),
    (0x4F46, 101, 97, 0), (0x47E5, 102, 98, 0), (0x41CF, 103, 99, 0),
    (0x3C3D, 104, 100, 0), (0x375E, 99, 93, 0), (0x5231, 105, 102, 0),
    (0x4C0F, 106, 103, 0), (0x4639, 107, 104, 0), (0x415E, 103, 99, 0),
    (0x5627, 105, 106, 1), (0x50E7, 108, 107, 0), (0x4B85, 109, 103, 0),
    (0x5597, 110, 109, 0), (0x504F, 111, 107, 0), (0x5A10, 110, 111, 1),
    (0x5522, 112, 109, 0), (0x59EB, 112, 111, 1), (0x5A1D, 113, 113, 0),
)


class _QMDecoder:
    """T.81 Annex D arithmetic (QM-coder) decoder over one
    entropy-coded segment.

    Registers follow the software conventions of D.2: A holds the
    16-bit probability interval, C is a 32-bit register whose top 16
    bits (Chigh) are compared against the MPS subinterval; fresh data
    bytes enter at bits 8-15 and surface into Chigh as renormalization
    shifts them up.  Byte stuffing per D.1.6: a 0x00 following a 0xFF
    data byte is skipped; 0xFF followed by anything else is a marker —
    the segment is over and the decoder pads with ZERO bytes from then
    on (the pad the encoder's flush removed; matches libjpeg's
    convention, against which this decoder is oracle-tested).

    Each context is one byte in a caller-owned bytearray: bit 7 is the
    current MPS sense, bits 0-6 the Table D.3 state index."""

    __slots__ = ("data", "pos", "c", "a", "ct", "_pad")

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self._init_at(pos)

    def _init_at(self, pos: int) -> None:
        """INITDEC (T.81 D.2.7): load two bytes, pre-shift 7 bits."""
        self.pos = pos
        self._pad = False
        self.c = self._next_byte() << 16
        self.c = (self.c + (self._next_byte() << 8)) & 0xFFFFFFFF
        self.ct = 8
        self.c = (self.c << 7) & 0xFFFFFFFF
        self.ct -= 7
        self.a = 0x8000

    def _next_byte(self) -> int:
        if self._pad:
            return 0
        d = self.data
        p = self.pos
        if p >= len(d):
            self._pad = True
            return 0
        b = d[p]
        if b == 0xFF:
            if p + 1 < len(d) and d[p + 1] == 0x00:
                self.pos = p + 2          # stuffed: 0xFF is data
                return 0xFF
            self._pad = True              # marker: leave pos at the 0xFF
            return 0
        self.pos = p + 1
        return b

    def decode(self, stats: bytearray, i: int) -> int:
        """DECODE (T.81 D.2.2) one binary decision in context
        stats[i], updating the context's state per D.2.4/D.2.5."""
        sv = stats[i]
        qe, nlps, nmps, sw = _QM_QE[sv & 0x7F]
        mps = sv >> 7
        a = self.a - qe
        if (self.c >> 16) < a:
            if a & 0x8000:                # MPS without renormalization
                self.a = a
                return mps
            if a < qe:                    # conditional exchange: LPS
                bit = mps ^ 1
                stats[i] = ((mps ^ sw) << 7) | nlps
            else:
                bit = mps
                stats[i] = (mps << 7) | nmps
        else:                             # top (Qe-sized) subinterval
            self.c -= a << 16
            if a < qe:                    # conditional exchange: MPS
                bit = mps
                stats[i] = (mps << 7) | nmps
            else:
                bit = mps ^ 1
                stats[i] = ((mps ^ sw) << 7) | nlps
            a = qe
        c, ct = self.c, self.ct           # RENORMD (D.2.6)
        while True:
            if ct == 0:
                c = (c + (self._next_byte() << 8)) & 0xFFFFFFFF
                ct = 8
            a <<= 1
            c = (c << 1) & 0xFFFFFFFF
            ct -= 1
            if a & 0x8000:
                break
        self.a, self.c, self.ct = a, c, ct
        return bit

    def resync_restart(self) -> None:
        """Skip to just past the next RSTn and re-run INITDEC (the
        arithmetic coder restarts from scratch at every restart
        interval, F.1.4.3)."""
        d = self.data
        p = self.pos
        while p + 1 < len(d):
            if d[p] == 0xFF and 0xD0 <= d[p + 1] <= 0xD7:
                self._init_at(p + 2)
                return
            p += 1
        self._init_at(len(d))


def _arith_dc_diff(dec, st, ctx, L, U):
    """Decode one DC difference (T.81 F.1.4.1, Figures F.22-F.24).

    Context layout per Table F.4: the conditioning category `ctx`
    (0/4/8/12/16, classified from the PREVIOUS diff against the DAC
    L/U bounds) selects a 4-bin group (S0, SS, SP, SN); magnitude
    categories X2+ live at offset 20 and the magnitude bit bins 14
    past wherever the category walk ended.  Returns (diff, next
    conditioning category)."""
    if dec.decode(st, ctx) == 0:
        return 0, 0
    sign = dec.decode(st, ctx + 1)
    p = ctx + 2 + sign
    m = dec.decode(st, p)
    if m:
        p = 20
        while dec.decode(st, p):
            m <<= 1
            if m == 0x8000:
                raise ValueError("JPEG arithmetic DC magnitude overflow")
            p += 1
    if m < (1 << L) >> 1:
        nctx = 0
    elif m > (1 << U) >> 1:
        nctx = 12 + 4 * sign
    else:
        nctx = 4 + 4 * sign
    v = m
    p += 14
    m >>= 1
    while m:
        if dec.decode(st, p):
            v |= m
        m >>= 1
    v += 1
    return (-v if sign else v), nctx


def _arith_ac_band(dec, st, fixed, block, ss, se, kx, al):
    """Decode one block's AC band (T.81 F.1.4.2): per zigzag index k a
    3-bin group (EOB, nonzero, X1/X2) at 3*(k-1); signs ride the
    non-adapting fixed bin; magnitude categories X3+ share the
    low-frequency (k<=Kx, offset 189) or high-frequency (offset 217)
    region per the DAC Kx conditioning."""
    k = ss
    while k <= se:
        p = 3 * (k - 1)
        if dec.decode(st, p):
            return                         # EOB
        while dec.decode(st, p + 1) == 0:
            k += 1
            p += 3
            if k > se:
                raise ValueError("JPEG arithmetic AC run past band end")
        sign = dec.decode(fixed, 0)
        p += 2
        m = dec.decode(st, p)
        if m and dec.decode(st, p):        # X1 then X2 share one bin
            m = 2
            p = 189 if k <= kx else 217
            while dec.decode(st, p):
                m <<= 1
                if m == 0x8000:
                    raise ValueError(
                        "JPEG arithmetic AC magnitude overflow")
                p += 1
        v = m
        p += 14
        m >>= 1
        while m:
            if dec.decode(st, p):
                v |= m
            m >>= 1
        v += 1
        block[k] = (-v if sign else v) << al
        k += 1


def _arith_ac_refine(dec, st, fixed, block, ss, se, al):
    """Successive-approximation AC refinement (T.81 G.2 arithmetic
    form): previously-nonzero coefficients decode one correction bit
    in their group's third bin; zero-history positions decode the
    newly-nonzero decision, with the sign on the fixed bin.  The EOB
    decision is only coded beyond the block's prior nonzero extent."""
    p1, m1 = 1 << al, -(1 << al)
    kex = se
    while kex > 0 and block[kex] == 0:
        kex -= 1
    k = ss
    while k <= se:
        p = 3 * (k - 1)
        if k > kex and dec.decode(st, p):
            return                         # EOB
        while True:
            if block[k]:
                if dec.decode(st, p + 2):
                    block[k] += m1 if block[k] < 0 else p1
                break
            if dec.decode(st, p + 1):
                block[k] = m1 if dec.decode(fixed, 0) else p1
                break
            k += 1
            p += 3
            if k > se:
                raise ValueError(
                    "JPEG arithmetic AC refinement past band end")
        k += 1


def _scan_units(frame, scan):
    """(component, block-row, block-col) decode order of a scan: the
    component's own raster grid when non-interleaved (T.81 A.2.2),
    MCU-interleaved otherwise.  Returns (units, data units per MCU)."""
    hmax, vmax, mcux, mcuy = _prog_geometry(frame)
    if len(scan) == 1:
        bh, bw = _prog_scan_blocks(frame, scan[0])
        return ([(scan[0], by, bx) for by in range(bh)
                 for bx in range(bw)], 1)
    units = []
    for my in range(mcuy):
        for mx in range(mcux):
            for c in scan:
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        units.append((c, my * c["v"] + by,
                                      mx * c["h"] + bx))
    return units, sum(c["v"] * c["h"] for c in scan)


def _arith_decode_scan(data, pos, frame, scan, state, dc_cond, ac_cond,
                       ss, se, ah, al, restart_interval):
    """Decode one arithmetic-coded scan (sequential SOF9 or
    progressive SOF10) into the zigzag coefficient state; returns the
    payload offset of the next marker.  Statistics are fresh per scan
    and fully reset at every restart interval (F.1.4.3), where the
    QM decoder also re-runs INITDEC past the RSTn."""
    dec = _QMDecoder(data, pos)
    dc_stats = {c["dc"]: bytearray(64) for c in scan}
    ac_stats = {c["ac"]: bytearray(256) for c in scan}
    fixed = bytearray([113])
    dc_ctx = {c["id"]: 0 for c in scan}
    last_dc = {c["id"]: 0 for c in scan}
    prog = frame.get("prog", False)
    if prog and ss == 0 and se != 0:
        raise ValueError("JPEG progressive DC scan with Se != 0")
    if prog and ss != 0 and len(scan) != 1:
        raise ValueError("JPEG progressive AC scan must be"
                         " non-interleaved")
    units, per_mcu = _scan_units(frame, scan)
    mcu = 0
    for i, (c, by, bx) in enumerate(units):
        if restart_interval and i % per_mcu == 0:
            if mcu and mcu % restart_interval == 0:
                dec.resync_restart()
                for s in dc_stats.values():
                    s[:] = bytes(len(s))
                for s in ac_stats.values():
                    s[:] = bytes(len(s))
                for k in dc_ctx:
                    dc_ctx[k] = 0
                for k in last_dc:
                    last_dc[k] = 0
            mcu += 1
        block = state[c["id"]][by, bx]
        L, U = dc_cond.get(c["dc"], (0, 1))
        kx = ac_cond.get(c["ac"], 5)
        if not prog:                       # sequential: DC + full band
            diff, dc_ctx[c["id"]] = _arith_dc_diff(
                dec, dc_stats[c["dc"]], dc_ctx[c["id"]], L, U)
            last_dc[c["id"]] += diff
            block[0] = last_dc[c["id"]]
            _arith_ac_band(dec, ac_stats[c["ac"]], fixed, block,
                           1, 63, kx, 0)
        elif ss == 0:
            if ah == 0:                    # DC first
                diff, dc_ctx[c["id"]] = _arith_dc_diff(
                    dec, dc_stats[c["dc"]], dc_ctx[c["id"]], L, U)
                last_dc[c["id"]] += diff
                block[0] = last_dc[c["id"]] << al
            elif dec.decode(fixed, 0):     # DC refinement bit
                block[0] |= 1 << al
        elif ah == 0:                      # AC first
            _arith_ac_band(dec, ac_stats[c["ac"]], fixed, block,
                           ss, se, kx, al)
        else:                              # AC refinement
            _arith_ac_refine(dec, ac_stats[c["ac"]], fixed, block,
                             ss, se, al)
    p = max(dec.pos, pos)                  # walk to the next marker
    while p + 1 < len(data):
        if data[p] == 0xFF and data[p + 1] != 0x00 and \
                not (0xD0 <= data[p + 1] <= 0xD7):
            return p
        p += 1
    return len(data)


def _exp_upsample(ref: "np.ndarray", eh: int, ev: int, wt: int,
                  ht: int) -> "np.ndarray":
    """T.81 J.1.1.2 reference-component expansion for hierarchical
    frames: each signalled dimension doubles, output sample 2x copies
    input x and 2x+1 interpolates ((x + x+1 + 1) >> 1) with the final
    edge sample replicated; horizontal expansion runs before vertical.
    (wt, ht) are the NEXT frame's dimensions — each must be 2W or 2W-1
    of the expanded axis (odd full-resolution extents), unchanged on an
    unsignalled axis."""
    out = ref
    for axis, flag, target in ((1, eh, wt), (0, ev, ht)):
        size = out.shape[axis]
        if not flag:
            if target != size:
                raise ValueError("JPEG hierarchical frame dims do not"
                                 " match the (unexpanded) reference")
            continue
        if target not in (2 * size, 2 * size - 1):
            raise ValueError("JPEG EXP target is not 2W or 2W-1")
        moved = np.moveaxis(out, axis, 0)
        o = np.empty((2 * size,) + moved.shape[1:], dtype=out.dtype)
        o[0::2] = moved
        o[1:-1:2] = (moved[:-1] + moved[1:] + 1) >> 1
        o[-1] = moved[-1]
        out = np.moveaxis(o[:target], 0, axis)
    return out


def decode_jpeg(payload: bytes) -> "np.ndarray":
    """Baseline (SOF0/1) or progressive (SOF2) JPEG -> (H, W) uint8
    LUMINANCE.

    The Y component is fully decoded (huffman -> dequant -> de-zigzag ->
    IDCT -> level shift); chroma blocks are entropy-decoded only to keep
    the bitstream in sync, never inverse-transformed (we output luma).
    Progressive scans accumulate coefficients (spectral selection +
    successive approximation) and the IDCT runs once at EOI.  Lossless
    (SOF3) decodes via the Annex-H DPCM predictors (2-16 bit precision,
    MSB-aligned to 8); 12-bit DCT modes level-shift at 2^11 and
    MSB-align.  Arithmetic-coded DCT modes (SOF9/SOF10) decode via the
    Annex-D QM-coder with DAC conditioning.  HIERARCHICAL files (Annex
    J: DHP, then a pyramid of frames) decode when every frame is
    sequential Huffman DCT — a non-differential first frame, EXP
    reference expansion (J.1.1.2), and SOF5 differential frames whose
    un-level-shifted IDCT corrections accumulate onto the reference;
    hierarchical pyramids using progressive/lossless/arithmetic frames
    raise UnsupportedMedia."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (no SOI)")
    qt: dict[int, list[int]] = {}
    huff_dc: dict[int, _HuffTable] = {}
    huff_ac: dict[int, _HuffTable] = {}
    frame = None
    restart_interval = 0
    dc_cond: dict[int, tuple[int, int]] = {}
    ac_cond: dict[int, int] = {}
    hier = None          # DHP dims/precision when hierarchical
    ref = None           # accumulated int32 luma plane (precision P)
    pending_exp = None   # (Eh, Ev) from an EXP marker, applied pre-frame
    pos = 2
    n = len(payload)
    while pos + 4 <= n:
        if payload[pos] != 0xFF:
            pos += 1
            continue
        marker = payload[pos + 1]
        if marker == 0xFF:       # fill byte before a marker (B.1.1.2)
            pos += 1
            continue
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        if marker == 0xD9:  # EOI
            break
        seglen = struct.unpack(">H", payload[pos + 2:pos + 4])[0]
        seg = payload[pos + 4:pos + 2 + seglen]
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(seg):
                pq, tq = seg[i] >> 4, seg[i] & 0xF
                i += 1
                if pq == 0:
                    qt[tq] = list(seg[i:i + 64])
                    i += 64
                else:
                    qt[tq] = list(struct.unpack(f">{64}H", seg[i:i + 128]))
                    i += 128
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(seg):
                tc, th = seg[i] >> 4, seg[i] & 0xF
                counts = list(seg[i + 1:i + 17])
                nsym = sum(counts)
                symbols = seg[i + 17:i + 17 + nsym]
                (huff_dc if tc == 0 else huff_ac)[th] = _HuffTable(
                    counts, symbols)
                i += 17 + nsym
        elif marker == 0xCC:  # DAC (B.2.4.3): arithmetic conditioning
            i = 0
            while i + 1 < len(seg):
                tc, tb = seg[i] >> 4, seg[i] & 0xF
                cs = seg[i + 1]
                if tc == 0:
                    low, up = cs & 0xF, cs >> 4
                    if low > up:
                        raise ValueError("JPEG DAC with L > U")
                    dc_cond[tb] = (low, up)
                else:
                    if not 1 <= cs <= 63:
                        raise ValueError("JPEG DAC Kx out of range")
                    ac_cond[tb] = cs
                i += 2
        elif marker == 0xDE:  # DHP (B.3.2): hierarchical progression
            if frame is not None or hier is not None:
                raise ValueError("JPEG DHP after a frame or repeated")
            height, width = struct.unpack(">HH", seg[1:5])
            _check_dims(width, height)
            hier = {"w": width, "h": height, "precision": seg[0]}
        elif marker == 0xDF:  # EXP (B.3.3): expand reference components
            if hier is None or ref is None:
                raise ValueError("JPEG EXP outside a hierarchical"
                                 " pyramid or before the first frame")
            eh, ev = seg[0] >> 4, seg[0] & 0xF
            if eh not in (0, 1) or ev not in (0, 1) or not (eh or ev):
                raise ValueError("JPEG EXP with Eh/Ev not in {0,1}")
            pending_exp = (eh, ev)
        elif marker in (0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC9, 0xCA):
            # baseline / extended / progressive / lossless, the
            # arithmetic-coded twins (SOF9 sequential, SOF10
            # progressive), and — inside a DHP pyramid only — SOF5
            # differential sequential
            precision = seg[0]
            if marker == 0xC3:
                if not (2 <= precision <= 16):
                    raise UnsupportedMedia(f"JPEG precision {precision}")
            elif precision not in (8, 12):   # extended sequential/prog
                raise UnsupportedMedia(f"JPEG precision {precision}")
            height, width = struct.unpack(">HH", seg[1:5])
            _check_dims(width, height)
            ncomp = seg[5]
            comps = []
            for c in range(ncomp):
                cid, hv, tq = seg[6 + 3 * c:9 + 3 * c]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0xF,
                              "tq": tq})
            frame = {"w": width, "h": height, "comps": comps,
                     "prog": marker in (0xC2, 0xCA),
                     "arith": marker in (0xC9, 0xCA),
                     "lossless": marker == 0xC3, "diff": marker == 0xC5,
                     "precision": precision}
            if frame["diff"] and hier is None:
                raise ValueError(
                    "JPEG differential frame outside a DHP pyramid")
            if hier is not None:
                if frame["prog"] or frame["arith"] or frame["lossless"]:
                    # the hierarchical subset is sequential-Huffman
                    # pyramids; other frame processes inside a pyramid
                    # are declared out of subset (provenance-flagged
                    # fallback, same as before round 6 for all of J)
                    raise UnsupportedMedia(
                        "hierarchical JPEG with progressive/lossless/"
                        "arithmetic frames")
                if precision != hier["precision"]:
                    raise ValueError("JPEG frame precision differs"
                                     " from DHP")
                if width > hier["w"] or height > hier["h"]:
                    raise ValueError("JPEG frame larger than DHP dims")
                if (ref is None) == frame["diff"]:
                    raise ValueError(
                        "JPEG pyramid order: one non-differential"
                        " frame first, differential frames after")
                if frame["diff"]:
                    if pending_exp is not None:
                        ref = _exp_upsample(ref, *pending_exp, width,
                                            height)
                        pending_exp = None
                    if ref.shape != (height, width):
                        raise ValueError("JPEG differential frame dims"
                                         " do not match the reference")
            if frame["lossless"]:
                if any(c["h"] != 1 or c["v"] != 1 for c in comps):
                    raise UnsupportedMedia(
                        "lossless JPEG with subsampling")
            # gate on SOF fields NOW, for BOTH coding modes: with a
            # non-max-sampled first component the luma plane cannot
            # cover the image — the baseline path would silently return
            # a clipped (h/2, w/2)-ish array flagged decoded_real, the
            # progressive path would waste the whole decode before
            # noticing (review findings); real files always max-sample
            # luma
            hmax = max(c["h"] for c in comps)
            vmax = max(c["v"] for c in comps)
            if comps[0]["h"] != hmax or comps[0]["v"] != vmax:
                raise UnsupportedMedia("JPEG with subsampled luma")
            if frame["prog"] or frame["arith"]:
                # both accumulate zigzag coefficients and IDCT at the
                # end (sequential arithmetic = one full-band pass)
                coef_state = _prog_init_state(frame)
        elif marker in (0xC6, 0xC7, 0xCB, 0xCD, 0xCE, 0xCF):
            raise UnsupportedMedia(
                f"JPEG SOF{marker - 0xC0}: differential progressive/"
                "lossless and arithmetic differential frames are out"
                " of subset")
        elif marker == 0xDD:  # DRI
            restart_interval = struct.unpack(">H", seg[:2])[0]
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            ns = seg[0]
            scan = []
            for c in range(ns):
                cs, tables = seg[1 + 2 * c:3 + 2 * c]
                comp = next(x for x in frame["comps"] if x["id"] == cs)
                scan.append({**comp, "dc": tables >> 4, "ac": tables & 0xF})
            if hier is not None:
                # sequential pyramid frame: decode the (differential)
                # plane, accumulate onto the reference, keep walking
                # markers — more frames may follow
                if frame.get("saw_scan"):
                    # a second scan of the same frame would re-run the
                    # luma geometry over a non-luma component and
                    # corrupt the reference — declare the subset
                    raise UnsupportedMedia(
                        "multi-scan frame inside hierarchical JPEG")
                plane, end = _decode_scan_plane(
                    payload, pos + 2 + seglen, frame, scan, qt,
                    huff_dc, huff_ac, restart_interval,
                    differential=frame["diff"])
                maxval = (1 << frame["precision"]) - 1
                corr = np.round(plane).astype(np.int64)
                if frame["diff"]:
                    corr += ref
                ref = np.clip(corr, 0, maxval).astype(np.int32)
                frame["saw_scan"] = True
                pos = end
                continue
            if frame.get("lossless"):
                pred_sel = seg[1 + 2 * ns]            # Ss = predictor
                pt = seg[3 + 2 * ns] & 0xF            # Al = point transform
                if restart_interval:
                    raise UnsupportedMedia(
                        "lossless JPEG with restart intervals")
                if len(scan) != len(frame["comps"]):
                    # a non-interleaved multi-scan lossless file would
                    # otherwise return after scan 1 with the FIRST
                    # component (e.g. red) mislabeled as luminance
                    # (review finding) — declare the subset instead
                    raise UnsupportedMedia(
                        "non-interleaved multi-scan lossless JPEG")
                return _decode_lossless_scan(
                    payload, pos + 2 + seglen, frame, scan, huff_dc,
                    pred_sel, pt)
            if frame.get("arith"):
                ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
                ah, al = seg[3 + 2 * ns] >> 4, seg[3 + 2 * ns] & 0xF
                end = _arith_decode_scan(
                    payload, pos + 2 + seglen, frame, scan, coef_state,
                    dc_cond, ac_cond, ss, se, ah, al, restart_interval)
                frame["saw_scan"] = True
                pos = end
                continue
            if not frame["prog"]:
                return _decode_scan(payload, pos + 2 + seglen, frame, scan,
                                    qt, huff_dc, huff_ac, restart_interval)
            ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
            ah, al = seg[3 + 2 * ns] >> 4, seg[3 + 2 * ns] & 0xF
            end = _prog_decode_scan(
                payload, pos + 2 + seglen, frame, scan, coef_state,
                huff_dc, huff_ac, ss, se, ah, al, restart_interval)
            frame["saw_scan"] = True
            pos = end
            continue
        pos += 2 + seglen
    if hier is not None and ref is not None:
        prec = hier["precision"]
        # MSB-align 12-bit pyramids to 8, same convention as elsewhere
        return (ref >> (prec - 8)).astype(np.uint8) if prec > 8 \
            else ref.astype(np.uint8)
    if frame is not None and (frame["prog"] or frame.get("arith")) \
            and frame.get("saw_scan"):
        return _prog_finish(frame, coef_state, qt)
    raise ValueError("JPEG: no scan data found")


# -- lossless (SOF3, T.81 Annex H): DPCM predictors, no DCT ---------------

def _decode_lossless_scan(data, pos, frame, scan, huff_dc,
                          pred_sel, pt) -> "np.ndarray":
    """Lossless JPEG scan -> (H, W) uint8 luminance.

    Per T.81 H.1-H.2: each sample is a huffman-coded SSSS category + raw
    magnitude bits extended to a signed difference (the same code/extend
    machinery as baseline DC), added mod 2^16 to the prediction from the
    Ss-selected predictor (1..7 over Ra=left, Rb=above, Rc=up-left).
    First sample (and the first line's / first column's fallbacks per
    H.1.2.2): default prediction 2^(P-Pt-1); the top row predicts from
    Ra, the left column from Rb.  SSSS=16 encodes diff=32768 with no
    magnitude bits.  Components interleave one sample each per MCU
    (sampling factors are gated to 1x1 at SOF).

    Output scaling: the reconstructed precision is P-Pt bits; samples
    MSB-align to 8.  One component
    returns directly; three (lossless RGB is stored un-transformed)
    ride the shared Q14 grey form."""
    w, h = frame["w"], frame["h"]
    prec = frame["precision"] - pt
    default = 1 << (prec - 1) if prec > 0 else 0
    reader = _BitReader(data, pos)
    planes = [np.zeros((h, w), dtype=np.int64) for _ in scan]
    tables = [huff_dc[c["dc"]] for c in scan]
    for y in range(h):
        for x in range(w):
            for plane, table in zip(planes, tables):
                s = reader.huff(table)
                if s == 16:
                    diff = 32768
                else:
                    diff = _extend(reader.bits(s), s)
                if y == 0 and x == 0:
                    pred = default
                elif y == 0:
                    pred = plane[0, x - 1]            # Ra fallback
                elif x == 0:
                    pred = plane[y - 1, 0]            # Rb fallback
                else:
                    ra = plane[y, x - 1]
                    rb = plane[y - 1, x]
                    rc = plane[y - 1, x - 1]
                    if pred_sel == 1:
                        pred = ra
                    elif pred_sel == 2:
                        pred = rb
                    elif pred_sel == 3:
                        pred = rc
                    elif pred_sel == 4:
                        pred = ra + rb - rc
                    elif pred_sel == 5:
                        pred = ra + ((rb - rc) >> 1)
                    elif pred_sel == 6:
                        pred = rb + ((ra - rc) >> 1)
                    elif pred_sel == 7:
                        pred = (ra + rb) >> 1
                    else:
                        raise UnsupportedMedia(
                            f"lossless JPEG predictor {pred_sel}")
                plane[y, x] = (int(pred) + diff) & 0xFFFF
    def to8(p):
        if prec >= 8:
            return (p >> (prec - 8)).astype(np.uint8)
        return (p << (8 - prec)).astype(np.uint8)
    if len(planes) == 3:
        r, g, b = (to8(p).astype(np.int32) for p in planes)
        return _q14_gray(r, g, b)
    return to8(planes[0])


# -- progressive (SOF2): scans accumulate coefficients; IDCT at the end --

def _prog_geometry(frame):
    hmax = max(c["h"] for c in frame["comps"])
    vmax = max(c["v"] for c in frame["comps"])
    mcux = (frame["w"] + 8 * hmax - 1) // (8 * hmax)
    mcuy = (frame["h"] + 8 * vmax - 1) // (8 * vmax)
    return hmax, vmax, mcux, mcuy


def _prog_init_state(frame):
    """Per component: (coef ndarray (bh, bw, 64) int32 in ZIGZAG order
    over the interleave-padded block grid, dc predictor)."""
    hmax, vmax, mcux, mcuy = _prog_geometry(frame)
    state = {}
    for c in frame["comps"]:
        bw, bh = mcux * c["h"], mcuy * c["v"]
        state[c["id"]] = np.zeros((bh, bw, 64), dtype=np.int32)
    return state


def _prog_scan_blocks(frame, comp):
    """Raster (by, bx) order of a NON-interleaved scan over one
    component: the component's own block grid (T.81 A.2.2), which
    excludes the interleave-only padding blocks."""
    hmax, vmax, _, _ = _prog_geometry(frame)
    cw = (frame["w"] * comp["h"] + hmax - 1) // hmax
    chh = (frame["h"] * comp["v"] + vmax - 1) // vmax
    return (chh + 7) // 8, (cw + 7) // 8


def _prog_decode_scan(data, pos, frame, scan, state, huff_dc, huff_ac,
                      ss, se, ah, al, restart_interval):
    """Decode one progressive scan into the coefficient state; returns
    the payload offset of the next marker segment."""
    reader = _BitReader(data, pos)
    if ss == 0:                                  # DC scan
        if se != 0:
            raise ValueError("JPEG progressive DC scan with Se != 0")
        _prog_dc_scan(reader, frame, scan, state, huff_dc, ah, al,
                      restart_interval)
    else:                                        # AC scan: 1 component
        if len(scan) != 1:
            raise ValueError("JPEG progressive AC scan must be"
                             " non-interleaved")
        comp = scan[0]
        coefs = state[comp["id"]]
        bh, bw = _prog_scan_blocks(frame, comp)
        blocks = [coefs[by, bx] for by in range(bh) for bx in range(bw)]
        table = huff_ac[comp["ac"]]
        if ah == 0:
            _prog_ac_first(reader, blocks, table, ss, se, al,
                           restart_interval)
        else:
            _prog_ac_refine(reader, blocks, table, ss, se, al,
                            restart_interval)
    # walk to the next marker (skipping stuffing and RSTs)
    p = max(reader.pos, pos)
    while p + 1 < len(data):
        if data[p] == 0xFF and data[p + 1] != 0x00 and \
                not (0xD0 <= data[p + 1] <= 0xD7):
            return p
        p += 1
    return len(data)


def _prog_dc_scan(reader, frame, scan, state, huff_dc, ah, al,
                  restart_interval):
    hmax, vmax, mcux, mcuy = _prog_geometry(frame)
    pred = {c["id"]: 0 for c in scan}
    if len(scan) == 1:
        bh, bw = _prog_scan_blocks(frame, scan[0])
        units = [(scan[0], by, bx) for by in range(bh) for bx in range(bw)]
        per_mcu = 1
    else:
        units = []
        for my in range(mcuy):
            for mx in range(mcux):
                for c in scan:
                    for by in range(c["v"]):
                        for bx in range(c["h"]):
                            units.append((c, my * c["v"] + by,
                                          mx * c["h"] + bx))
        per_mcu = sum(c["v"] * c["h"] for c in scan)
    mcu = 0
    for i, (c, by, bx) in enumerate(units):
        if restart_interval and i % per_mcu == 0:
            if mcu and mcu % restart_interval == 0:
                reader.resync_restart()
                for k in pred:
                    pred[k] = 0
            mcu += 1
        block = state[c["id"]][by, bx]
        if ah == 0:
            s = reader.huff(huff_dc[c["dc"]])
            pred[c["id"]] += _extend(reader.bits(s), s)
            block[0] = pred[c["id"]] << al
        else:
            block[0] |= reader.bits(1) << al


def _prog_ac_first(reader, blocks, table, ss, se, al, restart_interval):
    eobrun = 0
    for i, block in enumerate(blocks):
        if restart_interval and i and i % restart_interval == 0:
            reader.resync_restart()
            eobrun = 0
        if eobrun > 0:
            eobrun -= 1
            continue
        k = ss
        while k <= se:
            rs = reader.huff(table)
            r, s = rs >> 4, rs & 0xF
            if s == 0:
                if r < 15:                       # EOBn
                    eobrun = (1 << r) - 1
                    if r:
                        eobrun += reader.bits(r)
                    break
                k += 16                          # ZRL
                continue
            k += r
            if k > se:
                raise ValueError("JPEG AC run past band end")
            block[k] = _extend(reader.bits(s), s) << al
            k += 1


def _prog_ac_refine(reader, blocks, table, ss, se, al, restart_interval):
    """Successive-approximation AC refinement (T.81 G.1.2.3, the
    libjpeg arithmetic): already-nonzero coefficients consume one
    correction bit each as the band is traversed; zero-history
    coefficients count toward the run, and a new ±1<<Al lands where the
    run ends."""
    p1, m1 = 1 << al, -(1 << al)
    eobrun = 0
    for i, block in enumerate(blocks):
        if restart_interval and i and i % restart_interval == 0:
            reader.resync_restart()
            eobrun = 0
        k = ss
        if eobrun == 0:
            while k <= se:
                rs = reader.huff(table)
                r, s = rs >> 4, rs & 0xF
                if s == 0:
                    if r < 15:
                        # EOBn: includes the CURRENT block — the tail
                        # refine below must still run for it, and for
                        # every covered block after it (correction bits
                        # of nonzero coefficients are consumed even in
                        # skipped blocks)
                        eobrun = 1 << r
                        if r:
                            eobrun += reader.bits(r)
                        break
                    val = 0                      # ZRL: 16 zero-history
                else:
                    if s != 1:
                        raise ValueError(
                            "JPEG AC refinement size must be 1")
                    val = p1 if reader.bits(1) else m1
                while k <= se:
                    if block[k] != 0:
                        if reader.bits(1) and (block[k] & p1) == 0:
                            block[k] += p1 if block[k] > 0 else m1
                    else:
                        if r == 0:
                            if val:
                                block[k] = val
                            k += 1
                            break
                        r -= 1
                    k += 1
        if eobrun > 0:
            while k <= se:
                if block[k] != 0:
                    if reader.bits(1) and (block[k] & p1) == 0:
                        block[k] += p1 if block[k] > 0 else m1
                k += 1
            eobrun -= 1


def _prog_finish(frame, state, qt):
    """Dequant + de-zigzag + IDCT the LUMA component (first in frame),
    matching the baseline path's output contract."""
    luma = frame["comps"][0]
    coefs = state[luma["id"]]
    q = np.asarray(qt[luma["tq"]], dtype=np.float64)
    bh, bw = coefs.shape[0], coefs.shape[1]
    prec = frame.get("precision", 8)
    level = float(1 << (prec - 1))
    maxval = (1 << prec) - 1
    C = _idct_matrix()
    plane = np.zeros((bh * 8, bw * 8), dtype=np.float64)
    for by in range(bh):
        for bx in range(bw):
            block = np.zeros((8, 8))
            block.flat[_ZIGZAG] = coefs[by, bx] * q
            plane[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8] = \
                C.T @ block @ C + level
    # luma is max-sampled (gated at SOF2 parse), so the plane covers the
    # full image; crop to pixel dims
    out = np.clip(np.round(plane[:frame["h"], :frame["w"]]), 0, maxval)
    return (out.astype(np.int32) >> (prec - 8)).astype(np.uint8) \
        if prec > 8 else out.astype(np.uint8)


def _decode_scan(data, pos, frame, scan, qt, huff_dc, huff_ac,
                 restart_interval):
    """Sequential scan -> (H, W) uint8 luminance (the whole image)."""
    prec = frame.get("precision", 8)
    maxval = (1 << prec) - 1
    plane, _ = _decode_scan_plane(data, pos, frame, scan, qt, huff_dc,
                                  huff_ac, restart_interval,
                                  differential=False)
    out = np.clip(np.round(plane), 0, maxval)
    # 12-bit samples MSB-align to 8 (same convention as lossless)
    return (out.astype(np.int32) >> (prec - 8)).astype(np.uint8) \
        if prec > 8 else out.astype(np.uint8)


def _decode_scan_plane(data, pos, frame, scan, qt, huff_dc, huff_ac,
                       restart_interval, differential):
    """Sequential Huffman DCT scan -> (cropped float64 plane, offset of
    the next marker).  Non-differential scans include the 2^(P-1) level
    shift (T.81 A.3.1); differential scans (hierarchical frames, Annex
    J) omit it AND code every DC directly — the prediction is zero and
    never updated (F.2.1.3.1) — since the plane is a signed correction
    to the reference, not samples."""
    w, h = frame["w"], frame["h"]
    if len(scan) == 1:
        # T.81 A.2: a one-component scan is NON-interleaved — one data
        # unit per MCU over the component's own raster grid, regardless
        # of its sampling factors (a grayscale SOF declaring h=v=2
        # previously decoded in 2x2 tile order and came out scrambled —
        # review finding).  The scan component is max-sampled (gated at
        # SOF), so its grid is ceil(w/8) x ceil(h/8).
        scan = [{**scan[0], "h": 1, "v": 1}]
    hmax = max(c["h"] for c in scan)
    vmax = max(c["v"] for c in scan)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    # luma = component with the largest sampling (first component by
    # convention); output plane in 8x8 block units
    luma = scan[0]
    prec = frame.get("precision", 8)
    # T.81 A.3.1 level shift 2^(P-1); differential frames carry signed
    # corrections and are not shifted
    level = 0.0 if differential else float(1 << (prec - 1))
    plane = np.zeros((mcuy * luma["v"] * 8, mcux * luma["h"] * 8),
                     dtype=np.float64)
    C = _idct_matrix()
    reader = _BitReader(data, pos)
    pred = {c["id"]: 0 for c in scan}
    mcu_count = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count and \
                    mcu_count % restart_interval == 0:
                reader.resync_restart()
                for k in pred:
                    pred[k] = 0
            mcu_count += 1
            for comp in scan:
                q = qt[comp["tq"]]
                for by in range(comp["v"]):
                    for bx in range(comp["h"]):
                        coefs = np.zeros(64, dtype=np.float64)
                        s = reader.huff(huff_dc[comp["dc"]])
                        diff = _extend(reader.bits(s), s)
                        if differential:      # F.2.1.3.1: PRED is zero
                            coefs[0] = diff * q[0]
                        else:
                            pred[comp["id"]] += diff
                            coefs[0] = pred[comp["id"]] * q[0]
                        k = 1
                        while k < 64:
                            rs = reader.huff(huff_ac[comp["ac"]])
                            r, size = rs >> 4, rs & 0xF
                            if rs == 0x00:   # EOB
                                break
                            if rs == 0xF0:   # ZRL
                                k += 16
                                continue
                            k += r
                            if k > 63:
                                # an overshooting run is corruption; a
                                # silent break would also desync the
                                # bitstream (the coefficient's size bits
                                # were never consumed) and emit garbage
                                # for the rest of the scan (advisory)
                                raise ValueError(
                                    "JPEG AC run past block end")
                            coefs[k] = _extend(reader.bits(size),
                                               size) * q[k]
                            k += 1
                        if comp is luma:
                            block = np.zeros((8, 8))
                            block.flat[_ZIGZAG] = coefs
                            px = C.T @ block @ C + level
                            y0 = (my * luma["v"] + by) * 8
                            x0 = (mx * luma["h"] + bx) * 8
                            plane[y0:y0 + 8, x0:x0 + 8] = px
    # walk to the next marker (skipping stuffing and RSTs) so
    # hierarchical callers can continue with the following frame
    p = max(reader.pos, pos)
    while p + 1 < len(data):
        if data[p] == 0xFF and data[p + 1] != 0x00 and \
                not (0xD0 <= data[p + 1] <= 0xD7):
            break
        p += 1
    else:
        p = len(data)
    return plane[:h, :w], p
