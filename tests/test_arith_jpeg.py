"""Arithmetic-coded JPEG (SOF9/SOF10) decoder vs an independent encoder.

The encoder here shares NO machinery with the decoder: instead of the
T.81 Annex-D QM registers (A/C/CT, BYTEOUT, stuffing stack) it tracks
the coding interval exactly with arbitrary-precision integers — every
binary decision narrows [low, low+a) precisely as the published
subinterval layout dictates, and flush materializes any point of the
final interval as the byte stream.  A decoder bug in renormalization,
byte stuffing, carry handling, or the decision trees cannot be mirrored
by construction.  Expected pixels come from an explicit double-loop
IDCT over a hand-written zigzag table (independent of the decoder's
matrix form), or from hand-derived arithmetic for DC-only blocks.
"""

from __future__ import annotations

import math
import struct

import numpy as np
import pytest

from ocr_hardsubx_spark.functions.jpeg_codec import (
    _QM_QE,
    UnsupportedMedia,
    decode_jpeg,
)

# ---------------------------------------------------------------------------
# exact-interval QM encoder (the cross-implementation oracle)
# ---------------------------------------------------------------------------


class _ExactEnc:
    """Encode T.81 binary decisions by exact interval arithmetic.

    The decoder's window is [0, 0x8000) over the first 15 stream bits;
    each renormalization doubles the scale.  `low` is the interval base
    as a big integer at the CURRENT scale, `a` the 16-bit window size.
    Subinterval layout (mirrors the published decoder semantics, derived
    independently from the spec's conditional-exchange rules): bottom
    [0, A-Qe) is the MPS unless A-Qe < Qe, top [A-Qe, A) is the LPS
    unless exchanged.  Context adaptation uses the same Table D.3 walk
    the decoder performs, on the caller's context bytes.
    """

    def __init__(self):
        self.a = 0x8000
        self.low = 0
        self.shifts = 0

    def encode(self, bit, stats, i):
        sv = stats[i]
        qe, nlps, nmps, sw = _QM_QE[sv & 0x7F]
        mps = sv >> 7
        a = self.a - qe
        if bit == mps:
            if a & 0x8000:
                self.a = a
                return
            if a < qe:                    # exchange: MPS takes the top
                self.low += a
                self.a = qe
            else:
                self.a = a
            stats[i] = (mps << 7) | nmps
        else:
            if a < qe:                    # exchange: LPS takes the bottom
                self.a = a
            else:
                self.low += a
                self.a = qe
            stats[i] = ((mps ^ sw) << 7) | nlps
        while not (self.a & 0x8000):
            self.a <<= 1
            self.low <<= 1
            self.shifts += 1

    def flush(self) -> bytes:
        """Emit the interval base as a byte stream (decoder zero-pads,
        so low followed by infinite zeros lies in [low, low+a)), with
        0x00 stuffed after data 0xFF per B.1.1.5."""
        bits = 15 + self.shifts
        nb = (bits + 7) // 8
        raw = (self.low << (8 * nb - bits)).to_bytes(max(nb, 1), "big")
        out = bytearray()
        for b in raw:
            out.append(b)
            if b == 0xFF:
                out.append(0x00)
        return bytes(out)


# -- encoder-side decision trees (written from T.81 F.1.4, not from the
#    decoder: the shared contract is the published context layout) --------


def _enc_dc(enc, st, ctx, low_b, up_b, diff):
    """Encode one DC difference; returns the next conditioning ctx."""
    if diff == 0:
        enc.encode(0, st, ctx)
        return 0
    enc.encode(1, st, ctx)
    sign = 1 if diff < 0 else 0
    enc.encode(sign, st, ctx + 1)
    t = abs(diff) - 1
    if t == 0:
        enc.encode(0, st, ctx + 2 + sign)
        m = 0
    else:
        enc.encode(1, st, ctx + 2 + sign)
        m = 1
        p = 20
        while (m << 1) <= t:
            enc.encode(1, st, p)
            m <<= 1
            p += 1
        enc.encode(0, st, p)
        bit = m >> 1
        while bit:
            enc.encode(1 if (t & bit) else 0, st, p + 14)
            bit >>= 1
    if m < (1 << low_b) >> 1:
        return 0
    if m > (1 << up_b) >> 1:
        return 12 + 4 * sign
    return 4 + 4 * sign


def _enc_ac(enc, st, fixed, block, ss, se, kx):
    """Encode one block's AC band (values already point-transformed)."""
    k = ss
    while k <= se:
        nz = next((j for j in range(k, se + 1) if block[j]), None)
        p = 3 * (k - 1)
        if nz is None:
            enc.encode(1, st, p)           # EOB
            return
        enc.encode(0, st, p)
        while k < nz:
            enc.encode(0, st, p + 1)
            k += 1
            p += 3
        enc.encode(1, st, p + 1)
        v = int(block[k])
        enc.encode(1 if v < 0 else 0, fixed, 0)
        t = abs(v) - 1
        if t == 0:
            enc.encode(0, st, p + 2)
        elif t == 1:
            enc.encode(1, st, p + 2)
            enc.encode(0, st, p + 2)
        else:
            enc.encode(1, st, p + 2)
            enc.encode(1, st, p + 2)
            q = 189 if k <= kx else 217
            m = 2
            while (m << 1) <= t:
                enc.encode(1, st, q)
                m <<= 1
                q += 1
            enc.encode(0, st, q)
            bit = m >> 1
            while bit:
                enc.encode(1 if (t & bit) else 0, st, q + 14)
                bit >>= 1
        k += 1


def _enc_ac_refine(enc, st, fixed, prev, new, ss, se):
    """Encode one refinement pass: prev/new are the block's zigzag
    values before/after the pass (new-prev is 0 or one +-1<<al step)."""
    kex = se
    while kex > 0 and prev[kex] == 0:
        kex -= 1
    k = ss
    while k <= se:
        p = 3 * (k - 1)
        if k > kex:
            if not any(new[j] for j in range(k, se + 1)):
                enc.encode(1, st, p)       # EOB
                return
            enc.encode(0, st, p)
        while True:
            if prev[k]:
                enc.encode(1 if new[k] != prev[k] else 0, st, p + 2)
                break
            if new[k]:
                enc.encode(1, st, p + 1)
                enc.encode(1 if new[k] < 0 else 0, fixed, 0)
                break
            enc.encode(0, st, p + 1)
            k += 1
            p += 3
        k += 1


# -- fixture assembly -------------------------------------------------------


def _seg(marker, body):
    return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body


def _approx(v, al):
    """Point transform on magnitude (truncate toward zero), re-aligned."""
    return -((-v >> al) << al) if v < 0 else (v >> al) << al


def _fresh_tables(scan_comps):
    dc = {t: bytearray(64) for _, t, _ in scan_comps}
    ac = {t: bytearray(256) for _, _, t in scan_comps}
    return dc, ac, bytearray([113])


def _enc_seq_scan(units, scan_comps, *, dc_cond=None, ac_cond=None, dri=0):
    """units: [(comp_id, dc_table, ac_table, zigzag64), ...] in decode
    order.  Returns the entropy-coded bytes incl. restart markers."""
    dc_cond = dc_cond or {}
    ac_cond = ac_cond or {}
    out = bytearray()
    enc = _ExactEnc()
    dc_st, ac_st, fixed = _fresh_tables(scan_comps)
    ctx = {cid: 0 for cid, _, _ in scan_comps}
    last = {cid: 0 for cid, _, _ in scan_comps}
    rst = 0
    for i, (cid, dct, act, blk) in enumerate(units):
        if dri and i and i % dri == 0:
            out += enc.flush()
            out += bytes([0xFF, 0xD0 + (rst % 8)])
            rst += 1
            enc = _ExactEnc()
            dc_st, ac_st, fixed = _fresh_tables(scan_comps)
            ctx = {c: 0 for c in ctx}
            last = {c: 0 for c in last}
        low_b, up_b = dc_cond.get(dct, (0, 1))
        kx = ac_cond.get(act, 5)
        diff = blk[0] - last[cid]
        last[cid] = blk[0]
        ctx[cid] = _enc_dc(enc, dc_st[dct], ctx[cid], low_b, up_b, diff)
        _enc_ac(enc, ac_st[act], fixed, blk, 1, 63, kx)
    out += enc.flush()
    return bytes(out)


def _arith_jpeg(width, height, comps, scans, *, sof=0xC9, dac=b"",
                dri=0, qdc=8, qrest=2):
    """comps: [(cid, h, v)]; scans: [(scan_comps, (ss,se,ah,al), data)]
    with scan_comps = [(cid, dc_table, ac_table)]."""
    qtable = bytes([0]) + bytes([qdc] + [qrest] * 63)
    sofb = bytes([8]) + struct.pack(">HH", height, width) + bytes([len(comps)])
    for cid, h, v in comps:
        sofb += bytes([cid, (h << 4) | v, 0])
    out = b"\xff\xd8" + _seg(0xDB, qtable)
    if dac:
        out += _seg(0xCC, dac)
    out += _seg(sof, sofb)
    if dri:
        out += _seg(0xDD, struct.pack(">H", dri))
    for scan_comps, (ss, se, ah, al), data in scans:
        sos = bytes([len(scan_comps)])
        for cid, dct, act in scan_comps:
            sos += bytes([cid, (dct << 4) | act])
        sos += bytes([ss, se, (ah << 4) | al])
        out += _seg(0xDA, sos) + data
    return out + b"\xff\xd9"


def _seq_gray(blocks, bw, *, dc_cond=None, ac_cond=None, dac=b"", dri=0,
              qdc=8, qrest=2):
    """Grayscale sequential SOF9 over raster-ordered zigzag blocks in a
    grid `bw` blocks wide."""
    n = len(blocks)
    assert n % bw == 0
    bh = n // bw
    width, height = bw * 8, bh * 8
    units = [(1, 0, 0, b) for b in blocks]
    data = _enc_seq_scan(units, [(1, 0, 0)], dc_cond=dc_cond,
                         ac_cond=ac_cond, dri=dri)
    return _arith_jpeg(width, height, [(1, 1, 1)],
                       [([(1, 0, 0)], (0, 63, 0, 0), data)],
                       dac=dac, dri=dri, qdc=qdc, qrest=qrest)


# -- independent expected-pixel oracle --------------------------------------

# classic zigzag scan order, written out by hand: entry i is the
# (row*8+col) natural position of zigzag index i
_ZZ = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]


def _idct_reference(coefs8x8):
    out = np.zeros((8, 8))
    for y in range(8):
        for x in range(8):
            s = 0.0
            for u in range(8):
                for v in range(8):
                    cu = 1 / math.sqrt(2) if u == 0 else 1.0
                    cv = 1 / math.sqrt(2) if v == 0 else 1.0
                    s += (cu * cv * coefs8x8[u][v]
                          * math.cos((2 * y + 1) * u * math.pi / 16)
                          * math.cos((2 * x + 1) * v * math.pi / 16))
            out[y, x] = s / 4.0
    return out


def _expected(blocks, bw, bh, *, qdc=8, qrest=2, width=None, height=None):
    q = np.array([qdc] + [qrest] * 63, dtype=np.float64)
    plane = np.zeros((bh * 8, bw * 8))
    for i, blk in enumerate(blocks):
        nat = np.zeros(64)
        nat[_ZZ] = np.asarray(blk, dtype=np.float64) * q
        by, bx = divmod(i, bw)
        plane[by * 8:(by + 1) * 8, bx * 8:(bx + 1) * 8] = \
            _idct_reference(nat.reshape(8, 8)) + 128.0
    plane = np.clip(np.round(plane), 0, 255).astype(np.uint8)
    return plane[:height or bh * 8, :width or bw * 8]


def _z(dc=0, ac=()):
    b = [0] * 64
    b[0] = dc
    for zz, v in ac:
        b[zz] = v
    return b


# ---------------------------------------------------------------------------
# tests
# ---------------------------------------------------------------------------


def test_qe_table_structure():
    """Structural pins on the transcribed Table D.3: 114 states, valid
    transitions, the known anchor rows, the ten MPS-switch states, and
    the non-adapting 113 self-loop."""
    assert len(_QM_QE) == 114
    for qe, nlps, nmps, sw in _QM_QE:
        assert 0 < qe <= 0x5B12
        assert 0 <= nlps < 114 and 0 <= nmps < 114
        assert sw in (0, 1)
    assert _QM_QE[0] == (0x5A1D, 1, 1, 1)
    assert _QM_QE[1] == (0x2586, 14, 2, 0)
    assert _QM_QE[14] == (0x5A7F, 15, 15, 1)
    assert _QM_QE[113] == (0x5A1D, 113, 113, 0)
    switches = [i for i, r in enumerate(_QM_QE) if r[3]]
    assert switches == [0, 14, 36, 64, 80, 88, 95, 105, 110, 112]
    assert all(_QM_QE[i][0] > 0x5000 for i in switches)


def test_sequential_dc_only_flat():
    """One DC-only block: every pixel is round(dc*qdc/8) + 128."""
    img = decode_jpeg(_seq_gray([_z(dc=24)], 1))
    assert img.shape == (8, 8)
    assert (img == round(24 * 8 / 8) + 128).all()


def test_sequential_dc_prediction_and_conditioning():
    """A DC chain crossing all five conditioning classes (zero, small
    +-, large +-) against the independent IDCT."""
    dcs = [10, 10, 11, 9, 60, -40, -41, -41, 30]
    blocks = [_z(dc=d) for d in dcs]
    img = decode_jpeg(_seq_gray(blocks, 3))
    np.testing.assert_array_equal(img, _expected(blocks, 3, 3))


def test_sequential_ac_runs_and_magnitudes():
    """AC values across magnitude categories (1,2,3,4,7,8,100), long
    zero runs, a coefficient at zigzag 63 (no EOB), and an all-zero
    band (immediate EOB)."""
    blocks = [
        _z(dc=5, ac=[(1, 1), (2, -2), (5, 3)]),
        _z(dc=5, ac=[(1, -100), (30, 7), (63, -8)]),
        _z(dc=0),
        _z(dc=-3, ac=[(62, 4)]),
    ]
    img = decode_jpeg(_seq_gray(blocks, 2))
    np.testing.assert_array_equal(img, _expected(blocks, 2, 2))


def test_sequential_restart_intervals():
    """DRI=2 with two restarts: predictors and statistics reset, QM
    decoder re-inits past each RSTn."""
    blocks = [_z(dc=d, ac=[(1, (d % 5) - 2)]) for d in
              [7, -7, 20, 21, -30, 0]]
    img = decode_jpeg(_seq_gray(blocks, 3, dri=2))
    np.testing.assert_array_equal(img, _expected(blocks, 3, 2))


def test_dac_conditioning_roundtrip():
    """Non-default DAC (DC L=1/U=3, AC Kx=2) changes the context walk
    on both sides; pixels still match the oracle."""
    blocks = [_z(dc=d, ac=[(2, 9), (40, -5)]) for d in [3, 1, -6, 8]]
    dac = bytes([0x00, (3 << 4) | 1]) + bytes([0x10, 2])
    img = decode_jpeg(_seq_gray(
        blocks, 2, dc_cond={0: (1, 3)}, ac_cond={0: 2}, dac=dac))
    np.testing.assert_array_equal(img, _expected(blocks, 2, 2))


def test_sequential_interleaved_420_luma_quadrants():
    """4:2:0 (luma 2x2, chroma 1x1): chroma blocks are entropy-decoded
    for sync only; the luma quadrants land in the right places."""
    luma = [_z(dc=q * 8) for q in (1, 2, 3, 4)]
    cb, cr = _z(dc=10, ac=[(1, 2)]), _z(dc=-10)
    units = ([(1, 0, 0, b) for b in luma]
             + [(2, 0, 0, cb), (3, 0, 0, cr)])
    scan_comps = [(1, 0, 0), (2, 0, 0), (3, 0, 0)]
    data = _enc_seq_scan(units, scan_comps)
    img = decode_jpeg(_arith_jpeg(
        16, 16, [(1, 2, 2), (2, 1, 1), (3, 1, 1)],
        [(scan_comps, (0, 63, 0, 0), data)]))
    assert img.shape == (16, 16)
    for q, (sy, sx) in zip((1, 2, 3, 4),
                           [(0, 0), (0, 8), (8, 0), (8, 8)]):
        assert (img[sy:sy + 8, sx:sx + 8] == 128 + q * 8).all(), q


def _enc_prog_scans(blocks, split=6, al=1):
    """Full progression for grayscale: DC first (al), DC refine, AC
    first split at `split` (al), AC refine both bands."""
    sc = [(1, 0, 0)]
    scans = []
    # DC first at al: diffs of dc >> al (arithmetic shift per G.1.2.1)
    enc = _ExactEnc()
    st = bytearray(64)
    ctx = last = 0
    for b in blocks:
        diff = (b[0] >> al) - last
        last = b[0] >> al
        ctx = _enc_dc(enc, st, ctx, 0, 1, diff)
    scans.append((sc, (0, 0, 0, al), enc.flush()))
    # DC refine to al-1..0
    for a in range(al - 1, -1, -1):
        enc = _ExactEnc()
        fixed = bytearray([113])
        for b in blocks:
            enc.encode((b[0] >> a) & 1, fixed, 0)
        scans.append((sc, (0, 0, a + 1, a), enc.flush()))
    # AC first per band at al (non-interleaved; magnitudes shifted)
    for ss, se in ((1, split), (split + 1, 63)):
        enc = _ExactEnc()
        st = bytearray(256)
        fixed = bytearray([113])
        for b in blocks:
            shifted = [0] * 64
            for k in range(ss, se + 1):
                shifted[k] = (-(abs(b[k]) >> al) if b[k] < 0
                              else b[k] >> al)
            _enc_ac(enc, st, fixed, shifted, ss, se, 5)
        scans.append((sc, (ss, se, 0, al), enc.flush()))
    # AC refine al-1..0 per band
    for a in range(al - 1, -1, -1):
        for ss, se in ((1, split), (split + 1, 63)):
            enc = _ExactEnc()
            st = bytearray(256)
            fixed = bytearray([113])
            for b in blocks:
                prev = [_approx(b[k], a + 1) if ss <= k <= se else 0
                        for k in range(64)]
                new = [_approx(b[k], a) if ss <= k <= se else 0
                       for k in range(64)]
                _enc_ac_refine(enc, st, fixed, prev, new, ss, se)
            scans.append((sc, (ss, se, a + 1, a), enc.flush()))
    return scans


def test_progressive_full_progression():
    """SOF10: DC first/refine + AC first/refine over two bands equals
    the independent IDCT of the final coefficients."""
    blocks = [
        _z(dc=17, ac=[(1, 5), (3, -9), (8, 25), (63, -3)]),
        _z(dc=-6, ac=[(2, 1), (7, -1)]),
        _z(dc=0),
        _z(dc=40, ac=[(1, -50), (10, 13), (33, 6)]),
    ]
    scans = _enc_prog_scans(blocks)
    fix = _arith_jpeg(16, 16, [(1, 1, 1)], scans, sof=0xCA)
    np.testing.assert_array_equal(decode_jpeg(fix), _expected(blocks, 2, 2))


def test_progressive_equals_sequential():
    """The same coefficients through SOF10 progression and SOF9
    sequential decode to identical pixels."""
    rng = np.random.default_rng(7)
    blocks = []
    for _ in range(6):
        b = [0] * 64
        b[0] = int(rng.integers(-60, 61))
        for k in rng.choice(range(1, 64), size=9, replace=False):
            b[int(k)] = int(rng.integers(-40, 41))
        blocks.append(b)
    seq = decode_jpeg(_seq_gray(blocks, 3))
    fix = _arith_jpeg(24, 16, [(1, 1, 1)],
                      _enc_prog_scans(blocks), sof=0xCA)
    np.testing.assert_array_equal(decode_jpeg(fix), seq)


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_sequential_random_blocks(seed):
    """Randomized sweep: dense/sparse random blocks vs the oracle."""
    rng = np.random.default_rng(seed)
    blocks = []
    for _ in range(8):
        b = [0] * 64
        b[0] = int(rng.integers(-120, 121))
        nk = int(rng.integers(0, 20))
        for k in rng.choice(range(1, 64), size=nk, replace=False):
            b[int(k)] = int(rng.integers(-127, 128))
        blocks.append(b)
    img = decode_jpeg(_seq_gray(blocks, 4))
    np.testing.assert_array_equal(img, _expected(blocks, 4, 2))


def test_stuffed_ff_in_entropy_stream():
    """A fixture whose coded stream contains a stuffed 0xFF 0x00 pair
    (found by seed search, pinned): the decoder must treat 0xFF as
    data, not a marker."""
    for seed in range(200):
        rng = np.random.default_rng(seed)
        blocks = []
        for _ in range(4):
            b = [0] * 64
            b[0] = int(rng.integers(-120, 121))
            for k in rng.choice(range(1, 64), size=12, replace=False):
                b[int(k)] = int(rng.integers(-127, 128))
            blocks.append(b)
        units = [(1, 0, 0, b) for b in blocks]
        data = _enc_seq_scan(units, [(1, 0, 0)])
        if b"\xff\x00" in data:
            img = decode_jpeg(_seq_gray(blocks, 2))
            np.testing.assert_array_equal(img, _expected(blocks, 2, 2))
            return
    pytest.fail("no seed produced a stuffed 0xFF (encoder suspicious)")


def test_truncated_stream_pads_zero():
    """Chopping the tail of the entropy stream must not crash: the
    decoder zero-pads past the cut (D.1.6 marker convention)."""
    blocks = [_z(dc=30, ac=[(1, 40), (2, -40), (60, 9)]) for _ in range(4)]
    fix = bytearray(_seq_gray(blocks, 2))
    img = decode_jpeg(bytes(fix[:-6]) + b"\xff\xd9")
    assert img.shape == (16, 16) and img.dtype == np.uint8


def test_arithmetic_differential_still_unsupported():
    """Sequential-Huffman pyramids decode since round 6
    (test_hier_jpeg.py); the ARITHMETIC differential SOFs remain the
    declared subset, and a differential frame with no DHP is malformed
    rather than out-of-subset."""
    body = bytes([8]) + struct.pack(">HH", 8, 8) + bytes([1, 1, 0x11, 0])
    dhp = bytes([8]) + struct.pack(">HH", 16, 16) + bytes([1, 1, 0x11, 0])
    fix = (b"\xff\xd8" + _seg(0xDE, dhp) + _seg(0xCD, body) + b"\xff\xd9")
    with pytest.raises(UnsupportedMedia):
        decode_jpeg(fix)
    bare = b"\xff\xd8" + _seg(0xC5, body) + b"\xff\xd9"
    with pytest.raises(ValueError, match="outside a DHP pyramid"):
        decode_jpeg(bare)
