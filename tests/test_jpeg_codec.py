"""Baseline JPEG decoder vs an independent in-test encoder + IDCT.

The encoder here (bit writer, huffman emission, marker framing) shares NO
code with the decoder, and expected pixels come either from hand-derived
arithmetic (DC-only blocks are flat at DC/8 + 128) or from an explicit
double-loop IDCT written directly from the T.81 formula.
"""

from __future__ import annotations

import math
import struct

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from ocr_hardsubx_spark.functions.jpeg_codec import (
    UnsupportedMedia,
    decode_jpeg,
)

# hand-chosen canonical tables: DC symbols 0..11 at code length 4;
# AC symbols EOB, (0,1), (0,2), (1,1), ZRL at code length 4
DC_COUNTS = [0, 0, 0, 12] + [0] * 12
DC_SYMBOLS = bytes(range(12))
# all (run, size<=2) symbols at one canonical length (includes EOB 0x00
# and ZRL 0xF0); richer blocks in the progressive-parity tests need
# arbitrary runs in their baseline ground-truth encodings too
AC_SYMBOLS = bytes((r << 4) | sz for r in range(16) for sz in (0, 1, 2))
AC_COUNTS = [0, 0, 0, 0, 0, len(AC_SYMBOLS)] + [0] * 10


def _code_of(counts, symbols, want):
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            if symbols[k] == want:
                return length, code
            k += 1
            code += 1
        code <<= 1
    raise KeyError(want)


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, value, nbits):
        for i in range(nbits - 1, -1, -1):
            self.acc = (self.acc << 1) | ((value >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.acc = 0
                self.n = 0

    def flush(self):
        while self.n:
            self.put(1, 1)  # pad with 1s per spec
        return bytes(self.out)


def _category(v):
    return 0 if v == 0 else v.bit_length() if v > 0 else (-v).bit_length()


def _emit_value(w, v, s):
    if s:
        w.put(v if v >= 0 else v + (1 << s) - 1, s)


def _emit_block(w, dc_diff, ac=()):
    """ac: list of (zigzag_index, value) with only small runs/sizes that
    the tiny AC table can express."""
    s = _category(dc_diff)
    length, code = _code_of(DC_COUNTS, DC_SYMBOLS, s)
    w.put(code, length)
    _emit_value(w, dc_diff, s)
    k = 1
    for zz, val in ac:
        run = zz - k
        while run >= 16:
            length, code = _code_of(AC_COUNTS, AC_SYMBOLS, 0xF0)
            w.put(code, length)
            run -= 16
        size = _category(val)
        length, code = _code_of(AC_COUNTS, AC_SYMBOLS, (run << 4) | size)
        w.put(code, length)
        _emit_value(w, val, size)
        k = zz + 1
    if k <= 63:
        length, code = _code_of(AC_COUNTS, AC_SYMBOLS, 0x00)
        w.put(code, length)


def _seg(marker, body):
    return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body


def _jpeg(width, height, comps, blocks_writer, qdc=8, qrest=2):
    """comps: list of (id, h, v); blocks_writer fills a _BitWriter."""
    qtable = bytes([0]) + bytes([qdc] + [qrest] * 63)
    dht = (bytes([0x00]) + bytes(DC_COUNTS) + DC_SYMBOLS
           + bytes([0x10]) + bytes(AC_COUNTS) + AC_SYMBOLS)
    sof = bytes([8]) + struct.pack(">HH", height, width) + bytes([len(comps)])
    for cid, h, v in comps:
        sof += bytes([cid, (h << 4) | v, 0])
    sos = bytes([len(comps)])
    for cid, _, _ in comps:
        sos += bytes([cid, 0x00])
    sos += bytes([0, 63, 0])
    w = _BitWriter()
    blocks_writer(w)
    return (b"\xff\xd8" + _seg(0xDB, qtable) + _seg(0xC4, dht)
            + _seg(0xC0, sof) + _seg(0xDA, sos) + w.flush() + b"\xff\xd9")


def _idct_reference(coefs8x8):
    """Explicit T.81 A.3.3 IDCT double loop (independent of the decoder's
    matrix form)."""
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


def test_dc_only_block_is_flat():
    """DC diff 10 at q0=8 -> dequant 80 -> IDCT flat 80/8 = 10 -> 138."""
    jpg = _jpeg(8, 8, [(1, 1, 1)], lambda w: _emit_block(w, 10))
    img = decode_jpeg(jpg)
    assert img.shape == (8, 8)
    np.testing.assert_array_equal(img, np.full((8, 8), 138, np.uint8))


def test_dc_prediction_across_blocks():
    """Two MCUs: diffs 10 then -3 -> DCs 10, 7 -> flat 138, 135."""
    def wr(w):
        _emit_block(w, 10)
        _emit_block(w, -3)
    jpg = _jpeg(16, 8, [(1, 1, 1)], wr)
    img = decode_jpeg(jpg)
    np.testing.assert_array_equal(img[:, :8], np.full((8, 8), 138, np.uint8))
    np.testing.assert_array_equal(img[:, 8:], np.full((8, 8), 135, np.uint8))


def test_ac_coefficient_matches_reference_idct():
    """DC 10 + one AC at zigzag 1 (u=0,v=1): decoder pixels equal the
    explicit double-loop IDCT of the dequantized coefficients."""
    jpg = _jpeg(8, 8, [(1, 1, 1)],
                lambda w: _emit_block(w, 10, ac=[(1, 3)]))
    img = decode_jpeg(jpg)
    coefs = np.zeros((8, 8))
    coefs[0, 0] = 10 * 8          # dequant with qdc=8
    coefs[0, 1] = 3 * 2           # zigzag 1 -> (0,1), qrest=2
    want = np.clip(np.round(_idct_reference(coefs) + 128.0),
                   0, 255).astype(np.uint8)
    np.testing.assert_array_equal(img, want)


def test_negative_ac_and_run():
    """Run-length positioning: AC at zigzag 2 via (run=1,size=1) after an
    implicit gap; negative value exercises the extend mapping."""
    jpg = _jpeg(8, 8, [(1, 1, 1)],
                lambda w: _emit_block(w, 4, ac=[(2, -1)]))
    img = decode_jpeg(jpg)
    coefs = np.zeros((8, 8))
    coefs[0, 0] = 4 * 8
    coefs[1, 0] = -1 * 2          # zigzag 2 -> (1,0)
    want = np.clip(np.round(_idct_reference(coefs) + 128.0),
                   0, 255).astype(np.uint8)
    np.testing.assert_array_equal(img, want)


def test_420_interleave_luma_quadrants():
    """3-component 4:2:0: per MCU four Y blocks (distinct flat DCs) then
    Cb, Cr (zero blocks, entropy-decoded but never transformed)."""
    def wr(w):
        prev = 0
        for dc in (8, 16, 24, 32):     # Y blocks: TL TR BL BR
            _emit_block(w, dc - prev)
            prev = dc
        _emit_block(w, 0)              # Cb (pred independent per comp)
        _emit_block(w, 0)              # Cr
    jpg = _jpeg(16, 16, [(1, 2, 2), (2, 1, 1), (3, 1, 1)], wr)
    img = decode_jpeg(jpg)
    assert img.shape == (16, 16)
    np.testing.assert_array_equal(img[:8, :8], np.full((8, 8), 136))
    np.testing.assert_array_equal(img[:8, 8:], np.full((8, 8), 144))
    np.testing.assert_array_equal(img[8:, :8], np.full((8, 8), 152))
    np.testing.assert_array_equal(img[8:, 8:], np.full((8, 8), 160))


def test_progressive_without_scans_rejected():
    body = bytes([8]) + struct.pack(">HH", 8, 8) + bytes([1, 1, 0x11, 0])
    jpg = (b"\xff\xd8" + _seg(0xC2, body) + b"\xff\xd9")
    with pytest.raises(ValueError):
        decode_jpeg(jpg)
    with pytest.raises(ValueError):
        decode_jpeg(b"\x00\x01not jpeg")


# ---- progressive (SOF2): independent in-test progressive encoder ---------
#
# The encoder below implements the ENCODER side of T.81 G.1.2 (spectral
# selection + successive approximation, libjpeg bit-buffering order) and
# shares no code with the decoder.  The ground truth for every test is
# the BASELINE encoding of the same coefficients — the progressive
# decode must produce byte-identical pixels.

# the progressive scans use the same wide table
PAC_SYMBOLS = AC_SYMBOLS
PAC_COUNTS = AC_COUNTS


def _pac_emit(w, sym):
    length, code = _code_of(PAC_COUNTS, PAC_SYMBOLS, sym)
    w.put(code, length)


def _dc_emit(w, diff):
    s = _category(diff)
    length, code = _code_of(DC_COUNTS, DC_SYMBOLS, s)
    w.put(code, length)
    _emit_value(w, diff, s)


def _trunc(v, sh):
    """Point transform for AC coefficients: magnitude shift (toward 0)."""
    return -((-v) >> sh) if v < 0 else v >> sh


def _emit_ac_first_scan(w, blocks, ss, se, al):
    """One (run,size) stream per block; EOB0 per block (EOBn grouping is
    exercised separately)."""
    for block in blocks:
        k = ss
        emitted_to = ss - 1
        for zz in range(ss, se + 1):
            v = _trunc(int(block[zz]), al)
            if v == 0:
                continue
            run = zz - emitted_to - 1
            while run >= 16:
                _pac_emit(w, 0xF0)
                run -= 16
            s = _category(v)
            _pac_emit(w, (run << 4) | s)
            _emit_value(w, v, s)
            emitted_to = zz
        if emitted_to < se:
            _pac_emit(w, 0x00)


def _emit_ac_refine_scan(w, blocks, ss, se, al):
    """libjpeg order: symbol, sign bit, then the correction bits
    buffered while the run accumulated; EOB carries the rest."""
    for block in blocks:
        buffered = []
        run = 0
        emitted_any_tail = False
        for zz in range(ss, se + 1):
            c = int(block[zz])
            hist = _trunc(c, al + 1)
            if hist != 0:
                buffered.append((abs(c) >> al) & 1)
                continue
            v = _trunc(c, al)          # zero history: v in {-1, 0, 1}
            if v == 0:
                run += 1
                while run >= 16:
                    _pac_emit(w, 0xF0)
                    for b in buffered:
                        w.put(b, 1)
                    buffered = []
                    run -= 16
                continue
            assert abs(v) == 1
            _pac_emit(w, (run << 4) | 1)
            w.put(1 if v > 0 else 0, 1)
            for b in buffered:
                w.put(b, 1)
            buffered = []
            run = 0
            emitted_any_tail = zz == se
        if not emitted_any_tail:
            _pac_emit(w, 0x00)         # EOB1 (r=0): covers this block
            for b in buffered:
                w.put(b, 1)


def _jpeg_prog(width, height, comps, scans, qdc=8, qrest=2):
    """scans: list of (scan_comp_ids, ss, se, ah, al, writer_fn)."""
    qtable = bytes([0]) + bytes([qdc] + [qrest] * 63)
    dht = (bytes([0x00]) + bytes(DC_COUNTS) + DC_SYMBOLS
           + bytes([0x10]) + bytes(PAC_COUNTS) + PAC_SYMBOLS)
    sof = bytes([8]) + struct.pack(">HH", height, width) + bytes([len(comps)])
    for cid, h, v in comps:
        sof += bytes([cid, (h << 4) | v, 0])
    out = b"\xff\xd8" + _seg(0xDB, qtable) + _seg(0xC4, dht) + _seg(0xC2, sof)
    for comp_ids, ss, se, ah, al, writer in scans:
        sos = bytes([len(comp_ids)])
        for cid in comp_ids:
            sos += bytes([cid, 0x00])
        sos += bytes([ss, se, (ah << 4) | al])
        w = _BitWriter()
        writer(w)
        out += _seg(0xDA, sos) + w.flush()
    return out + b"\xff\xd9"


def _baseline_of_blocks(width, height, blocks):
    """Baseline encoding of full-precision zigzag coefficient blocks —
    the pixel ground truth for the progressive tests."""
    def wr(w):
        prev = 0
        for block in blocks:
            ac = [(zz, int(block[zz])) for zz in range(1, 64) if block[zz]]
            _emit_block(w, int(block[0]) - prev, ac=ac)
            prev = int(block[0])
    return _jpeg(width, height, [(1, 1, 1)], wr)


def _prog_grayscale(width, height, blocks, split=6):
    """Canonical 6-scan progression: DC first (Al=1), two AC bands first
    (Al=1), DC refine, two AC band refines (Al=0)."""
    dcs = [int(b[0]) for b in blocks]

    def dc_first(w):
        prev = 0
        for dc in dcs:
            v = dc >> 1                   # DC point transform: arithmetic
            _dc_emit(w, v - prev)         # shift (floor), per T.81
            prev = v

    def dc_refine(w):
        for dc in dcs:
            w.put(dc & 1, 1)

    return _jpeg_prog(
        width, height, [(1, 1, 1)],
        [([1], 0, 0, 0, 1, dc_first),
         ([1], 1, split - 1, 0, 1,
          lambda w: _emit_ac_first_scan(w, blocks, 1, split - 1, 1)),
         ([1], split, 63, 0, 1,
          lambda w: _emit_ac_first_scan(w, blocks, split, 63, 1)),
         ([1], 0, 0, 1, 0, dc_refine),
         ([1], 1, split - 1, 1, 0,
          lambda w: _emit_ac_refine_scan(w, blocks, 1, split - 1, 0)),
         ([1], split, 63, 1, 0,
          lambda w: _emit_ac_refine_scan(w, blocks, split, 63, 0))])


def test_progressive_dc_only_matches_baseline():
    blocks = [np.zeros(64, dtype=int)]
    blocks[0][0] = 5                      # odd DC: refinement bit matters
    prog = _prog_grayscale(8, 8, blocks)
    np.testing.assert_array_equal(
        decode_jpeg(prog), decode_jpeg(_baseline_of_blocks(8, 8, blocks)))


def test_progressive_full_progression_matches_baseline():
    """2x2 blocks with DC/AC values across both bands, odd and even,
    positive and negative — the complete 6-scan progression must land on
    the baseline pixels exactly."""
    rng = np.random.default_rng(3)
    blocks = []
    for _ in range(4):
        b = np.zeros(64, dtype=int)
        b[0] = int(rng.integers(-20, 21))
        for zz in sorted(rng.choice(np.arange(1, 64), size=9,
                                    replace=False)):
            b[zz] = int(rng.integers(-3, 4)) or 1
        blocks.append(b)
    prog = _prog_grayscale(16, 16, blocks)
    np.testing.assert_array_equal(
        decode_jpeg(prog), decode_jpeg(_baseline_of_blocks(16, 16, blocks)))


def test_progressive_eobrun_spans_blocks():
    """Three blocks whose high band is empty: AC-first scan encodes them
    as ONE EOB2 symbol (r=1, extra bit 1 -> run of 3 blocks)."""
    blocks = []
    for dc in (4, 6, 8):
        b = np.zeros(64, dtype=int)
        b[0] = dc
        b[1] = 2                          # low band only
        blocks.append(b)

    def ac_high_first(w):
        _pac_emit(w, 0x10)                # EOB1: eobrun = 2 + extra
        w.put(1, 1)                       # extra bit -> covers 3 blocks

    prog = _jpeg_prog(
        24, 8, [(1, 1, 1)],
        [([1], 0, 0, 0, 0, lambda w: (
            _dc_emit(w, int(blocks[0][0])),
            _dc_emit(w, int(blocks[1][0] - blocks[0][0])),
            _dc_emit(w, int(blocks[2][0] - blocks[1][0])))),
         ([1], 1, 5, 0, 0,
          lambda w: _emit_ac_first_scan(w, blocks, 1, 5, 0)),
         ([1], 6, 63, 0, 0, ac_high_first)])
    np.testing.assert_array_equal(
        decode_jpeg(prog), decode_jpeg(_baseline_of_blocks(24, 8, blocks)))


def test_progressive_refinement_corrects_existing_coefficients():
    """A coefficient visible at Al=1 (magnitude >= 2) must absorb its
    correction bit; a magnitude-1 coefficient appears only in the
    refinement scan (newly-nonzero path)."""
    b = np.zeros(64, dtype=int)
    b[0] = 6
    b[3] = 3      # visible at Al=1 as 1, refined to 3? no: 3>>1=1, bit 1
    b[5] = -1     # invisible at Al=1, newly nonzero in refinement
    b[9] = -2     # visible at Al=1 as -1, correction bit 0
    blocks = [b]
    prog = _prog_grayscale(8, 8, blocks, split=32)
    np.testing.assert_array_equal(
        decode_jpeg(prog), decode_jpeg(_baseline_of_blocks(8, 8, blocks)))


def test_progressive_three_component_interleaved_dc():
    """Interleaved DC scan over Y/Cb/Cr + per-component AC scans: chroma
    is entropy-tracked; luma pixels equal the single-component baseline."""
    yb = np.zeros(64, dtype=int)
    yb[0], yb[2] = 9, 2
    cb = np.zeros(64, dtype=int)
    cb[0] = 4
    cr = np.zeros(64, dtype=int)
    cr[0], cr[1] = -3, 1

    def dc_first(w):
        _dc_emit(w, int(yb[0]) >> 1)
        _dc_emit(w, int(cb[0]) >> 1)
        _dc_emit(w, int(cr[0]) >> 1)

    def dc_refine(w):
        for v in (int(yb[0]), int(cb[0]), int(cr[0])):
            w.put(v & 1, 1)

    prog = _jpeg_prog(
        8, 8, [(1, 1, 1), (2, 1, 1), (3, 1, 1)],
        [([1, 2, 3], 0, 0, 0, 1, dc_first),
         ([1], 1, 63, 0, 0,
          lambda w: _emit_ac_first_scan(w, [yb], 1, 63, 0)),
         ([2], 1, 63, 0, 0,
          lambda w: _emit_ac_first_scan(w, [cb], 1, 63, 0)),
         ([3], 1, 63, 0, 0,
          lambda w: _emit_ac_first_scan(w, [cr], 1, 63, 0)),
         ([1, 2, 3], 0, 0, 1, 0, dc_refine)])
    np.testing.assert_array_equal(
        decode_jpeg(prog), decode_jpeg(_baseline_of_blocks(8, 8, [yb])))


def test_progressive_dc_restart_markers():
    """DRI=2 with a progressive DC scan: the restart resets the DC
    predictor mid-scan; pixels must equal the baseline encoding of the
    same absolute DCs."""
    dcs = [4, 8, 12, 16]

    def dc_scan_bytes():
        w1 = _BitWriter()
        _dc_emit(w1, dcs[0])
        _dc_emit(w1, dcs[1] - dcs[0])
        w2 = _BitWriter()
        _dc_emit(w2, dcs[2])              # predictor RESET at the RST
        _dc_emit(w2, dcs[3] - dcs[2])
        return w1.flush() + b"\xff\xd0" + w2.flush()

    qtable = bytes([0]) + bytes([8] + [2] * 63)
    dht = bytes([0x00]) + bytes(DC_COUNTS) + DC_SYMBOLS
    sof = bytes([8]) + struct.pack(">HH", 8, 32) + bytes([1, 1, 0x11, 0])
    sos = bytes([1, 1, 0x00, 0, 0, 0x00])
    prog = (b"\xff\xd8" + _seg(0xDB, qtable) + _seg(0xC4, dht)
            + _seg(0xDD, struct.pack(">H", 2)) + _seg(0xC2, sof)
            + _seg(0xDA, sos) + dc_scan_bytes() + b"\xff\xd9")

    blocks = []
    for dc in dcs:
        b = np.zeros(64, dtype=int)
        b[0] = dc
        blocks.append(b)
    np.testing.assert_array_equal(
        decode_jpeg(prog), decode_jpeg(_baseline_of_blocks(32, 8, blocks)))


def test_single_component_scan_with_sampling_factors_is_raster_order():
    """T.81 A.2: a one-component scan is NON-interleaved — blocks come
    in the raster order of the component's own grid even when SOF
    declares h=v=2 (previously decoded in 2x2 MCU tile order ->
    scrambled quadrants)."""
    def wr(w):
        prev = 0
        for dc in (8, 16, 24, 32):     # raster: TL TR BL BR
            _emit_block(w, dc - prev)
            prev = dc
    jpg = _jpeg(16, 16, [(1, 2, 2)], wr)
    img = decode_jpeg(jpg)
    np.testing.assert_array_equal(img[:8, :8], np.full((8, 8), 136))
    np.testing.assert_array_equal(img[:8, 8:], np.full((8, 8), 144))
    np.testing.assert_array_equal(img[8:, :8], np.full((8, 8), 152))
    np.testing.assert_array_equal(img[8:, 8:], np.full((8, 8), 160))


def test_fill_bytes_before_markers_are_skipped():
    """T.81 B.1.1.2: any number of 0xFF fill bytes may precede a
    marker; they must not be parsed as a segment."""
    jpg = _jpeg(8, 8, [(1, 1, 1)], lambda w: _emit_block(w, 10))
    sos = jpg.index(b"\xff\xda")
    padded = jpg[:sos] + b"\xff\xff\xff" + jpg[sos:]
    np.testing.assert_array_equal(
        decode_jpeg(padded), np.full((8, 8), 138, np.uint8))


def test_subsampled_luma_rejected_for_baseline_too():
    """comps[0] not max-sampled: the baseline path used to silently
    return a clipped half-size array flagged real."""
    def wr(w):
        _emit_block(w, 8)              # 1 Y block per MCU
        for _ in range(4):             # 2x2 chroma blocks
            _emit_block(w, 0)
    jpg = _jpeg(16, 16, [(1, 1, 1), (2, 2, 2)], wr)
    with pytest.raises(UnsupportedMedia):
        decode_jpeg(jpg)


# ---- lossless (SOF3, Annex H) --------------------------------------------
# DC table for lossless: SSSS symbols 0..16 all at code length 5

L_DC_COUNTS = [0, 0, 0, 0, 17] + [0] * 11
L_DC_SYMBOLS = bytes(range(17))


def _emit_diff(w, diff):
    if diff == 32768:
        length, code = _code_of(L_DC_COUNTS, L_DC_SYMBOLS, 16)
        w.put(code, length)        # SSSS=16: no magnitude bits
        return
    s = _category(diff)
    length, code = _code_of(L_DC_COUNTS, L_DC_SYMBOLS, s)
    w.put(code, length)
    _emit_value(w, diff, s)


def _lossless_jpeg(width, height, precision, ncomp, pred_sel, pt, writer):
    dht = bytes([0x00]) + bytes(L_DC_COUNTS) + L_DC_SYMBOLS
    sof = (bytes([precision]) + struct.pack(">HH", height, width)
           + bytes([ncomp]))
    for cid in range(1, ncomp + 1):
        sof += bytes([cid, 0x11, 0])
    sos = bytes([ncomp])
    for cid in range(1, ncomp + 1):
        sos += bytes([cid, 0x00])
    sos += bytes([pred_sel, 0, pt])
    w = _BitWriter()
    writer(w)
    return (b"\xff\xd8" + _seg(0xC4, dht) + _seg(0xC3, sof)
            + _seg(0xDA, sos) + w.flush() + b"\xff\xd9")


def _predict(plane, y, x, sel, default):
    """Independent Annex-H prediction (H.1.2.2) for the test encoder."""
    if y == 0 and x == 0:
        return default
    if y == 0:
        return plane[0][x - 1]
    if x == 0:
        return plane[y - 1][0]
    ra, rb, rc = plane[y][x - 1], plane[y - 1][x], plane[y - 1][x - 1]
    return {1: ra, 2: rb, 3: rc, 4: ra + rb - rc,
            5: ra + ((rb - rc) >> 1), 6: rb + ((ra - rc) >> 1),
            7: (ra + rb) >> 1}[sel]


def _encode_lossless(samples, precision, pred_sel, pt=0):
    """samples: list of (H, W) int grids, one per component."""
    h, wd = len(samples[0]), len(samples[0][0])
    default = 1 << (precision - pt - 1)

    def writer(w):
        for y in range(h):
            for x in range(wd):
                for plane in samples:
                    pred = _predict(plane, y, x, pred_sel, default)
                    # mod-2^16 arithmetic (H.1.2.1): reduce to the
                    # signed range; exactly 32768 is the SSSS=16 case
                    diff = (plane[y][x] - pred) & 0xFFFF
                    if diff > 32768:
                        diff -= 65536
                    _emit_diff(w, diff)

    return _lossless_jpeg(wd, h, precision, len(samples), pred_sel, pt,
                          writer)


def test_lossless_grey_predictor1_hand_values():
    """2x2 DPCM chain, hand-derived: first sample against the default
    prediction 2^(P-1)=128, top row against Ra, left column against Rb,
    interior against predictor 1 (Ra)."""
    px = [[100, 102], [101, 99]]
    out = decode_jpeg(_encode_lossless([px], 8, 1))
    np.testing.assert_array_equal(out, px)


@pytest.mark.parametrize("sel", [1, 2, 3, 4, 5, 6, 7])
def test_lossless_roundtrip_every_predictor(sel):
    rng = np.random.default_rng(sel)
    px = rng.integers(0, 256, size=(7, 5)).tolist()
    out = decode_jpeg(_encode_lossless([px], 8, sel))
    np.testing.assert_array_equal(out, px)


def test_lossless_16bit_msb_scaling():
    px = [[0x1234, 0x5678, 0x0000, 0xFFFF]]
    out = decode_jpeg(_encode_lossless([px], 16, 1))
    np.testing.assert_array_equal(out, [[0x12, 0x56, 0x00, 0xFF]])


def test_lossless_rgb_q14_luminance_parity():
    """3-component lossless RGB rides the same Q14 grey form: the pure
    R/G/B/white fixture gives the hand-computed 76/150/29/255 exactly as
    the PNG suites do."""
    r = [[255, 0, 0, 255]]
    g = [[0, 255, 0, 255]]
    b = [[0, 0, 255, 255]]
    out = decode_jpeg(_encode_lossless([r, g, b], 8, 1))
    np.testing.assert_array_equal(out, [[76, 150, 29, 255]])


def test_lossless_point_transform_scales_back():
    """Pt=1: samples are stored at P-Pt=7 bits; output MSB-aligns to 8
    (64 at 7 bits -> 128)."""
    px = [[64, 32], [16, 127]]
    out = decode_jpeg(_encode_lossless([px], 8, 1, pt=1))
    np.testing.assert_array_equal(out, [[128, 64], [32, 254]])


def test_lossless_unsupported_shapes_raise():
    # restart intervals: declared out of subset
    body = _encode_lossless([[[1, 2]]], 8, 1)
    with_dri = body[:2] + _seg(0xDD, struct.pack(">H", 1)) + body[2:]
    with pytest.raises(UnsupportedMedia):
        decode_jpeg(with_dri)
    # subsampled lossless: declared out of subset
    bad = bytearray(_encode_lossless([[[1, 2]]], 8, 1))
    i = bad.find(b"\xff\xc3")
    bad[i + 2 + 2 + 6 + 1] = 0x22      # comp 1 sampling 2x2
    with pytest.raises(UnsupportedMedia):
        decode_jpeg(bytes(bad))


# ---- 12-bit extended sequential ------------------------------------------

def _jpeg12(width, height, blocks_writer, qdc=8, qrest=2):
    """Single-component 12-bit SOF1 with the same tiny tables."""
    qtable = bytes([0]) + bytes([qdc] + [qrest] * 63)
    dht = (bytes([0x00]) + bytes(DC_COUNTS) + DC_SYMBOLS
           + bytes([0x10]) + bytes(AC_COUNTS) + AC_SYMBOLS)
    sof = bytes([12]) + struct.pack(">HH", height, width) + bytes([1])
    sof += bytes([1, 0x11, 0])
    sos = bytes([1, 1, 0x00, 0, 63, 0])
    w = _BitWriter()
    blocks_writer(w)
    return (b"\xff\xd8" + _seg(0xDB, qtable) + _seg(0xC4, dht)
            + _seg(0xC1, sof) + _seg(0xDA, sos) + w.flush() + b"\xff\xd9")


def test_12bit_dc_only_block_level_shift_and_alignment():
    """12-bit DC-only block: flat at DC + 2^11, MSB-aligned to 8 bits.
    dc_diff=1000 at qdc=8 -> IDCT-flat 1000 -> +2048 = 3048 -> >>4 =
    190."""
    png = _jpeg12(8, 8, lambda w: _emit_block(w, 1000))
    out = decode_jpeg(png)
    np.testing.assert_array_equal(out, np.full((8, 8), 190, np.uint8))


def test_12bit_clips_at_12bit_range_not_8():
    """A large negative DC clips at 0 and a large positive at 4095
    (255 after alignment) — the clip must happen at 12-bit range, not
    truncate through an 8-bit clamp first."""
    # qdc=16: DC -1500 dequants to -24000 -> IDCT-flat -3000 -> +2048 =
    # -952 -> clip 0 (a wrongly-8-bit clamp would wrap, not zero)
    lo = decode_jpeg(_jpeg12(8, 8, lambda w: _emit_block(w, -1500),
                             qdc=16))
    np.testing.assert_array_equal(lo, np.zeros((8, 8), np.uint8))
    # qdc=8: flat 1500 -> +2048 = 3548 (inside 12-bit range) -> >>4 =
    # 221 — NOT 255, proving the clip ceiling is 4095 not 255<<4
    hi = decode_jpeg(_jpeg12(8, 8, lambda w: _emit_block(w, 1500)))
    np.testing.assert_array_equal(hi, np.full((8, 8), 221, np.uint8))
    top = decode_jpeg(_jpeg12(8, 8, lambda w: _emit_block(w, 1500),
                              qdc=16))
    # 1500*16/8 = 3000 -> +2048 = 5048 -> clip 4095 -> >>4 = 255
    np.testing.assert_array_equal(top, np.full((8, 8), 255, np.uint8))


def test_8bit_paths_unchanged_by_precision_plumbing():
    png = _jpeg(8, 8, [(1, 1, 1)], lambda w: _emit_block(w, 100))
    out = decode_jpeg(png)
    np.testing.assert_array_equal(out, np.full((8, 8), 228, np.uint8))


def test_lossless_partial_scan_declares_out_of_subset():
    """A 3-component lossless frame whose first scan covers only one
    component (non-interleaved layout) must raise — never return the
    red channel mislabeled as luminance (review finding)."""
    dht = bytes([0x00]) + bytes(L_DC_COUNTS) + L_DC_SYMBOLS
    sof = bytes([8]) + struct.pack(">HH", 1, 2) + bytes([3])
    for cid in (1, 2, 3):
        sof += bytes([cid, 0x11, 0])
    sos = bytes([1, 1, 0x00, 1, 0, 0])      # scan covers comp 1 only
    w = _BitWriter()
    _emit_diff(w, 100 - 128)
    _emit_diff(w, 2)
    jpg = (b"\xff\xd8" + _seg(0xC4, dht) + _seg(0xC3, sof)
           + _seg(0xDA, sos) + w.flush() + b"\xff\xd9")
    with pytest.raises(UnsupportedMedia):
        decode_jpeg(jpg)


# ---- corruption: fail loudly, terminate, never allocate a bomb ------------

def test_jpeg_ac_run_past_block_raises():
    """A (run, size) symbol whose run pushes k past coefficient 63 is
    corruption and must raise — a silent break would leave the symbol's
    value bits unconsumed and desync the rest of the scan (advisory)."""

    def emit_overshoot(w):
        length, code = _code_of(DC_COUNTS, DC_SYMBOLS, 0)  # DC diff 0
        w.put(code, length)
        for _ in range(3):                 # ZRL x3: k 1 -> 49
            length, code = _code_of(AC_COUNTS, AC_SYMBOLS, 0xF0)
            w.put(code, length)
        for _ in range(8):                 # (1,1) x8: k 49->51->...->63,
            length, code = _code_of(AC_COUNTS, AC_SYMBOLS, 0x11)
            w.put(code, length)            # the 8th lands k += 1 = 64
            w.put(1, 1)                    # the 1-bit coefficient value
        length, code = _code_of(AC_COUNTS, AC_SYMBOLS, 0x00)  # EOB
        w.put(code, length)

    jpg = _jpeg(8, 8, [(1, 1, 1)], emit_overshoot)
    with pytest.raises(ValueError, match="AC run past block"):
        decode_jpeg(jpg)


def test_decode_bomb_dimensions_rejected():
    """A corrupt SOF claiming absurd dimensions raises BEFORE any big
    allocation (the fuzz suite found a mutated SOF driving a ~30GB
    plane)."""
    sof = (bytes([8]) + struct.pack(">HH", 65535, 65535)
           + bytes([1, 1, 0x11, 0]))
    seg = bytes([0xFF, 0xC0]) + struct.pack(">H", len(sof) + 2) + sof
    with pytest.raises(UnsupportedMedia):
        decode_jpeg(b"\xff\xd8" + seg + b"\xff\xd9")


@settings(max_examples=40, deadline=None)
@given(st.integers(0, 2 ** 32 - 1), st.integers(0, 2))
def test_decoder_fuzz_terminates(seed, kind):
    """Random and mutated-valid payloads: the decoder must terminate with
    a normal exception or a valid array — never hang.  Mutations flip
    bytes inside structurally valid baseline (kind 1) and progressive
    (kind 2) fixtures so parsing gets past the markers."""
    rng = np.random.default_rng(seed)
    if kind == 0:
        payload = bytes(rng.integers(0, 256, size=64, dtype=np.uint8))
    else:
        if kind == 1:
            base = _jpeg(8, 8, [(1, 1, 1)], lambda w: _emit_block(w, 10))
        else:
            blk = np.zeros(64, dtype=int)
            blk[0], blk[3], blk[9] = 7, 3, -2
            base = _prog_grayscale(8, 8, [blk])
        b = bytearray(base)
        for _ in range(rng.integers(1, 6)):
            b[rng.integers(0, len(b))] = rng.integers(0, 256)
        payload = bytes(b)
    try:
        out = decode_jpeg(payload)
        assert out is not None
    except Exception:
        pass  # any normal exception is fine
