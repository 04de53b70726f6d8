"""Hierarchical JPEG (ITU T.81 Annex J) decoder vs an independent
in-test encoder + numpy mirror.

The pyramid fixtures are hand-framed (DHP -> non-differential first
frame -> EXP -> SOF5 differential frames) reusing the baseline huffman
encoder from test_jpeg_codec (which shares no code with the decoder);
expected pixels come from an explicit mirror: reference IDCT + level
shift for the first frame, a from-the-spec J.1.1.2 loop upsampler, and
un-shifted IDCT corrections added with clamping.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

from ocr_hardsubx_spark.functions.jpeg_codec import (
    UnsupportedMedia,
    _exp_upsample,
    decode_jpeg,
)
from tests.test_jpeg_codec import (
    AC_COUNTS,
    AC_SYMBOLS,
    DC_COUNTS,
    DC_SYMBOLS,
    _BitWriter,
    _emit_block,
    _idct_reference,
    _seg,
)

QDC, QREST = 8, 2


# ---------------------------------------------------------------------------
# fixture assembly
# ---------------------------------------------------------------------------


def _sof_body(width, height):
    return (bytes([8]) + struct.pack(">HH", height, width)
            + bytes([1, 1, 0x11, 0]))


def _hier_jpeg(full_w, full_h, frames):
    """frames: list of (width, height, differential, exp, writer_fn);
    exp is None or (Eh, Ev) emitted before that frame's SOF."""
    qtable = bytes([0]) + bytes([QDC] + [QREST] * 63)
    dht = (bytes([0x00]) + bytes(DC_COUNTS) + DC_SYMBOLS
           + bytes([0x10]) + bytes(AC_COUNTS) + AC_SYMBOLS)
    out = (b"\xff\xd8" + _seg(0xDB, qtable) + _seg(0xC4, dht)
           + _seg(0xDE, _sof_body(full_w, full_h)))
    for width, height, diff, exp, writer in frames:
        if exp is not None:
            out += _seg(0xDF, bytes([(exp[0] << 4) | exp[1]]))
        out += _seg(0xC5 if diff else 0xC0, _sof_body(width, height))
        out += _seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
        w = _BitWriter()
        writer(w)
        out += w.flush()
    return out + b"\xff\xd9"


def _blocks_writer(blocks, differential):
    """blocks: row-major list of {zigzag_index: quantized_value}.  In a
    differential frame every DC is emitted directly (no prediction);
    non-differential DCs are emitted as successive differences."""
    def writer(w):
        pred = 0
        for b in blocks:
            dc = b.get(0, 0)
            if differential:
                _emit_block(w, dc, sorted((k, v) for k, v in b.items()
                                          if k))
            else:
                _emit_block(w, dc - pred, sorted((k, v) for k, v in
                                                 b.items() if k))
                pred = dc
    return writer


# ---------------------------------------------------------------------------
# numpy mirror
# ---------------------------------------------------------------------------


def _mirror_plane(blocks, bw, bh, width, height, level):
    """Assemble the (height, width) float plane from per-block quantized
    zigzag coefficient dicts via the explicit reference IDCT."""
    from tests.test_jpeg_codec import _jpeg  # noqa: F401 (same zigzag)
    from ocr_hardsubx_spark.functions.jpeg_codec import _ZIGZAG

    plane = np.zeros((bh * 8, bw * 8))
    for i, b in enumerate(blocks):
        coefs = np.zeros(64)
        for zz, v in b.items():
            coefs[zz] = v * (QDC if zz == 0 else QREST)
        grid = np.zeros((8, 8))
        grid.flat[_ZIGZAG] = coefs
        by, bx = divmod(i, bw)
        plane[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8] = (
            _idct_reference(grid) + level)
    return plane[:height, :width]


def _mirror_upsample(ref, eh, ev, wt, ht):
    """J.1.1.2 written as plain loops, horizontal before vertical."""
    out = ref.astype(np.int64)
    if eh:
        h, w = out.shape
        o = np.empty((h, 2 * w), dtype=np.int64)
        for x in range(w):
            o[:, 2 * x] = out[:, x]
            nxt = out[:, x + 1] if x + 1 < w else out[:, x]
            o[:, 2 * x + 1] = (out[:, x] + nxt + 1) >> 1
        out = o[:, :wt]
    if ev:
        h, w = out.shape
        o = np.empty((2 * h, w), dtype=np.int64)
        for y in range(h):
            o[2 * y] = out[y]
            nxt = out[y + 1] if y + 1 < h else out[y]
            o[2 * y + 1] = (out[y] + nxt + 1) >> 1
        out = o[:ht]
    return out


def _mirror_decode(full_w, full_h, stages):
    """stages: list of (width, height, blocks, exp) mirroring the
    fixture's frames (first stage non-differential)."""
    ref = None
    for width, height, blocks, exp in stages:
        bw, bh = (width + 7) // 8, (height + 7) // 8
        if ref is None:
            plane = _mirror_plane(blocks, bw, bh, width, height, 128.0)
            ref = np.clip(np.round(plane), 0, 255).astype(np.int64)
        else:
            if exp is not None:
                ref = _mirror_upsample(ref, exp[0], exp[1], width,
                                       height)
            corr = np.round(
                _mirror_plane(blocks, bw, bh, width, height, 0.0))
            ref = np.clip(ref + corr.astype(np.int64), 0, 255)
    return ref.astype(np.uint8)


# ---------------------------------------------------------------------------
# EXP upsampler semantics
# ---------------------------------------------------------------------------


def test_exp_upsample_even_and_odd_targets():
    a = np.array([[0, 10], [20, 40]], dtype=np.int32)
    # horizontal only, even target: copy / interpolate
    np.testing.assert_array_equal(
        _exp_upsample(a, 1, 0, 4, 2),
        [[0, 5, 10, 10], [20, 30, 40, 40]])
    # odd target crops the replicated edge column
    np.testing.assert_array_equal(
        _exp_upsample(a, 1, 0, 3, 2), [[0, 5, 10], [20, 30, 40]])
    # both axes: horizontal first, then vertical over the expanded rows
    both = _exp_upsample(a, 1, 1, 4, 4)
    np.testing.assert_array_equal(
        both, [[0, 5, 10, 10], [10, 18, 25, 25],
               [20, 30, 40, 40], [20, 30, 40, 40]])


def test_exp_upsample_rejects_bad_targets():
    a = np.zeros((4, 4), dtype=np.int32)
    with pytest.raises(ValueError, match="2W or 2W-1"):
        _exp_upsample(a, 1, 0, 6, 4)
    with pytest.raises(ValueError, match="unexpanded"):
        _exp_upsample(a, 1, 0, 8, 5)   # v axis not signalled, ht != 4


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_exp_upsample_matches_loop_mirror(seed):
    rng = np.random.RandomState(seed)
    a = rng.randint(0, 256, size=(5, 7)).astype(np.int32)
    for eh, ev, wt, ht in ((1, 0, 13, 5), (0, 1, 7, 10), (1, 1, 14, 9)):
        np.testing.assert_array_equal(
            _exp_upsample(a, eh, ev, wt, ht),
            _mirror_upsample(a, eh, ev, wt, ht))


# ---------------------------------------------------------------------------
# pyramid decode
# ---------------------------------------------------------------------------


def test_dc_only_pyramid_quadrants():
    """8x8 flat first frame (DC 16 -> 144), EXP both axes to 16x16
    (still flat), then a 4-block differential frame shifting each
    quadrant by its own DC: +8 / -8 / 0 / +127-clamp."""
    f1 = [{0: 16}]
    d = [{0: 8}, {0: -8}, {0: 0}, {0: 127}]
    fix = _hier_jpeg(16, 16, [
        (8, 8, False, None, _blocks_writer(f1, False)),
        (16, 16, True, (1, 1), _blocks_writer(d, True)),
    ])
    img = decode_jpeg(fix)
    assert img.shape == (16, 16)
    np.testing.assert_array_equal(img[:8, :8], 144 + 8)
    np.testing.assert_array_equal(img[:8, 8:], 144 - 8)
    np.testing.assert_array_equal(img[8:, :8], 144)
    # +127 * 8/8 on 144 clamps at 255
    np.testing.assert_array_equal(img[8:, 8:], 255)


def test_differential_dc_is_not_predicted():
    """Two diff blocks both emit DC=5: with (wrong) DC prediction the
    second block would decode as 10; T.81 F.2.1.3.1 says PRED is 0."""
    fix = _hier_jpeg(16, 8, [
        (8, 8, False, None, _blocks_writer([{0: 0}], False)),
        (16, 8, True, (1, 0), _blocks_writer([{0: 5}, {0: 5}], True)),
    ])
    img = decode_jpeg(fix)
    np.testing.assert_array_equal(img[:, :8], img[:, 8:])
    np.testing.assert_array_equal(img, 133)


def test_negative_correction_clamps_at_zero():
    fix = _hier_jpeg(8, 8, [
        (8, 8, False, None, _blocks_writer([{0: -120}], False)),  # 8
        (8, 8, True, None, _blocks_writer([{0: -50}], True)),     # -50
    ])
    np.testing.assert_array_equal(decode_jpeg(fix), 0)


@pytest.mark.parametrize("seed", [0, 1, 2, 3])
def test_random_pyramid_matches_numpy_mirror(seed):
    """16x16 first frame with random AC-bearing blocks, EXP(1,1) to
    32x32, one differential frame, then a same-size second differential
    refinement — every pixel equals the independent mirror."""
    rng = np.random.RandomState(seed)

    def rand_blocks(n):
        out = []
        for _ in range(n):
            b = {0: int(rng.randint(-60, 60))}
            for zz in rng.choice(np.arange(1, 64), size=5, replace=False):
                b[int(zz)] = int(rng.choice([-3, -2, -1, 1, 2, 3]))
            out.append(b)
        return out

    f1, d1, d2 = rand_blocks(4), rand_blocks(16), rand_blocks(16)
    fix = _hier_jpeg(32, 32, [
        (16, 16, False, None, _blocks_writer(f1, False)),
        (32, 32, True, (1, 1), _blocks_writer(d1, True)),
        (32, 32, True, None, _blocks_writer(d2, True)),
    ])
    want = _mirror_decode(32, 32, [
        (16, 16, f1, None), (32, 32, d1, (1, 1)), (32, 32, d2, None)])
    np.testing.assert_array_equal(decode_jpeg(fix), want)


def test_odd_dimension_pyramid():
    """Full size 13x9 from a 7x5 first frame: EXP targets 2W-1 on both
    axes, exercising the crop of the replicated edge."""
    rng = np.random.RandomState(7)
    f1 = [{0: int(rng.randint(-30, 30)), 2: 2}]
    d = [{0: int(rng.randint(-10, 10))} for _ in range(2 * 2)]
    fix = _hier_jpeg(13, 9, [
        (7, 5, False, None, _blocks_writer(f1, False)),
        (13, 9, True, (1, 1), _blocks_writer(d, True)),
    ])
    want = _mirror_decode(13, 9, [(7, 5, f1, None), (13, 9, d, (1, 1))])
    img = decode_jpeg(fix)
    assert img.shape == (9, 13)
    np.testing.assert_array_equal(img, want)


# ---------------------------------------------------------------------------
# declared subset / malformed pyramids
# ---------------------------------------------------------------------------


def _one_frame(diff=False, exp=None, w=8, h=8):
    return (w, h, diff, exp, _blocks_writer([{0: 0}], diff))


def test_progressive_frame_inside_pyramid_unsupported():
    fix = _hier_jpeg(8, 8, [_one_frame()])
    # splice a progressive SOF2 after the first frame's entropy data
    fix = fix[:-2] + _seg(0xC2, _sof_body(8, 8)) + b"\xff\xd9"
    with pytest.raises(UnsupportedMedia, match="hierarchical"):
        decode_jpeg(fix)


def test_two_nondifferential_frames_rejected():
    fix = _hier_jpeg(8, 8, [_one_frame(), _one_frame()])
    with pytest.raises(ValueError, match="pyramid order"):
        decode_jpeg(fix)


def test_first_frame_differential_rejected():
    fix = _hier_jpeg(8, 8, [_one_frame(diff=True)])
    with pytest.raises(ValueError, match="pyramid order"):
        decode_jpeg(fix)


def test_dims_mismatch_without_exp_rejected():
    fix = _hier_jpeg(16, 8, [
        _one_frame(), _one_frame(diff=True, w=16, h=8)])
    with pytest.raises(ValueError, match="do not match the reference"):
        decode_jpeg(fix)


def test_exp_before_first_frame_rejected():
    qtable = bytes([0]) + bytes([QDC] + [QREST] * 63)
    fix = (b"\xff\xd8" + _seg(0xDB, qtable)
           + _seg(0xDE, _sof_body(8, 8)) + _seg(0xDF, bytes([0x11]))
           + b"\xff\xd9")
    with pytest.raises(ValueError, match="EXP"):
        decode_jpeg(fix)


def test_frame_larger_than_dhp_rejected():
    fix = _hier_jpeg(8, 8, [_one_frame(w=16, h=8)])
    with pytest.raises(ValueError, match="larger than DHP"):
        decode_jpeg(fix)
