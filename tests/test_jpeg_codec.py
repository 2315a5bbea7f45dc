"""Baseline JPEG codec (operators/jpeg.py): exact flat-block decode,
DC prediction chain, AC coefficient path against an independent cosine
formula, and reject paths."""

from __future__ import annotations

import struct

import numpy as np

from etl_file_sync_spark.operators.jpeg import (
    _AC_COUNTS,
    _AC_VALUES,
    _BitWriter,
    _DC_COUNTS,
    _DC_VALUES,
    _dht,
    _huff_codes,
    decode_jpeg,
    encode_flat_jpeg,
)


def _restart(wtr: _BitWriter, idx: int) -> None:
    """1-pad to a byte boundary and emit RSTn — the encoder side of the
    restart-marker protocol (decoder: _BitReader.sync_restart)."""
    if wtr.n:
        pad = 8 - wtr.n
        wtr.put((1 << pad) - 1, pad)
    wtr.out += bytes([0xFF, 0xD0 + (idx % 8)])


def encode_gray_blocks_jpeg(block_vals, restart_interval: int = 0) -> bytes:
    """Spec-valid baseline GRAYSCALE JFIF with one flat 8×8 block per
    entry of `block_vals` (a 2-D grid of 0..255 values): exercises the
    single-component path and the DC prediction chain with positive AND
    negative diffs, still arithmetically exact to decode."""
    grid = np.asarray(block_vals, dtype=np.int64)
    bh, bw = grid.shape
    width, height = bw * 8, bh * 8
    qtab = b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes([1] * 64)
    sof = b"\xff\xc0" + struct.pack(">HBHHB", 11, 8, height, width, 1) + bytes([1, 0x11, 0])
    dhts = _dht(0, 0, _DC_COUNTS, _DC_VALUES) + _dht(1, 0, _AC_COUNTS, _AC_VALUES)
    dri = (
        b"\xff\xdd" + struct.pack(">HH", 4, restart_interval) if restart_interval else b""
    )
    sos = b"\xff\xda" + struct.pack(">HB", 8, 1) + bytes([1, 0x00, 0, 63, 0])
    dc_codes = _huff_codes(_DC_COUNTS, _DC_VALUES)
    ac_codes = _huff_codes(_AC_COUNTS, _AC_VALUES)
    wtr = _BitWriter()
    pred = 0
    mcu = 0
    rst = 0
    for by in range(bh):
        for bx in range(bw):
            if restart_interval and mcu and mcu % restart_interval == 0:
                _restart(wtr, rst)
                rst += 1
                pred = 0  # DC prediction resets at every restart
            mcu += 1
            target = 8 * (int(grid[by, bx]) - 128)
            diff = target - pred
            pred = target
            t = 0 if diff == 0 else int(abs(diff)).bit_length()
            ln, code = dc_codes[t]
            wtr.put(code, ln)
            if t:
                mag = diff if diff >= 0 else diff + (1 << t) - 1
                wtr.put(mag, t)
            ln, code = ac_codes[0x00]
            wtr.put(code, ln)
    return b"\xff\xd8" + qtab + sof + dhts + dri + sos + wtr.finish() + b"\xff\xd9"


def _expected_rgb(y, cb, cr):
    r = np.clip(np.floor(y + 1.402 * (cr - 128) + 0.5), 0, 255)
    g = np.clip(np.floor(y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128) + 0.5), 0, 255)
    b = np.clip(np.floor(y + 1.772 * (cb - 128) + 0.5), 0, 255)
    return [int(r), int(g), int(b)]


def test_flat_color_decode_is_arithmetically_exact():
    for y, cb, cr in [(200, 100, 150), (0, 128, 128), (255, 1, 254), (128, 128, 128)]:
        img = decode_jpeg(encode_flat_jpeg(24, 16, y, cb, cr))
        assert img.shape == (16, 24, 3)
        assert (img == np.array(_expected_rgb(y, cb, cr), np.uint8)).all()


def test_gray_blocks_exercise_dc_prediction_chain():
    grid = [[0, 255, 17, 254], [200, 3, 128, 1]]
    img = decode_jpeg(encode_gray_blocks_jpeg(grid))
    assert img.shape == (16, 32, 3)
    for by in range(2):
        for bx in range(4):
            blk = img[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
            assert (blk == grid[by][bx]).all(), (by, bx)


def test_single_ac_coefficient_against_independent_cosine_formula():
    """Hand-build a grayscale stream whose only nonzero coefficient is
    AC(0,1)=q·v; expected pixels come from the direct DCT-III formula
    written out independently of the decoder's basis matrix."""
    # AC table must carry symbol 0x04 (run 0, size 4) in addition to EOB
    ac_counts = [0, 1, 2] + [0] * 13
    ac_values = bytes([0x00, 0x04, 0xF0])
    qtab = b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes([1] * 64)
    sof = b"\xff\xc0" + struct.pack(">HBHHB", 11, 8, 8, 8, 1) + bytes([1, 0x11, 0])
    dhts = _dht(0, 0, _DC_COUNTS, _DC_VALUES) + _dht(1, 0, list(ac_counts), ac_values)
    sos = b"\xff\xda" + struct.pack(">HB", 8, 1) + bytes([1, 0x00, 0, 63, 0])
    dc_codes = _huff_codes(_DC_COUNTS, _DC_VALUES)
    ac_codes = _huff_codes(list(ac_counts), ac_values)
    w = _BitWriter()
    ln, code = dc_codes[0]
    w.put(code, ln)  # DC diff 0
    ln, code = ac_codes[0x04]
    w.put(code, ln)
    w.put(10, 4)  # AC(zigzag k=1) = EXTEND(10, 4) = 10
    ln, code = ac_codes[0x00]
    w.put(code, ln)  # EOB
    buf = b"\xff\xd8" + qtab + sof + dhts + sos + w.finish() + b"\xff\xd9"
    img = decode_jpeg(buf)
    assert img is not None and img.shape == (8, 8, 3)
    # zigzag index 1 is frequency (u=0, v=1): pixel(x) adds
    # (1/4)·C(0)·C(1)·10·cos((2x+1)π/16) per the 2-D DCT-III definition;
    # DC term contributes 0 → +128 level shift only.
    for x in range(8):
        expected = 128.0 + 10.0 * 0.25 * (1.0 / np.sqrt(2.0)) * np.cos((2 * x + 1) * np.pi / 16.0)
        expected = int(np.clip(np.floor(expected + 0.5), 0, 255))
        col = img[:, x, 0]
        assert (col == expected).all(), (x, expected, col.tolist())


def test_reject_paths():
    assert decode_jpeg(b"\xff\xd8\xff\xd9") is None  # EOI right away
    assert decode_jpeg(b"not a jpeg") is None
    # progressive (SOF2) must be refused, not mis-decoded
    flat = bytearray(encode_flat_jpeg(8, 8, 100))
    i = flat.index(b"\xff\xc0")
    flat[i + 1] = 0xC2
    assert decode_jpeg(bytes(flat)) is None
    # truncated entropy stream
    assert decode_jpeg(bytes(encode_flat_jpeg(64, 64, 10))[:-20]) is None


def test_restart_markers_reset_dc_prediction():
    """DRI + RSTn path: the decoder must byte-align at each restart
    marker and reset the DC predictor — a decoder that keeps predicting
    across the marker decodes wrong block values."""
    grid = [[10, 250, 3, 128, 77, 200]]  # 6 MCUs, restart every 2
    buf = encode_gray_blocks_jpeg(grid, restart_interval=2)
    assert b"\xff\xdd" in buf and b"\xff\xd0" in buf  # DRI + first RST
    img = decode_jpeg(buf)
    assert img is not None
    for bx, v in enumerate(grid[0]):
        assert (img[:, bx * 8 : bx * 8 + 8, 0] == v).all(), (bx, v)
