"""Baseline JPEG codec in pure Python/numpy — the last image format the
engine can decode without external libraries.

`decode_jpeg` is a REAL baseline (SOF0) sequential decoder: DQT/DHT/
SOF0/SOS marker parsing, canonical huffman table construction, entropy
decode with byte-unstuffing and restart-marker handling, dequantization,
zigzag inversion, float IDCT (numpy), level shift, and JFIF YCbCr→RGB.
Scope: 8-bit baseline, grayscale or 3-component 4:4:4 (the common
non-subsampled case); progressive / subsampled streams return None —
pillow owns those in production.

`encode_flat_jpeg` builds spec-valid single-color streams (quant tables
all ones, minimal custom huffman tables, DC-only blocks) whose decode is
ARITHMETICALLY EXACT — the oracle can predict every output pixel, which
is what makes the decoder value-checkable without a reference codec.

The rounding contract for color conversion is fixed here (round-half-up
on the JFIF floats, clamp to [0,255]) so an external oracle can restate
it exactly.
"""

from __future__ import annotations

import struct

import numpy as np

ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)

# Orthonormal 8-point DCT-II basis; IDCT is B.T @ block @ B.
_C = np.array([1.0 / np.sqrt(2.0)] + [1.0] * 7)
_BASIS = np.array(
    [[0.5 * _C[u] * np.cos((2 * x + 1) * u * np.pi / 16.0) for x in range(8)] for u in range(8)]
)


def _idct2(coeffs: np.ndarray) -> np.ndarray:
    return _BASIS.T @ coeffs @ _BASIS


class _Huff:
    """Canonical huffman table from a DHT (bits[16], values[])."""

    def __init__(self, counts: list[int], values: bytes):
        self.lookup: dict[tuple[int, int], int] = {}
        code = 0
        k = 0
        for length in range(1, 17):
            for _ in range(counts[length - 1]):
                self.lookup[(length, code)] = values[k]
                code += 1
                k += 1
            code <<= 1


class _BitReader:
    """MSB-first entropy reader with 0xFF00 unstuffing; stops at markers."""

    def __init__(self, buf: bytes, pos: int):
        self.buf = buf
        self.pos = pos
        self.acc = 0
        self.n = 0

    def _fill(self) -> bool:
        if self.pos >= len(self.buf):
            return False  # truncated entropy stream
        b = self.buf[self.pos]
        if b == 0xFF:
            if self.pos + 1 >= len(self.buf):
                return False
            nxt = self.buf[self.pos + 1]
            if nxt == 0x00:
                self.pos += 2
            elif 0xD0 <= nxt <= 0xD7:  # restart marker: caller resets via sync()
                return False
            else:
                return False  # real marker: end of entropy data
        else:
            self.pos += 1
        self.acc = (self.acc << 8) | b
        self.n += 8
        return True

    def bits(self, k: int) -> int | None:
        while self.n < k:
            if not self._fill():
                return None
        self.n -= k
        v = (self.acc >> self.n) & ((1 << k) - 1)
        return v

    def decode(self, table: _Huff) -> int | None:
        length = 0
        code = 0
        for _ in range(16):
            b = self.bits(1)
            if b is None:
                return None
            code = (code << 1) | b
            length += 1
            sym = table.lookup.get((length, code))
            if sym is not None:
                return sym
        return None

    def sync_restart(self) -> bool:
        """Consume a restart marker at the current byte position."""
        self.acc = 0
        self.n = 0
        if self.pos + 1 < len(self.buf) and self.buf[self.pos] == 0xFF and 0xD0 <= self.buf[self.pos + 1] <= 0xD7:
            self.pos += 2
            return True
        return False


def _extend(v: int, t: int) -> int:
    """JPEG EXTEND: map t-bit magnitude to signed value."""
    return v if t == 0 or v >= (1 << (t - 1)) else v - (1 << t) + 1


def decode_jpeg(buf: bytes):
    """Decode a baseline JFIF stream to (H, W, 3) uint8 RGB (grayscale
    replicated across channels). Returns None for non-baseline,
    subsampled, or corrupt streams."""
    if buf[:2] != b"\xff\xd8":
        return None
    qt: dict[int, np.ndarray] = {}
    dc_tabs: dict[int, _Huff] = {}
    ac_tabs: dict[int, _Huff] = {}
    w = h = 0
    comps: list[tuple[int, int, int]] = []  # (component id, quant table id, h<<4|v)
    scan: list[tuple[int, int, int]] = []  # (component index, dc table, ac table)
    restart_interval = 0
    i = 2
    n = len(buf)
    while i + 4 <= n:
        if buf[i] != 0xFF:
            return None
        marker = buf[i + 1]
        if marker == 0xD9:  # EOI before SOS
            return None
        (seglen,) = struct.unpack_from(">H", buf, i + 2)
        body = buf[i + 4 : i + 2 + seglen]
        if marker == 0xDB:  # DQT
            j = 0
            while j < len(body):
                pq, tq = body[j] >> 4, body[j] & 0x0F
                if pq != 0:
                    return None  # 16-bit tables: not baseline-8
                qt[tq] = np.frombuffer(body, np.uint8, 64, j + 1).astype(np.float64)
                j += 65
        elif marker == 0xC4:  # DHT
            j = 0
            while j < len(body):
                tc, th = body[j] >> 4, body[j] & 0x0F
                counts = list(body[j + 1 : j + 17])
                nv = sum(counts)
                values = bytes(body[j + 17 : j + 17 + nv])
                (dc_tabs if tc == 0 else ac_tabs)[th] = _Huff(counts, values)
                j += 17 + nv
        elif marker == 0xC0:  # SOF0 baseline
            prec, h, w, nc = body[0], *struct.unpack_from(">HH", body, 1), body[5]
            if prec != 8 or nc not in (1, 3):
                return None
            comps = []
            for c in range(nc):
                cid, hv, tq = body[6 + 3 * c], body[7 + 3 * c], body[8 + 3 * c]
                if hv != 0x11:
                    return None  # only 4:4:4 / grayscale
                comps.append((cid, tq, hv))
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB):
            return None  # non-baseline frame types
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack_from(">H", body, 0)
        elif marker == 0xDA:  # SOS
            ns = body[0]
            scan = []
            for s in range(ns):
                cs, tabs = body[1 + 2 * s], body[2 + 2 * s]
                idx = next((k for k, (cid, _, _) in enumerate(comps) if cid == cs), None)
                if idx is None:
                    return None
                scan.append((idx, tabs >> 4, tabs & 0x0F))
            i = i + 2 + seglen
            break
        i += 2 + seglen
    else:
        return None
    if not comps or not scan or w == 0 or h == 0:
        return None

    bw, bh = (w + 7) // 8, (h + 7) // 8
    planes = [np.zeros((bh * 8, bw * 8), dtype=np.float64) for _ in comps]
    reader = _BitReader(buf, i)
    pred = [0] * len(comps)
    mcu_count = 0
    for by in range(bh):
        for bx in range(bw):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                if not reader.sync_restart():
                    return None
                pred = [0] * len(comps)
            for ci, tdc, tac in scan:
                dct = dc_tabs.get(tdc)
                act = ac_tabs.get(tac)
                q = qt.get(comps[ci][1])
                if dct is None or act is None or q is None:
                    return None
                t = reader.decode(dct)
                if t is None:
                    return None
                diff = 0
                if t:
                    mag = reader.bits(t)
                    if mag is None:
                        return None
                    diff = _extend(mag, t)
                pred[ci] += diff
                coeffs = np.zeros(64, dtype=np.float64)
                coeffs[0] = pred[ci] * q[0]
                k = 1
                while k < 64:
                    rs = reader.decode(act)
                    if rs is None:
                        return None
                    r, s = rs >> 4, rs & 0x0F
                    if rs == 0x00:  # EOB
                        break
                    if rs == 0xF0:  # ZRL
                        k += 16
                        continue
                    k += r
                    if k > 63:
                        return None
                    mag = reader.bits(s)
                    if mag is None:
                        return None
                    coeffs[k] = _extend(mag, s) * q[k]
                    k += 1
                block = np.zeros(64, dtype=np.float64)
                block[ZIGZAG] = coeffs
                planes[ci][by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = _idct2(block.reshape(8, 8))
            mcu_count += 1

    planes = [p[:h, :w] + 128.0 for p in planes]
    if len(planes) == 1:
        y = np.clip(np.floor(planes[0] + 0.5), 0, 255).astype(np.uint8)
        return np.dstack([y, y, y])
    y, cb, cr = planes
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.dstack([r, g, b])
    return np.clip(np.floor(rgb + 0.5), 0, 255).astype(np.uint8)


# --- spec-valid flat-color encoder (the exact-oracle test stream) -------

# Minimal huffman tables: DC categories 0..11 as 4-bit codes... a
# canonical table needs monotone code lengths; give every DC category
# length 4 (12 symbols fit in 4 bits) and the two AC symbols (EOB, ZRL)
# length 2.
_DC_COUNTS = [0, 0, 0, 12] + [0] * 12
_DC_VALUES = bytes(range(12))
_AC_COUNTS = [0, 2] + [0] * 14
_AC_VALUES = bytes([0x00, 0xF0])


def _dht(tc: int, th: int, counts: list[int], values: bytes) -> bytes:
    body = bytes([tc << 4 | th]) + bytes(counts) + values
    return b"\xff\xc4" + struct.pack(">H", 2 + len(body)) + body


def _huff_codes(counts: list[int], values: bytes) -> dict[int, tuple[int, int]]:
    out = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            out[values[k]] = (length, code)
            code += 1
            k += 1
        code <<= 1
    return out


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, value: int, k: int) -> None:
        self.acc = (self.acc << k) | (value & ((1 << k) - 1))
        self.n += k
        while self.n >= 8:
            self.n -= 8
            b = (self.acc >> self.n) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing

    def finish(self) -> bytes:
        if self.n:
            pad = 8 - self.n
            self.put((1 << pad) - 1, pad)  # 1-pad per spec
        return bytes(self.out)


def encode_flat_jpeg(width: int, height: int, y: int, cb: int = 128, cr: int = 128) -> bytes:
    """Spec-valid baseline 4:4:4 JFIF whose every 8×8 block is flat at
    (y, cb, cr): quant tables all ones ⇒ only the DC coefficient is
    nonzero (8·(v−128)) ⇒ `decode_jpeg` reproduces each plane EXACTLY,
    and the RGB output follows the fixed rounding contract above."""
    qtab = b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes([1] * 64)
    sof = b"\xff\xc0" + struct.pack(">HBHHB", 17, 8, height, width, 3) + bytes(
        [1, 0x11, 0, 2, 0x11, 0, 3, 0x11, 0]
    )
    dhts = _dht(0, 0, _DC_COUNTS, _DC_VALUES) + _dht(1, 0, _AC_COUNTS, _AC_VALUES)
    sos = b"\xff\xda" + struct.pack(">HB", 12, 3) + bytes([1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0])
    dc_codes = _huff_codes(_DC_COUNTS, _DC_VALUES)
    ac_codes = _huff_codes(_AC_COUNTS, _AC_VALUES)
    wtr = _BitWriter()
    bw, bh = (width + 7) // 8, (height + 7) // 8
    pred = [0, 0, 0]
    targets = [8 * (y - 128), 8 * (cb - 128), 8 * (cr - 128)]
    for _ in range(bw * bh):
        for ci in range(3):
            diff = targets[ci] - pred[ci]
            pred[ci] = targets[ci]
            if diff == 0:
                t = 0
            else:
                t = int(diff if diff > 0 else -diff).bit_length()
            ln, code = dc_codes[t]
            wtr.put(code, ln)
            if t:
                mag = diff if diff >= 0 else diff + (1 << t) - 1
                wtr.put(mag, t)
            ln, code = ac_codes[0x00]  # EOB
            wtr.put(code, ln)
    return b"\xff\xd8" + qtab + sof + dhts + sos + wtr.finish() + b"\xff\xd9"

