"""Real JPEG codec, stdlib + numpy only (encode + full decode).

Closes the last closable image-decode boundary: JPEG needs no external
codec library — DCT-mode JPEG (ITU T.81) is Huffman entropy coding over
quantized 8x8 DCT blocks, all implementable with ``struct``
bit-twiddling plus numpy for the transform math.  The DCT/IDCT, color
transforms, and dequantization are numpy-vectorized over ALL blocks at
once; only the inherently serial Huffman bit stream is a Python loop.
On Spark these are pure bytes->pixels functions riding the same Arrow
``mapInPandas`` kernels as the lossless codecs (`extractor/imagecodec.py`)
— no new topology, same O4 containment contract.

Reference parity: the reference inventories images as opaque files
(`app/core/html_processor.py:406-416`); pixel decode is OUR extension
(SURVEY §2 multimodal family).

Scope (honest): ENCODE — baseline sequential, 8-bit, grayscale or YCbCr
4:4:4, Annex K quantization (IJG quality scaling) and Huffman tables,
optional restart intervals.  DECODE — baseline, extended sequential,
AND progressive (SOF0/SOF1/SOF2; multi-scan spectral selection +
successive approximation with EOB runs, T.81 §G), 8- and 12-bit
precision (12-bit samples delivered scaled to the 8-bit output API),
1- or 3-component, ANY sampling factors (4:4:4, 4:2:0, 4:2:2, 4:1:1,
...), non-interleaved sequential multi-scan, custom DQT/DHT tables,
restart markers, 4-component CMYK/YCCK (Adobe APP14 transform +
inverted-sample conventions, delivered as converted RGB), lossless
mode (SOF3, T.81 Annex H: all 7 predictors, point transform, 2-16
bit, bit-exact), APPn/COM skipped — validated against real
libjpeg-encoded files (both sequential and progressive).  Arithmetic
coding and hierarchical stay out of scope and raise
``NotImplementedError``; structural damage raises ``ValueError`` —
callers contain both as error rows (O4 semantics).
"""
from __future__ import annotations

import struct

import numpy as np

from extractor.imagecodec import _contained, check_pixels

# --- constants (ITU T.81 Annex K) -------------------------------------------

ZIGZAG = (
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
)

_QUANT_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int32)

_QUANT_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int32)

# (BITS[1..16], HUFFVAL) — standard tables, T.81 Annex K.3
_DC_LUMA_BITS = (0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
_DC_LUMA_VALS = tuple(range(12))
_DC_CHROMA_BITS = (0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0)
_DC_CHROMA_VALS = tuple(range(12))
_AC_LUMA_BITS = (0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D)
_AC_LUMA_VALS = (
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
)
_AC_CHROMA_BITS = (0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77)
_AC_CHROMA_VALS = (
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
)

# 12-bit extended-sequential encode tables (T.81 allows DC SSSS to 15
# and AC size nibbles to 15 at 12-bit precision, which the Annex K
# 8-bit tables cannot express): flat canonical codes — 16 DC symbols
# at 5 bits, 242 AC symbols (EOB + ZRL + 16 runs x 15 sizes) at 9
# bits; Kraft sums 16/32 and 242/512, the all-ones code stays unused
# as DHT requires.  Suboptimal but valid; the decoder reads whatever
# DHT the file carries.
_DC12_BITS = (0, 0, 0, 0, 16, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
_DC12_VALS = tuple(range(16))
_AC12_VALS = (0x00, 0xF0) + tuple(
    (r << 4) | s for r in range(16) for s in range(1, 16)
)
_AC12_BITS = (0, 0, 0, 0, 0, 0, 0, 0, 242, 0, 0, 0, 0, 0, 0, 0)

# orthonormal 8-point DCT-II matrix: block spectrum = M @ block @ M.T
_DCT_M = np.zeros((8, 8))
for _u in range(8):
    for _x in range(8):
        _c = np.sqrt(0.125) if _u == 0 else 0.5
        _DCT_M[_u, _x] = _c * np.cos((2 * _x + 1) * _u * np.pi / 16.0)
del _u, _x, _c


def _quality_tables(quality: int) -> tuple[np.ndarray, np.ndarray]:
    """IJG quality scaling of the Annex K tables (libjpeg convention)."""
    q = min(100, max(1, int(quality)))
    scale = 5000 // q if q < 50 else 200 - 2 * q
    out = []
    for base in (_QUANT_LUMA, _QUANT_CHROMA):
        t = (base * scale + 50) // 100
        out.append(np.clip(t, 1, 255).astype(np.int32))
    return out[0], out[1]


def _huff_encode_table(bits, vals):
    """symbol -> (code, length) via canonical code assignment (T.81 C.2)."""
    table = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return table


def _huff_decode_table(bits, vals):
    """Canonical decode tables: per length, (mincode, maxcode, val_index)."""
    spans = []
    code = 0
    k = 0
    for length in range(1, 17):
        n = bits[length - 1]
        spans.append((code, code + n - 1, k) if n else None)
        code = (code + n) << 1
        k += n
    return spans, tuple(vals)


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            byte = (self.acc >> self.nbits) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:  # byte stuffing
                self.out.append(0x00)
        self.acc &= (1 << self.nbits) - 1

    def pad_to_byte(self) -> None:
        if self.nbits:
            self.write(0x7F, 8 - self.nbits)  # 1-fill per spec


def _magnitude(v: int) -> tuple[int, int]:
    """(size, appended bits) for a DC diff / AC coefficient (T.81 F.1.2)."""
    if v == 0:
        return 0, 0
    size = int(abs(v)).bit_length()
    return size, v if v > 0 else v + (1 << size) - 1


def jpeg_encode(
    width: int,
    height: int,
    pixels: bytes,
    channels: int = 3,
    quality: int = 90,
    restart_interval: int = 0,
    precision: int = 8,
) -> bytes:
    """Write a real baseline-sequential JFIF JPEG.  *pixels* is top-down
    ``height`` rows x ``width`` px x ``channels`` bytes (RGB or gray);
    4:4:4 (no subsampling), Annex K quantization scaled to *quality*,
    standard Huffman tables.  Deterministic.  ``precision=12`` writes
    an extended-sequential (SOF1) 12-bit file — the 8-bit input is
    scaled x16 into the 12-bit sample domain and custom canonical
    Huffman tables cover the wider DC-category/AC-size range the
    Annex K tables lack (T.81 allows DC SSSS to 15 and AC size to 14
    at 12 bits)."""
    if channels not in (1, 3, 4):
        raise ValueError("jpeg_encode: channels must be 1, 3 or 4")
    if precision not in (8, 12):
        raise ValueError("jpeg_encode: precision must be 8 or 12")
    if channels == 4 and precision != 8:
        raise ValueError("CMYK encode is 8-bit only")
    if len(pixels) != width * height * channels:
        raise ValueError(
            "pixel buffer is %d bytes, want %d (%dx%dx%d)"
            % (len(pixels), width * height * channels, width, height, channels)
        )
    if width <= 0 or height <= 0:
        raise ValueError("bad dimensions")
    ql, qc = _quality_tables(quality)
    img = np.frombuffer(pixels, dtype=np.uint8).reshape(
        height, width, channels
    ).astype(np.float64)
    if channels == 3:
        r, g, b = img[..., 0], img[..., 1], img[..., 2]
        planes = [
            0.299 * r + 0.587 * g + 0.114 * b,
            -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0,
            0.5 * r - 0.418688 * g - 0.081312 * b + 128.0,
        ]
        qtabs = [ql, qc, qc]
    elif channels == 4:
        # CMYK ink input, stored inverted per the Adobe convention
        # (APP14 transform 0), every channel on the luma quant table
        planes = [255.0 - img[..., i] for i in range(4)]
        qtabs = [ql, ql, ql, ql]
    else:
        planes = [img[..., 0]]
        qtabs = [ql]

    if precision == 12:
        planes = [p * 16.0 for p in planes]
    center = float(1 << (precision - 1))

    # pad to 8-multiples by edge replication, block-split, batch DCT
    bw, bh = (width + 7) // 8, (height + 7) // 8
    comp_coefs = []
    for plane, qt in zip(planes, qtabs):
        p = np.pad(
            plane, ((0, bh * 8 - height), (0, bw * 8 - width)), mode="edge"
        ) - center
        blocks = (
            p.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
        )
        spec = np.einsum("ux,nxy,vy->nuv", _DCT_M, blocks, _DCT_M)
        qmat = qt.reshape(8, 8).astype(np.float64)
        comp_coefs.append(
            np.round(spec / qmat).astype(np.int32).reshape(-1, 64)
        )

    if precision == 12:
        huff_specs = [
            (0, 0, _DC12_BITS, _DC12_VALS),
            (1, 0, _AC12_BITS, _AC12_VALS),
            (0, 1, _DC12_BITS, _DC12_VALS),
            (1, 1, _AC12_BITS, _AC12_VALS),
        ]
    else:
        huff_specs = [
            (0, 0, _DC_LUMA_BITS, _DC_LUMA_VALS),
            (1, 0, _AC_LUMA_BITS, _AC_LUMA_VALS),
            (0, 1, _DC_CHROMA_BITS, _DC_CHROMA_VALS),
            (1, 1, _AC_CHROMA_BITS, _AC_CHROMA_VALS),
        ]
    dc_tabs = [_huff_encode_table(huff_specs[0][2], huff_specs[0][3])]
    ac_tabs = [_huff_encode_table(huff_specs[1][2], huff_specs[1][3])]
    if channels == 3:
        dc_tabs.append(
            _huff_encode_table(huff_specs[2][2], huff_specs[2][3])
        )
        ac_tabs.append(
            _huff_encode_table(huff_specs[3][2], huff_specs[3][3])
        )
    zz = np.array(ZIGZAG)

    w = _BitWriter()
    preds = [0] * channels
    n_blocks = bw * bh
    ri = int(restart_interval)
    rst = 0
    for bi in range(n_blocks):
        if ri and bi and bi % ri == 0:
            w.pad_to_byte()
            w.out += bytes((0xFF, 0xD0 + rst))
            rst = (rst + 1) % 8
            preds = [0] * channels
        for ci in range(channels):
            ti = 1 if channels == 3 and ci > 0 else 0
            dct, act = dc_tabs[ti], ac_tabs[ti]
            coefs = comp_coefs[ci][bi][zz]
            diff = int(coefs[0]) - preds[ci]
            preds[ci] = int(coefs[0])
            size, bits = _magnitude(diff)
            code, length = dct[size]
            w.write(code, length)
            if size:
                w.write(bits, size)
            run = 0
            last_nz = int(np.max(np.nonzero(coefs)[0])) if np.any(
                coefs[1:]
            ) else 0
            for k in range(1, 64):
                v = int(coefs[k])
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    code, length = act[0xF0]  # ZRL
                    w.write(code, length)
                    run -= 16
                size, bits = _magnitude(v)
                code, length = act[(run << 4) | size]
                w.write(code, length)
                w.write(bits, size)
                run = 0
                if k == last_nz:
                    break
            if last_nz < 63:
                code, length = act[0x00]  # EOB
                w.write(code, length)
    w.pad_to_byte()

    # --- marker framing ---
    def seg(marker, body):
        return struct.pack(">HH", marker, len(body) + 2) + body

    out = bytearray(b"\xff\xd8")  # SOI
    if channels == 4:  # JFIF forbids 4 components; Adobe APP14 instead
        out += seg(0xFFEE, b"Adobe\x00\x64\x00\x00\x00\x00\x00")
    else:
        out += seg(
            0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
        )
    zz_l = bytes(int(ql[i]) for i in ZIGZAG)
    out += seg(0xFFDB, b"\x00" + zz_l)
    if channels == 3:
        zz_c = bytes(int(qc[i]) for i in ZIGZAG)
        out += seg(0xFFDB, b"\x01" + zz_c)
    sof = struct.pack(">BHHB", precision, height, width, channels)
    for ci in range(channels):
        sof += bytes(
            (ci + 1, 0x11, 1 if channels == 3 and ci > 0 else 0)
        )
    out += seg(0xFFC0 if precision == 8 else 0xFFC1, sof)
    for cls, tid, bits, vals in huff_specs[
        : 2 * channels if channels == 3 else 2
    ]:
        out += seg(
            0xFFC4, bytes(((cls << 4) | tid,)) + bytes(bits) + bytes(vals)
        )
    if ri:
        out += seg(0xFFDD, struct.pack(">H", ri))
    sos = bytes((channels,))
    for ci in range(channels):
        tid = 1 if channels == 3 and ci > 0 else 0
        sos += bytes((ci + 1, (tid << 4) | tid))
    sos += b"\x00\x3f\x00"
    out += seg(0xFFDA, sos)
    out += w.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# --- decode ------------------------------------------------------------------


class _BitReader:
    """Entropy-coded-segment reader: 0xFF00 unstuffing, RSTn awareness."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0
        self.marker = None  # marker that ended the segment (0xD0-D7, D9...)
        self.marker_at = None  # byte offset of that marker's 0xFF

    def _fill(self) -> None:
        if self.marker is not None:
            raise ValueError("JPEG entropy data truncated at marker")
        if self.pos >= len(self.data):
            raise ValueError("JPEG entropy data truncated")
        b = self.data[self.pos]
        self.pos += 1
        if b == 0xFF:
            if self.pos >= len(self.data):
                raise ValueError("JPEG entropy data truncated after 0xFF")
            nxt = self.data[self.pos]
            if nxt == 0x00:
                self.pos += 1
            else:
                self.marker = nxt
                self.marker_at = self.pos - 1
                self.pos += 1
                # spec: pad with 1-bits at segment end
                self.acc = (self.acc << 8) | 0xFF
                self.nbits += 8
                return
        self.acc = (self.acc << 8) | b
        self.nbits += 8

    def bits(self, n: int) -> int:
        while self.nbits < n:
            self._fill()
        self.nbits -= n
        v = (self.acc >> self.nbits) & ((1 << n) - 1)
        self.acc &= (1 << self.nbits) - 1
        return v

    def huff(self, spans_vals) -> int:
        spans, vals = spans_vals
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.bits(1)
            sp = spans[length - 1]
            if sp is not None and sp[0] <= code <= sp[1]:
                return vals[sp[2] + code - sp[0]]
        raise ValueError("invalid JPEG Huffman code")

    def restart(self) -> None:
        """Consume an expected RSTn boundary and resynchronize."""
        self.acc = 0
        self.nbits = 0
        if self.marker is None:
            # marker not yet hit while filling: it must be next in stream
            while self.pos + 1 < len(self.data):
                if (
                    self.data[self.pos] == 0xFF
                    and 0xD0 <= self.data[self.pos + 1] <= 0xD7
                ):
                    self.pos += 2
                    return
                self.pos += 1
            raise ValueError("missing JPEG restart marker")
        if not 0xD0 <= self.marker <= 0xD7:
            raise ValueError("unexpected marker %#x in scan" % self.marker)
        self.marker = None
        self.marker_at = None

    def resume_pos(self) -> int:
        """Byte offset where segment parsing resumes after this scan."""
        if self.marker is not None:
            return self.marker_at
        # scan forward for the next marker (skipping stuffed FF00 pairs
        # and FF fill bytes)
        p = self.pos
        data = self.data
        n = len(data)
        while p + 1 < n:
            if data[p] == 0xFF and data[p + 1] not in (0x00, 0xFF):
                return p
            p += 1
        raise ValueError("JPEG scan not followed by a marker")


def _extend(bits: int, size: int) -> int:
    if size == 0:
        return 0
    return bits if bits >= (1 << (size - 1)) else bits - (1 << size) + 1


def _decode_block_sequential(reader, coefs, dtab, atab, preds, ci):
    """One full-precision 8x8 block (baseline/extended sequential):
    DC diff + AC run-length, all 64 coefficients in one scan."""
    size = reader.huff(dtab)
    if size > 15:
        raise ValueError("bad DC size %d" % size)
    preds[ci] += _extend(reader.bits(size), size)
    coefs[0] = preds[ci]
    k = 1
    while k < 64:
        rs = reader.huff(atab)
        r, s = rs >> 4, rs & 0xF
        if s == 0:
            if r == 15:
                k += 16  # ZRL
                continue
            break  # EOB
        k += r
        if k > 63:
            raise ValueError("AC run overflows block")
        coefs[k] = _extend(reader.bits(s), s)
        k += 1


class _ScanState:
    """Mutable entropy state shared across one scan's blocks."""

    __slots__ = ("preds", "eobrun")

    def __init__(self, ncomp):
        self.preds = [0] * ncomp
        self.eobrun = 0

    def reset(self):
        self.preds = [0] * len(self.preds)
        self.eobrun = 0


def _decode_block_progressive(reader, coefs, dtab, atab, st, ci,
                              ss, se, ah, al):
    """One block of ONE progressive scan (T.81 G.1.2): DC first /
    DC refine / AC first / AC refine, selected by (ss, ah)."""
    if ss == 0:  # DC scan
        if ah == 0:
            size = reader.huff(dtab)
            if size > 15:
                raise ValueError("bad DC size %d" % size)
            st.preds[ci] += _extend(reader.bits(size), size)
            coefs[0] = st.preds[ci] << al
        else:  # refinement: append one magnitude bit
            if reader.bits(1):
                coefs[0] |= 1 << al
        return
    # AC scans (single component, enforced by caller)
    if ah == 0:  # AC first
        if st.eobrun > 0:
            st.eobrun -= 1
            return
        k = ss
        while k <= se:
            rs = reader.huff(atab)
            r, s = rs >> 4, rs & 0xF
            if s == 0:
                if r != 15:
                    st.eobrun = (1 << r) - 1
                    if r:
                        st.eobrun += reader.bits(r)
                    return
                k += 16  # ZRL
                continue
            k += r
            if k > se:
                raise ValueError("AC run overflows spectral band")
            coefs[k] = _extend(reader.bits(s), s) << al
            k += 1
        return
    # AC refinement (T.81 G.1.2.3 / the classic correction-bit walk)
    p1 = 1 << al
    m1 = -p1
    k = ss
    if st.eobrun == 0:
        while k <= se:
            rs = reader.huff(atab)
            r, s = rs >> 4, rs & 0xF
            newval = 0
            if s == 0:
                if r != 15:
                    st.eobrun = 1 << r
                    if r:
                        st.eobrun += reader.bits(r)
                    break
                # r == 15: advance over 16 zero-history coefficients
            else:
                if s != 1:
                    raise ValueError("bad AC refinement size %d" % s)
                newval = p1 if reader.bits(1) else m1
            while k <= se:
                c = int(coefs[k])
                if c != 0:
                    if reader.bits(1) and (c & p1) == 0:
                        coefs[k] = c + (p1 if c >= 0 else m1)
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if newval:
                if k > se:
                    raise ValueError("AC refinement overflows band")
                coefs[k] = newval
            k += 1
    if st.eobrun > 0:
        while k <= se:
            c = int(coefs[k])
            if c != 0:
                if reader.bits(1) and (c & p1) == 0:
                    coefs[k] = c + (p1 if c >= 0 else m1)
            k += 1
        st.eobrun -= 1


def _decode_scan(payload, pos, frame, geom, htabs, scan_comps,
                 ss, se, ah, al, restart):
    """Entropy-decode one scan into the per-component coefficient
    stores; returns the byte offset of the next marker."""
    progressive = frame["progressive"]
    if progressive:
        if ss == 0 and se != 0:
            raise ValueError("progressive DC scan with Se != 0")
        if ss > 0 and len(scan_comps) != 1:
            raise ValueError("interleaved progressive AC scan")
    mcus_x, mcus_y, hmax, vmax = geom["mcus"]
    by_id = {c[0]: c for c in frame["comps"]}
    order = []
    for cs, td, ta in scan_comps:
        if cs not in by_id:
            raise ValueError("scan references unknown component %d" % cs)
        cid, h, v, _tq = by_id[cs]
        dtab = htabs.get((0, td))
        atab = htabs.get((1, ta))
        need_dc = not progressive or ss == 0
        need_ac = not progressive or ss > 0 or se > 0
        if progressive and ah > 0 and ss == 0:
            need_dc = False  # DC refinement reads raw bits only
        if (need_dc and dtab is None) or (need_ac and atab is None):
            raise ValueError("missing Huffman table")
        order.append((cid, h, v, dtab, atab))

    interleaved = len(order) > 1
    if interleaved:
        n_units = mcus_x * mcus_y
    else:
        _cid, h, v, _d, _a = order[0]
        nb_w = (-(-frame["width"] * h // hmax) + 7) // 8
        nb_h = (-(-frame["height"] * v // vmax) + 7) // 8
        n_units = nb_w * nb_h

    reader = _BitReader(payload, pos)
    st = _ScanState(len(order))
    stores = geom["stores"]
    grid_w = geom["grid_w"]
    for ui in range(n_units):
        if restart and ui and ui % restart == 0:
            reader.restart()
            st.reset()
        if interleaved:
            my, mx = divmod(ui, mcus_x)
            for ci, (cid, h, v, dtab, atab) in enumerate(order):
                for bv in range(v):
                    for bh_ in range(h):
                        row = my * v + bv
                        col = mx * h + bh_
                        coefs = stores[cid][row * grid_w[cid] + col]
                        if progressive:
                            _decode_block_progressive(
                                reader, coefs, dtab, atab, st, ci,
                                ss, se, ah, al,
                            )
                        else:
                            _decode_block_sequential(
                                reader, coefs, dtab, atab, st.preds, ci
                            )
        else:
            cid, h, v, dtab, atab = order[0]
            row, col = divmod(ui, nb_w)
            coefs = stores[cid][row * grid_w[cid] + col]
            if progressive:
                _decode_block_progressive(
                    reader, coefs, dtab, atab, st, 0, ss, se, ah, al
                )
            else:
                _decode_block_sequential(
                    reader, coefs, dtab, atab, st.preds, 0
                )
    return reader.resume_pos()


def jpeg_decode(payload: bytes) -> tuple[int, int, int, bytes]:
    """Decode a JPEG to ``(width, height, channels, top-down 8-bit
    pixels)`` — RGB for 3-component YCbCr (JFIF BT.601), gray for
    1-component.  Baseline, extended sequential, AND progressive
    (SOF0/1/2): any sampling factors, multi-scan spectral selection +
    successive approximation, EOB runs, restart markers, custom
    quant/Huffman tables, 8- or 12-bit precision (12-bit scaled into
    the 8-bit output).  Arithmetic coding / hierarchical raise
    ``NotImplementedError``; structural damage ``ValueError``."""
    payload = bytes(payload)
    if not payload.startswith(b"\xff\xd8"):
        raise ValueError("not a JPEG payload")
    pos = 2
    n = len(payload)
    qtabs: dict[int, np.ndarray] = {}
    htabs: dict[tuple[int, int], tuple] = {}
    frame = None
    geom = None
    restart = 0
    saw_scan = False
    adobe_transform = None
    while pos + 2 <= n:
        if payload[pos] != 0xFF:
            raise ValueError("bad JPEG marker alignment at %d" % pos)
        marker = payload[pos + 1]
        if marker == 0xFF:  # fill byte
            pos += 1
            continue
        if marker == 0xD9:  # EOI
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        if pos + 4 > n:
            raise ValueError("truncated JPEG segment header")
        (seglen,) = struct.unpack_from(">H", payload, pos + 2)
        body = payload[pos + 4 : pos + 2 + seglen]
        if len(body) != seglen - 2:
            raise ValueError("truncated JPEG segment %#x" % marker)
        if marker == 0xDB:  # DQT
            at = 0
            while at < len(body):
                pq, tq = body[at] >> 4, body[at] & 0xF
                at += 1
                cnt = 64 * (2 if pq else 1)
                raw = body[at : at + cnt]
                if len(raw) != cnt:
                    raise ValueError("truncated DQT")
                vals = (
                    np.frombuffer(raw, dtype=">u2")
                    if pq
                    else np.frombuffer(raw, dtype=np.uint8)
                ).astype(np.int32)
                qtabs[tq] = vals.copy()  # zigzag order, like the stores
                at += cnt
        elif marker == 0xC4:  # DHT
            at = 0
            while at < len(body):
                cls, tid = body[at] >> 4, body[at] & 0xF
                bits = tuple(body[at + 1 : at + 17])
                if len(bits) < 16:
                    raise ValueError("truncated DHT")
                cnt = sum(bits)
                vals = tuple(body[at + 17 : at + 17 + cnt])
                if len(vals) != cnt:
                    raise ValueError("truncated DHT values")
                htabs[(cls, tid)] = _huff_decode_table(bits, vals)
                at += 17 + cnt
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 sequential, SOF2 prog
            if frame is not None:
                raise ValueError("multiple JPEG frames")
            prec, height, width, nc = struct.unpack_from(">BHHB", body, 0)
            if prec not in (8, 12):
                raise NotImplementedError("JPEG precision %d" % prec)
            if prec == 12 and marker == 0xC0:
                raise ValueError("SOF0 baseline is 8-bit only")
            if nc not in (1, 3, 4):
                raise NotImplementedError("JPEG with %d components" % nc)
            if width == 0 or height == 0:
                raise ValueError("bad JPEG dimensions")
            check_pixels(width, height)
            comps = []
            for i in range(nc):
                cid, hv, tq = body[6 + 3 * i : 9 + 3 * i]
                h, v = hv >> 4, hv & 0xF
                if not (1 <= h <= 4 and 1 <= v <= 4):
                    raise ValueError("bad JPEG sampling factors")
                comps.append((cid, h, v, tq))
            frame = {
                "width": width, "height": height, "comps": comps,
                "progressive": marker == 0xC2, "prec": prec,
            }
            hmax = max(c[1] for c in comps)
            vmax = max(c[2] for c in comps)
            mcus_x = (width + 8 * hmax - 1) // (8 * hmax)
            mcus_y = (height + 8 * vmax - 1) // (8 * vmax)
            geom = {
                "mcus": (mcus_x, mcus_y, hmax, vmax),
                "stores": {
                    cid: np.zeros((mcus_y * v * mcus_x * h, 64),
                                  dtype=np.int32)
                    for cid, h, v, _tq in comps
                },
                "grid_w": {cid: mcus_x * h for cid, h, _v, _tq in comps},
            }
        elif marker == 0xC3:  # lossless (T.81 Annex H): own sub-parser
            return _decode_lossless(payload)
        elif marker in (0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise NotImplementedError("JPEG SOF %#x variant" % marker)
        elif marker == 0xDD:  # DRI
            (restart,) = struct.unpack_from(">H", body, 0)
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            ns = body[0]
            if len(body) < 1 + 2 * ns + 3:
                raise ValueError("truncated SOS header")
            scan_comps = []
            for i in range(ns):
                cs, tt = body[1 + 2 * i : 3 + 2 * i]
                scan_comps.append((cs, tt >> 4, tt & 0xF))
            ss, se = body[1 + 2 * ns], body[2 + 2 * ns]
            ahal = body[3 + 2 * ns]
            ah, al = ahal >> 4, ahal & 0xF
            if se > 63 or ss > 63:
                raise ValueError("bad spectral selection")
            pos = _decode_scan(
                payload, pos + 2 + seglen, frame, geom, htabs,
                scan_comps, ss, se, ah, al, restart,
            )
            saw_scan = True
            continue
        elif marker == 0xEE and body[:5] == b"Adobe":  # APP14
            # transform byte: 0 = raw CMYK/RGB, 1 = YCbCr, 2 = YCCK;
            # presence of the Adobe marker also flags the inverted
            # CMYK sample convention (libjpeg-compatible handling)
            adobe_transform = body[11] if len(body) >= 12 else 0
        # APPn / COM / DNL / others: skip
        pos += 2 + seglen
    if frame is None or not saw_scan:
        raise ValueError("JPEG missing SOF/SOS")

    # batch dequantize (zigzag order) + de-zigzag + IDCT + reassemble
    width, height = frame["width"], frame["height"]
    mcus_x, mcus_y, hmax, vmax = geom["mcus"]
    planes = []
    for cid, h, v, tq in frame["comps"]:
        if tq not in qtabs:
            raise ValueError("missing quant table %d" % tq)
        zzstore = geom["stores"][cid].astype(np.float64)
        zzstore *= qtabs[tq][np.newaxis, :].astype(np.float64)
        nat = np.zeros_like(zzstore)
        nat[:, list(ZIGZAG)] = zzstore
        blocks = nat.reshape(-1, 8, 8)
        pix = np.einsum("xu,nuv,yv->nxy", _DCT_M.T, blocks, _DCT_M.T)
        gh = mcus_y * v
        gw = geom["grid_w"][cid]
        plane = (
            pix.reshape(gh, gw, 8, 8).transpose(0, 2, 1, 3).reshape(
                gh * 8, gw * 8
            )
            + float(1 << (frame["prec"] - 1))
        )
        if frame["prec"] > 8:  # deliver 8-bit samples (documented API)
            plane /= float(1 << (frame["prec"] - 8))
        ry, rx = vmax // v, hmax // h
        if vmax % v or hmax % h:
            raise ValueError("non-integer JPEG sampling ratio")
        if ry > 1 or rx > 1:
            plane = np.repeat(np.repeat(plane, ry, axis=0), rx, axis=1)
        planes.append(plane[:height, :width])

    if len(planes) == 1:
        out = np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)
        return width, height, 1, out.tobytes()

    def _ycc_to_rgb(y, cb, cr):
        cb, cr = cb - 128.0, cr - 128.0
        return (
            y + 1.402 * cr,
            y - 0.344136 * cb - 0.714136 * cr,
            y + 1.772 * cb,
        )

    if len(planes) == 4:
        # CMYK / YCCK, delivered as converted RGB.  Adobe files (APP14
        # present) store INVERTED ink samples; YCCK (transform 2) is
        # the YCbCr transform applied to the inverted C/M/Y channels —
        # the libjpeg-compatible reading of both conventions.
        if adobe_transform == 2:
            s0, s1, s2 = _ycc_to_rgb(planes[0], planes[1], planes[2])
        else:
            s0, s1, s2 = planes[0], planes[1], planes[2]
        s3 = planes[3]
        if adobe_transform is not None:
            ink = [255.0 - s for s in (s0, s1, s2, s3)]
        else:
            ink = [s0, s1, s2, s3]
        ink_c, ink_m, ink_y, ink_k = (np.clip(p, 0, 255) for p in ink)
        r = (255.0 - ink_c) * (255.0 - ink_k) / 255.0
        g = (255.0 - ink_m) * (255.0 - ink_k) / 255.0
        b = (255.0 - ink_y) * (255.0 - ink_k) / 255.0
        rgb = np.stack([r, g, b], axis=-1)
        out = np.clip(np.round(rgb), 0, 255).astype(np.uint8)
        return width, height, 3, out.tobytes()

    r, g, b = _ycc_to_rgb(planes[0], planes[1], planes[2])
    rgb = np.stack([r, g, b], axis=-1)
    out = np.clip(np.round(rgb), 0, 255).astype(np.uint8)
    return width, height, 3, out.tobytes()


jpeg_decode = _contained(jpeg_decode)


# --- lossless mode (T.81 Annex H) --------------------------------------------

_LL_BITS = (0, 0, 0, 0, 17, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
_LL_VALS = tuple(range(17))  # SSSS 0-16, flat 5-bit canonical codes


def _ll_predict(sm, x, y, ci, sel, default):
    """T.81 H.1.2 prediction: a = left, b = above, c = above-left;
    first line falls back to 'a' (after the seed sample), first column
    to 'b'.  Shifts, not divisions, per the spec text."""
    if y == 0:
        return default if x == 0 else sm[y][x - 1][ci]
    if x == 0:
        return sm[y - 1][x][ci]
    a = sm[y][x - 1][ci]
    b = sm[y - 1][x][ci]
    c = sm[y - 1][x - 1][ci]
    if sel == 1:
        return a
    if sel == 2:
        return b
    if sel == 3:
        return c
    if sel == 4:
        return a + b - c
    if sel == 5:
        return a + ((b - c) >> 1)
    if sel == 6:
        return b + ((a - c) >> 1)
    if sel == 7:
        return (a + b) >> 1
    raise ValueError("bad lossless predictor %d" % sel)


def _decode_lossless(payload: bytes) -> tuple[int, int, int, bytes]:
    """Decode a lossless JPEG (SOF3): Huffman-coded prediction
    differences, predictors 1-7, point transform, 2-16 bit precision
    (samples above 8 bits scaled into the 8-bit output API), 1/3/4
    components at 1x1 sampling, single interleaved scan.  Components
    are delivered as-is (lossless mode defines no color transform);
    4-component output is returned as 4 channels."""
    pos = 2
    n = len(payload)
    htabs: dict[int, tuple] = {}
    frame = None
    out_planes = None
    while pos + 4 <= n:
        if payload[pos] != 0xFF:
            raise ValueError("bad JPEG marker alignment")
        marker = payload[pos + 1]
        if marker == 0xD9:
            break
        (seglen,) = struct.unpack_from(">H", payload, pos + 2)
        body = payload[pos + 4 : pos + 2 + seglen]
        if marker == 0xC4:  # DHT (class 0 tables only in lossless)
            at = 0
            while at < len(body):
                cls, tid = body[at] >> 4, body[at] & 0xF
                bits = tuple(body[at + 1 : at + 17])
                cnt = sum(bits)
                vals = tuple(body[at + 17 : at + 17 + cnt])
                if len(vals) != cnt:
                    raise ValueError("truncated DHT values")
                if cls == 0:
                    htabs[tid] = _huff_decode_table(bits, vals)
                at += 17 + cnt
        elif marker == 0xC3:
            prec, height, width, nc = struct.unpack_from(">BHHB", body, 0)
            if not 2 <= prec <= 16:
                raise ValueError("bad lossless precision %d" % prec)
            if nc not in (1, 3, 4):
                raise NotImplementedError(
                    "lossless JPEG with %d components" % nc
                )
            check_pixels(width, height)
            comps = []
            for i in range(nc):
                cid, hv, _tq = body[6 + 3 * i : 9 + 3 * i]
                if hv != 0x11:
                    raise NotImplementedError(
                        "subsampled lossless JPEG"
                    )
                comps.append(cid)
            frame = (prec, height, width, nc, comps)
        elif marker == 0xDA:
            if frame is None:
                raise ValueError("lossless SOS before SOF3")
            prec, height, width, nc, comps = frame
            ns = body[0]
            if ns != nc:
                raise NotImplementedError(
                    "non-interleaved lossless scan"
                )
            tids = [body[2 + 2 * i] >> 4 for i in range(ns)]
            sel = body[1 + 2 * ns]  # Ss = predictor selector
            pt = body[3 + 2 * ns] & 0xF  # Al = point transform
            if not 1 <= sel <= 7:
                raise ValueError("bad lossless predictor %d" % sel)
            tabs = []
            for t in tids:
                if t not in htabs:
                    raise ValueError("missing lossless DHT %d" % t)
                tabs.append(htabs[t])
            r = _BitReader(payload, pos + 2 + seglen)
            default = 1 << (prec - 1 - pt)
            sm = [
                [[0] * nc for _ in range(width)] for _ in range(height)
            ]
            for y in range(height):
                for x in range(width):
                    for ci in range(nc):
                        ssss = r.huff(tabs[ci])
                        if ssss == 16:
                            diff = 32768
                        elif ssss:
                            diff = _extend(r.bits(ssss), ssss)
                        else:
                            diff = 0
                        pred = _ll_predict(sm, x, y, ci, sel, default)
                        sm[y][x][ci] = (pred + diff) & 0xFFFF
            shift = max(0, prec - 8)
            flat = bytearray(width * height * nc)
            i = 0
            for y in range(height):
                for x in range(width):
                    for ci in range(nc):
                        v = (sm[y][x][ci] << pt) >> shift
                        flat[i] = 255 if v > 255 else (0 if v < 0 else v)
                        i += 1
            out_planes = bytes(flat)
            break
        pos += 2 + seglen
    if out_planes is None:
        raise ValueError("lossless JPEG missing SOS")
    prec, height, width, nc, _ = frame
    return width, height, nc, out_planes


def jpeg_lossless_encode(
    width: int,
    height: int,
    pixels: bytes,
    channels: int = 1,
    predictor: int = 1,
    precision: int = 8,
) -> bytes:
    """Write a lossless JPEG (SOF3, T.81 Annex H): Huffman-coded
    prediction differences under the chosen predictor (1-7), point
    transform 0, flat canonical SSSS table.  The roundtrip fixture for
    :func:`_decode_lossless` — decode is bit-exact, not approximate.
    8-bit input; ``precision=12/16`` scales the input left into the
    wider domain (still exactly invertible)."""
    if channels not in (1, 3, 4):
        raise ValueError("channels must be 1, 3 or 4")
    if not 1 <= predictor <= 7:
        raise ValueError("predictor must be 1-7")
    if precision not in (8, 12, 16):
        raise ValueError("precision must be 8, 12 or 16")
    if len(pixels) != width * height * channels:
        raise ValueError("pixel buffer size mismatch")
    shift = precision - 8
    sm = [
        [
            [
                pixels[(y * width + x) * channels + ci] << shift
                for ci in range(channels)
            ]
            for x in range(width)
        ]
        for y in range(height)
    ]
    enc_tab = _huff_encode_table(_LL_BITS, _LL_VALS)
    w = _BitWriter()
    default = 1 << (precision - 1)
    for y in range(height):
        for x in range(width):
            for ci in range(channels):
                pred = _ll_predict(sm, x, y, ci, predictor, default)
                diff = (sm[y][x][ci] - pred) & 0xFFFF
                if diff > 32768:
                    diff -= 65536
                if diff == 32768:
                    code, length = enc_tab[16]
                    w.write(code, length)
                    continue
                size, bits = _magnitude(diff)
                code, length = enc_tab[size]
                w.write(code, length)
                if size:
                    w.write(bits, size)
    w.pad_to_byte()

    def seg(marker, body):
        return struct.pack(">HH", marker, len(body) + 2) + body

    out = bytearray(b"\xff\xd8")
    out += seg(
        0xFFC4, b"\x00" + bytes(_LL_BITS) + bytes(_LL_VALS)
    )
    sof = struct.pack(">BHHB", precision, height, width, channels)
    for ci in range(channels):
        sof += bytes((ci + 1, 0x11, 0))
    out += seg(0xFFC3, sof)
    sos = bytes((channels,))
    for ci in range(channels):
        sos += bytes((ci + 1, 0x00))
    sos += bytes((predictor, 0, 0))  # Ss = sel, Se = 0, AhAl = Pt 0
    out += seg(0xFFDA, sos)
    out += w.out
    out += b"\xff\xd9"
    return bytes(out)
