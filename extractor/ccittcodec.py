"""CCITT Group 3 / Group 4 bilevel fax codec — pure stdlib.

Implements the public ITU-T T.4 (Group 3: modified Huffman 1-D and the
K>0 mixed 1-D/2-D mode) and T.6 (Group 4: MMR, every line 2-D) coding
schemes, both directions, so the decode path (what PDF
``/CCITTFaxDecode`` and TIFF compressions 2/3/4 need) is verified by
roundtrip against the encode path plus spot-checked standard codewords.

Bitmap convention at this layer: packed MSB-first rows, **bit 1 =
black** (the T.4 coding color), ``ceil(columns/8)`` bytes per row.
PDF's ``/BlackIs1 false`` default (0 = black) is applied by the caller
via :func:`invert_bits` — see ``extractor/pdf.py``.

Reference analogue: the reference converts arbitrary real-world
documents via pandoc (`/root/reference/app/core/pandoc_converter.py`),
which implies scanned-fax image payloads; here the decode is an own
stdlib implementation of the published spec.

Coding rules implemented (all from the public spec text):
- 1-D lines: alternating white/black run lengths, modified-Huffman
  coded (terminating 0-63 + makeup 64-1728 per color + shared extended
  makeup 1792-2560; runs > 2560 emit repeated 2560 makeups).
- 2-D lines: pass (0001) / horizontal (001 + two MH runs) / vertical
  (V0=1, VR1=011, VL1=010, VR2=000011, VL2=000010, VR3=0000011,
  VL3=0000010) modes against the reference line's changing elements
  b1/b2.
- Group 3 framing: EOL = 000000000001 before every line (K>0 adds the
  1-D/2-D tag bit after each EOL); RTC/EOFB terminates.  K=0 streams
  may omit EOLs entirely (PDF default); the decoder accepts both.
- Group 4 framing: no per-line EOLs; EOFB (two EOLs) optional at end.
- ``encoded_byte_align``: each coded line starts on a byte boundary
  (PDF ``/EncodedByteAlign``).
"""
from __future__ import annotations

from bisect import bisect_right

from extractor.pdf import MAX_INFLATE_BYTES

__all__ = [
    "ccitt_encode",
    "ccitt_decode",
    "invert_bits",
    "pack_row",
    "unpack_row",
]

# ITU-T T.4 table 2 — white run codes (run: bit string)
_WHITE_TERM = {
    0: "00110101", 1: "000111", 2: "0111", 3: "1000", 4: "1011",
    5: "1100", 6: "1110", 7: "1111", 8: "10011", 9: "10100",
    10: "00111", 11: "01000", 12: "001000", 13: "000011",
    14: "110100", 15: "110101", 16: "101010", 17: "101011",
    18: "0100111", 19: "0001100", 20: "0001000", 21: "0010111",
    22: "0000011", 23: "0000100", 24: "0101000", 25: "0101011",
    26: "0010011", 27: "0100100", 28: "0011000", 29: "00000010",
    30: "00000011", 31: "00011010", 32: "00011011", 33: "00010010",
    34: "00010011", 35: "00010100", 36: "00010101", 37: "00010110",
    38: "00010111", 39: "00101000", 40: "00101001", 41: "00101010",
    42: "00101011", 43: "00101100", 44: "00101101", 45: "00000100",
    46: "00000101", 47: "00001010", 48: "00001011", 49: "01010010",
    50: "01010011", 51: "01010100", 52: "01010101", 53: "00100100",
    54: "00100101", 55: "01011000", 56: "01011001", 57: "01011010",
    58: "01011011", 59: "01001010", 60: "01001011", 61: "00110010",
    62: "00110011", 63: "00110100",
}
_WHITE_MAKEUP = {
    64: "11011", 128: "10010", 192: "010111", 256: "0110111",
    320: "00110110", 384: "00110111", 448: "01100100",
    512: "01100101", 576: "01101000", 640: "01100111",
    704: "011001100", 768: "011001101", 832: "011010010",
    896: "011010011", 960: "011010100", 1024: "011010101",
    1088: "011010110", 1152: "011010111", 1216: "011011000",
    1280: "011011001", 1344: "011011010", 1408: "011011011",
    1472: "010011000", 1536: "010011001", 1600: "010011010",
    1664: "011000", 1728: "010011011",
}
# ITU-T T.4 table 3 — black run codes
_BLACK_TERM = {
    0: "0000110111", 1: "010", 2: "11", 3: "10", 4: "011",
    5: "0011", 6: "0010", 7: "00011", 8: "000101", 9: "000100",
    10: "0000100", 11: "0000101", 12: "0000111", 13: "00000100",
    14: "00000111", 15: "000011000", 16: "0000010111",
    17: "0000011000", 18: "0000001000", 19: "00001100111",
    20: "00001101000", 21: "00001101100", 22: "00000110111",
    23: "00000101000", 24: "00000010111", 25: "00000011000",
    26: "000011001010", 27: "000011001011", 28: "000011001100",
    29: "000011001101", 30: "000001101000", 31: "000001101001",
    32: "000001101010", 33: "000001101011", 34: "000011010010",
    35: "000011010011", 36: "000011010100", 37: "000011010101",
    38: "000011010110", 39: "000011010111", 40: "000001101100",
    41: "000001101101", 42: "000011011010", 43: "000011011011",
    44: "000001010100", 45: "000001010101", 46: "000001010110",
    47: "000001010111", 48: "000001100100", 49: "000001100101",
    50: "000001010010", 51: "000001010011", 52: "000000100100",
    53: "000000110111", 54: "000000111000", 55: "000000100111",
    56: "000000101000", 57: "000001011000", 58: "000001011001",
    59: "000000101011", 60: "000000101100", 61: "000001011010",
    62: "000001100110", 63: "000001100111",
}
_BLACK_MAKEUP = {
    64: "0000001111", 128: "000011001000", 192: "000011001001",
    256: "000001011011", 320: "000000110011", 384: "000000110100",
    448: "000000110101", 512: "0000001101100", 576: "0000001101101",
    640: "0000001001010", 704: "0000001001011", 768: "0000001001100",
    832: "0000001001101", 896: "0000001110010", 960: "0000001110011",
    1024: "0000001110100", 1088: "0000001110101",
    1152: "0000001110110", 1216: "0000001110111",
    1280: "0000001010010", 1344: "0000001010011",
    1408: "0000001010100", 1472: "0000001010101",
    1536: "0000001011010", 1600: "0000001011011",
    1664: "0000001100100", 1728: "0000001100101",
}
# shared extended makeup, runs 1792-2560 (T.4 table 4)
_EXT_MAKEUP = {
    1792: "00000001000", 1856: "00000001100", 1920: "00000001101",
    1984: "000000010010", 2048: "000000010011", 2112: "000000010100",
    2176: "000000010101", 2240: "000000010110", 2304: "000000010111",
    2368: "000000011100", 2432: "000000011101", 2496: "000000011110",
    2560: "000000011111",
}
_EOL = "000000000001"

_WHITE = 0
_BLACK = 1


def _decode_table(*tables: dict[int, str]) -> dict[str, int]:
    out: dict[str, int] = {}
    for t in tables:
        for run, code in t.items():
            if code in out:
                raise AssertionError("duplicate CCITT code " + code)
            out[code] = run
    return out


_WHITE_DEC = _decode_table(_WHITE_TERM, _WHITE_MAKEUP, _EXT_MAKEUP)
_BLACK_DEC = _decode_table(_BLACK_TERM, _BLACK_MAKEUP, _EXT_MAKEUP)
_MAX_CODE_LEN = 14  # longest entry across all tables + slack


class _BitWriter:
    __slots__ = ("buf", "acc", "nbits")

    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, bits: str) -> None:
        for ch in bits:
            self.acc = (self.acc << 1) | (ch == "1")
            self.nbits += 1
            if self.nbits == 8:
                self.buf.append(self.acc)
                self.acc = 0
                self.nbits = 0

    def byte_align(self) -> None:
        if self.nbits:
            self.buf.append(self.acc << (8 - self.nbits))
            self.acc = 0
            self.nbits = 0

    def getvalue(self) -> bytes:
        self.byte_align()
        return bytes(self.buf)


class _BitReader:
    __slots__ = ("data", "pos", "n")

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0  # bit position
        self.n = len(data) * 8

    def eof(self) -> bool:
        return self.pos >= self.n

    def read_bit(self) -> int:
        if self.pos >= self.n:
            raise ValueError("truncated CCITT stream")
        b = (self.data[self.pos >> 3] >> (7 - (self.pos & 7))) & 1
        self.pos += 1
        return b

    def peek(self, k: int) -> str:
        out = []
        p = self.pos
        for _ in range(k):
            if p >= self.n:
                break
            out.append("01"[(self.data[p >> 3] >> (7 - (p & 7))) & 1])
            p += 1
        return "".join(out)

    def skip(self, k: int) -> None:
        self.pos += k

    def byte_align(self) -> None:
        self.pos = (self.pos + 7) & ~7


def _emit_run(w: _BitWriter, run: int, color: int) -> None:
    """MH-encode one run: repeated 2560 makeups for giant runs, then the
    largest fitting makeup, then the terminating code (always present,
    even for an exact makeup multiple, per T.4 §4.1.3)."""
    makeup = _BLACK_MAKEUP if color == _BLACK else _WHITE_MAKEUP
    term = _BLACK_TERM if color == _BLACK else _WHITE_TERM
    while run > 2560 + 63:
        w.write(_EXT_MAKEUP[2560])
        run -= 2560
    if run >= 64:
        mk = min(run - run % 64, 2560)
        while mk >= 64 and mk not in makeup and mk not in _EXT_MAKEUP:
            mk -= 64  # unreachable with full tables; defensive
        w.write(_EXT_MAKEUP[mk] if mk > 1728 else makeup[mk])
        run -= mk
    w.write(term[run])


def _read_run(r: _BitReader, color: int) -> int:
    """MH-decode one full run (makeup chain + terminating code)."""
    table = _BLACK_DEC if color == _BLACK else _WHITE_DEC
    total = 0
    while True:
        code = ""
        run = None
        for _ in range(_MAX_CODE_LEN):
            code += "1" if r.read_bit() else "0"
            run = table.get(code)
            if run is not None:
                break
        if run is None:
            raise ValueError(
                "bad CCITT %s run code %r"
                % ("black" if color else "white", code)
            )
        total += run
        if run < 64:  # terminating code ends the run
            return total


def _row_transitions(row: bytes, columns: int) -> list[int]:
    """Positions where the pixel color changes, scanning an MSB-first
    packed row; alternates white→black (even index), black→white."""
    out: list[int] = []
    prev = _WHITE
    for x in range(columns):
        bit = (row[x >> 3] >> (7 - (x & 7))) & 1
        if bit != prev:
            out.append(x)
            prev = bit
    return out


def pack_row(transitions: list[int], columns: int) -> bytes:
    """Inverse of :func:`_row_transitions`: transitions → packed bits
    (1 = black)."""
    nbytes = (columns + 7) // 8
    row = bytearray(nbytes)
    color = _WHITE
    prev = 0
    for t in transitions + [columns]:
        t = min(t, columns)
        if color == _BLACK:
            for x in range(prev, t):
                row[x >> 3] |= 0x80 >> (x & 7)
        prev = t
        color ^= 1
        if prev >= columns:
            break
    return bytes(row)


def unpack_row(row: bytes, columns: int) -> list[int]:
    return _row_transitions(row, columns)


def _b_elems(ref: list[int], a0: int, color: int,
             columns: int) -> tuple[int, int]:
    """b1 = first changing element of *ref* right of ``a0`` with color
    opposite to the current run color (T.4 §4.2.1.3.1); b2 = the next
    one after b1.  Even ref indices are white→black elements."""
    i = bisect_right(ref, a0)
    if (i & 1) != color:  # need even index for white runs, odd for black
        i += 1
    b1 = ref[i] if i < len(ref) else columns
    b2 = ref[i + 1] if i + 1 < len(ref) else columns
    return b1, b2


def _encode_2d_line(w: _BitWriter, cur: list[int], ref: list[int],
                    columns: int) -> None:
    a0 = -1
    color = _WHITE
    ci = 0  # index into cur of the next changing element > a0
    while a0 < columns:
        while ci < len(cur) and cur[ci] <= a0:
            ci += 1
        j = ci
        if (j & 1) != color:
            j += 1
        a1 = cur[j] if j < len(cur) else columns
        a2 = cur[j + 1] if j + 1 < len(cur) else columns
        b1, b2 = _b_elems(ref, a0, color, columns)
        if b2 < a1:
            w.write("0001")  # pass
            a0 = b2
        elif abs(a1 - b1) <= 3:
            d = a1 - b1
            w.write(
                {0: "1", 1: "011", 2: "000011", 3: "0000011",
                 -1: "010", -2: "000010", -3: "0000010"}[d]
            )
            a0 = a1
            color ^= 1
        else:
            w.write("001")  # horizontal: two MH runs
            start = max(a0, 0)
            _emit_run(w, a1 - start, color)
            _emit_run(w, a2 - a1, color ^ 1)
            a0 = a2


def _decode_2d_line(r: _BitReader, ref: list[int],
                    columns: int) -> list[int]:
    cur: list[int] = []
    a0 = -1
    color = _WHITE
    while a0 < columns:
        b1, b2 = _b_elems(ref, a0, color, columns)
        if not r.read_bit():  # 0...
            if not r.read_bit():  # 00...
                if r.read_bit():  # 001 horizontal
                    start = max(a0, 0)
                    r1 = _read_run(r, color)
                    r2 = _read_run(r, color ^ 1)
                    t1 = min(start + r1, columns)
                    t2 = min(t1 + r2, columns)
                    cur.append(t1)
                    cur.append(t2)
                    a0 = t2
                else:  # 000...
                    if r.read_bit():  # 0001 pass
                        a0 = b2
                        continue
                    # 0000...
                    if r.read_bit():  # 00001x: V±2
                        a1 = b1 + (2 if r.read_bit() else -2)
                        cur.append(max(0, min(a1, columns)))
                        a0 = a1
                        color ^= 1
                    else:  # 000000...
                        if r.read_bit():  # 0000 01x: V±3
                            a1 = b1 + (3 if r.read_bit() else -3)
                            cur.append(max(0, min(a1, columns)))
                            a0 = a1
                            color ^= 1
                        else:
                            # 0000 00... : EOL/EOFB region — caller
                            # detects terminators before line decode;
                            # reaching here mid-line is corruption.
                            raise ValueError(
                                "unexpected EOL inside 2-D CCITT line"
                            )
            else:  # 01x: V±1
                a1 = b1 + (1 if r.read_bit() else -1)
                cur.append(max(0, min(a1, columns)))
                a0 = a1
                color ^= 1
        else:  # 1: V0
            cur.append(min(b1, columns))
            a0 = b1
            color ^= 1
    if sum_pairs_invalid(cur, columns):
        raise ValueError("CCITT 2-D line overruns %d columns" % columns)
    return cur


def sum_pairs_invalid(transitions: list[int], columns: int) -> bool:
    prev = -1
    for t in transitions:
        if t < prev or t > columns:
            return True
        prev = t
    return False


def _encode_1d_line(w: _BitWriter, cur: list[int], columns: int) -> None:
    color = _WHITE
    prev = 0
    for t in cur + [columns]:
        _emit_run(w, t - prev, color)
        prev = t
        color ^= 1
        if prev >= columns:
            break


def _decode_1d_line(r: _BitReader, columns: int) -> list[int]:
    cur: list[int] = []
    color = _WHITE
    total = 0
    while total < columns:
        run = _read_run(r, color)
        total += run
        if total > columns:
            raise ValueError("CCITT 1-D run overruns row")
        cur.append(total)
        color ^= 1
    if cur and cur[-1] == columns:
        cur.pop()  # trailing sentinel, not a real transition
    return cur


def ccitt_encode(bits: bytes, columns: int, rows: int, k: int = -1,
                 encoded_byte_align: bool = False,
                 with_eofb: bool = True,
                 with_eols: bool = True) -> bytes:
    """Encode a packed bilevel bitmap (1 = black, MSB-first rows of
    ``ceil(columns/8)`` bytes).  ``k``: <0 → Group 4 MMR; 0 → Group 3
    1-D with per-line EOLs; >0 → Group 3 mixed, a 1-D line every ``k``
    lines, 2-D between (tag bit after each EOL).  ``with_eols=False``
    drops the per-line EOLs for ``k >= 0`` (TIFF compression 2's MH
    framing, and what PDF allows for K=0); the matching decoder
    behavior is first-line-1-D-then-2-D for ``k > 0``."""
    rowlen = (columns + 7) // 8
    if len(bits) < rowlen * rows:
        raise ValueError("bitmap shorter than rows*rowlen")
    w = _BitWriter()
    ref: list[int] = []
    for y in range(rows):
        cur = _row_transitions(bits[y * rowlen : (y + 1) * rowlen],
                               columns)
        if k < 0:
            if encoded_byte_align:
                w.byte_align()
            _encode_2d_line(w, cur, ref, columns)
        elif k == 0:
            if with_eols:
                w.write(_EOL)
            if encoded_byte_align:
                w.byte_align()
            _encode_1d_line(w, cur, columns)
        else:
            one_d = y % k == 0 if with_eols else y == 0
            if with_eols:
                w.write(_EOL)
                w.write("1" if one_d else "0")
            if encoded_byte_align:
                w.byte_align()
            if one_d:
                _encode_1d_line(w, cur, columns)
            else:
                _encode_2d_line(w, cur, ref, columns)
        ref = cur
    if with_eofb:
        if k < 0:
            w.write(_EOL + _EOL)  # EOFB
        else:
            for _ in range(6):  # RTC
                w.write(_EOL)
                if k > 0:
                    w.write("1")
    return w.getvalue()


def _skip_eols(r: _BitReader) -> bool:
    """Consume fill bits + one EOL if present at the cursor.  Returns
    True if an EOL was consumed."""
    # fill = zeros before the EOL; an EOL is 11 zeros + 1.  Scan a
    # window: if everything up to the first 1-bit is >= 11 zeros, it is
    # fill+EOL; otherwise leave the cursor untouched.
    p = r.pos
    zeros = 0
    while p + zeros < r.n:
        bit = (r.data[(p + zeros) >> 3] >> (7 - ((p + zeros) & 7))) & 1
        if bit:
            break
        zeros += 1
        if zeros > 64 + 11:  # fill is bounded; runaway = not an EOL
            return False
    else:
        return False  # pure zero tail = padding, no EOL
    if zeros >= 11:
        r.skip(zeros + 1)
        return True
    return False


def ccitt_decode(data: bytes, columns: int, rows: int | None = None,
                 k: int = -1, encoded_byte_align: bool = False) -> bytes:
    """Decode CCITT-coded *data* to packed rows (1 = black, MSB-first).

    ``rows=None`` decodes until EOFB/RTC or data exhaustion (PDF
    ``/EndOfBlock true`` default); with ``rows`` given, decoding also
    stops after that many lines (PDF ``/Rows``).  Output is capped at
    ``MAX_INFLATE_BYTES`` like :func:`extractor.pdf.inflate`."""
    if columns <= 0:
        raise ValueError("columns must be positive")
    r = _BitReader(bytes(data))
    rowlen = (columns + 7) // 8
    out = bytearray()
    ref: list[int] = []
    nrows = 0
    while rows is None or nrows < rows:
        # terminator / inter-line framing
        if k < 0:
            if encoded_byte_align:
                r.byte_align()
            if r.peek(12) == _EOL:  # EOFB (first EOL of the pair)
                break
            one_d = False
        else:
            saw_eol = _skip_eols(r)
            if k > 0:
                if saw_eol:
                    if r.eof():
                        break
                    one_d = bool(r.read_bit())
                else:
                    one_d = nrows == 0  # EOL-less stream (PDF allows)
            else:
                one_d = True
            if encoded_byte_align:
                r.byte_align()
            # RTC: consecutive EOLs with no coded data between
            if saw_eol and _skip_eols(r):
                break
            if r.eof():
                break
        try:
            cur = (_decode_1d_line(r, columns) if k >= 0 and one_d
                   else _decode_2d_line(r, ref, columns))
        except ValueError:
            if rows is None and nrows:
                break  # trailing padding after last line
            raise
        out += pack_row(cur, columns)
        if len(out) > MAX_INFLATE_BYTES:
            raise ValueError(
                "CCITT stream exceeds %d bytes" % MAX_INFLATE_BYTES
            )
        ref = cur
        nrows += 1
        if rows is None and r.eof():
            break
    if rows is not None and nrows < rows:
        raise ValueError(
            "CCITT stream ended after %d of %d rows" % (nrows, rows)
        )
    return bytes(out)


def invert_bits(data: bytes) -> bytes:
    """Flip every bit — converts between the T.4 coding convention
    (1 = black) and PDF's ``/BlackIs1 false`` default (0 = black)."""
    return bytes(b ^ 0xFF for b in data)
