"""CCITT G3/G4 fax codec (extractor/ccittcodec.py) and its PDF/TIFF
integration.

Reference analogue: the reference's pandoc path
(app/core/pandoc_converter.py) accepts arbitrary real-world documents,
which include scanned-fax (CCITT-coded) image payloads; here the codec
is an own stdlib implementation of the public ITU-T T.4/T.6 specs.
"""
import random

import pytest

from extractor.ccittcodec import (
    _BLACK_DEC,
    _BLACK_MAKEUP,
    _BLACK_TERM,
    _WHITE_DEC,
    _WHITE_MAKEUP,
    _WHITE_TERM,
    ccitt_decode,
    ccitt_encode,
    invert_bits,
    pack_row,
    unpack_row,
)


def _rand_bitmap(rng, cols, rows, density):
    rowlen = (cols + 7) // 8
    out = bytearray()
    for _ in range(rows):
        row = bytearray(rowlen)
        for x in range(cols):
            if rng.random() < density:
                row[x >> 3] |= 0x80 >> (x & 7)
        out += row
    return bytes(out)


def test_code_tables_prefix_free_and_complete():
    """Each color tree (terminating + makeup + extended) must be
    prefix-free — a transcription error in the T.4 tables almost
    always collides here — and cover 64 + 27 + 13 codes."""
    for tab in (_WHITE_DEC, _BLACK_DEC):
        assert len(tab) == 104
        codes = sorted(tab)
        for c in codes:
            for d in codes:
                assert c == d or not d.startswith(c), (c, d)


def test_standard_codewords():
    """Spot-check well-known T.4 codewords (tables 2/3 of the spec)."""
    assert _WHITE_TERM[0] == "00110101"
    assert _WHITE_TERM[1] == "000111"
    assert _WHITE_TERM[2] == "0111"
    assert _WHITE_TERM[63] == "00110100"
    assert _BLACK_TERM[0] == "0000110111"
    assert _BLACK_TERM[1] == "010"
    assert _BLACK_TERM[2] == "11"
    assert _BLACK_TERM[3] == "10"
    assert _WHITE_MAKEUP[64] == "11011"
    assert _WHITE_MAKEUP[1728] == "010011011"
    assert _BLACK_MAKEUP[64] == "0000001111"


@pytest.mark.parametrize("k", [-1, 0, 4])
@pytest.mark.parametrize("align", [False, True])
def test_roundtrip_modes(k, align):
    rng = random.Random(11)
    for cols in (1, 7, 8, 17, 100, 1728):
        for dens in (0.0, 0.05, 0.5, 1.0):
            bm = _rand_bitmap(rng, cols, 5, dens)
            enc = ccitt_encode(bm, cols, 5, k=k, encoded_byte_align=align)
            assert ccitt_decode(
                enc, cols, rows=5, k=k, encoded_byte_align=align
            ) == bm
            # EOFB/RTC-terminated decode (PDF /EndOfBlock default)
            assert ccitt_decode(
                enc, cols, rows=None, k=k, encoded_byte_align=align
            ) == bm


def test_roundtrip_no_eols_and_no_eofb():
    rng = random.Random(2)
    bm = _rand_bitmap(rng, 40, 6, 0.3)
    enc = ccitt_encode(bm, 40, 6, k=-1, with_eofb=False)
    assert ccitt_decode(enc, 40, rows=6, k=-1) == bm
    assert ccitt_decode(enc, 40, rows=None, k=-1) == bm
    # TIFF compression-2 framing: MH, no EOLs, byte-aligned rows
    enc = ccitt_encode(bm, 40, 6, k=0, encoded_byte_align=True,
                       with_eofb=False, with_eols=False)
    assert ccitt_decode(enc, 40, rows=6, k=0,
                        encoded_byte_align=True) == bm


def test_long_runs_use_makeup_chains():
    """Runs beyond 2560 must chain extended makeups; a 6000-column line
    exercises white and black makeup + terminating combinations."""
    cols = 6000
    row = bytearray((cols + 7) // 8)
    for x in range(2900, 5800):
        row[x >> 3] |= 0x80 >> (x & 7)
    bm = bytes(row)
    for k in (-1, 0):
        enc = ccitt_encode(bm, cols, 1, k=k)
        assert ccitt_decode(enc, cols, rows=1, k=k) == bm


def test_vertical_pass_horizontal_modes_exercised():
    """A crafted pair of lines that forces pass (run ends before the
    next coding transition), vertical (|a1-b1| <= 3) and horizontal
    (|a1-b1| > 3) modes in one 2-D line."""
    cols = 64
    r1 = pack_row([8, 16, 24, 32], cols)     # two black runs
    r2 = pack_row([9, 15, 48, 60], cols)     # V+1/V-1 then far jump (H)
    bm = r1 + r2
    enc = ccitt_encode(bm, cols, 2, k=-1)
    assert ccitt_decode(enc, cols, rows=2, k=-1) == bm


def test_errors_contained():
    with pytest.raises(ValueError):
        ccitt_decode(b"\x00\x00\x00", 16, rows=2, k=-1)  # EOL garbage
    with pytest.raises(ValueError):
        ccitt_decode(b"", 16, rows=1, k=0)  # truncated
    with pytest.raises(ValueError):
        ccitt_decode(b"\xff", 0, rows=1, k=0)  # bad columns
    # 1-D run overrunning the row width
    enc = ccitt_encode(pack_row([2, 30], 32), 32, 1, k=0)
    with pytest.raises(ValueError):
        ccitt_decode(enc, 16, rows=1, k=0)


def test_helpers():
    assert invert_bits(b"\x0f\xf0") == b"\xf0\x0f"
    row = pack_row([3, 5, 8], 8)
    assert unpack_row(row, 8) == [3, 5]  # trailing run to edge merges
    assert pack_row([], 8) == b"\x00"
    assert pack_row([0], 8) == b"\xff"


@pytest.mark.parametrize("comp", ["g3mh", "g4"])
def test_tiff_ccitt_roundtrip(comp):
    from extractor.imagecodec import tiff_decode, tiff_encode

    rng = random.Random(9)
    for w, h in ((1, 1), (7, 3), (37, 9), (100, 21)):
        px = bytes(
            0 if rng.random() < 0.45 else 255 for _ in range(w * h)
        )
        for rps in (None, 4):
            for bo in ("II", "MM"):
                t = tiff_encode(w, h, px, 1, compression=comp,
                                byte_order=bo, rows_per_strip=rps)
                assert tiff_decode(t) == (w, h, 1, px), (comp, w, h)
