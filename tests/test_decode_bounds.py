"""Bounded decode: a crafted payload — a deflate bomb, or a header that
declares a huge image — must end in a ``ValueError`` (an ``error`` row in
the Spark kernels) within bounded time and memory, never an allocation
that takes the worker down."""

import struct
import time
import zlib

import pytest

from extractor import pdf
from extractor.imagecodec import MAX_IMAGE_PIXELS, _chunk, png_encode
from extractor.jpegcodec import jpeg_decode
from extractor.ops.multimodal import decode_payload
from extractor.pdf import MAX_INFLATE_BYTES, inflate

PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _deflate_bomb(n_bytes: int) -> bytes:
    """A zlib stream of *n_bytes* zeros, built 1 MiB at a time."""
    c = zlib.compressobj(9)
    block = bytes(1 << 20)
    out = [c.compress(block) for _ in range(n_bytes >> 20)]
    out.append(c.compress(bytes(n_bytes & ((1 << 20) - 1))))
    out.append(c.flush())
    return b"".join(out)


def _png(width: int, height: int, idat: bytes) -> bytes:
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    return (
        PNG_SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat)
        + _chunk(b"IEND", b"")
    )


def _contained_fast(fn, *args) -> str:
    t0 = time.perf_counter()
    with pytest.raises(ValueError) as err:
        fn(*args)
    assert time.perf_counter() - t0 < 2.0
    return str(err.value)


@pytest.fixture(scope="module")
def bomb() -> bytes:
    return _deflate_bomb(MAX_INFLATE_BYTES + (1 << 20))


def test_inflate_matches_zlib_within_cap():
    data = bytes(range(256)) * 300
    stream = zlib.compress(data)
    assert inflate(stream) == zlib.decompress(stream) == data
    assert inflate(stream + b"trailing") == data
    # exactly at the cap still inflates
    assert len(inflate(_deflate_bomb(MAX_INFLATE_BYTES))) == MAX_INFLATE_BYTES
    for bad in (stream[:-3], b"", b"garbage"):
        with pytest.raises(zlib.error):
            zlib.decompress(bad)
        with pytest.raises(zlib.error):
            inflate(bad)


def test_png_idat_bomb_is_contained(bomb):
    msg = _contained_fast(decode_payload, _png(1, 1, bomb))
    assert "exceeds" in msg


def test_pdf_flate_bomb_is_contained(bomb):
    msg = _contained_fast(
        pdf._decode_stream, b"<< /Filter /FlateDecode >>", bomb
    )
    assert "exceeds" in msg


def test_huge_png_header_is_contained():
    payload = _png(65535, 65535, zlib.compress(b"\x00\x00"))
    msg = _contained_fast(decode_payload, payload)
    assert "exceeds %d pixels" % MAX_IMAGE_PIXELS in msg


def test_huge_jpeg_header_is_contained():
    for marker in (0xC0, 0xC3):  # baseline and lossless frame headers
        sof = struct.pack(">BHHB", 8, 65535, 65535, 1) + bytes([1, 0x11, 0])
        payload = (
            b"\xff\xd8" + bytes([0xFF, marker])
            + struct.pack(">H", 2 + len(sof)) + sof + b"\xff\xd9"
        )
        msg = _contained_fast(jpeg_decode, payload)
        assert "exceeds %d pixels" % MAX_IMAGE_PIXELS in msg


def test_ordinary_png_still_decodes():
    side = 64
    pixels = bytes(range(256)) * (side * side // 256)
    w, h, out = decode_payload(png_encode(side, side, pixels, 0))
    assert (w, h, out) == (side, side, pixels)


def _lzw_bomb(codes, pack, grows) -> bytes:
    """Bit-pack LZW *codes* (``pack(acc, nbits, code, width)``) at the
    widths the decoder reads them with: *grows(table_len, width)* says
    when the decoder bumps its width after a data code."""
    out = bytearray()
    acc = nbits = 0
    width, table_len = 9, 258
    for i, code in enumerate(codes):
        acc, nbits = pack(acc, nbits, code, width, out)
        if i:
            table_len = min(table_len + 1, 4096)
        if width < 12 and grows(table_len, width):
            width += 1
    if nbits:
        acc, nbits = pack(acc, nbits, 0, 8 - nbits % 8, out)
    return bytes(out)


def _pack_msb(acc, nbits, code, width, out):
    acc, nbits = (acc << width) | code, nbits + width
    while nbits >= 8:
        nbits -= 8
        out.append((acc >> nbits) & 0xFF)
    return acc & ((1 << nbits) - 1), nbits


def _pack_lsb(acc, nbits, code, width, out):
    acc, nbits = acc | (code << nbits), nbits + width
    while nbits >= 8:
        out.append(acc & 0xFF)
        acc, nbits = acc >> 8, nbits - 8
    return acc, nbits


def test_pdf_lzw_bomb_is_contained():
    # a KwKwK chain builds code 4093 (3,837 zero bytes); repeating it
    # 20,000 times would decode ~84 MB from a ~35 KB stream
    codes = [0, *range(258, 4094), *[4093] * 20000]
    bomb = _lzw_bomb(codes, _pack_msb, lambda n, w: n + 1 >= 1 << w)
    assert len(bomb) < 40_000
    msg = _contained_fast(
        pdf._decode_stream, b"<< /Filter /LZWDecode >>", bomb
    )
    assert "exceeds %d bytes" % MAX_INFLATE_BYTES in msg


def test_gif_lzw_bomb_is_contained():
    # min code size 8: Clear 256, EOI 257; the chain fills the table to
    # code 4095 (3,839 bytes), then that code repeats
    codes = [0, *range(258, 4096), *[4095] * 20000]
    lzw = _lzw_bomb(codes, _pack_lsb, lambda n, w: n == 1 << w)
    blocks = b"".join(
        bytes([len(lzw[i:i + 255])]) + lzw[i:i + 255]
        for i in range(0, len(lzw), 255)
    )
    gif = (
        b"GIF89a" + struct.pack("<HHBBB", 1, 1, 0x80, 0, 0) + bytes(6)
        + b"\x2c" + struct.pack("<HHHHB", 0, 0, 1, 1, 0)
        + b"\x08" + blocks + b"\x00\x3b"
    )
    msg = _contained_fast(decode_payload, gif)
    assert "exceeds %d bytes" % MAX_INFLATE_BYTES in msg


def test_pdf_lzw_bomb_table_stops_at_4096():
    """Past code 4095 no 12-bit code can name a new entry, so the decoder
    keeps only the output (up to the cap), not ~60 MB of dead entries."""
    import tracemalloc

    codes = [0, *range(258, 4094), *[4093] * 20000]
    bomb = _lzw_bomb(codes, _pack_msb, lambda n, w: n + 1 >= 1 << w)
    tracemalloc.start()
    try:
        with pytest.raises(ValueError):
            pdf.lzw_decode(bomb)
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert peak < 96 << 20


# 600 rows of one T.6 code each (V0 against an all-white reference row is
# a whole white row), then EOFB: 78 bytes that decode to 125,000 bytes a
# row at 1,000,000 columns
_CCITT_WIDE_COLUMNS = 1_000_000


def _ccitt_white_rows(n_rows: int) -> bytes:
    assert n_rows % 8 == 0
    return b"\xff" * (n_rows // 8) + b"\x00\x10\x01"


def test_ccitt_output_is_capped():
    from extractor.ccittcodec import ccitt_decode

    stream = _ccitt_white_rows(600)
    assert len(stream) == 78
    msg = _contained_fast(ccitt_decode, stream, _CCITT_WIDE_COLUMNS)
    assert "exceeds %d bytes" % MAX_INFLATE_BYTES in msg
