"""Bounded decode: a crafted PDF stream — a deflate or LZW bomb — must end
in a ``ValueError`` (an ``error`` row in the Spark kernels) within bounded
time and memory, never an allocation that takes the worker down."""

import time
import zlib

import pytest

from extractor import pdf
from extractor.pdf import MAX_INFLATE_BYTES, inflate


def _deflate_bomb(n_bytes: int) -> bytes:
    """A zlib stream of *n_bytes* zeros, built 1 MiB at a time."""
    c = zlib.compressobj(9)
    block = bytes(1 << 20)
    out = [c.compress(block) for _ in range(n_bytes >> 20)]
    out.append(c.compress(bytes(n_bytes & ((1 << 20) - 1))))
    out.append(c.flush())
    return b"".join(out)


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


def test_pdf_flate_bomb_is_contained(bomb):
    msg = _contained_fast(
        pdf._decode_stream, b"<< /Filter /FlateDecode >>", bomb
    )
    assert "exceeds" in msg


def _lzw_bomb(codes) -> bytes:
    """Bit-pack LZW *codes* MSB-first at the widths the PDF decoder reads
    them with (EarlyChange 1: it widens one code before the table fills)."""
    out = bytearray()
    acc = nbits = 0
    width, table_len = 9, 258

    def pack(code, width):
        nonlocal acc, nbits
        acc, nbits = (acc << width) | code, nbits + width
        while nbits >= 8:
            nbits -= 8
            out.append((acc >> nbits) & 0xFF)
        acc &= (1 << nbits) - 1

    for i, code in enumerate(codes):
        pack(code, width)
        if i:
            table_len = min(table_len + 1, 4096)
        if width < 12 and table_len + 1 >= 1 << width:
            width += 1
    if nbits:
        pack(0, 8 - nbits % 8)
    return bytes(out)


def test_pdf_lzw_bomb_is_contained():
    # a KwKwK chain builds code 4093 (3,837 zero bytes); repeating it
    # 20,000 times would decode ~84 MB from a ~35 KB stream
    codes = [0, *range(258, 4094), *[4093] * 20000]
    bomb = _lzw_bomb(codes)
    assert len(bomb) < 40_000
    msg = _contained_fast(
        pdf._decode_stream, b"<< /Filter /LZWDecode >>", bomb
    )
    assert "exceeds %d bytes" % MAX_INFLATE_BYTES in msg


def test_pdf_lzw_bomb_table_stops_at_4096():
    """Past code 4095 no 12-bit code can name a new entry, so the decoder
    keeps only the output (up to the cap), not ~60 MB of dead entries."""
    import tracemalloc

    codes = [0, *range(258, 4094), *[4093] * 20000]
    bomb = _lzw_bomb(codes)
    tracemalloc.start()
    try:
        with pytest.raises(ValueError):
            pdf.lzw_decode(bomb)
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert peak < 96 << 20
