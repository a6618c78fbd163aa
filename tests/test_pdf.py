"""S9 PDF export: deterministic stdlib PDF 1.4 writer (extractor/pdf.py).

Reference analogue: scripts/convert_docx_to_pdf.py:32-66 (Word COM export,
unavailable off-Windows) — here a byte-deterministic render sink.
"""
from extractor.pdf import (
    LINES_PER_PAGE,
    WRAP_COLS,
    is_valid_pdf,
    n_lines,
    n_pages,
    text_to_pdf_bytes,
    wrap_lines,
)


def test_structurally_valid_and_deterministic():
    t = "\n".join(f"line {i}: " + "a" * i for i in range(200))
    pdf = text_to_pdf_bytes(t)
    assert pdf == text_to_pdf_bytes(t)
    assert is_valid_pdf(pdf)
    assert pdf.startswith(b"%PDF-1.4\n") and pdf.endswith(b"%%EOF\n")


def test_xref_offsets_point_at_objects():
    pdf = text_to_pdf_bytes("hello\nworld")
    xref_at = int(pdf.rsplit(b"startxref\n", 1)[1].split(b"\n", 1)[0])
    xref = pdf[xref_at:].split(b"trailer")[0].splitlines()
    # entries after "xref" and "0 N": each offset must land on "N 0 obj"
    offsets = [
        int(line.split()[0]) for line in xref[2:] if line.endswith(b"n ")
    ]
    for i, off in enumerate(offsets, start=1):
        assert pdf[off:].startswith(b"%d 0 obj" % i), i


def test_counts_read_back_from_bytes_match_wrap_math():
    from extractor.pdf import pdf_to_text

    # includes adversarial text containing the PDF operators themselves —
    # substring counting over the bytes would overcount these
    for t in (
        "", "x", "a" * 91, "l1\n\nl3",
        "b" * (WRAP_COLS * LINES_PER_PAGE + 1),
        "contains ) Tj inside a line",
        "and /Type /Page too",
    ):
        pages = pdf_to_text(text_to_pdf_bytes(t))
        assert sum(len(p) for p in pages) == n_lines(t), repr(t[:20])
        assert len(pages) == n_pages(t), repr(t[:20])


def test_wrap_math():
    assert wrap_lines("") == [""]
    assert n_lines("") == 1 and n_pages("") == 1
    assert n_lines("a" * WRAP_COLS) == 1
    assert n_lines("a" * (WRAP_COLS + 1)) == 2
    # "x\n"*108 -> 108 x-lines + trailing "" = 109 lines -> 3 pages of 54
    assert n_pages("x\n" * (LINES_PER_PAGE * 2)) == 3
    assert (
        n_lines("x\n" * LINES_PER_PAGE) == LINES_PER_PAGE + 1
    )  # split yields trailing ""


def test_escaping_and_unicode_degradation():
    pdf = text_to_pdf_bytes("par(en)s \\ back — ünïcode ✓")
    assert is_valid_pdf(pdf)
    assert b"\\(en\\)" in pdf
    assert b"\\\\ back" in pdf
    assert b"?" in pdf  # non-latin1 degraded, render never raises


def test_stream_lengths_exact():
    pdf = text_to_pdf_bytes("abc\ndef")
    at = pdf.find(b"/Length ")
    declared = int(pdf[at + 8 : pdf.find(b" ", at + 8)])
    start = pdf.find(b"stream\n", at) + len(b"stream\n")
    assert pdf[start + declared : start + declared + len(b"\nendstream")] == b"\nendstream"


def test_pdf_to_text_roundtrip_exact():
    from extractor.pdf import pdf_to_text

    for t in (
        "hello (world) \\ test\n" + "x" * 200 + "\n\nlast",
        "",
        "\n".join("line %d (%s) \\" % (i, "a" * (i % 120)) for i in range(300)),
    ):
        pages = pdf_to_text(text_to_pdf_bytes(t))
        assert [l for p in pages for l in p] == wrap_lines(t), repr(t[:30])
        assert len(pages) == n_pages(t)


def _one_stream_pdf(dict_extra: bytes, body: bytes) -> bytes:
    return (
        b"%%PDF-1.5\n1 0 obj\n<< /Length %d %s >>\nstream\n%s\nendstream\nendobj\n"
        % (len(body), dict_extra, body)
    )


def test_pdf_to_text_rejects_unsupported_filters():
    import zlib

    import pytest

    from extractor.pdf import pdf_to_text

    # lossy/image codecs stay out of scope
    with pytest.raises(NotImplementedError, match="DCTDecode"):
        pdf_to_text(_one_stream_pdf(b"/Filter /DCTDecode", b"BT x ET"))
    with pytest.raises(NotImplementedError, match="CCITTFaxDecode"):
        pdf_to_text(
            _one_stream_pdf(b"/Filter [/ASCII85Decode /CCITTFaxDecode]", b"BT ET")
        )
    with pytest.raises(ValueError):
        pdf_to_text(b"not a pdf")
    # corrupt flate data is a ValueError, not a crash
    with pytest.raises(ValueError, match="corrupt"):
        pdf_to_text(_one_stream_pdf(b"/Filter /FlateDecode", b"BT not-zlib ET"))
    # only the filters the writer emits decode: Flate and LZW
    for name, body in (
        (b"ASCIIHexDecode", b"BT (x) Tj ET".hex().encode() + b">"),
        (b"ASCII85Decode", b"z~>"),
        (b"RunLengthDecode", bytes([0]) + b"x" + bytes([128])),
    ):
        with pytest.raises(NotImplementedError, match=name.decode()):
            pdf_to_text(_one_stream_pdf(b"/Filter /" + name, body))
    # only predictors 1 and PNG (>= 10): the TIFF predictor is rejected
    with pytest.raises(NotImplementedError, match="predictor 2"):
        pdf_to_text(
            _one_stream_pdf(
                b"/Filter /FlateDecode /DecodeParms << /Predictor 2 >>",
                zlib.compress(b"BT (x) Tj ET"),
            )
        )
    # a trailer declaring /Encrypt: classic trailer and xref stream
    plain = text_to_pdf_bytes("locked")
    with pytest.raises(NotImplementedError, match="encrypted PDF"):
        pdf_to_text(
            plain.replace(b"/Root 1 0 R >>", b"/Root 1 0 R /Encrypt 5 0 R >>")
        )
    body = plain.rsplit(b"xref\n", 1)[0]
    xref_stream = (
        b"9 0 obj\n<< /Type /XRef /Root 1 0 R /Encrypt 5 0 R /Length 0 >>"
        b"\nstream\n\nendstream\nendobj\nstartxref\n%d\n%%%%EOF\n" % len(body)
    )
    with pytest.raises(NotImplementedError, match="encrypted PDF"):
        pdf_to_text(body + xref_stream)


def test_lzw_matches_pdf_spec_vector():
    """PDF 1.7 §7.4.4.2 publishes a worked LZW example — our codec must
    match it byte-for-byte both directions (EarlyChange=1 default)."""
    from extractor.pdf import lzw_decode, lzw_encode

    data = bytes([45, 45, 45, 45, 45, 65, 45, 45, 45, 66])
    spec = bytes.fromhex("800B6050220C0C8501")
    assert lzw_encode(data) == spec
    assert lzw_decode(spec) == data


def test_lzw_roundtrip_width_growth_and_reset():
    import random

    from extractor.pdf import lzw_decode, lzw_encode

    rnd = random.Random(7)
    cases = [
        b"",
        b"A",
        b"AAAA" * 2000,
        bytes(rnd.randrange(256) for _ in range(20000)),
        b"the quick brown fox " * 3000,
        bytes(rnd.randrange(4) for _ in range(60000)),  # forces table resets
    ]
    for c in cases:
        assert lzw_decode(lzw_encode(c)) == c
        assert lzw_decode(lzw_encode(c, 0), early_change=0) == c


def test_lzw_eod_on_width_boundary_roundtrips():
    """When the final data code lands the table exactly on a 2^width
    boundary, the decoder's last table append bumps its code width BEFORE
    reading EOD; the encoder must emit EOD at that bumped width or the
    stream desyncs (silent trailing garbage or ValueError).  255 distinct
    bytes produce exactly 254 loop emits → next_code 512 at the final
    emit (regression: round-5 fuzz finding)."""
    import random

    from extractor.pdf import lzw_decode, lzw_encode

    for ec, n in [(0, 255), (1, 254), (0, 256), (1, 255)]:
        data = bytes(range(n))
        assert lzw_decode(lzw_encode(data, ec), early_change=ec) == data
    # seeded fuzz across the boundary-adjacent size band
    rnd = random.Random(17)
    for _ in range(300):
        n = rnd.randrange(240, 280)
        data = bytes(rnd.randrange(256) for _ in range(n))
        for ec in (0, 1):
            assert lzw_decode(lzw_encode(data, ec), early_change=ec) == data


def test_decodeparms_paired_per_filter():
    """PDF 1.7 §7.3.8.2: with an array /Filter, /DecodeParms is an array
    pairing each filter with its parms (dict or null).  A predictor
    declared for the FIRST filter must not be re-applied after the
    second, and vice versa."""
    import zlib

    from extractor.pdf import lzw_encode, pdf_to_text, png_predict_encode

    body = b"BT (chain line) Tj ET"
    # Filters decode in listed order, so the stream is built by applying
    # each filter's ENCODE in reverse list order; a predictor pairs with
    # its own filter (applied before that filter's compression).
    # predictor on the Flate stage (filter 0) only:
    pdf = _one_stream_pdf(
        b"/Filter [/FlateDecode /LZWDecode] "
        b"/DecodeParms [<< /Predictor 12 /Columns 8 >> null]",
        zlib.compress(png_predict_encode(lzw_encode(body), 8)),
    )
    assert pdf_to_text(pdf) == [["chain line"]]
    # predictor on the LZW stage (filter 0 of the swapped chain) only:
    pdf = _one_stream_pdf(
        b"/Filter [/LZWDecode /FlateDecode] "
        b"/DecodeParms [<< /Predictor 12 /Columns 8 >> null]",
        lzw_encode(png_predict_encode(zlib.compress(body), 8)),
    )
    assert pdf_to_text(pdf) == [["chain line"]]
    # EarlyChange parms on the second (LZW) element, null on the first
    pdf = _one_stream_pdf(
        b"/Filter [/FlateDecode /LZWDecode] "
        b"/DecodeParms [null << /EarlyChange 0 >>]",
        zlib.compress(lzw_encode(body, early_change=0)),
    )
    assert pdf_to_text(pdf) == [["chain line"]]
    # spec-invalid lone dict with an array Filter: pairs with the first
    # filter (here LZW), not with the Flate stage after it
    pdf = _one_stream_pdf(
        b"/Filter [/LZWDecode /FlateDecode] "
        b"/DecodeParms << /EarlyChange 0 >>",
        lzw_encode(zlib.compress(body), early_change=0),
    )
    assert pdf_to_text(pdf) == [["chain line"]]


def test_png_predictor_roundtrip_all_filters():
    import random

    from extractor.pdf import png_predict_decode, png_predict_encode

    rnd = random.Random(11)
    payload = bytes(rnd.randrange(256) for _ in range(1000))
    for ft in range(5):
        for cols, colors in [(16, 1), (7, 3), (90, 1)]:
            enc = png_predict_encode(payload, cols, colors, filter_type=ft)
            assert png_predict_decode(enc, cols, colors) == payload


def test_predictor_and_lzw_filter_streams_decode():
    """A stream dict carrying /LZWDecode (+ EarlyChange 0) or Flate with
    PNG predictor DecodeParms decodes through pdf_to_text."""
    import zlib

    from extractor.pdf import lzw_encode, pdf_to_text, png_predict_encode

    body = b"BT (lzw line) Tj ET"
    pdf = _one_stream_pdf(b"/Filter /LZWDecode", lzw_encode(body))
    assert pdf_to_text(pdf) == [["lzw line"]]
    pdf = _one_stream_pdf(
        b"/Filter /LZWDecode /DecodeParms << /EarlyChange 0 >>",
        lzw_encode(body, early_change=0),
    )
    assert pdf_to_text(pdf) == [["lzw line"]]
    # flate + PNG Up predictor
    pdf = _one_stream_pdf(
        b"/Filter /FlateDecode /DecodeParms << /Predictor 12 /Columns 8 >>",
        zlib.compress(png_predict_encode(body, 8)),
    )
    assert pdf_to_text(pdf) == [["lzw line"]]


def test_lzw_write_modes_roundtrip():
    from extractor.pdf import is_valid_pdf, pdf_to_text

    t = "\n".join("line %d (%s) \\" % (i, "a" * (i % 120)) for i in range(300))
    base = pdf_to_text(text_to_pdf_bytes(t))
    for mode in ("lzw", "lzw-png"):
        b = text_to_pdf_bytes(t, stream_filter=mode)
        assert is_valid_pdf(b)
        assert b == text_to_pdf_bytes(t, stream_filter=mode)  # deterministic
        assert pdf_to_text(b) == base


def test_flate_roundtrip_exact():
    """stream_filter="flate" output decodes to the identical line/page
    structure — the writer/decoder pair covers the dominant real-world PDF
    encoding.  Page text that spells an ``/Encrypt`` reference (dangling
    or not) is text: only the trailer can declare encryption."""
    from extractor.pdf import pdf_to_text

    for t in (
        "hello (world) \\ test\n" + "x" * 200 + "\n\nlast",
        "",
        "x /Encrypt 1 0 R",
        "x /Encrypt 9 0 R",
        "\n".join("line %d (%s) \\" % (i, "a" * (i % 120)) for i in range(300)),
    ):
        blob = text_to_pdf_bytes(t, stream_filter="flate")
        assert blob == text_to_pdf_bytes(t, stream_filter="flate")
        assert is_valid_pdf(blob)
        assert len(blob) < len(text_to_pdf_bytes(t)) or len(t) < 400
        pages = pdf_to_text(blob)
        assert [l for p in pages for l in p] == wrap_lines(t), repr(t[:30])
        assert pages == pdf_to_text(text_to_pdf_bytes(t))


def _content_pdf(body: bytes) -> bytes:
    """Minimal single-stream PDF wrapping a raw content stream body."""
    return (
        b"%%PDF-1.4\n4 0 obj\n<< /Length %d >>\nstream\n%s\nendstream\nendobj\n"
        % (len(body), body)
    )


def test_foreign_pdf_operators_decode():
    """Operators our own writer never emits but real PDFs use constantly:
    hex strings, TJ kerning arrays, ' and \" show ops, octal escapes."""
    from extractor.pdf import pdf_to_text

    # hex string + Tj
    assert pdf_to_text(_content_pdf(b"BT <48656C6C6F> Tj ET")) == [["Hello"]]
    # odd-length hex pads a trailing 0 nibble
    assert pdf_to_text(_content_pdf(b"BT <48656C6C6F2> Tj ET")) == [["Hello "]]
    # TJ array with kerning numbers joins string elements into ONE line
    assert pdf_to_text(
        _content_pdf(b"BT [(He) -120 (l) 30 <6C6F>] TJ ET")
    ) == [["Hello"]]
    # ' and " show-next-line operators
    assert pdf_to_text(_content_pdf(b"BT (a) ' 2 1 (b) \" ET")) == [["a", "b"]]
    # octal + named escapes + continuation + nested balanced parens
    assert pdf_to_text(
        _content_pdf(b"BT (\\110i\\tthere\\\n joined (nested) ok) Tj ET")
    ) == [["Hi\tthere joined (nested) ok"]]
    # plain [ ... ] that is NOT followed by TJ emits nothing
    assert pdf_to_text(
        _content_pdf(b"BT [(dropped)] TD (kept) Tj ET")
    ) == [["kept"]]


def test_layout_decodes_own_pdf_bytes():
    """decode_layout consumes REAL PDF bytes (the engine's uncompressed
    subset) and the XY-cut linearizer reads them in order."""
    from extractor.layout import decode_layout, linearize_layout

    doc = decode_layout(text_to_pdf_bytes("alpha\nbeta\n\ngamma"))
    r = linearize_layout(doc)
    assert r.error is None
    assert r.n_pages == 1 and r.n_blocks == 3  # blank line emits no block
    assert r.text.split() == ["alpha", "beta", "gamma"]  # reading order


def _image_pdf(text: str, images) -> bytes:
    """Splice /Subtype /Image XObjects into a rendered text PDF.  The
    decoder iterates streams without the xref, so appended objects are
    seen exactly like writer-emitted ones."""
    pdf = text_to_pdf_bytes(text)
    objs = b""
    for i, (dict_extra, body) in enumerate(images):
        objs += (
            b"%d 0 obj\n<< /Type /XObject /Subtype /Image %s /Length %d >>"
            b"\nstream\n" % (900 + i, dict_extra, len(body))
        ) + body + b"\nendstream\nendobj\n"
    return pdf.replace(b"%%EOF", objs + b"%%EOF")


def test_pdf_to_text_skips_image_xobjects():
    """A document with embedded images still yields its text (O4: an
    image stream must never fail text extraction) — incl. image codecs
    that would raise if routed through the text decoder."""
    from extractor.pdf import pdf_to_text

    pdf = _image_pdf(
        "body text",
        [
            (b"/Width 2 /Height 2 /Filter /DCTDecode", b"\xff\xd8junk"),
            (b"/Width 2 /Height 2 /Filter /JPXDecode", b"\x00" * 8),
        ],
    )
    assert pdf_to_text(pdf) == [["body text"]]


def test_predictors_all_bit_depths():
    """PNG filters act bytewise at 1/2/4/8/16-bit components (PNG spec
    §6: step = max(1, colors*bpc/8)) — roundtrip every row type."""
    import random

    from extractor.pdf import png_predict_decode, png_predict_encode

    rng = random.Random(3)
    for bpc in (1, 2, 4, 8, 16):
        for colors in (1, 3):
            cols = 11
            rowlen = (cols * colors * bpc + 7) // 8
            data = bytes(rng.randrange(256) for _ in range(rowlen * 7))
            for ft in range(5):
                enc = png_predict_encode(
                    data, cols, colors=colors, bpc=bpc, filter_type=ft
                )
                assert (
                    png_predict_decode(enc, cols, colors=colors, bpc=bpc)
                    == data
                ), (bpc, colors, ft)


def test_sub8bit_predictor_stream_decodes():
    """End-to-end: a flate+PNG-predictor stream with /BitsPerComponent 4
    decodes through _decode_stream's parameter plumbing."""
    import zlib

    from extractor.pdf import _decode_stream, png_predict_encode

    body = b"BT (4bit pred) Tj ET pad"  # arbitrary bytes, 6 cols x 4bit
    cols = 6
    rowlen = (cols * 4 + 7) // 8
    body = body[: (len(body) // rowlen) * rowlen]
    enc = zlib.compress(
        png_predict_encode(body, cols, colors=1, bpc=4, filter_type=4)
    )
    dict_bytes = (
        b"<< /Filter /FlateDecode /DecodeParms << /Predictor 15"
        b" /Columns 6 /Colors 1 /BitsPerComponent 4 >> /Length %d >>"
        % len(enc)
    )
    assert _decode_stream(dict_bytes, enc) == body
