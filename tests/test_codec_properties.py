"""Property-based guards (hypothesis) for the byte codecs: the PDF
write→decode roundtrip and DOCX text escaping must hold for ARBITRARY
text, not just the synthetic corpus — these are the paths a 100 TB corpus
will eventually hit with every weird input that exists."""
import io
import zipfile

from hypothesis import given, settings, strategies as st

from extractor.docx import decode_docx
from extractor.pdf import (
    is_valid_pdf,
    n_lines,
    n_pages,
    pdf_to_text,
    text_to_pdf_bytes,
    wrap_lines,
)

# latin-1-representable text (the PDF writer's documented repertoire)
latin1_text = st.text(
    alphabet=st.characters(min_codepoint=9, max_codepoint=255,
                           blacklist_characters="\r\x0b\x0c"),
    max_size=2000,
)
any_text = st.text(max_size=1500)


@settings(max_examples=150, deadline=None)
@given(latin1_text)
def test_pdf_roundtrip_arbitrary_latin1(t):
    pdf = text_to_pdf_bytes(t)
    assert is_valid_pdf(pdf)
    flat = [l for p in pdf_to_text(pdf) for l in p]
    assert flat == wrap_lines(t)


@settings(max_examples=100, deadline=None)
@given(latin1_text)
def test_pdf_flate_roundtrip_matches_uncompressed(t):
    """The FlateDecode write path decodes to the identical structure as
    the uncompressed one for arbitrary latin-1 text — writer compression
    and decoder inflation are exact inverses."""
    blob = text_to_pdf_bytes(t, compress=True)
    assert is_valid_pdf(blob)
    pages = pdf_to_text(blob)
    assert [l for p in pages for l in p] == wrap_lines(t)
    assert pages == pdf_to_text(text_to_pdf_bytes(t))


@settings(max_examples=100, deadline=None)
@given(any_text)
def test_pdf_never_raises_and_counts_consistent(t):
    pdf = text_to_pdf_bytes(t)  # unicode degrades, never raises
    assert is_valid_pdf(pdf)
    # counts via the content-stream PARSE (escape-aware) — raw substring
    # counts would overcount text containing ') Tj' / '/Type /Page '
    pages = pdf_to_text(pdf)
    assert sum(len(p) for p in pages) == n_lines(t)
    assert len(pages) == n_pages(t)


@settings(max_examples=100, deadline=None)
@given(st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=1000,
                                      blacklist_characters="<&"),
               min_size=1, max_size=300))
def test_docx_run_text_roundtrips(t):
    """Arbitrary run text survives the XML-build → zip → decode path
    (escaping correct both directions)."""
    from xml.sax.saxutils import escape

    doc = (
        '<?xml version="1.0"?>'
        '<w:document xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main">'
        f"<w:body><w:p><w:r><w:t>{escape(t)}</w:t></w:r></w:p></w:body></w:document>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("word/document.xml", doc)
    html = decode_docx(buf.getvalue())
    # decode emits HTML-escaped text (quote=False: &, <, > only)
    import html as h

    assert html == f"<p>{h.escape(t, quote=False)}</p>"


# --- image codec properties (round 5) ---------------------------------------

binary_blob = st.binary(min_size=0, max_size=2048)


@settings(max_examples=150, deadline=None)
@given(binary_blob)
def test_rle_a85_roundtrip_arbitrary_bytes(data):
    from extractor.pdf import a85_decode, a85_encode, rle_decode, rle_encode

    assert rle_decode(rle_encode(data)) == data
    assert a85_decode(a85_encode(data)) == data


@settings(max_examples=60, deadline=None)
@given(
    st.integers(min_value=1, max_value=24),
    st.integers(min_value=1, max_value=24),
    st.sampled_from([0, 2, 4, 6]),
    st.sampled_from([0, 1, 2, 3, 4]),
    st.randoms(use_true_random=False),
)
def test_png_roundtrip_any_shape_and_filter(w, h, ct, ft, rnd):
    from extractor.imagecodec import png_decode, png_encode

    ch = {0: 1, 2: 3, 4: 2, 6: 4}[ct]
    px = bytes(rnd.randrange(256) for _ in range(w * h * ch))
    assert png_decode(png_encode(w, h, px, ct, ft)) == (w, h, ch, px)


@settings(max_examples=60, deadline=None)
@given(
    st.integers(min_value=1, max_value=24),
    st.integers(min_value=1, max_value=24),
    st.integers(min_value=1, max_value=256),
    st.randoms(use_true_random=False),
)
def test_gif_roundtrip_any_palette_size(w, h, nc, rnd):
    from extractor.imagecodec import gif_decode, gif_encode

    pal = bytes(rnd.randrange(256) for _ in range(nc * 3))
    idx = bytes(rnd.randrange(nc) for _ in range(w * h))
    want = b"".join(pal[3 * i : 3 * i + 3] for i in idx)
    assert gif_decode(gif_encode(w, h, idx, pal)) == (w, h, 3, want)


@settings(max_examples=60, deadline=None)
@given(
    st.integers(min_value=1, max_value=20),
    st.integers(min_value=1, max_value=20),
    st.sampled_from([1, 3]),
    st.sampled_from(["none", "packbits", "lzw"]),
    st.sampled_from(["II", "MM"]),
    st.integers(min_value=1, max_value=8),
    st.randoms(use_true_random=False),
)
def test_tiff_roundtrip_any_shape(w, h, ch, comp, bo, rps, rnd):
    from extractor.imagecodec import tiff_decode, tiff_encode

    px = bytes(rnd.randrange(256) for _ in range(w * h * ch))
    assert tiff_decode(tiff_encode(w, h, px, ch, comp, bo, rps)) == (
        w, h, ch, px,
    )


@settings(max_examples=60, deadline=None)
@given(
    st.integers(min_value=1, max_value=32),
    st.integers(min_value=1, max_value=32),
    st.randoms(use_true_random=False),
)
def test_bmp_roundtrip_any_padding(w, h, rnd):
    from extractor.imagecodec import bmp_decode, bmp_encode

    px = bytes(rnd.randrange(256) for _ in range(w * h * 3))
    assert bmp_decode(bmp_encode(w, h, px)) == (w, h, 3, px)


@settings(max_examples=150, deadline=None)
@given(st.binary(min_size=0, max_size=64))
def test_codec_decoders_never_crash_on_garbage(data):
    """Every decoder either returns or raises ValueError /
    NotImplementedError — never an unhandled crash (O4: callers contain
    those two).  Garbage prefixed with each magic exercises the parsers."""
    import pytest  # noqa: F401

    from extractor.imagecodec import (
        PNG_SIG,
        bmp_decode,
        gif_decode,
        png_decode,
        tiff_decode,
    )
    from extractor.jpegcodec import jpeg_decode

    for decode, magic in (
        (png_decode, PNG_SIG),
        (gif_decode, b"GIF89a"),
        (tiff_decode, b"II*\x00"),
        (tiff_decode, b"MM\x00*"),
        (bmp_decode, b"BM"),
        (jpeg_decode, b"\xff\xd8\xff\xe0"),
    ):
        for payload in (data, magic + data):
            try:
                decode(payload)
            except (ValueError, NotImplementedError):
                pass
