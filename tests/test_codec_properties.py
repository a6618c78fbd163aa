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
    blob = text_to_pdf_bytes(t, stream_filter="flate")
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
