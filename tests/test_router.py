"""Byte-sniffing format router (extractor/router.py).

Reference parity target: the extension-based converter dispatch
(app/core/document_converter.py:285-290), re-expressed as content
sniffing over an opaque binary column with per-document containment
(document_converter.py:95-118).
"""
import json
import struct
import zlib

import pytest

from extractor.docx import synth_docx_bytes
from extractor.pdf import text_to_pdf_bytes
from extractor.router import route_payload, sniff_format


# --- sniffing --------------------------------------------------------------

@pytest.mark.parametrize(
    "payload,expected",
    [
        (None, "empty"),
        (b"", "empty"),
        (b"   \n\t ", "empty"),
        (b"%PDF-1.4 junk", "pdf"),
        (text_to_pdf_bytes("hello"), "pdf"),
        (synth_docx_bytes(1), "docx"),
        (b"\x89PNG\r\n\x1a\n\x00\x00", "image"),
        (b"\xff\xd8\xff\xe0 jpeg-ish", "image"),
        (b"GIF89a\x00\x00", "image"),
        (b"\xff\xfe\x00\x00 utf32-ish", "binary"),
        (b"<html><body>hi</body></html>", "html"),
        (b"  <!DOCTYPE html><p>x</p>", "html"),
        (b"<h2>heading only</h2>", "html"),
        (b'{"pages": [{"page": 1, "blocks": []}]}', "layout_json"),
        (b'{"not_pages": 1}', "text"),  # JSON without layout shape
        (b"[1, 2, 3]", "text"),
        (b"just plain prose, 3 < 5 but no tags", "text"),
        ("already a str payload", "text"),
        (b"{broken json", "text"),
    ],
)
def test_sniff_format(payload, expected):
    assert sniff_format(payload) == expected


def test_sniff_zip_without_ooxml_is_zip():
    import io
    import zipfile

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("data.txt", "x")
    assert sniff_format(buf.getvalue()) == "zip"


def test_sniff_truncated_zip_is_binary():
    assert sniff_format(b"PK\x03\x04garbage-not-a-zip") == "binary"


def test_html_mention_deep_in_text_stays_text():
    # The tag scan covers only the first 4 KiB window.
    payload = ("x" * 5000 + " later mention of <p> tag").encode()
    assert sniff_format(payload) == "text"


# --- routing ---------------------------------------------------------------

def test_route_html_through_kernel():
    out = route_payload(b"<h1>T</h1><p>body &amp; tail</p>")
    assert out["format"] == "html"
    assert out["extracted_text"] == "# T\n\nbody & tail"
    assert out["error"] is None


def test_route_docx_counts_flow_through():
    # synth mode 2 is the header-table document
    out = route_payload(synth_docx_bytes(2))
    assert out["format"] == "docx"
    assert out["tables_count"] == 1
    assert "| hA | hB |" in out["extracted_text"]


def test_route_pdf_roundtrip():
    out = route_payload(text_to_pdf_bytes("alpha\nbeta"))
    assert out["format"] == "pdf"
    # XY-cut merges vertically-adjacent lines of one block with a space
    assert out["extracted_text"] == "alpha beta"
    assert out["error"] is None


def test_route_layout_json():
    doc = {"pages": [{"page": 1, "width": 612.0, "blocks": [
        {"x": 72.0, "y": 0.0, "w": 90.0, "h": 12.0, "size": 10.0,
         "text": "hello layout"}]}]}
    out = route_payload(json.dumps(doc).encode())
    assert out["format"] == "layout_json"
    assert out["extracted_text"] == "hello layout"


def test_route_text_normalizes_line_endings():
    out = route_payload(b"a\r\nb\rc")
    assert out["extracted_text"] == "a\nb\nc"


def test_route_unsupported_contained():
    out = route_payload(b"\x00\x01\x02")
    assert out["format"] == "binary"
    assert out["extracted_text"] is None
    assert out["error"].startswith("unsupported_format")


def test_route_empty_contained():
    out = route_payload(None)
    assert out == {
        "format": "empty", "extracted_text": None, "tables_count": 0,
        "math_count": 0, "images_count": 0, "error": "empty_payload",
    }


def test_route_image_payloads():
    """Images are sniffed by magic bytes and counted, never decoded: a
    corrupt or truncated body routes exactly like a valid one."""
    ihdr = b"IHDR" + struct.pack(">IIBBBBB", 4, 3, 8, 2, 0, 0, 0)
    png = b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + ihdr
    good_crc = zlib.crc32(ihdr)
    bmp = b"BM" + bytes(12) + (40).to_bytes(4, "little") + bytes(36)
    payloads = (
        png + struct.pack(">I", good_crc),
        png + struct.pack(">I", good_crc ^ 0xFF),  # a broken CRC
        b"GIF89a" + bytes(8),
        b"GIF87a" + bytes(8),
        b"II*\x00" + bytes(8),
        b"MM\x00*" + bytes(8),
        bmp,
        b"\xff\xd8\xff\xe0 not a real jpeg",
        b"RIFF\x00\x00\x00\x00WEBPVP8 ",
    )
    for payload in payloads:
        assert route_payload(payload) == {
            "format": "image", "extracted_text": None, "tables_count": 0,
            "math_count": 0, "images_count": 1, "error": None,
        }, payload
    # 'BM' without a DIB header is text that happens to start with BM
    out = route_payload(b"BMW report: revenue up")
    assert out["format"] == "text" and out["images_count"] == 0


def test_pdf_images_count():
    """PDF images_count = embedded /Subtype /Image XObjects (A3
    statistics parity for scanned docs); text extraction unaffected."""
    from extractor.pdf import text_to_pdf_bytes
    from extractor.router import route_payload

    base = text_to_pdf_bytes("with image")
    assert route_payload(base)["images_count"] == 0
    # page text that spells the image subtype is text, not an image
    assert route_payload(text_to_pdf_bytes("a /Subtype /Image b"))[
        "images_count"
    ] == 0
    # the body is never decoded, so any bytes stand in for the pixels
    body = b"\xff\xd8\xff\xe0" + bytes(range(256))
    obj = (
        b"900 0 obj\n<< /Type /XObject /Subtype /Image /Width 4"
        b" /Height 4 /BitsPerComponent 8 /Filter /DCTDecode"
        b" /Length %d >>\nstream\n" % len(body)
    ) + body + b"\nendstream\nendobj\n"
    pdf = base.replace(b"%%EOF", obj + b"%%EOF")
    r = route_payload(pdf)
    assert r["images_count"] == 1 and r["error"] is None
    assert r["extracted_text"].startswith("with image")


def test_encrypted_pdf_is_an_error_row():
    """A trailer declaring /Encrypt is outside the decodable set: the
    router contains it as a pdf error row instead of raising."""
    from extractor.pdf import text_to_pdf_bytes
    from extractor.router import route_payload

    pdf = text_to_pdf_bytes("locked").replace(
        b"/Root 1 0 R >>", b"/Root 1 0 R /Encrypt 5 0 R >>"
    )
    r = route_payload(pdf)
    assert r["format"] == "pdf" and r["extracted_text"] is None
    assert "encrypted PDF" in r["error"]
