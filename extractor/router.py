"""Byte-sniffing format router — one binary column in, markdown out.

The reference dispatches on file extension at the filesystem layer
(``app/core/document_converter.py:285-290`` rglobs ``*.docx``; the web UI
routes uploads by suffix) and runs one converter per format.  At 100 TB the
input is an Iceberg table of opaque ``binary`` payloads, not a directory
tree, and extensions are unavailable or untrustworthy — so this module
sniffs the *content*:

* ``%PDF-``          → PDF       → stdlib content-stream decode + XY-cut
                                     linearize (``extractor/pdf.py`` /
                                     ``extractor/layout.py``)
* ``PK\\x03\\x04`` zip → DOCX      → stdlib OOXML reader
                                     (``extractor/docx.py``) → DOM kernel
* JSON with "pages"  → layout doc → XY-cut linearizer
* image magics       → image      → counted (``images_count=1``), not
                                     decoded
* markup tags        → HTML       → DOM kernel (``extractor/kernel.py``)
* decodable utf-8    → plain text → passthrough (line-ending normalize)
* anything else      → contained error row (never raises — the reference's
                       per-document containment, ``document_converter.py:95-118``)

Images are sniffed and counted, never decoded — the reference counts the
extracted media files and renders no pixels, and the PDF branch here
counts image XObject streams the same way (``pdf.image_count``).

Everything runs inside one ``arrow_stage`` kernel: sniff + decode +
convert per record batch, zero per-row Python dispatch from Spark's side,
no shuffle — the same map-only shape as the main extraction pipeline, so
the routed path scales exactly like ``extract_transcripts`` does.
"""

from __future__ import annotations

import io
import json
import re
import zipfile

from .docx import decode_docx
from .kernel import convert_text
from .layout import parse_layout
from .pdf import image_count

FORMATS = (
    "empty", "pdf", "docx", "zip", "layout_json", "html", "text", "image",
    "binary",
)

# Tags that mark a decoded text payload as HTML (first-window scan only —
# a plain-text doc that *mentions* "<p>" late in the body is still text).
_HTML_TAG_RE = re.compile(
    r"<(?:!doctype\s|html[\s>]|head[\s>]|body[\s>]|p[\s>]|div[\s>]|span[\s>]"
    r"|h[1-6][\s>]|table[\s>]|ul[\s>]|ol[\s>]|li[\s>]|a\s|img\s|br\s*/?>)",
    re.IGNORECASE,
)
_SNIFF_WINDOW = 4096


def sniff_image(payload: bytes) -> str | None:
    """Byte-sniff the image container: 'png' | 'bmp' | 'jpeg' | 'gif' |
    'tiff' | 'webp' | None (unrecognized)."""
    head = bytes(payload[:12])
    if head.startswith(b"\x89PNG\r\n\x1a\n"):
        return "png"
    if head[:4] == b"RIFF" and head[8:12] == b"WEBP":
        return "webp"
    if head.startswith(b"BM"):
        # 'BM' alone is two ASCII letters — plain text can start with it
        # ("BMW report..."), and since the router checks image magics
        # before text decode a false positive turns a working text
        # payload into an image row.  Require a plausible DIB header
        # size at offset 14 before claiming the format.
        if len(payload) >= 54 and int.from_bytes(
            bytes(payload[14:18]), "little"
        ) in (12, 40, 52, 56, 64, 108, 124):
            return "bmp"
        return None
    if head.startswith(b"\xff\xd8\xff"):
        return "jpeg"
    if head.startswith((b"GIF87a", b"GIF89a")):
        return "gif"
    if head.startswith((b"II*\x00", b"MM\x00*")):
        return "tiff"
    return None


def sniff_format(payload) -> str:
    """Classify one payload into :data:`FORMATS`.  Never raises."""
    if payload is None:
        return "empty"
    if isinstance(payload, str):
        text = payload
    else:
        raw = bytes(payload)
        if not raw:
            return "empty"
        if raw[:5] == b"%PDF-":
            return "pdf"
        if sniff_image(raw) is not None:
            return "image"
        if raw[:4] == b"PK\x03\x04":
            try:
                with zipfile.ZipFile(io.BytesIO(raw)) as zf:
                    names = set(zf.namelist())
            except (zipfile.BadZipFile, OSError):
                return "binary"
            return "docx" if "word/document.xml" in names else "zip"
        if b"\x00" in raw[:_SNIFF_WINDOW]:
            return "binary"
        try:
            text = raw.decode("utf-8")
        except UnicodeDecodeError:
            return "binary"
    if not text.strip():
        return "empty"
    head = text.lstrip()
    if head[:1] in "{[":
        try:
            doc = json.loads(text)
        except (ValueError, RecursionError):
            doc = None
        if isinstance(doc, dict) and "pages" in doc:
            return "layout_json"
    if _HTML_TAG_RE.search(head[:_SNIFF_WINDOW]):
        return "html"
    return "text"


def route_payload(payload) -> dict:
    """Sniff + decode + convert one payload.  Never raises.

    Returns ``{"format", "extracted_text", "tables_count", "math_count",
    "images_count", "error"}`` — table/math counts are 0 for the
    non-DOM formats (PDF/layout/text carry no table/math structure
    after linearization); PDF ``images_count`` counts embedded image
    XObject streams (the A1/A3 statistics parity for
    scanned documents) and an image payload counts 1 — pixels are never
    decoded."""
    fmt = sniff_format(payload)
    out = {
        "format": fmt,
        "extracted_text": None,
        "tables_count": 0,
        "math_count": 0,
        "images_count": 0,
        "error": None,
    }
    try:
        if fmt == "empty":
            out["error"] = "empty_payload"
        elif fmt in ("pdf", "layout_json"):
            r = parse_layout(payload)
            out["extracted_text"], out["error"] = r.text, r.error
            if fmt == "pdf":
                out["images_count"] = image_count(payload)
        elif fmt == "docx":
            html = decode_docx(
                payload.encode("utf-8") if isinstance(payload, str) else payload
            )
            res = convert_text(html)
            out.update(
                extracted_text=res.extracted_text,
                tables_count=res.tables_count,
                math_count=res.math_count,
                images_count=res.images_count,
                error=res.error,
            )
        elif fmt == "html":
            text = (
                payload
                if isinstance(payload, str)
                else bytes(payload).decode("utf-8")
            )
            res = convert_text(text)
            out.update(
                extracted_text=res.extracted_text,
                tables_count=res.tables_count,
                math_count=res.math_count,
                images_count=res.images_count,
                error=res.error,
            )
        elif fmt == "text":
            text = (
                payload
                if isinstance(payload, str)
                else bytes(payload).decode("utf-8")
            )
            out["extracted_text"] = (
                text.replace("\r\n", "\n").replace("\r", "\n")
            )
        elif fmt == "image":
            out["images_count"] = 1  # images carry no text
        else:  # zip / binary — no codec for this payload
            out["error"] = f"unsupported_format: {fmt}"
    except Exception as exc:  # containment of last resort, mirrors kernel
        out["extracted_text"] = None
        out["error"] = f"route_error: {type(exc).__name__}: {str(exc)[:200]}"
    return out
