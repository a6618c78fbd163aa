"""PDF/layout parsing to linearized text spans (BASELINE.json north-star
axis; reference analogue: the pandoc DOCX→HTML stage T1,
``app/core/pandoc_converter.py:21-118`` — the "turn an opaque layout format
into linear text" stage, re-expressed as a pure vectorized kernel).

No PDF codec library ships in this container, so byte decoding is stdlib:
payloads in our deterministic JSON layout format parse for real, and the
PDF bytes this engine writes decode for real through ``extractor/pdf.py``
(uncompressed, Flate and LZW content streams, chains, PNG predictors —
see its module docstring for the authoritative decode scope); other
filters, other predictors and encrypted documents raise there, and
callers get a contained error row.  Everything downstream of decode — reading-order
reconstruction, column detection, heading promotion, span bookkeeping, the
Arrow batch plumbing — is real and tested.  DOCX bytes, by contrast, need
no codec: ``extractor/docx.py`` decodes real OOXML packages with stdlib
``zipfile`` + ``xml.etree`` (the pandoc stage itself, executable here).

Layout document model (what a PDF text-extraction pass produces):

    {"pages": [{"page": 1, "width": 612,
                "blocks": [{"x": 72, "y": 90, "w": 200, "h": 12,
                            "size": 10, "text": "..."}, ...]}]}

Linearization (deterministic reading order — a simplified recursive XY-cut):
1. Per page, cut horizontally at **wide** blocks (width >= 55% of the page):
   titles/banners span all columns and must break the column structure, so
   each wide block is its own full-width band, emitted in y-order between
   the bands of narrow blocks around it.
2. Within a band, split into columns: x-intervals separated by gaps >
   GAP_PT in the band's x-projection.
3. Within a column, sort by (y, x); columns left→right; bands top→bottom;
   pages in order.
3. Blocks with font size >= H1_PT become ``#`` headings, >= H2_PT ``##``.
4. Consecutive blocks whose vertical gap < LINE_JOIN_PT merge into one
   paragraph (line unwrapping).
5. Output: linear text + spans [(page, column, start, end)] — character
   offsets into the final text, the "linearized text spans" of the rule.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

GAP_PT = 24.0
H1_PT = 18
H2_PT = 14
LINE_JOIN_PT = 16.0


@dataclass
class LayoutResult:
    text: str | None
    spans: list = field(default_factory=list)
    n_pages: int = 0
    n_blocks: int = 0
    error: str | None = None


def decode_layout(payload) -> dict:
    """Byte-decode boundary.  JSON layout docs decode for real; PDF bytes
    in the shapes ``extractor/pdf.py:text_to_pdf_bytes`` writes
    (uncompressed, Flate, LZW, LZW over a PNG predictor) decode for real
    via the stdlib content-stream parser — each show-text line becomes a
    positioned block at the writer's geometry, so the XY-cut linearizer
    downstream operates on genuine PDF bytes.  Any other filter or
    predictor, and an encrypted document, raise ``NotImplementedError``
    (→ contained error row); image XObjects are skipped, never decoded."""
    if payload is None:
        raise ValueError("null payload")
    if isinstance(payload, (bytes, bytearray)):
        if bytes(payload[:5]) == b"%PDF-":
            from .pdf import FONT_SIZE, LEADING, MARGIN_X, PAGE_W, pdf_to_text

            pages = pdf_to_text(bytes(payload))  # may raise NotImplementedError
            return {
                "pages": [
                    {
                        "page": i + 1,
                        "width": PAGE_W,
                        "blocks": [
                            {
                                # emitted directly in the layout model's
                                # top-down coordinates (y grows down the
                                # page): line j sits at j leadings
                                "x": MARGIN_X,
                                "y": float(LEADING * j),
                                # ~0.5em per char at 10pt Helvetica
                                "w": 5.0 * len(line),
                                "h": LEADING,
                                "size": FONT_SIZE,
                                "text": line,
                            }
                            for j, line in enumerate(lines)
                            if line
                        ],
                    }
                    for i, lines in enumerate(pages)
                ]
            }
        payload = payload.decode("utf-8")
    return json.loads(payload)


def _columns(blocks: list[dict]) -> list[tuple[float, float]]:
    """XY-cut: x-intervals separated by gaps > GAP_PT."""
    if not blocks:
        return []
    xs = sorted((b["x"], b["x"] + b.get("w", 0)) for b in blocks)
    cols = [list(xs[0])]
    for lo, hi in xs[1:]:
        if lo > cols[-1][1] + GAP_PT:
            cols.append([lo, hi])
        else:
            cols[-1][1] = max(cols[-1][1], hi)
    return [tuple(c) for c in cols]


WIDE_FRAC = 0.55


def _bands(blocks: list[dict], page_width: float) -> list[list[dict]]:
    """Cut the page horizontally at wide (column-spanning) blocks."""
    by_y = sorted(blocks, key=lambda b: (b["y"], b["x"]))
    bands: list[list[dict]] = []
    current: list[dict] = []
    for b in by_y:
        if b.get("w", 0) >= WIDE_FRAC * page_width:
            if current:
                bands.append(current)
                current = []
            bands.append([b])  # wide block = its own band
        else:
            current.append(b)
    if current:
        bands.append(current)
    return bands


def linearize_layout(doc: dict) -> LayoutResult:
    parts: list[str] = []
    spans: list[dict] = []
    pos = 0
    n_blocks = 0
    pages = doc.get("pages", [])
    for page in pages:
        blocks = page.get("blocks", [])
        n_blocks += len(blocks)
        page_width = page.get(
            "width",
            max((b["x"] + b.get("w", 0) for b in blocks), default=0),
        )

        column_runs: list[tuple[int, list[dict]]] = []
        for band in _bands(blocks, page_width):
            cols = _columns(band)

            def col_of(b, cols=cols):
                cx = b["x"] + b.get("w", 0) / 2
                for ci, (lo, hi) in enumerate(cols):
                    if lo - 1e-9 <= cx <= hi + 1e-9:
                        return ci
                return len(cols)

            ordered: dict[int, list[dict]] = {}
            for b in band:
                ordered.setdefault(col_of(b), []).append(b)
            for ci in sorted(ordered):
                column_runs.append(
                    (ci, sorted(ordered[ci], key=lambda b: (b["y"], b["x"])))
                )

        for ci, col_blocks in column_runs:
            para: list[str] = []
            para_y = None

            def flush(ci=ci, page_no=page.get("page", 0)):
                nonlocal pos, para, para_y
                if not para:
                    return
                chunk = " ".join(para)
                if parts:
                    pos += 2  # the "\n\n" separator
                parts.append(chunk)
                spans.append(
                    {
                        "page": page_no,
                        "column": ci,
                        "start": pos,
                        "end": pos + len(chunk),
                    }
                )
                pos += len(chunk)
                para, para_y = [], None

            for b in col_blocks:
                text = " ".join(str(b.get("text", "")).split())
                if not text:
                    continue
                size = b.get("size", 10)
                if size >= H2_PT:
                    flush()
                    prefix = "# " if size >= H1_PT else "## "
                    para = [prefix + text]
                    flush()
                    continue
                if para_y is not None and b["y"] - para_y > LINE_JOIN_PT:
                    flush()
                para.append(text)
                para_y = b["y"] + b.get("h", 12)
            flush()

    return LayoutResult(
        text="\n\n".join(parts),
        spans=spans,
        n_pages=len(pages),
        n_blocks=n_blocks,
    )


def parse_layout(payload) -> LayoutResult:
    """decode → linearize, never raises (error-row containment)."""
    try:
        return linearize_layout(decode_layout(payload))
    except Exception as exc:
        return LayoutResult(None, error=f"layout_error: {str(exc)[:200]}")


def synth_layout_doc(seed: int, doc_index: int) -> str:
    """Deterministic synthetic two-column layout document (JSON)."""
    import hashlib

    h = hashlib.md5(f"{seed}:{doc_index}".encode()).digest()
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta"]
    pages = []
    for p in range(1 + h[0] % 2):
        blocks = [
            {"x": 72, "y": 50, "w": 460, "h": 20, "size": 20,
             "text": f"Document {doc_index} Page {p + 1}"}
        ]
        y = 90.0
        for i in range(3 + h[1] % 3):  # left column paragraphs (as lines)
            for line in range(2):
                blocks.append(
                    {"x": 72, "y": y, "w": 200, "h": 12, "size": 10,
                     "text": " ".join(
                         words[(h[2] + p + i + line + j) % len(words)]
                         for j in range(4)
                     )}
                )
                y += 14
            y += 24  # paragraph gap
        y = 90.0
        for i in range(2 + h[3] % 2):  # right column
            blocks.append(
                {"x": 340, "y": y, "w": 200, "h": 12, "size": 10,
                 "text": f"right col {p}-{i} " + words[(h[4] + i) % len(words)]}
            )
            y += 40
        pages.append({"page": p + 1, "width": 612, "blocks": blocks})
    return json.dumps({"pages": pages})
