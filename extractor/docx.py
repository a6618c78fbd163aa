"""Stdlib DOCX (OOXML) byte decoder — closes SURVEY §2 T1's raw-byte gap.

Reference parity: ``app/core/pandoc_converter.py:21-118`` shells out to
``pandoc`` per document (``subprocess.run(['pandoc', ...])``) to turn DOCX
into HTML, which ``app/core/html_processor.py`` then converts to markdown.
Here the same DOCX→HTML step is a pure-Python stdlib reader — ``zipfile``
over the OOXML package + ``xml.etree.ElementTree`` over
``word/document.xml`` — with NO subprocess and no per-row process spawn,
so it is Arrow-batchable inside an ``arrow_stage`` kernel and scales with
executor cores instead of forking pandoc 10^12 times.

Produced HTML is deliberately shaped for the existing DOM kernel
(``extractor/kernel.py``): headings/paragraphs/``strong``/``em``, pipe-table
ready ``<table>`` trees, pandoc-style ``<span class="math inline">`` math
(the kernel's T6 span-math mode), and ``<img>`` tags whose ``src`` carries
the package media path (the kernel's T2 normalization then rewrites it to
``images/<basename>`` exactly as the reference does for pandoc's
``--extract-media`` output).

Coverage of the OOXML subset: paragraphs + ``Heading{1..6}`` styles, runs
with bold/italic, line breaks, tables (header rows via ``w:tblHeader``),
inline images (``w:drawing`` → ``a:blip@r:embed`` resolved through
``word/_rels/document.xml.rels``), and OMML math (``m:oMath``) with a
recursive OMML→LaTeX translator for runs / superscript / subscript /
fractions.  Anything outside the subset degrades to its text content —
per-unit containment, never a raised error (reference O4 semantics).
"""
from __future__ import annotations

import html as _html
import io
import zipfile
import xml.etree.ElementTree as ET

W = "{http://schemas.openxmlformats.org/wordprocessingml/2006/main}"
M = "{http://schemas.openxmlformats.org/officeDocument/2006/math}"
R = "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}"
A = "{http://schemas.openxmlformats.org/drawingml/2006/main}"
REL = "{http://schemas.openxmlformats.org/package/2006/relationships}"


# ---------------------------------------------------------------------------
# OMML → LaTeX (restricted, recursive)
# ---------------------------------------------------------------------------

def _omml_to_latex(el) -> str:
    tag = el.tag
    if tag == f"{M}r":
        return "".join(t.text or "" for t in el.iter(f"{M}t"))
    if tag == f"{M}sSup":
        base = _omml_children_latex(el.find(f"{M}e"))
        sup = _omml_children_latex(el.find(f"{M}sup"))
        return f"{base}^{{{sup}}}"
    if tag == f"{M}sSub":
        base = _omml_children_latex(el.find(f"{M}e"))
        sub = _omml_children_latex(el.find(f"{M}sub"))
        return f"{base}_{{{sub}}}"
    if tag == f"{M}f":
        num = _omml_children_latex(el.find(f"{M}num"))
        den = _omml_children_latex(el.find(f"{M}den"))
        return f"\\frac{{{num}}}{{{den}}}"
    # containers (oMath, e, d, …): recurse over children
    return _omml_children_latex(el)


def _omml_children_latex(el) -> str:
    if el is None:
        return ""
    return "".join(_omml_to_latex(c) for c in el)


# ---------------------------------------------------------------------------
# document.xml → HTML
# ---------------------------------------------------------------------------

def _esc(text: str) -> str:
    return _html.escape(text, quote=False)


def _run_html(run, rels: dict) -> str:
    """One w:r → inline HTML (text with b/i wraps, breaks, images)."""
    parts: list[str] = []
    rpr = run.find(f"{W}rPr")
    bold = rpr is not None and rpr.find(f"{W}b") is not None
    ital = rpr is not None and rpr.find(f"{W}i") is not None
    for child in run:
        if child.tag == f"{W}t":
            parts.append(_esc(child.text or ""))
        elif child.tag == f"{W}br":
            parts.append("<br/>")
        elif child.tag == f"{W}drawing":
            blip = child.find(f".//{A}blip")
            if blip is not None:
                rid = blip.get(f"{R}embed")
                target = rels.get(rid, "media/image.png")
                parts.append(f'<img src="{_esc(target)}" alt="" />')
    text = "".join(parts)
    if not text:
        return ""
    if bold:
        text = f"<strong>{text}</strong>"
    if ital:
        text = f"<em>{text}</em>"
    return text


def _para_inline_html(p, rels: dict) -> str:
    """Inline content of a w:p: runs, hyperlink-wrapped runs, OMML math."""
    parts: list[str] = []
    for child in p:
        if child.tag == f"{W}r":
            parts.append(_run_html(child, rels))
        elif child.tag == f"{W}hyperlink":
            inner = "".join(
                _run_html(r, rels) for r in child.findall(f"{W}r")
            )
            href = rels.get(child.get(f"{R}id"))
            if href and inner:
                parts.append(f'<a href="{_esc(href)}">{inner}</a>')
            else:
                parts.append(inner)  # anchor-less link degrades to text
        elif child.tag in (f"{M}oMath", f"{M}oMathPara"):
            latex = _omml_to_latex(child)
            # pandoc's default/mathjax DOCX math output is span.math —
            # the kernel's T6 span-math mode (html_processor.py:322-329)
            parts.append(f'<span class="math inline">{_esc(latex)}</span>')
    return "".join(parts)


def _para_style(p) -> str | None:
    ppr = p.find(f"{W}pPr")
    if ppr is None:
        return None
    style = ppr.find(f"{W}pStyle")
    return style.get(f"{W}val") if style is not None else None


def _para_num_id(p) -> str | None:
    """numId of a list paragraph (w:pPr/w:numPr/w:numId), else None."""
    num = p.find(f"{W}pPr/{W}numPr/{W}numId")
    return num.get(f"{W}val") if num is not None else None


def _read_num_formats(zf: zipfile.ZipFile) -> dict:
    """numId → 'bullet' | numbered, from word/numbering.xml (numId →
    abstractNumId → level-0 numFmt).  Missing part → every list bullet,
    pandoc's own fallback for packages without numbering definitions."""
    try:
        data = zf.read("word/numbering.xml")
    except KeyError:
        return {}
    root = ET.fromstring(data)
    abstract_fmt = {}
    for an in root.findall(f"{W}abstractNum"):
        lvl0 = an.find(f"{W}lvl[@{W}ilvl='0']/{W}numFmt")
        if lvl0 is None:
            lvl0 = an.find(f"{W}lvl/{W}numFmt")
        abstract_fmt[an.get(f"{W}abstractNumId")] = (
            lvl0.get(f"{W}val") if lvl0 is not None else "bullet"
        )
    fmts = {}
    for num in root.findall(f"{W}num"):
        aid = num.find(f"{W}abstractNumId")
        if aid is not None:
            fmts[num.get(f"{W}numId")] = abstract_fmt.get(
                aid.get(f"{W}val"), "bullet"
            )
    return fmts


def _para_html(p, rels: dict) -> str:
    inner = _para_inline_html(p, rels)
    style = _para_style(p) or ""
    if style.startswith("Heading") and style[7:].isdigit():
        level = min(6, max(1, int(style[7:])))
        return f"<h{level}>{inner}</h{level}>"
    if not inner:
        return ""  # empty paragraph → no block (pandoc drops them)
    return f"<p>{inner}</p>"


def _cell_html(tc, rels: dict, header: bool) -> str:
    inner = " ".join(
        filter(None, (_para_inline_html(p, rels) for p in tc.findall(f"{W}p")))
    )
    tag = "th" if header else "td"
    return f"<{tag}>{inner}</{tag}>"


def _table_html(tbl, rels: dict) -> str:
    rows: list[str] = []
    for tr in tbl.findall(f"{W}tr"):
        trpr = tr.find(f"{W}trPr")
        header = trpr is not None and trpr.find(f"{W}tblHeader") is not None
        cells = "".join(
            _cell_html(tc, rels, header) for tc in tr.findall(f"{W}tc")
        )
        rows.append(f"<tr>{cells}</tr>")
    return "<table>" + "".join(rows) + "</table>"


def _read_rels(zf: zipfile.ZipFile) -> dict:
    """rId → target (e.g. 'media/image1.png') from document.xml.rels."""
    try:
        data = zf.read("word/_rels/document.xml.rels")
    except KeyError:
        return {}
    rels = {}
    for rel in ET.fromstring(data).findall(f"{REL}Relationship"):
        rels[rel.get("Id")] = rel.get("Target")
    return rels


def decode_docx(payload: bytes) -> str:
    """DOCX bytes → HTML string (the pandoc stage, stdlib-only).

    Raises ``ValueError`` on null/non-zip payloads — callers (the Arrow
    kernel) contain that per row, matching the reference's per-document
    error containment (``document_converter.py:95-118``)."""
    if payload is None:
        raise ValueError("null payload")
    if not isinstance(payload, (bytes, bytearray)):
        raise ValueError(f"expected bytes, got {type(payload).__name__}")
    if payload[:2] != b"PK":
        raise ValueError("not a DOCX (zip) payload")
    try:
        with zipfile.ZipFile(io.BytesIO(bytes(payload))) as zf:
            try:
                doc_xml = zf.read("word/document.xml")
            except KeyError:
                raise ValueError("DOCX package missing word/document.xml")
            rels = _read_rels(zf)
            num_fmts = _read_num_formats(zf)
        root = ET.fromstring(doc_xml)
    except (zipfile.BadZipFile, ET.ParseError) as exc:
        # keep the documented per-row containment contract: corrupt
        # packages / malformed XML surface as ValueError, never as
        # library-specific exceptions that escape a caller's catch
        raise ValueError(f"corrupt DOCX package: {exc}") from exc
    body = root.find(f"{W}body")
    if body is None:
        return ""
    blocks: list[str] = []
    items: list[str] = []  # open list run (consecutive numPr paragraphs)
    list_tag = "ul"

    def flush_list():
        if items:
            lis = "".join(f"<li>{i}</li>" for i in items)
            blocks.append(f"<{list_tag}>{lis}</{list_tag}>")
            items.clear()

    for child in body:
        if child.tag == f"{W}p":
            num_id = _para_num_id(child)
            if num_id is not None:
                tag = (
                    "ul" if num_fmts.get(num_id, "bullet") == "bullet" else "ol"
                )
                if items and tag != list_tag:
                    flush_list()
                list_tag = tag
                items.append(_para_inline_html(child, rels))
                continue
            flush_list()
            block = _para_html(child, rels)
            if block:
                blocks.append(block)
        elif child.tag == f"{W}tbl":
            flush_list()
            blocks.append(_table_html(child, rels))
    flush_list()
    return "".join(blocks)


# ---------------------------------------------------------------------------
# Deterministic synthetic DOCX builder (tests / oracle queries)
# ---------------------------------------------------------------------------

_CONTENT_TYPES = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
    '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
    '<Default Extension="xml" ContentType="application/xml"/>'
    '<Default Extension="png" ContentType="image/png"/>'
    '<Override PartName="/word/document.xml" ContentType="application/vnd.openxmlformats-officedocument.wordprocessingml.document.main+xml"/>'
    "</Types>"
)

_ROOT_RELS = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
    '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="word/document.xml"/>'
    "</Relationships>"
)

_DOC_RELS = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
    '<Relationship Id="rId7" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/image" Target="media/image1.png"/>'
    '<Relationship Id="rId8" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/hyperlink" Target="https://example.com/doc" TargetMode="External"/>'
    "</Relationships>"
)

_NUMBERING = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<w:numbering xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main">'
    '<w:abstractNum w:abstractNumId="0"><w:lvl w:ilvl="0"><w:numFmt w:val="bullet"/></w:lvl></w:abstractNum>'
    '<w:abstractNum w:abstractNumId="1"><w:lvl w:ilvl="0"><w:numFmt w:val="decimal"/></w:lvl></w:abstractNum>'
    '<w:num w:numId="1"><w:abstractNumId w:val="0"/></w:num>'
    '<w:num w:numId="2"><w:abstractNumId w:val="1"/></w:num>'
    "</w:numbering>"
)

_W_NS = 'xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main"'
_M_NS = 'xmlns:m="http://schemas.openxmlformats.org/officeDocument/2006/math"'
_R_NS = 'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"'
_A_NS = 'xmlns:a="http://schemas.openxmlformats.org/drawingml/2006/main"'


def _wp(text: str, style: str | None = None, bold: bool = False) -> str:
    ppr = f'<w:pPr><w:pStyle w:val="{style}"/></w:pPr>' if style else ""
    rpr = "<w:rPr><w:b/></w:rPr>" if bold else ""
    return f"<w:p>{ppr}<w:r>{rpr}<w:t>{text}</w:t></w:r></w:p>"


def _wtc(text: str) -> str:
    return f"<w:tc><w:p><w:r><w:t>{text}</w:t></w:r></w:p></w:tc>"


def _img_para() -> str:
    return (
        "<w:p><w:r><w:drawing><a:blip r:embed=\"rId7\"/></w:drawing></w:r>"
        "<w:r><w:t>caption</w:t></w:r></w:p>"
    )


def _math_para(base: str, sup: str) -> str:
    return (
        f"<w:p><w:r><w:t>before </w:t></w:r>"
        f"<m:oMath><m:sSup><m:e><m:r><m:t>{base}</m:t></m:r></m:e>"
        f"<m:sup><m:r><m:t>{sup}</m:t></m:r></m:sup></m:sSup>"
        f"<m:r><m:t>+1</m:t></m:r></m:oMath>"
        f"<w:r><w:t> after</w:t></w:r></w:p>"
    )


def _list_para(text: str, num_id: int) -> str:
    return (
        f'<w:p><w:pPr><w:numPr><w:ilvl w:val="0"/>'
        f'<w:numId w:val="{num_id}"/></w:numPr></w:pPr>'
        f"<w:r><w:t>{text}</w:t></w:r></w:p>"
    )


def _link_para(text: str, tail: str) -> str:
    return (
        f'<w:p><w:r><w:t>see </w:t></w:r>'
        f'<w:hyperlink r:id="rId8"><w:r><w:t>{text}</w:t></w:r></w:hyperlink>'
        f"<w:r><w:t> {tail}</w:t></w:r></w:p>"
    )


def synth_docx_xml(doc_id: int) -> str:
    """Deterministic word/document.xml for *doc_id* — six modes covering
    heading/para, bold+image, header table, OMML superscript math,
    bullet+numbered lists (numbering.xml-resolved), and hyperlinks."""
    a, b, m = doc_id % 7, doc_id % 5, doc_id % 6
    if m == 0:
        body = _wp(f"Title{a}", style="Heading1") + _wp(f"body{b}")
    elif m == 1:
        body = _wp(f"bold{a}", bold=True) + _img_para() + _wp(f"tail{b}")
    elif m == 2:
        tbl = (
            "<w:tbl>"
            "<w:tr><w:trPr><w:tblHeader/></w:trPr>"
            + _wtc("hA") + _wtc("hB") + "</w:tr>"
            "<w:tr>" + _wtc(f"a{a}") + _wtc(f"b{b}") + "</w:tr>"
            "</w:tbl>"
        )
        body = _wp(f"pre{a}") + tbl + _wp("post")
    elif m == 3:
        body = _math_para("x", str(b)) + _wp(f"end{a}")
    elif m == 4:
        # bullet run then numbered run: exercises the tag-switch flush
        body = (
            _wp(f"pre{a}")
            + _list_para(f"bulA{a}", 1)
            + _list_para(f"bulB{b}", 1)
            + _list_para(f"numA{a}", 2)
            + _list_para(f"numB{b}", 2)
            + _wp("fin")
        )
    else:
        body = _link_para(f"link{a}", f"end{b}")
    return (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f"<w:document {_W_NS} {_M_NS} {_R_NS} {_A_NS}>"
        f"<w:body>{body}</w:body></w:document>"
    )


def synth_docx_bytes(doc_id: int) -> bytes:
    """Deterministic in-memory .docx (zip) for *doc_id* — fixed timestamps
    and STORED compression so the bytes themselves are reproducible."""
    buf = io.BytesIO()
    parts = [
        ("[Content_Types].xml", _CONTENT_TYPES),
        ("_rels/.rels", _ROOT_RELS),
        ("word/document.xml", synth_docx_xml(doc_id)),
        ("word/_rels/document.xml.rels", _DOC_RELS),
        ("word/numbering.xml", _NUMBERING),
        ("word/media/image1.png", "PNGSTUB"),
    ]
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_STORED) as zf:
        for name, data in parts:
            info = zipfile.ZipInfo(name, date_time=(2020, 1, 1, 0, 0, 0))
            zf.writestr(info, data)
    return buf.getvalue()
