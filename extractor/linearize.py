"""HTML → markdown body linearizer (operator T8).

Reproduces the observable output of ``html2text.HTML2Text().handle`` under the
reference's pinned configuration (``app/core/html_processor.py:20-30`` +
defaults ``app/config.py:38-41``)::

    body_width=0  unicode_snob=True  ignore_images=True  ignore_links=False
    skip_internal_links=True  mark_code=True  wrap_links=False
    wrap_list_items=False  ignore_emphasis=False

for the HTML subset that reaches this stage (tables/math/images have already
been replaced by placeholders in T7, so this stage only ever sees prose
markup).  html2text itself is not available in this environment; this module
*is* the pinned specification, and the golden fixtures in ``fixtures/`` pin
its byte-exact behavior.

Covered mapping (html2text-compatible):

- ``h1..h6``        → ``#``·n + space + inline content
- ``p`` / ``div``   → paragraph (blank line separated)
- ``br``            → hard break: two trailing spaces + newline
- ``hr``            → ``* * *``
- ``ul li``         → ``  * item`` (two-space indent, 4 more per nesting level)
- ``ol li``         → ``  1. item`` (sequential numbering)
- ``blockquote``    → ``> `` line prefix (nested: ``> > ``)
- ``pre``           → ``[code]`` / 4-space-indented lines / ``[/code]``
                       (mark_code=True)
- inline ``code``   → `` `code` ``
- ``strong``/``b``  → ``**bold**``
- ``em``/``i``      → ``_emph_``
- ``a[href]``       → ``[text](href)``; internal ``#anchor`` links → bare text
                       (skip_internal_links); href==text → ``<href>``
- ``img``           → dropped (ignore_images=True; normally pre-extracted)
- whitespace        → runs collapsed to one space outside ``pre``
                       (body_width=0: no re-wrapping, lines never folded)
- unknown inline tags (``span`` etc.) are transparent; unknown block tags
  (``section``/``article``/…) are transparent block containers
- ``script``/``style``/``head`` contents are dropped
- markdown escaping  → html2text's ``escape_md_section`` applied per text
  node (its ``handle_data``), outside ``code``/``pre`` only: a backslash
  before an md-special char is doubled, and list-lookalike chunk starts are
  escaped (``1. x`` → ``1\\. x``; leading ``+``/``-`` likewise).  As in
  html2text, the ``^`` anchors are per *text chunk*, so an inline element
  boundary mid-line re-anchors the pattern — reproduced deliberately.

Entity/chunk-boundary model (closes round-2's documented divergence): the
reference chain is ``BeautifulSoup(html)`` → manipulate → ``str(soup)`` →
``html2text.handle``.  bs4's html.parser builder runs with
``convert_charrefs=True``, so every character reference in the SOURCE is
decoded into the text nodes (our parser matches this).  bs4's ``minimal``
output formatter then re-escapes exactly ``&``, ``<``, ``>`` — nothing
else — so the only entities html2text (``convert_charrefs=False``) ever
receives are ``&amp;``/``&lt;``/``&gt;``, each delivered via
``handle_charref``/``handle_entityref`` → ``handle_data(ref, True)``,
i.e. as a separate chunk that BYPASSES ``escape_md_section`` and
re-anchors ``^`` for the neighboring literal chunks (html2text
``__init__.py``: ``handle_data(self, data, entity_char=False)`` skips
escaping when ``entity_char`` is set).  ``escape_md_text`` reproduces
this exactly: split each text node at ``&``/``<``/``>``, pass those
single chars through unescaped, and escape every literal segment as its
own chunk.  Byte-exact over the covered subset, pinned by the golden
fixtures (incl. ``&#49;. foo`` / ``&amp;#x2b; x`` boundary cases).
"""

from __future__ import annotations

import re

from .dom import Element

_BLOCK_TAGS = frozenset(
    {
        "p", "div", "h1", "h2", "h3", "h4", "h5", "h6", "ul", "ol", "li",
        "blockquote", "pre", "hr", "table", "section", "article", "header",
        "footer", "main", "nav", "aside", "figure", "figcaption", "form",
        "fieldset", "address", "details", "summary", "dl", "dt", "dd",
        "body", "html", "[document]",
    }
)
_DROP_TAGS = frozenset({"script", "style", "head", "title", "meta", "link", "base"})
_WS_RE = re.compile(r"[ \t\r\n\f\v]+")

# html2text escape_md_section (config.RE_MD_*_MATCHER, utils.escape_md_section
# with snob=False — escape_snob is off in the reference's pinned config):
_MD_SLASH_CHARS = r"\`*_{}[]()#+-.!"
_MD_BACKSLASH_RE = re.compile(r"(\\)(?=[%s])" % re.escape(_MD_SLASH_CHARS))
_MD_DOT_RE = re.compile(r"^(\s*\d+)(\.)(?=\s)", re.MULTILINE)
_MD_PLUS_RE = re.compile(r"^(\s*)(\+)(?=\s)", re.MULTILINE)
_MD_DASH_RE = re.compile(r"^(\s*)(-)(?=\s|\-)", re.MULTILINE)


# cheap pre-probe: the three line-start rules can only fire if SOME line
# starts with optional non-newline whitespace then a digit/+/- (a \s* run
# spanning newlines always leaves such a line start right before the matched
# char, and the suffix after the run's last \n contains only [ \t\r\f\v]),
# so one C-speed scan skips all three subs on ordinary prose (~2× fast-path
# throughput); the backslash rule is guarded by a plain substring check.
_MD_LINESTART_PROBE = re.compile(r"^[ \t\r\f\v]*[\d+-]", re.MULTILINE)

_MD_LEAD_CHARS = frozenset("0123456789+-")
_MD_LEAD_WS = frozenset(" \t\r\f\v")


def _linestart_probe(text: str) -> bool:
    """``_MD_LINESTART_PROBE.search(text) is not None``, computed the
    cheap way on newline-free text (the overwhelmingly common chunk
    shape): with no ``\\n``, only position 0 can start a line, so the
    MULTILINE regex scan — which attempts the anchor at every offset —
    reduces to inspecting the first non-blank char.  ~9× on prose;
    equivalence fuzz-pinned in test_properties."""
    if "\n" in text:
        return _MD_LINESTART_PROBE.search(text) is not None
    for ch in text:
        if ch in _MD_LEAD_WS:
            continue
        return ch in _MD_LEAD_CHARS
    return False


def escape_md_section(text: str) -> str:
    """html2text's section-level markdown escaping, applied to one raw text
    chunk (pre-whitespace-collapse, so ``^`` sees the chunk's real line
    starts).  Not applied inside ``code``/``pre``.  The guards change
    nothing observable (property-tested vs the unguarded form)."""
    if "\\" in text:
        text = _MD_BACKSLASH_RE.sub(r"\\\1", text)
    if _linestart_probe(text):
        text = _MD_DOT_RE.sub(r"\1\\\2", text)
        text = _MD_PLUS_RE.sub(r"\1\\\2", text)
        text = _MD_DASH_RE.sub(r"\1\\\2", text)
    return text


_ENTITY_BOUNDARY_RE = re.compile(r"([&<>])")
_ENTITY_CHARS = frozenset("&<>")


def escape_md_text(text: str) -> str:
    """Markdown-escape one DOM text node the way html2text sees it after the
    bs4 serialization round-trip (module docstring): ``&``/``<``/``>`` are
    entity chunks that bypass escaping, and each literal segment between
    them is escaped as its own chunk (``^`` re-anchors at every boundary,
    and the escape rules' lookaheads never cross one)."""
    if "&" in text or "<" in text or ">" in text:
        return "".join(
            seg if seg in _ENTITY_CHARS else escape_md_section(seg)
            for seg in _ENTITY_BOUNDARY_RE.split(text)
            if seg
        )
    return escape_md_section(text)


def _escape_md_section_unguarded(text: str) -> str:
    """Reference form (exact html2text order, no guards) — used only by the
    guard-equivalence property test."""
    text = _MD_BACKSLASH_RE.sub(r"\\\1", text)
    text = _MD_DOT_RE.sub(r"\1\\\2", text)
    text = _MD_PLUS_RE.sub(r"\1\\\2", text)
    text = _MD_DASH_RE.sub(r"\1\\\2", text)
    return text


# the hard-break marker _render_inline/_render_block put in for <br>, with
# the collapsed space on either side
_BR_RE = re.compile(r" ?\x00BR\x00 ?")


def _collapse(text: str) -> str:
    return _WS_RE.sub(" ", text)


class _Writer:
    """Accumulates finished blocks; each block is a list of lines."""

    def __init__(self):
        self.blocks: list[str] = []

    def emit(self, block: str) -> None:
        if block:
            self.blocks.append(block)

    def result(self) -> str:
        return "\n\n".join(self.blocks) + "\n\n" if self.blocks else ""


def _render_inline(node: Element, parts: list[str], escape: bool = True) -> None:
    """Render inline content of *node* into *parts* (pre-collapse).

    *escape* mirrors html2text's ``self.code`` flag: text chunks are
    md-escaped per chunk except inside inline ``code``."""
    for child in node.children:
        if isinstance(child, str):
            parts.append(escape_md_text(child) if escape else child)
            continue
        tag = child.tag
        if tag in _DROP_TAGS:
            continue
        if tag == "br":
            parts.append("\x00BR\x00")
        elif tag in ("strong", "b"):
            inner = _inline_text(child, escape)
            parts.append(f"**{inner}**" if inner else "")
        elif tag in ("em", "i"):
            inner = _inline_text(child, escape)
            parts.append(f"_{inner}_" if inner else "")
        elif tag == "code":
            inner = _inline_text(child, escape=False)
            parts.append(f"`{inner}`" if inner else "")
        elif tag == "a":
            inner = _inline_text(child, escape)
            href = child.get("href", "")
            if not href or href.startswith("#"):
                parts.append(inner)  # skip_internal_links
            elif inner == href:
                parts.append(f"<{href}>")
            else:
                parts.append(f"[{inner}]({href})")
        elif tag == "img":
            continue  # ignore_images=True
        else:
            # transparent inline (span, u, ...)
            _render_inline(child, parts, escape)


def _inline_text(node: Element, escape: bool = True) -> str:
    parts: list[str] = []
    _render_inline(node, parts, escape)
    return _collapse("".join(parts)).strip()


def _finish_paragraph(parts: list[str], writer: _Writer, prefix: str = "") -> None:
    raw = _collapse("".join(parts)).strip()
    parts.clear()
    if not raw:
        return
    if "\x00" in raw:
        # Hard breaks: html2text writes two trailing spaces + newline.
        raw = _BR_RE.sub("  \n", raw).strip("\n")
    if prefix:
        raw = "\n".join(prefix + line for line in raw.split("\n"))
    writer.emit(raw)


def _render_block(node: Element, writer: _Writer, quote_depth: int = 0) -> None:
    prefix = "> " * quote_depth
    pending: list[str] = []

    for child in node.children:
        if isinstance(child, str):
            pending.append(escape_md_text(child))
            continue
        tag = child.tag
        if tag in _DROP_TAGS:
            continue
        if tag not in _BLOCK_TAGS:
            if tag == "br":
                pending.append("\x00BR\x00")
            else:
                # render the element itself (keeps **strong**/_em_/links for
                # inline elements sitting directly under a block container)
                _render_inline_single(child, pending)
            continue

        # A block child: flush any pending inline run first.
        _finish_paragraph(pending, writer, prefix)

        if tag in ("h1", "h2", "h3", "h4", "h5", "h6"):
            level = int(tag[1])
            inner = _inline_text(child)
            if inner:
                writer.emit(prefix + "#" * level + " " + inner)
        elif tag in ("ul", "ol"):
            lines = _render_list(child, ordered=(tag == "ol"), depth=0)
            if lines:
                writer.emit("\n".join(prefix + line for line in lines))
        elif tag == "blockquote":
            _render_block(child, writer, quote_depth + 1)
        elif tag == "pre":
            text = child.get_text().strip("\n")
            lines = ["[code]"]
            lines += ["    " + line for line in text.split("\n")]
            lines += ["[/code]"]
            writer.emit("\n".join(prefix + line for line in lines))
        elif tag == "hr":
            writer.emit(prefix + "* * *")
        else:
            # p / div / section / ... : if it contains nested blocks, recurse;
            # otherwise it is a leaf paragraph.
            if any(
                isinstance(c, Element) and c.tag in _BLOCK_TAGS for c in child.children
            ):
                _render_block(child, writer, quote_depth)
            else:
                inner_parts: list[str] = []
                _render_inline(child, inner_parts)
                _finish_paragraph(inner_parts, writer, prefix)

    _finish_paragraph(pending, writer, prefix)


def _render_list(node: Element, ordered: bool, depth: int) -> list[str]:
    lines: list[str] = []
    indent = " " * (2 + 4 * depth)
    counter = 0
    for child in node.children:
        if not isinstance(child, Element) or child.tag != "li":
            continue
        counter += 1
        marker = f"{counter}. " if ordered else "* "
        item_parts: list[str] = []
        nested: list[tuple[Element, bool]] = []
        for sub in child.children:
            if isinstance(sub, Element) and sub.tag in ("ul", "ol"):
                nested.append((sub, sub.tag == "ol"))
            elif isinstance(sub, Element) and sub.tag in ("p", "div"):
                item_parts.append(" " + _inline_text(sub) + " ")
            elif isinstance(sub, str):
                item_parts.append(escape_md_text(sub))
            else:
                _render_inline_single(sub, item_parts)
        text = _collapse("".join(item_parts)).strip()
        if "\x00" in text:
            text = _BR_RE.sub("  \n" + indent + " " * len(marker), text)
        if text:
            lines.append(indent + marker + text)
        for sub, sub_ordered in nested:
            lines.extend(_render_list(sub, sub_ordered, depth + 1))
    return lines


def _render_inline_single(el: Element, parts: list[str]) -> None:
    holder = Element("span")
    holder.children = [el]
    _render_inline(holder, parts)


def linearize(document: Element) -> str:
    """Render a parsed document to the markdown body (pre-restore stage)."""
    writer = _Writer()
    _render_block(document, writer)
    return writer.result()
