"""Minimal HTML DOM on stdlib ``html.parser``.

Self-contained replacement for the subset of BeautifulSoup behavior the
reference extraction core depends on (bs4 is not available in this
environment).  Mirrored behaviors, each pinned by the reference code:

- document-order ``find_all`` over tag names with an optional per-class-token
  callable filter (``app/core/html_processor.py:373``)
- ``get_text(strip=True)`` = strip each text node, drop empties, join with ``""``
  (``app/core/html_processor.py:267,300``)
- ``replace_with(text)`` detaches the node; calling it again on a detached node
  raises ``ValueError`` exactly like bs4 — the reference's duplicate-``<math>``
  quirk (``app/core/html_processor.py:373-374,378-382``) depends on this
- ``str(node)`` serializes back to HTML (math fallback,
  ``app/core/html_processor.py:338``)

Design note (scale): this module is pure Python and runs *inside* the Arrow
batch kernel on executors; it holds one document at a time and allocates
O(document size), never O(partition size).
"""

from __future__ import annotations

import re as _re

from html import escape
from html import unescape as _unescape
from html.parser import HTMLParser
from html.parser import attrfind_tolerant as _attrfind_tolerant
from html.parser import tagfind_tolerant as _tagfind_tolerant

VOID_ELEMENTS = frozenset(
    {
        "area", "base", "br", "col", "embed", "hr", "img", "input",
        "link", "meta", "param", "source", "track", "wbr",
    }
)

# Elements whose open tag implicitly closes a still-open element of the same
# (or listed) kind — enough leniency for sloppy real-world transcript HTML.
_IMPLICIT_CLOSERS = {
    "li": {"li"},
    "tr": {"tr", "td", "th"},
    "td": {"td", "th"},
    "th": {"td", "th"},
    "p": {"p"},
    "option": {"option"},
}


class Element:
    """One DOM element: tag, attrs (ordered), children (Element | str)."""

    __slots__ = ("tag", "attrs", "children", "parent")

    def __init__(self, tag: str, attrs=None, parent=None):
        self.tag = tag
        # A dict argument is taken by reference (builders always pass a
        # fresh one); any other iterable of pairs is copied.
        self.attrs = (
            attrs if type(attrs) is dict else (dict(attrs) if attrs else {})
        )
        self.children: list = []
        self.parent = parent

    # -- bs4-compatible surface -------------------------------------------

    def get(self, name: str, default=None):
        return self.attrs.get(name, default)

    @property
    def classes(self) -> list[str]:
        raw = self.attrs.get("class")
        return raw.split() if raw else []

    def iter_elements(self):
        """Depth-first, document-order iteration over descendant Elements
        (iterative — no recursion, O(1) per element regardless of depth).
        Child lists are snapshotted as each node is visited; callers that
        mutate the tree materialize results first (find_all returns a list)."""
        stack = self.children[::-1]
        pop = stack.pop
        extend = stack.extend
        while stack:
            node = pop()
            if isinstance(node, Element):
                yield node
                children = node.children
                if children:
                    extend(children[::-1])

    def is_attached_to(self, root: "Element") -> bool:
        """True if *root* is reachable via the parent chain (i.e. this node
        has not been detached by replace_with somewhere above)."""
        node = self
        while node is not None:
            if node is root:
                return True
            node = node.parent
        return False

    def find_all(self, names) -> list:
        """Document-order descendants with tag in *names* (a tag name or a
        sequence of them).

        The walk is ``iter_elements``' stack loop, inlined: this is the
        table converter's per-row and per-cell call.
        """
        if isinstance(names, str):
            names = (names,)
        out = []
        stack = self.children[::-1]
        pop = stack.pop
        extend = stack.extend
        while stack:
            el = pop()
            if not isinstance(el, Element):
                continue
            children = el.children
            if children:
                extend(children[::-1])
            if el.tag in names:
                out.append(el)
        return out

    def find(self, name: str, **attr_eq):
        for el in self.iter_elements():
            if el.tag == name and all(el.attrs.get(k) == v for k, v in attr_eq.items()):
                return el
        return None

    def get_text(self, strip: bool = False) -> str:
        parts: list[str] = []
        self._collect_text(parts)
        if strip:
            # empty strips add nothing to the join
            return "".join(map(str.strip, parts))
        return "".join(parts)

    def _collect_text(self, parts: list) -> None:
        for child in self.children:
            if isinstance(child, Element):
                child._collect_text(parts)
            else:
                parts.append(child)

    def replace_with(self, replacement) -> None:
        if self.parent is None:
            # bs4 PageElement.replace_with raises exactly in this situation;
            # the reference's duplicate-<math> handling relies on it.
            raise ValueError(
                "Cannot replace one element with another when the "
                "element to be replaced is not part of a tree."
            )
        idx = self.parent.children.index(self)
        self.parent.children[idx] = replacement
        if isinstance(replacement, Element):
            replacement.parent = self.parent
        self.parent = None

    # -- serialization -----------------------------------------------------

    def __str__(self) -> str:
        return self.to_html()

    def to_html(self) -> str:
        attrs = "".join(
            f' {k}="{escape(v, quote=True)}"' for k, v in self.attrs.items()
        )
        if self.tag in VOID_ELEMENTS:
            return f"<{self.tag}{attrs}/>"
        inner = "".join(
            c.to_html() if isinstance(c, Element) else escape(c, quote=False)
            for c in self.children
        )
        return f"<{self.tag}{attrs}>{inner}</{self.tag}>"


# DOM depth cap: real documents stay < ~50; adversarial nesting beyond this
# would (a) blow Python's recursion limit in text collection — the same
# observable failure bs4-based code has — and (b) make nested-table
# conversion O(depth^3) (measured: depth 480 ≈ 37 s/doc, depth 150 ≈ 1 s).
# Fail fast at parse time instead (contained as a quarantine error row).
MAX_DOM_DEPTH = 150


def _too_deep() -> RecursionError:
    return RecursionError(
        f"maximum recursion depth exceeded (DOM depth > {MAX_DOM_DEPTH})"
    )


class _TreeBuilder(HTMLParser):
    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.root = Element("[document]")
        self.stack = [self.root]

    def updatepos(self, i, j):
        # html.parser tracks (lineno, offset) for error reporting on every
        # chunk; this DOM never reads positions, so skip the line counting
        # (the return value still advances the parse cursor).
        return j

    def handle_starttag(self, tag, attrs):
        if len(self.stack) > MAX_DOM_DEPTH:
            raise _too_deep()
        closers = _IMPLICIT_CLOSERS.get(tag)
        if closers:
            while len(self.stack) > 1 and self.stack[-1].tag in closers:
                self.stack.pop()
        el = Element(
            tag,
            {k: (v if v is not None else "") for k, v in attrs} if attrs else {},
            None,
        )
        top = self.stack[-1]
        el.parent = top
        top.children.append(el)
        if tag not in VOID_ELEMENTS:
            self.stack.append(el)

    def handle_startendtag(self, tag, attrs):
        el = Element(tag, {k: (v if v is not None else "") for k, v in attrs}, None)
        top = self.stack[-1]
        el.parent = top
        top.children.append(el)

    def handle_endtag(self, tag):
        if tag in VOID_ELEMENTS:
            return
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].tag == tag:
                del self.stack[i:]
                return
        # Unmatched close tag: ignore (lenient, like html.parser-backed bs4).

    def handle_data(self, data):
        if data:
            self.stack[-1].children.append(data)


# ---------------------------------------------------------------------------
# Fast tokenizer (performance only — semantics are the stdlib parser's)
#
# ``HTMLParser.goahead`` spends ~half the extraction kernel's time in generic
# chunk scanning (interesting-char search, position bookkeeping, per-construct
# dispatch).  Real transcript markup is overwhelmingly plain start/end tags
# and text runs, so one capturing ``re.split`` tokenizes the common case into
# alternating text runs and tag texts, and the loop below builds the tree on
# a local element stack — no ``HTMLParser`` instance and no ``handle_*``
# dispatch; the implicit-closer, void-element and depth-cap rules are the
# shared tables above, applied exactly as ``_TreeBuilder`` applies them.
# Parity contract:
#
# - the tokenizer only accepts documents made of (a) text runs containing no
#   ``<`` and (b) start/end tags; a start tag carrying anything beyond its
#   name is re-parsed with CPython's OWN ``tagfind_tolerant``/
#   ``attrfind_tolerant`` regexes (imported from ``html.parser``) on the
#   matched tag text, reproducing ``parse_starttag``'s attribute loop,
#   quote-stripping, entity-unescaping and lowercasing bit for bit;
# - ANY construct outside that subset — comments, declarations, processing
#   instructions, bogus ``<``, script/style CDATA, junk-in-start-tag,
#   incomplete tags, and an ``=`` followed by a quote that the tag text
#   never closes (the stdlib would scan past this tag's ``>`` for the
#   closing quote) — returns None and the caller re-parses with the stdlib
#   ``HTMLParser`` path, which is authoritative.  Falling back is always
#   correct; the fast path is only taken when it is provably equivalent.
#
# Equivalence is pinned by tests/test_dom_fast.py (tree-identical — tags,
# attrs, exact text-node chunking — vs the stdlib builder on golden fixture
# inputs, hand quirks, hypothesis-fuzzed soup and a transcripts corpus) and
# by tests/test_kernel_corpus_digest.py (whole-kernel output).

# One combined scan: a '<' not opening a plain start/end tag, or any
# script/style mention (CDATA content model) — either sends the document
# to the stdlib parser.
_FAST_GATE = _re.compile(r"<(?![a-zA-Z]|/[a-zA-Z])|(?i:</?(?:script|style)\b)")
# The single capturing group makes ``split`` return [text, tag, text, ...,
# tag, text]: end tags, and start tags whose body may hold quoted values.
_FAST_SPLIT = _re.compile(
    r"(<(?:"
    r"/\s*[a-zA-Z][-.a-zA-Z0-9:_]*\s*"
    r"|[a-zA-Z][^\t\n\r\f />\x00]*(?:\"[^\"]*\"|'[^']*'|[^>\"'])*"
    r")>)"
)
# After a value-less attribute name: an '=' whose value failed to match,
# i.e. a quote the tag text never closes.
_UNCLOSED_VALUE = _re.compile(r"\s*=")


def _fast_parse(text: str):
    """Tokenize *text* into a document tree, or return None when any
    construct falls outside the verified common-case subset (caller falls
    back to the stdlib parser).  RecursionError (DOM depth cap) propagates —
    both paths raise it identically."""
    if _FAST_GATE.search(text):
        return None
    tokens = _FAST_SPLIT.split(text)
    tokens.append(None)  # pairs the last text run with no tag
    root = Element("[document]")
    stack = [root]
    top = root
    it = iter(tokens)
    for seg, tok in zip(it, it):
        if seg:
            if "<" in seg:  # a '<' the split regex skipped: not our subset
                return None
            if "&" in seg:
                seg = _unescape(seg)
            if seg:
                top.children.append(seg)
        if tok is None:
            break
        if tok[1] == "/":
            # handle_endtag: close the innermost open element of this name
            # (void elements never open), ignore an unmatched close tag
            tag = tok[2:-1].strip().lower()
            if top.tag == tag:
                stack.pop()
                top = stack[-1]
            elif tag not in VOID_ELEMENTS:
                for i in range(len(stack) - 2, 0, -1):
                    if stack[i].tag == tag:
                        del stack[i:]
                        top = stack[-1]
                        break
        else:
            inner = tok[1:-1]
            # Attribute-free shortcut, the dominant case (<p>, <td>, <h2>):
            # an alphanumeric body is all name, so parse_starttag's tagfind/
            # attrfind matches reduce to (lowercased name, no attrs, end
            # '>'); a trailing '/' is the bare self-closing form (<br/>),
            # whose '/' tagfind's trailing consumer never eats (negative
            # lookahead before '>').
            if inner.isalnum():
                tag, attrs, start = inner.lower(), {}, True
            elif inner[-1] == "/" and inner[:-1].isalnum():
                tag, attrs, start = inner[:-1].lower(), {}, False
            else:
                # replicate HTMLParser.parse_starttag exactly, with
                # CPython's own tolerant regexes on the tag text
                tm = _tagfind_tolerant.match(tok, 1)
                k = tm.end()
                tag = tm.group(1).lower()
                attrs = {}
                endpos = len(tok)
                while k < endpos:
                    am = _attrfind_tolerant.match(tok, k)
                    if not am:
                        break
                    attrname, rest, attrvalue = am.group(1, 2, 3)
                    if not rest:
                        if _UNCLOSED_VALUE.match(tok, am.end(1)):
                            return None
                        attrvalue = ""
                    elif (
                        attrvalue[:1] == "'" == attrvalue[-1:]
                        or attrvalue[:1] == '"' == attrvalue[-1:]
                    ):
                        attrvalue = attrvalue[1:-1]
                    if attrvalue:
                        attrvalue = _unescape(attrvalue)
                    # first position, last value — like the stdlib
                    # builder's dict over the (name, value) list
                    attrs[attrname.lower()] = attrvalue
                    k = am.end()
                end = tok[k:].strip()
                if end == ">":
                    start = True
                elif end == "/>":
                    start = False
                else:
                    # junk characters in the start tag — stdlib emits the
                    # raw tag text as data; out of subset, fall back
                    return None
            if start:
                # handle_starttag: depth cap, implicit closers, then push
                # unless void; handle_startendtag does none of these
                if len(stack) > MAX_DOM_DEPTH:
                    raise _too_deep()
                closers = _IMPLICIT_CLOSERS.get(tag)
                if closers:
                    while len(stack) > 1 and stack[-1].tag in closers:
                        stack.pop()
                    top = stack[-1]
                el = Element(tag, attrs, top)
                top.children.append(el)
                if tag not in VOID_ELEMENTS:
                    stack.append(el)
                    top = el
            else:
                top.children.append(Element(tag, attrs, top))
    return root


def parse_html(text: str) -> Element:
    """Parse *text* into a document Element.  Lenient for malformed markup;
    raises ``RecursionError`` only past ``MAX_DOM_DEPTH`` (callers contain
    it as an error row).  Tries the fast tokenizer first; any document
    outside its verified subset re-parses on the stdlib ``HTMLParser``."""
    root = _fast_parse(text)
    if root is not None:
        return root
    builder = _TreeBuilder()
    builder.feed(text)
    builder.close()
    return builder.root
