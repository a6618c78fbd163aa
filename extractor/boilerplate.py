"""Main-content extraction via DOM heuristics (BASELINE.json north-star:
"HTML boilerplate stripping (tag-density + text-to-markup ratio DOM
heuristics a la readability/jusText)").

A deterministic jusText/readability-style classifier, self-contained on the
same stdlib DOM as the converter kernel (public-algorithm reimplementation
from the published descriptions — jusText: Pomikálek 2011 "Removing
boilerplate and duplicate content from web corpora"; readability's
link-density idea):

1. Segment the DOM into **blocks**: maximal text runs under block-level
   elements, splitting at nested block boundaries.
2. Per block compute:
   - ``text_len``        — characters of visible text
   - ``link_density``    — chars of text under <a> / text_len
   - ``tag_density``     — inline tag count / words (tag-density heuristic)
   - ``markup_ratio``    — text chars / (text chars + serialized markup
                            chars) (text-to-markup ratio)
3. Classify (context-free pass, jusText's language-independent mode: no
   stopword list, so a multilingual corpus's main content is not taken
   for boilerplate):
   - ``bad``  if link_density > 0.33, or text too markup-heavy
              (markup_ratio < 0.25), or tag_density > 1.0
   - ``good`` if text_len >= LONG_BLOCK
   - ``near_good`` if text_len >= SHORT_BLOCK
   - else ``short``
4. Context pass: ``near_good`` blocks adjacent to a ``good`` block are
   promoted (jusText's neighbor smoothing, one iteration).
5. ``main_text`` = good+promoted blocks joined by blank lines; headings
   (h1–h6) are kept if the following block is good.

Boilerplate in, prose out — nav menus, footer link farms, and tag-only
chrome are dropped.  Distributed as an ``arrow_stage`` kernel, like the
converter kernel (``strip_boilerplate`` per row); per-row errors contained.
"""

from __future__ import annotations

from dataclasses import dataclass

from .dom import Element, parse_html

LONG_BLOCK = 80
SHORT_BLOCK = 20

_BLOCK_TAGS = frozenset(
    {
        "p", "div", "li", "td", "th", "h1", "h2", "h3", "h4", "h5", "h6",
        "blockquote", "pre", "section", "article", "main", "aside", "header",
        "footer", "nav", "figure", "figcaption", "dd", "dt", "body", "html",
        "[document]", "ul", "ol", "table", "tr", "form",
    }
)
_SKIP_TAGS = frozenset({"script", "style", "head", "title", "noscript"})
_HEADING_TAGS = frozenset({"h1", "h2", "h3", "h4", "h5", "h6"})


@dataclass
class Block:
    text: str
    link_chars: int
    inline_tags: int
    markup_chars: int
    is_heading: bool

    @property
    def text_len(self) -> int:
        return len(self.text)

    @property
    def link_density(self) -> float:
        return self.link_chars / self.text_len if self.text_len else 1.0

    @property
    def tag_density(self) -> float:
        words = max(len(self.text.split()), 1)
        return self.inline_tags / words

    @property
    def markup_ratio(self) -> float:
        total = self.text_len + self.markup_chars
        return self.text_len / total if total else 0.0


def _segment(doc: Element) -> list[Block]:
    """Walk the DOM collecting blocks (maximal inline runs)."""
    blocks: list[Block] = []

    def flush(buf, tag):
        text = " ".join("".join(buf["text"]).split())
        if text:
            blocks.append(
                Block(
                    text=text,
                    link_chars=buf["link"],
                    inline_tags=buf["tags"],
                    markup_chars=buf["markup"],
                    is_heading=tag in _HEADING_TAGS,
                )
            )
        buf["text"], buf["link"], buf["tags"], buf["markup"] = [], 0, 0, 0

    def walk(el: Element, buf, in_link: bool, block_tag: str):
        for child in el.children:
            if isinstance(child, str):
                buf["text"].append(child)
                if in_link:
                    buf["link"] += len(" ".join(child.split()))
                continue
            if child.tag in _SKIP_TAGS:
                continue
            if child.tag in _BLOCK_TAGS:
                flush(buf, block_tag)
                walk(child, buf, in_link, child.tag)
                flush(buf, child.tag)
            else:
                buf["tags"] += 1
                buf["markup"] += 2 * len(child.tag) + 5  # <t></t> overhead
                walk(
                    child, buf, in_link or child.tag == "a", block_tag
                )

    buf = {"text": [], "link": 0, "tags": 0, "markup": 0}
    walk(doc, buf, False, "[document]")
    flush(buf, "[document]")
    return blocks


def _classify(blocks: list[Block]) -> list[str]:
    """Each block's final label: ``good`` blocks are the main text."""
    labels = []
    for b in blocks:
        if b.is_heading:
            labels.append("heading")
        elif (
            b.link_density > 0.33
            or b.markup_ratio < 0.25
            or b.tag_density > 1.0
        ):
            labels.append("bad")
        elif b.text_len >= LONG_BLOCK:
            labels.append("good")
        elif b.text_len >= SHORT_BLOCK:
            labels.append("near_good")
        else:
            labels.append("short")

    # neighbor smoothing (one jusText-style pass over the first labels)
    first = list(labels)
    for i, label in enumerate(first):
        if label == "near_good" and "good" in first[max(0, i - 1) : i + 2]:
            labels[i] = "good"
    # headings survive if the following block is good
    for i, label in enumerate(labels):
        if label == "heading":
            nxt = next((x for x in labels[i + 1 :] if x != "heading"), None)
            labels[i] = "good" if nxt == "good" else "bad"
    return labels


@dataclass
class BoilerplateResult:
    main_text: str | None
    n_blocks: int = 0
    n_good: int = 0
    boilerplate_ratio: float = 0.0
    error: str | None = None


def strip_boilerplate(html: str | None) -> BoilerplateResult:
    if html is None:
        return BoilerplateResult(None, error="null_input")
    try:
        blocks = _segment(parse_html(html))
        labels = _classify(blocks)
        good = [b for b, label in zip(blocks, labels) if label == "good"]
        total_chars = sum(b.text_len for b in blocks) or 1
        kept_chars = sum(b.text_len for b in good)
        return BoilerplateResult(
            main_text="\n\n".join(b.text for b in good),
            n_blocks=len(blocks),
            n_good=len(good),
            boilerplate_ratio=round(1.0 - kept_chars / total_chars, 4),
        )
    except Exception as exc:
        return BoilerplateResult(None, error=f"boilerplate_error: {exc}")
