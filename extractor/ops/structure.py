"""Document-structure side table: the heading outline (h1–h6 hierarchy
with section numbering) extracted by the REAL stdlib DOM parser
(``extractor/dom.py``) — the navigation/TOC companion to the kernel's
inline ``_toc_block`` rendering (which flattens the outline into the
markdown body; this op surfaces it as data, the same relationship
``ops/links.py`` has to the linearizer's inline ``[text](href)``).

Use cases in a curation pipeline: section-aware chunking (split on the
outline, not a token count), structure-based quality signals (documents
with no headings over N tokens read as boilerplate dumps), and
hierarchical citation anchors for retrieval.

Scale posture (100 TB): one map-only Arrow stage — ``arrow_stage``
parses each batch and yields the exploded per-heading rows directly
(no Spark-side explode, no shuffle); section numbers are computed
inside the same walk from a six-level counter stack, so downstream
consumers never re-derive hierarchy with windows over 10^12 rows.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from extractor.session import arrow_stage

HEADING_SCHEMA = (
    "doc_id long, pos int, level int, section_no string, text string"
)

_H_TAGS = ["h1", "h2", "h3", "h4", "h5", "h6"]


def extract_headings(df: DataFrame) -> DataFrame:
    """One output row per ``<h1>``–``<h6>`` in document order:
    ``(doc_id, pos, level, section_no, text)``.

    ``section_no`` is the hierarchical outline number ("2.1.3"): each
    heading increments its level's counter and zeroes every deeper
    level — exactly the numbering pandoc's ``--number-sections`` and
    HTML ``counter()`` CSS produce.  A level that appears without its
    ancestors keeps the ancestor counters at 0 (e.g. a leading ``<h2>``
    numbers "0.1") — deterministic, and a useful malformed-structure
    signal in itself."""
    from ..dom import parse_html

    def kernel(batch):
        ids, poss, lvls, secs, texts = [], [], [], [], []
        for doc_id, html in zip(
            batch.column("doc_id").to_pylist(), batch.column("html").to_pylist()
        ):
            if html is None:
                continue
            try:
                root = parse_html(html)
            except Exception:
                continue  # per-unit containment, as in extract_links
            counters = [0] * 6
            pos = 0
            for el in root.find_all(_H_TAGS):
                lvl = int(el.tag[1])
                counters[lvl - 1] += 1
                for k in range(lvl, 6):
                    counters[k] = 0
                ids.append(doc_id)
                poss.append(pos)
                lvls.append(lvl)
                secs.append(".".join(str(c) for c in counters[:lvl]))
                texts.append(el.get_text())
                pos += 1
        return ids, poss, lvls, secs, texts

    return arrow_stage(
        df.select(F.col("doc_id"), F.col("html")), kernel, HEADING_SCHEMA
    )
