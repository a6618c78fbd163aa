"""Golden-fixture tests for the extraction kernel (pure Python, no Spark).

Byte-exact per-turn text equality against the pinned golden outputs —
the BASELINE.json "per-turn text equality" gate at kernel level.
"""

import json
from pathlib import Path

import pytest

from extractor.fixtures import FIXTURE_CASES, oversized_case
from extractor.kernel import (
    KERNEL_SCHEMA,
    MAX_TEXT_CHARS,
    clean_markdown,
    convert_batch,
    convert_text,
)

GOLDEN = json.loads(
    (Path(__file__).parent.parent / "fixtures" / "golden_kernel.json").read_text()
)


@pytest.mark.parametrize("name", sorted(FIXTURE_CASES))
def test_kernel_matches_golden(name):
    result = convert_text(FIXTURE_CASES[name])
    expected = GOLDEN[name]
    assert result.extracted_text == expected["extracted_text"]
    assert result.error == expected["error"]
    assert result.tables_count == expected["tables_count"]
    assert result.math_count == expected["math_count"]
    assert result.images_count == expected["images_count"]
    assert result.output_length == expected["output_length"]
    assert result.spans == expected["spans"]
    assert result.images == expected["images"]


def test_all_golden_cases_present():
    assert set(GOLDEN) == set(FIXTURE_CASES)


def test_spans_slice_back_to_snippets():
    """spans must index the final text: text[start:end] is the element."""
    for name, text in FIXTURE_CASES.items():
        r = convert_text(text)
        if r.extracted_text is None:
            continue
        for span in r.spans:
            snippet = r.extracted_text[span["start"] : span["end"]]
            assert snippet.strip() == snippet and snippet, (name, span)
            if span["kind"] == "table":
                assert snippet.startswith("| ")
            elif span["kind"] == "image":
                assert snippet.startswith("![")


def test_size_cap_quarantines():
    """The cap is the pipeline's own constant (50 MB, the reference's
    MAX_FILE_SIZE): one char past it quarantines, in the scalar kernel and
    in the batch kernel the pipeline runs."""
    text = oversized_case(MAX_TEXT_CHARS)
    r = convert_text(text)
    assert r.extracted_text is None
    assert r.error == "size_exceeded:52428801"
    row = convert_batch([text]).to_pylist()[0]
    assert row["extracted_text"] is None
    assert row["error"] == "size_exceeded:52428801"


def test_cleanup_chain_order():
    # ^>\s* strips only the first level of a nested quote prefix.
    assert clean_markdown("> > deep") == "> deep"
    # exactly-four-space indent stripped once per line; tabs stripped
    # entirely; the final .strip() additionally eats edge whitespace.
    assert clean_markdown("x\n        code") == "x\n    code"
    assert clean_markdown("        code") == "code"  # edge-stripped
    assert clean_markdown("x\n\t\tcode") == "x\ncode"
    # newline collapse: 4+ -> 3, then 3-before-newline -> 2 (ordered!).
    assert clean_markdown("a\n\n\n\n\n\nb") == "a\n\n\nb"
    assert clean_markdown("a\n\n\n\nb") == "a\n\n\nb"
    # spacing around literal table/math tags.
    assert clean_markdown("x\n\n\n<table>y</table>\n\n\nz") == "x\n<table>y</table>\n\nz"
    assert clean_markdown("x\n\n<math>m</math>\n\n\nz") == "x\n<math>m</math>\nz"


def test_batch_kernel_equals_scalar():
    import pandas as pd

    texts = list(FIXTURE_CASES.values())
    out = convert_batch(pd.Series(texts, dtype=object))
    assert out.schema == KERNEL_SCHEMA
    assert out.num_rows == len(texts)
    extracted = out.column("extracted_text").to_pylist()
    for i, text in enumerate(texts):
        assert extracted[i] == convert_text(text).extracted_text


def test_kernel_schema_survives_the_spark_schema():
    """The pipeline's Spark output schema takes its kernel fields from
    ``KERNEL_SCHEMA``; converted back to Arrow they must be the very types
    ``convert_batch`` emits, or ``mapInArrow`` would get other vectors."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from extractor.pipeline import OUTPUT_SCHEMA

    arrow = to_arrow_schema(OUTPUT_SCHEMA)
    assert pa.schema([arrow.field(n) for n in KERNEL_SCHEMA.names]) == KERNEL_SCHEMA


def test_duplicate_math_spans_distinct():
    r = convert_text(
        '<p><span class="math">a^2</span> then <span class="math">a^2</span></p>'
    )
    assert r.math_count == 2
    starts = [s["start"] for s in r.spans]
    assert len(starts) == len(set(starts)) == 2


def test_pathological_nesting_contained():
    """Adversarially deep nesting must yield an error ROW (like the
    reference's outer handler when bs4 recursion blows), never a crash."""
    r = convert_text("<div>" * 5000 + "deep" + "</div>" * 5000)
    assert r.extracted_text is None and "recursion" in r.error
    r2 = convert_text("<table><tr><td>" * 800 + "x")
    assert r2.extracted_text is None and r2.error


# --- T1 option axes (math_engine / include_toc) ---------------------------

from extractor.fixtures import OPTION_CASES  # noqa: E402
from extractor.kernel import ConvertOptions  # noqa: E402

GOLDEN_OPTIONS = json.loads(
    (Path(__file__).parent.parent / "fixtures" / "golden_options.json").read_text()
)


@pytest.mark.parametrize("name", sorted(OPTION_CASES))
def test_option_modes_match_golden(name):
    html, kw = OPTION_CASES[name]
    r = convert_text(html, options=ConvertOptions(**kw))
    expected = GOLDEN_OPTIONS[name]
    assert r.extracted_text == expected["extracted_text"]
    assert r.error == expected["error"]
    assert r.math_count == expected["math_count"]
    assert r.output_length == expected["output_length"]


def test_invalid_math_engine_rejected():
    # mirrors the reference's request validation (app/models.py:34-40)
    with pytest.raises(ValueError, match="Math engine must be one of"):
        ConvertOptions(math_engine="katex")


def test_default_options_unchanged():
    """The option-free pipeline must be byte-identical to the pinned golden
    corpus (latex engine, no TOC) — options are strictly additive."""
    r_default = convert_text(FIXTURE_CASES["math_data_latex_attr"])
    r_explicit = convert_text(
        FIXTURE_CASES["math_data_latex_attr"], options=ConvertOptions()
    )
    assert r_default.extracted_text == r_explicit.extracted_text == GOLDEN[
        "math_data_latex_attr"
    ]["extracted_text"]
