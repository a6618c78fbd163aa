"""Boilerplate-strip + layout-linearize kernels: unit behavior and the
Spark Arrow path."""

import json

from extractor.boilerplate import strip_boilerplate
from extractor.layout import linearize_layout, parse_layout, synth_layout_doc
from extractor.session import _arrow_task, arrow_stage

PAGE = """
<html><body>
<nav><a href="/">Home</a> | <a href="/about">About</a> | <a href="/c">Contact</a></nav>
<h1>The Article Title</h1>
<p>This is the main article content and it talks at length about the subject
matter with plenty of common words so that the stopword density is high and
the block is long enough to be confidently classified as good content.</p>
<p>A short follow-up sentence that would be near-good on its own.</p>
<div class="sidebar"><a href="/x">Rel 1</a> <a href="/y">Rel 2</a> <a href="/z">Rel 3</a></div>
<p>(c) 2026</p>
<footer><a href="/privacy">Privacy</a> <a href="/tos">Terms</a></footer>
</body></html>
"""


def test_boilerplate_keeps_content_drops_chrome():
    r = strip_boilerplate(PAGE)
    assert r.error is None
    assert "main article content" in r.main_text
    assert "The Article Title" in r.main_text  # heading before good block
    assert "short follow-up" in r.main_text  # near-good promoted by neighbor
    assert "Home" not in r.main_text
    assert "Privacy" not in r.main_text
    assert "Rel 1" not in r.main_text
    assert "(c) 2026" not in r.main_text
    # the link-dense nav block is dropped: main text opens on the heading
    assert r.main_text.startswith("The Article Title\n\nThis is the main")
    assert (r.n_blocks, r.n_good) == (7, 3)
    assert 0 < r.boilerplate_ratio < 1


def test_boilerplate_plain_text_passthrough():
    prose = (
        "Just a plain prose paragraph with plenty of the usual common words "
        "that one would expect to appear in any real document of this size."
    )
    r = strip_boilerplate(prose)
    assert r.main_text == prose
    assert r.boilerplate_ratio == 0.0


def test_boilerplate_null_and_garbage():
    assert strip_boilerplate(None).error == "null_input"
    r = strip_boilerplate("<<<>>> &&& <a")
    assert r.error is None  # lenient parse, never raises


def test_layout_reading_order_and_spans():
    r = parse_layout(synth_layout_doc(42, 7))
    assert r.error is None
    assert r.text.startswith("# Document 7 Page 1")
    left, right = r.text.split("right col", 1)
    assert "right col" not in left  # columns not interleaved
    for s in r.spans:
        assert r.text[s["start"] : s["end"]]
    cols = [s["column"] for s in r.spans]
    assert cols == sorted(cols, key=lambda c: c)  # single page: 0s then 1s


def test_layout_line_unwrap_and_headings():
    doc = {
        "pages": [
            {
                "page": 1,
                "width": 600,
                "blocks": [
                    {"x": 50, "y": 40, "w": 500, "h": 22, "size": 20, "text": "Title"},
                    {"x": 50, "y": 80, "w": 200, "h": 12, "size": 10, "text": "line one"},
                    {"x": 50, "y": 94, "w": 200, "h": 12, "size": 10, "text": "line two"},
                    {"x": 50, "y": 140, "w": 200, "h": 12, "size": 15, "text": "Sub"},
                    {"x": 50, "y": 160, "w": 200, "h": 12, "size": 10, "text": "after sub"},
                ],
            }
        ]
    }
    r = linearize_layout(doc)
    assert r.text == "# Title\n\nline one line two\n\n## Sub\n\nafter sub"


def test_layout_error_containment():
    assert parse_layout(b"%PDF-1.7").error.startswith("layout_error")
    assert parse_layout("nope").error.startswith("layout_error")
    assert parse_layout(None).error.startswith("layout_error")


def test_batch_wrappers():
    """Both kernels run batch-wise through the stage helper's task body:
    a NULL input is an error row, never a failed batch."""
    import pyarrow as pa
    from pyspark.sql import types as T

    def bp_body(batch):
        res = [strip_boilerplate(h) for h in batch.column("html").to_pylist()]
        return (
            [r.main_text for r in res],
            [r.n_blocks for r in res],
            [r.n_good for r in res],
            [r.boilerplate_ratio for r in res],
            [r.error for r in res],
        )

    bp_task = _arrow_task(
        bp_body,
        T.StructType(
            [
                T.StructField("main_text", T.StringType()),
                T.StructField("n_blocks", T.IntegerType()),
                T.StructField("n_good", T.IntegerType()),
                T.StructField("boilerplate_ratio", T.DoubleType()),
                T.StructField("error", T.StringType()),
            ]
        ),
    )
    (bp,) = bp_task([pa.record_batch({"html": [PAGE, None, "plain text here"]})])
    assert bp.schema.names == [
        "main_text", "n_blocks", "n_good", "boilerplate_ratio", "error",
    ]
    assert bp.column("error")[1].as_py() == "null_input"

    def lay_body(batch):
        res = [parse_layout(p) for p in batch.column("payload").to_pylist()]
        return [r.text for r in res], [r.error for r in res]

    lay_task = _arrow_task(
        lay_body,
        T.StructType(
            [
                T.StructField("text", T.StringType()),
                T.StructField("error", T.StringType()),
            ]
        ),
    )
    (lay,) = lay_task(
        [pa.record_batch({"payload": [synth_layout_doc(1, 1), None]})]
    )
    assert lay.column("error")[0].as_py() is None
    assert lay.column("error")[1].as_py().startswith("layout_error")


def test_spark_paths(spark):
    from pyspark.sql import functions as F, types as T

    # boilerplate over HTML-wrapped documents
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    wrapped = docs.where(F.col("text").isNotNull()).select(
        "doc_id",
        F.concat(
            F.lit('<nav><a href="/">Home</a> <a href="/x">X</a></nav><h1>Doc </h1><p>'),
            F.col("text"),
            F.lit('</p><footer><a href="/p">P</a></footer>'),
        ).alias("html"),
    )

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("main_text", T.StringType()),
            T.StructField("n_blocks", T.IntegerType()),
            T.StructField("n_good", T.IntegerType()),
            T.StructField("boilerplate_ratio", T.DoubleType()),
            T.StructField("error", T.StringType()),
        ]
    )

    def bp_kernel(batch):
        res = [strip_boilerplate(h) for h in batch.column("html").to_pylist()]
        return (
            batch.column("doc_id"),
            [r.main_text for r in res],
            [r.n_blocks for r in res],
            [r.n_good for r in res],
            [r.boilerplate_ratio for r in res],
            [r.error for r in res],
        )

    rows = arrow_stage(wrapped, bp_kernel, schema).collect()
    assert rows
    for r in rows[:20]:
        if r["error"] is None and r["main_text"]:
            assert "Home" not in r["main_text"]
