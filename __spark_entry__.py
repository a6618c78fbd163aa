"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship extraction over sf0.001 (zero-join plan:
metadata rides through the kernel as a passthrough column).
``queries()`` — one entry per implemented operator (SURVEY.md §2 + the
training-data op suite); each callable takes (spark, sf_dir) → DataFrame.
``oracle_sql()`` — DuckDB-runnable SQL oracle per SQL-expressible query.
The extraction core itself is hash-checked (the documents corpus is
markup-free prose, so the kernel fast path is SQL-expressible), as are
simhash and its banded pairs (HUGEINT bit math), and the media feature
kernel (float32 strided-bin means rebuilt in SQL).  Rows-only remainder:
markup-bearing kernel runs (transcripts pipeline, option modes, images,
stitch), the boilerplate/layout heuristic kernels, and ANN top-k
(approximate by design; gated by a recall pytest).
"""

from __future__ import annotations

import json
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from extractor.boilerplate import strip_boilerplate
from extractor.fanout import fan_out_scan
from extractor.layout import parse_layout, synth_layout_doc
from extractor.ops import (
    convops,
    dedup,
    export,
    maintenance,
    relational,
    sampling,
    similarity,
    temporal,
    textops,
    tokenize,
)
from extractor.pipeline import (
    extract_transcripts,
    lineage_manifest,
    stitch_conversations,
)
from extractor.session import arrow_stage, local_frame
from extractor.transcripts import transcripts_df


# Fan-out cap for the Python kernels below.  It was set when every task
# paid a Python-worker setup cost, most of it the zip-directory re-read
# that ``arrow_stage`` now spares each later task in a worker: at sf0.1 on
# a 4-vCPU host (local[8]), 8 tasks instead of 4 cost ``boilerplate_strip``
# +0.24 s with the re-read and +0.07 s without it.  The 16 is the earlier
# many-core optimum and has not been re-measured on such a host.
_PY_KERNEL_FAN_OUT = 16


def _boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """jusText/readability-style main-content extraction (north-star DOM
    heuristics): documents wrapped in deterministic page chrome, kernel
    strips nav/footer/link-farm blocks.  Rows-only (DOM heuristic kernel)."""
    from pyspark.sql import types as T

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    wrapped = docs.where(F.col("text").isNotNull()).select(
        "doc_id",
        F.concat(
            F.lit(
                '<nav><a href="/">Home</a> <a href="/a">About</a> '
                '<a href="/c">Contact</a></nav><h1>Document</h1><p>'
            ),
            F.col("text"),
            F.lit(
                '</p><div><a href="/x">Rel1</a> <a href="/y">Rel2</a></div>'
                '<footer><a href="/p">Privacy</a></footer>'
            ),
        ).alias("html"),
    )
    wrapped = fan_out_scan(spark, wrapped, docs, cap=_PY_KERNEL_FAN_OUT)

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

    def kernel(batch):
        res = [strip_boilerplate(h) for h in batch.column("html").to_pylist()]
        return (
            batch.column("doc_id"),
            [r.main_text for r in res],
            [r.n_blocks for r in res],
            [r.n_good for r in res],
            [r.boilerplate_ratio for r in res],
            [r.error for r in res],
        )

    return arrow_stage(wrapped, kernel, schema)


def _layout_linearize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF/layout-parse axis: deterministic synthetic layout docs linearized
    to text + reading-order spans.  Rows-only (geometry kernel)."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("n_pages", T.IntegerType()),
            T.StructField("n_blocks", T.IntegerType()),
            T.StructField("text_len", T.IntegerType()),
            T.StructField("n_spans", T.IntegerType()),
            T.StructField("error", T.StringType()),
        ]
    )

    def kernel(batch):
        res = [
            parse_layout(synth_layout_doc(42, i))
            for i in batch.column("id").to_pylist()
        ]
        return (
            batch.column("id"),
            [r.n_pages for r in res],
            [r.n_blocks for r in res],
            [len(r.text or "") for r in res],
            [len(r.spans) for r in res],
            [r.error for r in res],
        )

    return arrow_stage(spark.range(300), kernel, schema)


# ---------------------------------------------------------------------------
# Extraction-pipeline queries (kernel-backed → rows-only checks)
# ---------------------------------------------------------------------------

def _extract_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kernel over the documents corpus (docs as single-turn transcripts)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    turns = docs.select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.col("text"),
    )
    turns = fan_out_scan(spark, turns, docs, cap=_PY_KERNEL_FAN_OUT)
    out = extract_transcripts(turns, sort_output=False)
    return out.select(
        "conv_id", "turn_idx", "extracted_text", "tables_count",
        "math_count", "images_count", "output_length", "error",
    )


def _extract_synth_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full pipeline over the deterministic synthetic transcripts corpus
    (input_hint shape; HTML/math/table payload mix) with salting."""
    df = transcripts_df(spark, n_convs=120, mean_turns=10, seed=42)
    out = extract_transcripts(
        df, partition_mode="hash_conv", salt_threshold=200, salt_buckets=4
    )
    return out.select(
        "conv_id", "turn_idx", "role", "extracted_text",
        "tables_count", "math_count", "images_count", "error",
    )


def _images_side_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6/A3 image inventory: explode the kernel's images array to a side
    table keyed by (conv_id, turn_idx) — the reference's ImageInfo list
    (app/models.py:52-58) as a relational table.  Rows-only (kernel-fed)."""
    df = transcripts_df(spark, n_convs=120, mean_turns=10, seed=42)
    out = extract_transcripts(df, sort_output=False)
    return (
        out.where(F.size("images") > 0)
        .select(
            "conv_id",
            "turn_idx",
            F.explode("images").alias("img"),
        )
        .select(
            "conv_id",
            "turn_idx",
            F.col("img.src").alias("src"),
            F.col("img.alt").alias("alt"),
            F.col("img.title").alias("title"),
            F.col("img.filename").alias("filename"),
            F.col("img.in_table").alias("in_table"),
        )
    )


def _conversation_stitch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downstream-trainer view: one markdown doc per conversation via
    a grouped Arrow stage over hash(conv_id) groups.  Rows-only
    (kernel-fed)."""
    df = transcripts_df(spark, n_convs=100, mean_turns=10, seed=42)
    out = extract_transcripts(df, sort_output=False)
    return stitch_conversations(out)


def _conv_stitch_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stitch operator itself under a DuckDB oracle: run the REAL
    ``stitch_conversations`` (grouped Arrow stage, in-group sort, null/empty
    skip, ``[role]`` headers, blank-line joins) over the deterministic
    documents-derived transcript view with planted extraction errors,
    and hash the assembled markdown — so the exact concatenation order
    and separator bytes are pinned cross-engine, isolating the stitch
    semantics from the (non-SQL-expressible) kernel that usually feeds
    it.  Errors: turns whose md5 third hex digit is '0' carry an error
    and a NULL extracted_text — counted but never rendered, exactly the
    quarantine-passthrough contract."""
    from extractor.ops import convops

    dtr = convops.derived_transcripts(spark, sf_dir).select(
        F.col("conv_id").cast("string").alias("conv_id"),
        "turn_idx",
        "role",
        "text",
        F.expr(
            "CASE WHEN substr(md5(CAST(CAST(doc_id AS STRING) AS BINARY)),"
            " 3, 1) = '0' THEN 'planted_error' END"
        ).alias("error"),
    ).select(
        "conv_id",
        "turn_idx",
        "role",
        F.when(F.col("error").isNull(), F.col("text")).alias(
            "extracted_text"
        ),
        "error",
    )
    stitched = stitch_conversations(dtr)
    return stitched.select(
        "conv_id",
        "n_turns",
        "n_errors",
        F.length("conversation_markdown").cast("long").alias("md_chars"),
        F.md5(F.col("conversation_markdown").cast("binary")).alias(
            "md_md5"
        ),
    )


def _media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: synthetic binary media -> Arrow feature kernel
    (decode stubbed for real codecs).  Hash-checked: the synthetic payload
    is a pure md5 function, so the oracle rebuilds body bytes and the
    float32 strided-bin means in SQL (see ``oracle_sql``).

    The contract projection is scalar-only: the ``array<float>`` feature
    vector stays an internal API (the driver canonicalizer sorts column
    values, and Python lists aren't sortable/hashable); here it is reduced
    to mean / L2-norm / a digest of the rounded components — which still
    pins every element's value."""
    from extractor.ops import multimodal as mm

    media = mm.synth_media_df(spark)
    feats = mm.extract_features(media)
    fsum = F.aggregate("features", F.lit(0.0), lambda a, x: a + x.cast("double"))
    fsq = F.aggregate(
        "features", F.lit(0.0), lambda a, x: a + x.cast("double") * x.cast("double")
    )
    fhash = F.md5(
        F.concat_ws(
            ",", F.transform("features", lambda x: F.round(x.cast("double"), 4).cast("string"))
        )
    )
    return feats.select(
        "media_id",
        "width",
        "height",
        F.round(fsum / F.size("features"), 4).alias("feature_mean"),
        F.round(F.sqrt(fsq), 4).alias("feature_l2"),
        fhash.alias("feature_hash"),
        "error",
    )


def _extract_mode_mathjax_toc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1 option axes, HASH-CHECKED (templated like t4/t6): deterministic
    doc_id-derived HTML runs through the real kernel with
    ``math_engine=mathjax + include_toc`` (the reference's pandoc
    ``--mathjax --toc`` flags, pandoc_converter.py:76-86).  Three modes
    cover the TOC bullet tree (h1/h2 and the toc_depth=4 h4 indent), the
    mathjax ``\\(..\\)`` inline delimiters, the >50-char ``\\[..\\]``
    display-block threshold, and span.math under mathjax.  The oracle
    rebuilds the exact markdown per doc_id."""
    from extractor.kernel import ConvertOptions

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    k = F.pmod(F.col("doc_id"), F.lit(9)).cast("string")
    m = F.pmod(F.col("doc_id"), F.lit(3))
    long_latex = F.concat(
        F.lit("\\sum_{i=0}^{"), k,
        F.lit("} \\alpha_i x^i + \\beta_i y^i + \\gamma_i z^i = 0"),
    )
    html = (
        F.when(m == 0, F.concat(
            F.lit("<h1>Sec"), k, F.lit("</h1><p>intro"), k,
            F.lit("</p><h2>Sub"), k, F.lit('</h2><math data-latex="E=mc^'),
            k, F.lit('"><mi>x</mi></math><p>tail'), k, F.lit("</p>"),
        ))
        .when(m == 1, F.concat(
            F.lit("<h1>Sec"), k, F.lit("</h1><h4>Deep"), k,
            F.lit('</h4><math data-latex="'), long_latex,
            F.lit('"><mi>x</mi></math><p>tail'), k, F.lit("</p>"),
        ))
        .otherwise(F.concat(
            F.lit("<h1>Sec"), k, F.lit("</h1><p>intro"), k,
            F.lit('</p><span class="math inline">x_'), k, F.lit("+y_"), k,
            F.lit("=z_"), k, F.lit("</span><p>tail"), k, F.lit("</p>"),
        ))
    )
    out = extract_transcripts(
        _templated_turns(docs, html),
        sort_output=False,
        options=ConvertOptions(math_engine="mathjax", include_toc=True),
    )
    return out.select(
        F.col("conv_id").cast("long").alias("doc_id"),
        "extracted_text",
        "math_count",
    )


def _docx_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1 raw-byte path, HASH-CHECKED: deterministic synthetic .docx
    packages (zip bytes built from ``documents.doc_id``) are decoded by the
    stdlib OOXML reader (``extractor/docx.py`` — the pandoc stage of
    ``app/core/pandoc_converter.py:21-118`` without the subprocess) and the
    resulting HTML flows through the real DOM kernel.  Four package modes
    cover heading/para styles, bold runs + inline images (rels-resolved,
    T2-normalized to ``images/``), header tables (T4 pipe tables), and OMML
    superscript math (T6 span-math mode).  The oracle rebuilds the exact
    markdown per doc_id in SQL."""
    from extractor.docx import decode_docx, synth_docx_bytes

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")

    def gen(batch):
        ids = batch.column("doc_id").to_pylist()
        return (
            [str(i) for i in ids],
            [0] * len(ids),
            [decode_docx(synth_docx_bytes(i)) for i in ids],
        )

    turns = arrow_stage(docs, gen, "conv_id string, turn_idx int, text string")
    out = extract_transcripts(turns, sort_output=False)
    return out.select(
        F.col("conv_id").cast("long").alias("doc_id"),
        "extracted_text",
        "tables_count",
        "math_count",
        "images_count",
    )


def _s9_pdf_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 PDF export sink, HASH-CHECKED on pagination: every document's
    text renders to deterministic PDF 1.4 bytes (``extractor/pdf.py`` — the
    stdlib stand-in for the reference's Word-COM export,
    scripts/convert_docx_to_pdf.py:32-66).  The returned line/page counts
    are parsed BACK OUT of the rendered bytes (``pdf_to_text``'s
    content-stream parse — NOT raw substring counts, which a document
    whose text contains the literal ``) Tj`` would inflate), so the
    oracle's wrap-math reconstruction checks the renderer's actual
    output, not a shared formula."""
    from extractor.pdf import is_valid_pdf, pdf_to_text, text_to_pdf_bytes

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .where(F.col("text").isNotNull())
        .select("doc_id", "text")
    )

    def render(batch):
        blobs = [text_to_pdf_bytes(t) for t in batch.column("text").to_pylist()]
        parsed = [pdf_to_text(b) for b in blobs]
        return (
            batch.column("doc_id"),
            [sum(len(p) for p in pgs) for pgs in parsed],
            [len(pgs) for pgs in parsed],
            [len(b) for b in blobs],
            [is_valid_pdf(b) for b in blobs],
        )

    out = arrow_stage(
        docs,
        render,
        "doc_id long, n_lines long, n_pages long, pdf_bytes long, valid boolean",
    )
    return out.select("doc_id", "n_lines", "n_pages", "valid")


def _pdf_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF write→read roundtrip, HASH-CHECKED: every document renders to
    PDF 1.4 bytes and is decoded BACK by the stdlib content-stream parser
    (``extractor/pdf.py:pdf_to_text``); ``roundtrip_ok`` asserts decoded
    lines == the hard-wrap of the (latin-1-degraded) source text, page
    count from the decoded structure.  ``flate_ok`` does the same through
    the ``/Filter /FlateDecode`` write mode (zlib-compressed content
    streams, the dominant real-world PDF encoding) and additionally
    asserts the two decodes agree page-for-page.  Proves the layout
    byte-decode path operates on genuine PDF bytes — both encodings —
    not a shared in-memory model."""
    from extractor.pdf import pdf_to_text, text_to_pdf_bytes, wrap_lines

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .where(F.col("text").isNotNull())
        .select("doc_id", "text")
    )

    def kernel(batch):
        ok, flate, pages_out, lines_out = [], [], [], []
        for t in batch.column("text").to_pylist():
            pages = pdf_to_text(text_to_pdf_bytes(t))
            flat = [l for p in pages for l in p]
            degraded = t.encode("latin-1", "replace").decode("latin-1")
            ok.append(flat == wrap_lines(degraded))
            pages_out.append(len(pages))
            lines_out.append(len(flat))
            flate.append(
                pdf_to_text(text_to_pdf_bytes(t, stream_filter="flate"))
                == pages
            )
        return batch.column("doc_id"), lines_out, pages_out, ok, flate

    return arrow_stage(
        docs,
        kernel,
        "doc_id long, n_lines long, n_pages long, "
        "roundtrip_ok boolean, flate_ok boolean",
    )


def _pdf_lzw_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF LZW + PNG-predictor roundtrip, HASH-CHECKED: every document
    renders to PDF with ``/Filter /LZWDecode`` content streams (own
    TIFF-convention LZW codec, ``extractor/pdf.py:lzw_encode`` — verified
    against the PDF 1.7 §7.4.4 spec example vector) and again with a PNG
    Up-predictor pre-pass (``/DecodeParms << /Predictor 12 /Columns 64
    >>``), then both are decoded BACK by the content-stream parser.
    ``lzw_ok`` asserts the LZW decode equals the hard-wrap of the
    (latin-1-degraded) source; ``pred_ok`` the same through the
    predictor-coded mode.  Closes the last closable codec boundary on the
    document-decode axis (reference export path:
    scripts/convert_docx_to_pdf.py:32-66)."""
    from extractor.pdf import pdf_to_text, text_to_pdf_bytes, wrap_lines

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .where(F.col("text").isNotNull())
        .select("doc_id", "text")
    )
    # encode+decode twice per doc = the heaviest Python kernel in the
    # contract; spread the starved single-split scan (guide §2.2)
    docs = fan_out_scan(spark, docs, docs, cap=_PY_KERNEL_FAN_OUT)

    def kernel(batch):
        lzw_ok, pred_ok, pages_out, lines_out = [], [], [], []
        for t in batch.column("text").to_pylist():
            degraded = t.encode("latin-1", "replace").decode("latin-1")
            want = wrap_lines(degraded)
            pages = pdf_to_text(text_to_pdf_bytes(t, stream_filter="lzw"))
            flat = [l for p in pages for l in p]
            lzw_ok.append(flat == want)
            pages_out.append(len(pages))
            lines_out.append(len(flat))
            pred = pdf_to_text(text_to_pdf_bytes(t, stream_filter="lzw-png"))
            pred_ok.append(pred == pages)
        return batch.column("doc_id"), lines_out, pages_out, lzw_ok, pred_ok

    return arrow_stage(
        docs,
        kernel,
        "doc_id long, n_lines long, n_pages long, "
        "lzw_ok boolean, pred_ok boolean",
    )


def _link_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-graph side table, HASH-CHECKED: deterministic anchors built
    from ``documents.doc_id`` (1–3 external links + one fragment link per
    doc) drive the REAL stdlib DOM parser (``extractor/ops/links.py`` →
    ``extractor/dom.py``); the oracle reconstructs every (href, anchor,
    is_internal, domain) row in SQL.  The structured companion to the
    linearizer's inline ``[text](href)`` rendering
    (``extractor/linearize.py:185-193``) — the op a URL frontier /
    per-domain curation rollup starts from."""
    from extractor.ops.links import extract_links

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    d = F.col("doc_id")
    m = F.pmod(d, F.lit(3))

    def ext(i: int):
        return F.concat(
            F.lit('<a href="https://site'),
            F.pmod(d + F.lit(i), F.lit(50)).cast("string"),
            F.lit(".example.com/p"),
            F.pmod(d, F.lit(100)).cast("string"),
            F.lit('?i=%d">ref ' % i),
            F.pmod(d, F.lit(10)).cast("string"),
            F.lit("-%d</a>" % i),
        )

    html = F.concat(
        F.lit("<p>intro</p>"),
        ext(0),
        F.when(m >= 1, ext(1)).otherwise(F.lit("")),
        F.when(m >= 2, ext(2)).otherwise(F.lit("")),
        F.lit('<a href="#sec'),
        F.pmod(d, F.lit(4)).cast("string"),
        F.lit('">jump</a><p>end</p>'),
    )
    return extract_links(docs.select("doc_id", html.alias("html")))


def _format_router(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-sniffing format router, HASH-CHECKED end-to-end: each document
    becomes one of five deterministic payloads (raw HTML bytes, a real
    synthetic .docx zip, real PDF 1.4 bytes, a JSON layout doc, plain
    text) and ``extractor/router.py`` must sniff the format from content
    alone and route it through the matching decoder — OOXML reader, PDF
    content-stream parse + XY-cut, DOM kernel, or passthrough.  The oracle
    reconstructs (format, extracted_text, counts) per doc_id in SQL.  This
    is the reference's extension dispatch
    (``app/core/document_converter.py:285-290``) content-sniffed for a
    world where inputs are opaque binary columns, not named files."""
    from extractor.docx import synth_docx_bytes
    from extractor.pdf import text_to_pdf_bytes
    from extractor.router import route_payload

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    schema = T.StructType.fromDDL(
        "doc_id long, format string, extracted_text string, "
        "tables_count int, math_count int, images_count int, error string"
    )

    def gen(batch):
        routed = []
        for i in batch.column("doc_id").to_pylist():
            m, a, b = i % 5, i % 7, i % 3
            if m == 0:
                payload = f"<h1>Doc {a}</h1><p>body {b} &amp; tail</p>".encode()
            elif m == 1:
                payload = synth_docx_bytes(i)
            elif m == 2:
                payload = text_to_pdf_bytes(f"pdf doc {a}\nline two {b}")
            elif m == 3:
                payload = json.dumps(
                    {
                        "pages": [
                            {
                                "page": 1,
                                "width": 612.0,
                                "blocks": [
                                    {
                                        "x": 72.0,
                                        "y": 0.0,
                                        "w": 100.0,
                                        "h": 12.0,
                                        "size": 10.0,
                                        "text": f"layout {a}",
                                    }
                                ],
                            }
                        ]
                    }
                ).encode()
            else:
                payload = f"plain *text* {a}\r\nline {b}".encode()
            routed.append(route_payload(payload))
        return [batch.column("doc_id")] + [
            [r[name] for r in routed] for name in schema.names[1:]
        ]

    return arrow_stage(docs, gen, schema).select(
        "doc_id",
        "format",
        "extracted_text",
        "tables_count",
        "math_count",
        "images_count",
    )


def _frontier_hrefs(docs: DataFrame) -> DataFrame:
    """(doc_id, href) with six deterministic href families per doc_id,
    one per RFC-3986 normalization branch: mixed-case scheme/host +
    default port + tracking param + unsorted query + trailing slash +
    fragment (m=0), bare www host with empty path (m=1), tracking-only
    query (m=2), fragment-only link (m=3, NULL), non-http scheme (m=4,
    NULL), nested path + gclid scrub (m=5)."""
    d = F.col("doc_id")
    m = F.pmod(d, F.lit(6))
    k = F.pmod(d, F.lit(50)).cast("string")
    j = F.pmod(d, F.lit(100)).cast("string")
    href = (
        F.when(m == 0, F.concat(
            F.lit("HTTPS://www.Site"), k, F.lit(".Example.COM:443/p"), j,
            F.lit("/?utm_source=x&b=2&a=1#frag")))
        .when(m == 1, F.concat(
            F.lit("http://WWW.site"), k, F.lit(".example.com")))
        .when(m == 2, F.concat(
            F.lit("https://site"), k, F.lit(".example.com/p"), j,
            F.lit("?utm_campaign=c&utm_medium=m")))
        .when(m == 3, F.concat(F.lit("#sec"), j))
        .when(m == 4, F.concat(
            F.lit("ftp://site"), k, F.lit(".example.com/f")))
        .otherwise(F.concat(
            F.lit("https://site"), k, F.lit(".example.com/p"), j,
            F.lit("/sub/?z=9&gclid=abc&a=1")))
    )
    return docs.select("doc_id", href.alias("href"))


def _url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC-3986 syntax-based URL canonicalization, HASH-CHECKED: the six
    templated href families (see ``_frontier_hrefs``) go through the
    pure-codegen ``normalize_url`` expression — lowercased scheme/host,
    www/port/fragment dropped, trailing slash stripped, tracking params
    scrubbed, surviving query params sorted; fragment-only and non-http
    links come back NULL.  The oracle states each family's canonical
    spelling directly in SQL."""
    from extractor.ops.links import normalize_links

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    return normalize_links(_frontier_hrefs(docs)).select(
        "doc_id", "url", "url_domain"
    )


def _url_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain crawl-frontier rollup over canonicalized links (count /
    distinct-URL / distinct-source / min-URL seed) — map-only
    canonicalization then the standard two-level multi-distinct agg
    (Expand + two exchanges; the exact path the oracle can check).
    Oracle: the same rollup in SQL over the reconstructed canonical
    URLs."""
    from extractor.ops.links import url_frontier

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    return url_frontier(_frontier_hrefs(docs))


def _domain_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministic domain graph shared by ``domain_pagerank``,
    ``domain_hits`` and ``bfs_hop_distance``: edges src = doc_id%50,
    dst = (7·src + doc_id÷50)%50, with one-third of rows dropped by a
    (src+2t)%3 predicate so out-degrees vary; duplicates collapsed.  ONE
    generator, as ``_layered_domain_graph`` is for the layered graph."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    s = F.pmod(F.col("doc_id"), F.lit(50))
    t = F.expr("doc_id DIV 50")
    return (
        docs.where(F.pmod(s + F.lit(2) * t, F.lit(3)) != 0)
        .select(
            s.alias("src"),
            F.pmod(F.lit(7) * s + t, F.lit(50)).alias("dst"),
        )
        .distinct()
    )


def _domain_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank over the deterministic domain graph
    (``_domain_graph``), HASH-CHECKED: 4 rounds of the EXACT
    integer-arithmetic power iteration
    (``extractor/ops/links.py::pagerank`` — floor-division contributions,
    order-independent sums), and the oracle unrolls the same 4 rounds as
    chained SQL CTEs.  The classic iterative web-graph algorithm, in a
    formulation an engine-independent oracle can verify bit-for-bit."""
    from extractor.ops.links import pagerank

    return pagerank(_domain_graph(spark, sf_dir))


def _domain_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration HITS hubs/authorities over the SAME deterministic
    domain graph as ``domain_pagerank``, HASH-CHECKED: 3 rounds of the
    exact-integer max-normalized power iteration
    (``extractor/ops/links.py::hits``); the oracle unrolls the identical
    rounds as chained CTEs.  Complements PageRank on the link-analysis
    surface: hubs (directory pages) vs authorities (cited content) is
    the crawl-seeding signal PageRank's single score can't give."""
    from extractor.ops.links import hits

    return hits(_domain_graph(spark, sf_dir))


def _layered_domain_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The layered test graph shared by ``domain_kcore`` and
    ``domain_communities`` (and, CTE-side, by their oracles via
    ``_kcore_cte[0]``): a sparse chain layer (doc_id%150 generator,
    mod-7 keep) that peels/fragments, PLUS a dense 12-node ring layer
    that survives as the core / coheres as one community.  ONE
    generator so the two Spark ops can never desynchronize from each
    other or from the shared oracle CTE."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    s150 = F.pmod(F.col("doc_id"), F.lit(150))
    chain = docs.where(
        F.pmod(s150 + F.lit(3) * F.expr("doc_id DIV 150"), F.lit(7)) == 0
    ).select(
        s150.alias("src"),
        F.pmod(F.lit(7) * s150 + F.expr("doc_id DIV 150"), F.lit(150)).alias(
            "dst"
        ),
    )
    s12 = F.pmod(F.col("doc_id"), F.lit(12))
    core = docs.where(F.pmod(F.col("doc_id"), F.lit(5)) == 0).select(
        s12.alias("src"),
        F.pmod(F.lit(5) * s12 + F.expr("doc_id DIV 12"), F.lit(12)).alias(
            "dst"
        ),
    )
    return chain.union(core).distinct()


def _domain_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peeling (k=3, 4 fixed rounds) over the layered domain
    graph: the sparse chains peel away round by round while the dense
    12-node ring survives as the core — at sf0.01 the alive set
    contracts 108 → 22 → 12 → 12 → 12, i.e. the peel CONVERGES inside
    the round budget and the output is the true 3-core (the
    link-ring/spam-farm detection signal of web curation).
    HASH-CHECKED: the oracle unrolls the identical rounds as chained
    CTEs over the identical generated graph."""
    from extractor.ops.links import kcore

    return kcore(_layered_domain_graph(spark, sf_dir))


def _domain_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label-propagation communities (3 rounds, smallest-
    label tie-break) over the SAME layered graph as ``domain_kcore`` —
    the dense 12-node ring coheres onto one label while the sparse
    chains fragment.  HASH-CHECKED: the oracle unrolls the identical
    mode-vote rounds (argmax via count desc, label asc row_number)."""
    from extractor.ops.links import label_propagation

    return label_propagation(_layered_domain_graph(spark, sf_dir))


def _linkpred_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard link prediction (Liben-Nowell & Kleinberg) over the shared
    layered domain graph: top missing edges by exact-integer Jaccard of
    hub-capped neighborhoods.  HASH-CHECKED — the oracle replays the
    wedge join, the degree cap (8, which BINDS here: the 12 ring nodes
    have degree 12 and are excluded as wedge centers), and the ppm
    integer division over the identical generated graph."""
    from extractor.ops.links import jaccard_linkpred

    return jaccard_linkpred(_layered_domain_graph(spark, sf_dir))


def _dag_critical_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest-path (critical-path) depth per node of the DAG obtained by
    orienting the layered domain graph small-id → big-id.  Iterates
    max-relaxation to a VERIFIED fixpoint (converges in 14 rounds at
    sf0.01, max depth 13); the oracle computes the same depths with a
    recursive CTE enumerating all (node, depth) path lengths."""
    from extractor.ops.links import dag_longest_path

    return dag_longest_path(_layered_domain_graph(spark, sf_dir))


def _stream_hourly_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming==batch parity row: a real Structured Streaming query
    (readStream → 1h window agg → memory sink, availableNow replay)
    whose rollup must hash-match DuckDB's batch answer."""
    from extractor.streaming import stream_hourly_events

    return stream_hourly_events(spark, sf_dir)


def _deepwalk_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DeepWalk random-walk corpus over the layered domain graph —
    graph→sequence training data via the keyed-uniform next-hop rule
    (md5(node, step) mod degree on the dst-sorted ranked adjacency);
    the oracle unrolls the identical four hops as chained CTEs."""
    from extractor.ops.links import deepwalk_corpus

    return deepwalk_corpus(_layered_domain_graph(spark, sf_dir))


def _media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Evenly-spaced frame-sampling plan for every synthetic video row —
    stream params derive from the typed metadata, so DuckDB rebuilds the
    exact (frame_no, frame_idx, ts_ms) rows from the md5 generator."""
    from extractor.ops import multimodal as mm

    return mm.frame_sample_plan(mm.synth_media_df(spark))


def _cogroup_merge_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    from extractor.ops.temporal import cogroup_merge_asof

    return cogroup_merge_asof(spark, sf_dir)


def _retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from extractor.ops.temporal import retention_cohorts

    return retention_cohorts(
        spark.read.parquet(f"{sf_dir}/events.parquet")
    )


def _bfs_hop_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS crawl depth over the SAME deterministic domain
    graph as ``domain_pagerank`` (``_domain_graph``), seeds = the graph nodes
    divisible by 17, HASH-CHECKED: the frontier-expansion loop
    (``extractor/ops/links.py::bfs_hop_distance`` — edges persisted and
    never re-shuffled, node-sized broadcast frontier per round) must
    produce exactly the ``min(d)`` fixpoint of the oracle's recursive
    CTE.  Exact integer hops: engine-independent bit-for-bit."""
    from extractor.ops.links import bfs_hop_distance

    edges = _domain_graph(spark, sf_dir)
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    seeds = nodes.where(F.pmod(F.col("node"), F.lit(17)) == 0)
    return bfs_hop_distance(edges, seeds)


def _triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census over a deterministic document graph, HASH-CHECKED:
    raw edges (u = doc_id%30, v = (doc_id DIV 30)%30, ~60% kept by a
    (u+2v)%5 predicate; self-loops and duplicates left in deliberately)
    run the degree-ordered oriented wedge count
    (``extractor/ops/links.py::triangle_count`` — the O(m^1.5)
    MapReduce-style formulation that survives power-law degree skew),
    and the oracle recomputes the same census with a canonical a<b<c
    three-way self-join in DuckDB.  One row: (n_nodes, n_edges,
    n_triangles)."""
    from extractor.ops.links import triangle_count

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    u = F.pmod(F.col("doc_id"), F.lit(30))
    v = F.pmod(F.expr("doc_id DIV 30"), F.lit(30))
    edges = docs.where(F.pmod(u + F.lit(2) * v, F.lit(5)) < 3).select(
        u.alias("src"), v.alias("dst")
    )
    return triangle_count(edges)


def _gap_fill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly LOCF resample of the events value series per user
    (``extractor/ops/temporal.py::gap_fill_locf``): per-user hourly grid
    spanning each user's own range, last-event-in-bucket reduction
    (deterministic ts/event_id tie-break), empty buckets carry forward
    and flag ``is_gap``.  Values are carried verbatim — no float
    arithmetic — so the DuckDB oracle (same grid via ``range``, same
    ``IGNORE NULLS`` running window) hash-matches exactly."""
    from extractor.ops.temporal import gap_fill_locf

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", "ts", "value"
    )
    return gap_fill_locf(ev)


def _anchor_text_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain top-3 anchor texts by frequency over the templated link
    corpus (the real DOM parser path of ``_link_graph``) — the anchor-text
    quality/relevance signal every web-curation and search pipeline rolls
    up per target domain.  One agg shuffle + a rank-filtered window over
    the SAME domain partitioning (WindowGroupLimit pushes the top-k
    inside the window, so no per-domain lists materialize); the oracle
    composes the link_graph reconstruction CTE with the same rollup."""
    from pyspark.sql.window import Window

    lg = _link_graph(spark, sf_dir).where(F.col("domain").isNotNull())
    counts = lg.groupBy("domain", "anchor").agg(F.count("*").alias("n"))
    w = Window.partitionBy("domain").orderBy(F.desc("n"), "anchor")
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select(
            "domain", "anchor", F.col("n").cast("long").alias("n"), "rk"
        )
    )


def _headings_outline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heading-outline side table, HASH-CHECKED: deterministic h1/h2/h3
    structures built from ``documents.doc_id`` (nested sections, an
    even-doc-only h3, a mod-3-doc-only second h1 part) drive the REAL
    stdlib DOM parser (``extractor/ops/structure.py`` →
    ``extractor/dom.py``) and its counter-stack section numbering; the
    oracle reconstructs every (pos, level, section_no, text) row —
    including the branch-dependent positions and the "2"/"2.1" restart
    after the second h1 — in SQL."""
    from extractor.ops.structure import extract_headings

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    d = F.col("doc_id")

    def h(tag: str, label: str, mod: int):
        return F.concat(
            F.lit(f"<{tag}>{label} "),
            F.pmod(d, F.lit(mod)).cast("string"),
            F.lit(f"</{tag}>"),
        )

    html = F.concat(
        h("h1", "Intro", 3),
        F.lit("<p>alpha</p>"),
        h("h2", "A", 5),
        F.when(F.pmod(d, F.lit(2)) == 0, h("h3", "Deep", 7)).otherwise(
            F.lit("")
        ),
        h("h2", "B", 5),
        F.when(
            F.pmod(d, F.lit(3)) == 0, F.concat(h("h1", "Part", 3), h("h2", "C", 5))
        ).otherwise(F.lit("")),
        F.lit("<p>end</p>"),
    )
    return extract_headings(docs.select("doc_id", html.alias("html")))


def _media_neardup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-dup buckets over the multimodal corpus
    (``extractor/ops/multimodal.py::dhash_groups``): the 8-bit gradient
    hash over the Arrow feature kernel's float32 strided-bin means.
    Hash-checked end to end — the oracle rebuilds the float32 features
    (same emulation as ``media_features``, pinned by
    tests/test_oracle_emulation.py) and replays the bit chain."""
    from extractor.ops import multimodal as mm

    media = mm.synth_media_df(spark)
    return mm.dhash_groups(mm.extract_features(media))


_BLOCKLIST = ("ads.site1.example.com", "site2.example.com", "example.org")


def _url_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-blocklist verdicts (``extractor/ops/links.py::
    blocklist_filter``) over deterministic multi-level domains
    ({www|ads|cdn|ε}.site{doc_id%7}.example.com): the UT1-style filter
    stage — an entry blocks itself and every subdomain via the
    codegen'd suffix-chain walk.  The fixture exercises exact match
    (``ads.site1...``), ancestor match (``site2.example.com`` catches
    www/ads/cdn subdomains), and a never-matching entry; the oracle
    states each family's verdict in SQL."""
    from extractor.ops.links import blocklist_filter

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    d = F.col("doc_id")
    sub = (
        F.when(F.pmod(d, F.lit(4)) == 0, "www.")
        .when(F.pmod(d, F.lit(4)) == 1, "ads.")
        .when(F.pmod(d, F.lit(4)) == 2, "cdn.")
        .otherwise("")
    )
    domain = F.concat(
        sub, F.lit("site"), F.pmod(d, F.lit(7)).cast("string"),
        F.lit(".example.com"),
    )
    return blocklist_filter(
        docs.select("doc_id", domain.alias("domain")), list(_BLOCKLIST)
    ).orderBy("doc_id")


def _politeness_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain round-robin crawl schedule (``extractor/ops/links.py::
    politeness_schedule``) over a deterministic frontier (50 domains × 5
    URLs): round 0 visits every domain once before any host repeats.
    The 200-row cut lands mid-round so the TakeOrderedAndProject path is
    exercised; the oracle replays the same two windows in SQL."""
    from extractor.ops.links import politeness_schedule

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    d = F.col("doc_id")
    domain = F.concat(
        F.lit("site"), F.pmod(d, F.lit(50)).cast("string"),
        F.lit(".example.com"),
    )
    url = F.concat(
        F.lit("https://"), domain, F.lit("/p"),
        F.pmod(d, F.lit(250)).cast("string"),
    )
    return politeness_schedule(
        docs.select(domain.alias("domain"), url.alias("url"))
    )


def _zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly flags over the events stream
    (``extractor/ops/temporal.py::zscore_outliers``): trailing-20-event
    baseline per user, |z| > 2 flagged, ALL-INTEGER milli-unit
    arithmetic so the flagged set is engine-exact (float window sums
    are summation-order-dependent; these aren't)."""
    from extractor.ops.temporal import zscore_outliers

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return zscore_outliers(ev)


def _expire_checkpoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-history expiration demo wired for the oracle
    (``extractor/checkpoint.py::expire_checkpoint_history`` — the
    Iceberg ``expire_snapshots`` analogue): three snapshots' worth of
    per-bucket status rows are committed to a temp checkpoint store
    (turn counts = the documents corpus bucketed 8 ways, so every number
    derives from the test table), the two newest are retained, and the
    verified summary is returned.  The oracle recomputes the expected
    row/turn accounting from ``documents``."""
    import shutil
    import tempfile

    from extractor.checkpoint import (
        CHECKPOINT_SCHEMA,
        _record,
        expire_checkpoint_history,
        with_bucket,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("conv_id"), "text"
    )
    counts = {
        r["bucket"]: r["n"]
        for r in with_bucket(docs, 8)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    work = tempfile.mkdtemp(prefix="expire-demo-")
    ckpt = f"{work}/ckpt"
    try:
        for i, snap in enumerate(["snap-a", "snap-b", "snap-c"]):
            _record(
                spark,
                ckpt,
                [
                    (b, snap, "completed", int(n), float(i * 100 + b), None)
                    for b, n in sorted(counts.items())
                ],
            )
        stats = expire_checkpoint_history(spark, ckpt)
        turns_retained = (
            spark.read.schema(CHECKPOINT_SCHEMA)
            .parquet(f"{ckpt}/status")
            .agg(F.sum("turns"))
            .collect()[0][0]
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return local_frame(
        spark,
        [
            (
                stats["snapshots_before"],
                stats["snapshots_after"],
                stats["rows_before"],
                stats["rows_after"],
                int(turns_retained),
                stats["content_match"],
            )
        ],
        T.StructType.fromDDL(
            "snapshots_before int, snapshots_after int, rows_before long, "
            "rows_after long, turns_retained long, content_match boolean"
        ),
    )


def _asof_view_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join (``extractor/ops/temporal.py``): each click
    event attributed to the latest preceding view by the same user —
    union + keyed-window carry-forward, ONE shuffle, no join node.  The
    oracle is DuckDB's native ``ASOF LEFT JOIN``, so the semantics are
    checked against an independent first-class implementation."""
    from extractor.ops.temporal import asof_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    views = ev.where(F.col("event_type") == "view").select(
        "user_id", "ts", "event_id", "value"
    )
    return asof_join(
        clicks, views, right_cols=("event_id", "value")
    )


def _range_join_campaigns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-containment join via bin bucketing
    (``extractor/ops/temporal.py::range_join``): events tagged with every
    overlapping campaign window (20 deterministic 12-hour windows on an
    8-hour stride, so some events match 0/1/2 campaigns).  The bin trick
    replaces Catalyst's nested-loop cross plan with an equi-join on
    4-hour bins + exact between-filter; the oracle is DuckDB's native
    inequality (IE) join."""
    from extractor.ops.temporal import range_join

    H = 3_600 * 1_000_000
    base = 1_704_067_200 * 1_000_000  # 2024-01-01 00:00:00 UTC
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "ts"
    )
    camp = spark.range(20).select(
        F.col("id").alias("campaign_id"),
        F.timestamp_micros(F.lit(base) + F.col("id") * F.lit(8 * H))
        .cast("timestamp_ntz")
        .alias("start_ts"),
        F.timestamp_micros(
            F.lit(base) + F.col("id") * F.lit(8 * H) + F.lit(12 * H)
        )
        .cast("timestamp_ntz")
        .alias("end_ts"),
    )
    return range_join(ev, camp, bin_us=4 * H).select(
        "event_id", "campaign_id", "start_ts"
    )


def _cube_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets over (event_type, hour): all four grouping
    combinations in one pass (Expand-based, single shuffle) — the
    OLAP-cube companion to the existing ROLLUP entry.  Integer-only
    aggregates keep the oracle hash-exact."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type", F.hour("ts").alias("hr"), "user_id"
    )
    return ev.cube("event_type", "hr").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("user_id").alias("sum_uid"),
    )


def _json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured schema-on-read: the events table's ``props`` JSON
    string column parsed JVM-side with ``from_json`` (typed struct, no
    Python, codegen'd) and aggregated per event_type — the standard
    "JSON column in a lakehouse table" access path.  Integer-only
    aggregates keep the oracle hash-exact; DuckDB parses the same JSON
    with ``json_extract``."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type",
        F.from_json("props", "k BIGINT").getField("k").alias("k"),
    )
    return ev.groupBy("event_type").agg(
        F.count("k").alias("n"),
        F.sum("k").cast("long").alias("sum_k"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
        F.countDistinct("k").alias("n_k"),
    )


def _templated_turns(docs: DataFrame, html) -> DataFrame:
    """(doc_id, html) -> kernel input shape (conv_id, turn_idx, text)."""
    return docs.select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        html.alias("text"),
    )


def _t4_table_shapes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4/T5 pipe-table kernel path, HASH-CHECKED: deterministic HTML tables
    built from ``documents.doc_id`` (visible to both engines) drive the real
    DOM→pipe-table kernel; the oracle reconstructs the exact expected
    markdown in SQL.  Covers all four shape quirks of the reference's
    ``_convert_table_to_markdown`` (app/core/html_processor.py:154-218):
    header table, ragged-row drop (:211), headerless first-row-as-header,
    header-only — plus T9's table restore ``\\n`` prefix (:463) and T10's
    spacing tighten (:493-507) via the surrounding paragraphs."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    a = F.pmod(F.col("doc_id"), F.lit(7)).cast("string")
    b = F.pmod(F.col("doc_id"), F.lit(5)).cast("string")
    m = F.pmod(F.col("doc_id"), F.lit(4))
    hdr = F.lit("<tr><th>hA</th><th>hB</th></tr>")
    row1 = F.concat(F.lit("<tr><td>a"), a, F.lit("</td><td>b"), b, F.lit("</td></tr>"))
    row2 = F.concat(F.lit("<tr><td>c"), a, F.lit("</td><td>d"), b, F.lit("</td></tr>"))
    ragged = F.concat(F.lit("<tr><td>solo"), a, F.lit("</td></tr>"))
    body = (
        F.when(m == 0, F.concat(hdr, row1, row2))
        .when(m == 1, F.concat(hdr, ragged, row2))
        .when(m == 2, F.concat(row1, row2))
        .otherwise(hdr)
    )
    html = F.concat(
        F.lit("<p>pre"), a, F.lit("</p><table>"), body, F.lit("</table><p>post</p>")
    )
    out = extract_transcripts(_templated_turns(docs, html), sort_output=False)
    return out.select(
        F.col("conv_id").cast("long").alias("doc_id"),
        "extracted_text",
        "tables_count",
    )


def _t6_math_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6 math→LaTeX kernel path, HASH-CHECKED: one deterministic math
    element per document exercises every extraction mode of the reference's
    ``_convert_math_to_markdown`` (app/core/html_processor.py:276-342):
    data-latex attr with ``$…$`` wrap, the >50-char ``$$`` block threshold,
    ``<annotation encoding="application/x-tex">`` fallback, ``span.math``
    stripped-text mode, and the no-latex fallback that keeps the original
    HTML (with T10's ``<math>`` spacing tighten)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    k = F.pmod(F.col("doc_id"), F.lit(9)).cast("string")
    m = F.pmod(F.col("doc_id"), F.lit(5))
    long_expr = F.concat(
        F.lit("\\sum_{i=0}^{"), k,
        F.lit("} \\alpha_i x^i + \\beta_i y^i + \\gamma_i z^i = 0"),
    )
    core = (
        F.when(m == 0, F.concat(F.lit('<math data-latex="E=mc^'), k, F.lit('"><mi>x</mi></math>')))
        .when(m == 1, F.concat(F.lit('<math data-latex="'), long_expr, F.lit('"><mi>x</mi></math>')))
        .when(m == 2, F.concat(
            F.lit('<math><semantics><mrow></mrow><annotation encoding="application/x-tex">a^'),
            k, F.lit("+b^"), k, F.lit("=c^"), k,
            F.lit("</annotation></semantics></math>"),
        ))
        .when(m == 3, F.concat(
            F.lit('<span class="math inline">x_'), k, F.lit("+y_"), k,
            F.lit("=z_"), k, F.lit("</span>"),
        ))
        .otherwise(F.lit("<math><mrow></mrow></math>"))
    )
    html = F.concat(F.lit("<p>before"), k, F.lit("</p>"), core, F.lit("<p>after</p>"))
    out = extract_transcripts(_templated_turns(docs, html), sort_output=False)
    return out.select(
        F.col("conv_id").cast("long").alias("doc_id"),
        "extracted_text",
        "math_count",
    )


def _s6_images_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6/T2/T7/T9 image path, HASH-CHECKED: a deterministic standalone
    ``<img>`` per document drives the kernel's src normalization to
    ``images/<basename>`` (app/core/pandoc_converter.py:145-191), the
    ``![alt](src "title")`` placeholder/restore round-trip
    (app/core/html_processor.py:391-404,447-480), and the exploded
    ImageInfo side table (app/models.py:52-58) — the title-less variant
    pins the kernel's ``title=''`` convention."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    p = F.pmod(F.col("doc_id"), F.lit(1000)).cast("string")
    n = F.pmod(F.col("doc_id"), F.lit(97)).cast("string")
    title_attr = F.when(
        F.pmod(F.col("doc_id"), F.lit(2)) == 0,
        F.concat(F.lit(' title="Figure '), n, F.lit('"')),
    ).otherwise(F.lit(""))
    html = F.concat(
        F.lit("<p>doc "), F.col("doc_id").cast("string"), F.lit(" body</p>"),
        F.lit('<img src="media/img/p'), p, F.lit('.png" alt="fig '), n,
        F.lit('"'), title_attr, F.lit(">"),
    )
    out = extract_transcripts(_templated_turns(docs, html), sort_output=False)
    return (
        out.select(
            F.col("conv_id").cast("long").alias("doc_id"),
            "extracted_text",
            F.explode("images").alias("img"),
        )
        .select(
            "doc_id",
            "extracted_text",
            F.col("img.src").alias("src"),
            F.col("img.alt").alias("alt"),
            F.col("img.title").alias("title"),
            F.col("img.filename").alias("filename"),
            F.col("img.in_table").alias("in_table"),
        )
    )


def _t11_cell_img_fix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T11 fragment img-path fix — dead code in the reference's main flow
    (``_fix_image_paths_in_content``, app/core/html_processor.py:424-445,
    never called), implemented for completeness: every ``img/@src`` inside
    an HTML fragment is rewritten to ``images/<basename>``.  The reference
    walks a DOM; on double-quoted attributes (all this engine's templated
    fragments, and all pandoc output) the semantics are exactly the
    lazy-prefix regexp rewrite — JVM-side, map-only, codegen'd."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    p = F.pmod(F.col("doc_id"), F.lit(1000)).cast("string")
    n = F.pmod(F.col("doc_id"), F.lit(97)).cast("string")
    frag = F.concat(
        F.lit("<td>cell "), F.col("doc_id").cast("string"),
        F.lit(' <img src="media/deep/p'), p, F.lit('.png" alt="a'), n,
        F.lit('"> and <img src="/abs/dir/x'), p, F.lit('.jpg" alt="b"></td>'),
    )
    fixed = F.regexp_replace(frag, r'(src=")[^"]*?([^/"]+)(")', r"$1images/$2$3")
    return docs.select(
        "doc_id", frag.alias("cell_html"), fixed.alias("fixed_html")
    )


def _t12_image_appendix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T12 image appendix — dead code in the reference (the call is
    commented out, app/core/html_processor.py:93) and latently broken: the
    appendix template reads ``img['tag']`` (:530) but the image dicts never
    carry that key (:408-415), so enabling it as-is would KeyError.
    Implemented for completeness with the reference's documented format;
    the reference's own markdown rendering (:401-404) fills the HTML slot,
    the nearest well-defined field.

    Spark shape: the kernel's images array → per-element entry strings via
    a higher-order ``transform`` (JVM-side, no Python), joined and prefixed
    — empty image list yields ''."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    p = F.pmod(F.col("doc_id"), F.lit(1000)).cast("string")
    n = F.pmod(F.col("doc_id"), F.lit(97)).cast("string")
    title_attr = F.when(
        F.pmod(F.col("doc_id"), F.lit(2)) == 0,
        F.concat(F.lit(' title="Figure '), n, F.lit('"')),
    ).otherwise(F.lit(""))
    img_tag = F.when(
        F.pmod(F.col("doc_id"), F.lit(5)) == 0, F.lit("")
    ).otherwise(
        F.concat(
            F.lit('<img src="media/img/p'), p, F.lit('.png" alt="fig '), n,
            F.lit('"'), title_attr, F.lit(">"),
        )
    )
    html = F.concat(
        F.lit("<p>doc "), F.col("doc_id").cast("string"), F.lit(" body</p>"),
        img_tag,
    )
    out = extract_transcripts(_templated_turns(docs, html), sort_output=False)

    def entry_str(img, i):
        idx = (i + 1).cast("string")
        md = F.concat(
            F.lit("!["), img.alt, F.lit("]("), img.src,
            F.when(
                img.title != "", F.concat(F.lit(' "'), img.title, F.lit('"'))
            ).otherwise(F.lit("")),
            F.lit(")"),
        )
        return F.concat(
            idx, F.lit(". **Image "), idx, F.lit(":**\n   - Source: `"),
            img.src, F.lit("`\n"),
            F.when(
                img.alt != "", F.concat(F.lit("   - Alt text: "), img.alt, F.lit("\n"))
            ).otherwise(F.lit("")),
            F.when(
                img.title != "",
                F.concat(F.lit("   - Title: "), img.title, F.lit("\n")),
            ).otherwise(F.lit("")),
            F.lit("   - HTML: `"), md, F.lit("`\n\n"),
        )

    appendix = F.when(F.size("images") == 0, F.lit("")).otherwise(
        F.concat(
            F.lit("\n\n---\n\n## Images Used in Document\n\n"),
            F.array_join(F.transform("images", entry_str), ""),
        )
    )
    return out.select(
        F.col("conv_id").cast("long").alias("doc_id"),
        F.size("images").alias("n_images"),
        appendix.alias("appendix"),
    )


def _t13_relative_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T13 markdown→images relative path (dead code in the reference main
    flow — the caller hardcodes "images", html_processor.py:67-69 — and
    implemented for completeness): the distributed HOF variant computes
    relpath(html_dir/images, md_dir) per row across four templated layout
    shapes (same dir / nested md / sibling dir / two levels up); the
    oracle states the expected literal for each shape, checking the
    general algorithm against known answers."""
    from extractor.paths import relative_image_path_col

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    d = F.col("doc_id").cast("string")
    html = F.concat(F.lit("out/conv"), d, F.lit("/main.html"))
    shape = F.pmod(F.col("doc_id"), F.lit(4))
    md = (
        F.when(shape == 0, F.concat(F.lit("out/conv"), d, F.lit("/doc.md")))
        .when(shape == 1, F.concat(F.lit("out/conv"), d, F.lit("/sub/doc.md")))
        .when(shape == 2, F.concat(F.lit("out/other"), d, F.lit("/doc.md")))
        .otherwise(F.lit("out/a/b/doc.md"))
    )
    return docs.select(
        "doc_id",
        html.alias("html_path"),
        md.alias("md_path"),
        relative_image_path_col(html, md).alias("rel_images"),
    )


def _media_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal metadata path, hash-checked: the synthetic media table's
    typed metadata is a pure function of md5 bytes, so DuckDB can rebuild
    it exactly — pinning the binary-synthesis plumbing (the decode kernel
    stays rows-only; codecs are stubbed)."""
    from extractor.ops import multimodal as mm

    media = mm.synth_media_df(spark)
    return media.select(
        "media_id",
        "kind",
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.col("meta.format").alias("format"),
        F.col("meta.n_bytes").alias("n_bytes"),
    )


def _extraction_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition lineage/metrics rows for the documents extraction.
    Partition composition varies with parallelism → aggregate to one
    stable corpus-level row."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    turns = docs.select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.col("text"),
    )
    manifest = lineage_manifest(extract_transcripts(turns, sort_output=False))
    return manifest.select(
        F.sum("turns").alias("turns"),
        F.sum("null_rows").alias("null_rows"),
        F.sum("error_rows").alias("error_rows"),
        F.sum("bytes_in").alias("bytes_in"),
    )


# ---------------------------------------------------------------------------
# Contract
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: extraction over sf0.001 documents + per-source rollup.

    ``source`` rides through the kernel as a passthrough column — ZERO joins
    (the round-1 version broadcast the whole corpus's (conv_id, source)
    mapping back onto itself, a driver OOM at 10^12 turns; the passthrough
    models the 100× plan: scan → kernel → one agg shuffle)."""
    sf_dir = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    turns = docs.select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.col("text"),
        F.col("source"),
    )
    extracted = extract_transcripts(
        turns, sort_output=False, extra_passthrough=("source",)
    )
    return (
        extracted.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("extracted_text").isNull().cast("long")).alias("null_rows"),
            F.round(F.avg("output_length"), 2).alias("avg_output_len"),
            F.sum("bytes_in").alias("bytes_in"),
        )
        .orderBy("source")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Contract entries, one per implemented operator; the order of this
    dict is part of the driver contract."""
    return {
        "pdf_lzw_roundtrip": _pdf_lzw_roundtrip,  # LZW + PNG-predictor decode
        # SFT training-pair assembly: bounded-frame context window +
        # char-budget right-cut, md5 hash-checked end to end
        "sft_pair_assembly": convops.sft_pair_assembly,
        # agent tool-usage transition matrix (lag window + tiny agg)
        "tool_transitions": convops.tool_transitions,
        # conversation-level quality gate (all-integer facets)
        "conv_quality_gate": convops.conv_quality_gate,
        # full BPE tokenizer: capped word-table merge learning + map-only
        # Arrow encode (rows-only — greedy merging isn't SQL-expressible;
        # Sennrich-corpus goldens + map-only plan gate in pytest)
        "bpe_encode": tokenize.bpe_encode_corpus,
        # content-defined chunking dedup profile (rolling-hash
        # boundaries survive insertions; chunk-level corpus dedup)
        "cdc_chunk_stats": dedup.cdc_chunk_stats,
        # conversation-level MinHash near-dup (retried agent episodes):
        # turn-set signatures, banded LSH, in-bucket pair agreement
        "conv_neardup_pairs": convops.conv_neardup_pairs,
        # per-conversation integrity audit: duplicate (conv_id,
        # turn_idx) rows, index gaps, non-zero start — one hash agg
        "conv_gap_audit": convops.conv_gap_audit,
        # DPO/RLHF preference-pair mining over retried episode
        # families: all-integer scoring, struct-max/min tiebreaks
        "preference_pairs": convops.preference_pairs,
        # contrastive (anchor, positive, negative) triplet mining with
        # md5-reproducible negative sampling; hashes cover joined text
        "contrastive_triplets": lambda spark, sf_dir: (
            convops.mine_contrastive_triplets(
                convops.derived_transcripts(spark, sf_dir), id_mod=500
            )
        ),
        # KV-cache shared-prefix savings profile (first-2-turn key)
        "prefix_sharing_stats": convops.prefix_sharing_stats,
        # hybrid retrieval: BM25 top-50 ⊕ int8-quantized-dot top-50,
        # reciprocal-rank fusion in exact integer nano-units
        "hybrid_rrf": similarity.hybrid_rrf,
        # SemDeDup: cell-scoped semantic prune, exact-integer cosine
        # test over int8 codes (dot²·10⁶ ≥ thr²·n2a·n2b)
        "semdedup_prune": similarity.semdedup_prune,
        # exact-decile length curriculum via value cutoffs (histogram
        # window, map-only assignment — never a global row sort)
        "length_curriculum": sampling.length_curriculum_buckets,
        # PSI distribution-drift gate between corpus snapshots
        # (sum-of-logs micro-units, clamped zero buckets)
        "psi_snapshot_drift": maintenance.psi_snapshot_drift,
        # mT5/XLM-R temperature language rebalancing (α=0.5: sqrt is
        # IEEE-correctly-rounded, so the weights are engine-exact)
        "lang_temperature_weights": sampling.lang_temperature_weights,
        # word2vec negative-sampling distribution (count^0.75 via
        # sqrt(x·sqrt(x)) — exact without libm pow)
        "unigram_neg_sampling": textops.unigram_neg_sampling_weights,
        # composed SFT curation: quality gate → conv near-dup prune →
        # pair assembly, the integration itself under one oracle
        "sft_curation_pipeline": convops.sft_curation_pipeline,
        # conversation-level embedding pooling: exact bigint lane sums
        # of int8 codes on the vec_id%40 conversation axis
        "conv_embedding_pool": similarity.conv_embedding_pool,
        # off-topic turn detection: leave-one-out dot q·(S−q) against
        # the pooled episode vector, argmin per conversation
        "conv_offtopic_turns": similarity.conv_offtopic_turns,
        # Luhn-validated PII audit (checksum gate on 16-digit hits)
        "pii_luhn_audit": textops.pii_luhn_audit,
        # JSONL training-shard export sink (atomic publish, read-back
        # verified manifest; oracle checks disk contents vs packing spec)
        "export_training_shards": export.export_training_shards,
        # stitch operator under a DuckDB oracle (hash-checked markdown
        # assembly; the kernel-fed conversation_stitch stays rows-only)
        "conv_stitch_exact": _conv_stitch_exact,
        # expire_snapshots analogue: content-verified retention rewrite
        "expire_checkpoints": _expire_checkpoints,
        "extract_mode_mathjax_toc": _extract_mode_mathjax_toc,
        # fastText-style hashed linear classifier inference: map-only,
        # zero shuffle, no vocabulary table (the hashing trick)
        "hashed_classifier_score": textops.hashed_classifier_score,
        # Gopher within-doc duplicate-paragraph fractions (basis points)
        "paragraph_dup_profile": textops.paragraph_dup_profile,
        # count–min sketch heavy hitters (deterministic md5 hash family,
        # so the sketch itself is oracle-checkable)
        "cms_topk": textops.cms_topk,
        # Kneser–Ney continuation-count tables (distinct-left-context
        # unigram weights, Brants et al.'s distributed LM-counts shape)
        "kn_continuation": textops.kn_continuation,
        # cross-snapshot incremental ingest dedup: new batch vs the
        # stored corpus fingerprint table (planted dup branches)
        "incremental_ingest_dedup": dedup.incremental_ingest_dedup,
        # MOSS winnowing fingerprints (local-min k-gram sampling with
        # the shared-substring guarantee) + corpus sharing profile
        "winnowing_fingerprints": dedup.winnowing_fingerprints,
        # UT1-style domain blocklist with subdomain suffix semantics
        "url_blocklist_filter": _url_blocklist_filter,
        # per-domain round-robin crawl politeness schedule
        "politeness_schedule": _politeness_schedule,
        # CCNet head/middle/tail perplexity thirds per language
        # (composed over bigram_lm_score's oracle-exact output)
        "ccnet_perplexity_buckets": textops.ccnet_perplexity_buckets,
        # heading-outline side table through the real DOM parser with
        # counter-stack section numbering (templated, hash-checked)
        "headings_outline": _headings_outline,
        # Flesch reading-ease quality signal, exact milli-units
        "flesch_readability": textops.flesch_readability,
        # winnowing containment pairs (planted cross-doc passages,
        # hot-fingerprint m² guard)
        "winnowing_containment_pairs": dedup.winnowing_containment_pairs,
        # perceptual-hash (dHash) image near-dup buckets over the
        # float32 feature kernel
        "media_neardup_groups": _media_neardup_groups,
        # C4 heuristic line/page cleaning (terminal punct, >=5 words,
        # javascript lines, curly/lorem pages) — planted-payload oracle
        "c4_page_filter": textops.c4_page_filter,
        # encoding-damage audit: mojibake marker counts + repair chain
        "mojibake_stats": textops.mojibake_stats,
        # SFT loss-masking char spans over the stitched conversation
        "loss_mask_spans": convops.loss_mask_spans_query,
        # MRL truncated-serving gate: top-20 overlap full-dim vs dim/4,
        # exact int8 dots (Kusupati et al. matryoshka evaluation)
        "matryoshka_eval": similarity.matryoshka_eval,
        # whole-doc next-fit-decreasing packing: per-shard greedy via
        # a grouped Arrow stage, recursive-CTE oracle replays the chain
        "bin_pack_nextfit": dedup.bin_pack_nextfit,
        # RAG groundedness: assistant claim phrase vs prior tool output,
        # conversation-locked verbatim-support join
        "grounding_audit": convops.grounding_audit_query,
        # per-role-transition latency profile over the ts column
        "turn_latency_stats": convops.turn_latency_query,
        # exact-integer ROC AUC of the hashed classifier (Mann-Whitney
        # over the distinct-score histogram, never a global row sort)
        "classifier_auc": textops.classifier_auc,
        # per-source curation funnel: C4 ∧ quality ∧ encoding verdicts
        # in ONE fused scan (the ops share column helpers — no joins)
        "curation_report": textops.curation_report,
        # HITS hubs/authorities, max-normalized exact-integer rounds
        "domain_hits": _domain_hits,
        # blocked-Levenshtein entity resolution: best fuzzy duplicate
        # per part (equi-join blocking + length-band prune + struct-min)
        "fuzzy_match_parts": dedup.fuzzy_match_parts,
        # k-core peeling (converged 3-core of the layered domain graph)
        "domain_kcore": _domain_kcore,
        # reliability-diagram calibration of the hashed classifier:
        # mid-rank confidence vs observed accuracy per decile, exact
        "calibration_ece": textops.calibration_ece,
        # Bradley-Terry episode strengths: exact-integer MM rounds over
        # bounded within-family pairwise comparisons
        "bt_strength": convops.bt_strength_query,
        # weekly retention cohort matrix (integer week indices; the
        # distinct-user count pre-aggregates on (cell, user))
        "retention_cohorts": _retention_cohorts,
        # zone-map data-skipping audit: clustered vs scattered layouts
        # of the same rows under one date predicate
        "zonemap_prune_stats": maintenance.zonemap_prune_stats,
        # mode-vote label-propagation communities (3 unrolled rounds)
        "domain_communities": _domain_communities,
        # cogroup().applyInPandas click→view as-of attribution (the
        # pandas merge_asof path; integer-us exact)
        "cogroup_merge_asof": _cogroup_merge_asof,
        # ADD COLUMN schema evolution: two-schema write + one
        # mergeSchema read, rollup hash-certifies the roundtrip
        "schema_evolution_read": maintenance.schema_evolution_read,
        # confusion matrix of the two lang classifiers (disagreement
        # mining before trusting either as a corpus gate)
        "lang_confusion": textops.lang_confusion,
        # right-to-be-forgotten cascade audit across documents, derived
        # chunks, and the vector store (one broadcast join per table)
        "gdpr_delete_cascade": relational.gdpr_delete_cascade,
        # train/val/test contamination: LSH near-dup pairs spanning
        # different md5 splits (bucket-local, never all-pairs)
        "split_leakage_audit": dedup.split_leakage_audit,
        # FK orphan audit over the five schema edges (dedup'd parent
        # keys broadcast; conditional count, ppm exact)
        "referential_integrity_audit": relational.referential_integrity_audit,
        # dynamic partition-overwrite backfill: one partition replaced,
        # read-back rollup certifies the rest untouched
        "backfill_partition_overwrite": maintenance.backfill_partition_overwrite,
        # length-grouped dynamic micro-batching for inference sweeps
        # (padding-waste-bounded batches; recursive-CTE oracle)
        "inference_batch_pack": dedup.inference_batch_pack,
        # per-source OOV rate vs the corpus top-k vocabulary (broadcast
        # vocab, no token shuffle; tokenizer-eval surface)
        "oov_rate_report": textops.oov_rate_report,
        # Jaccard link prediction over the layered domain graph —
        # hub-capped wedge join, all-integer ppm scores
        "linkpred_jaccard": _linkpred_jaccard,
        # DAG critical-path depth (longest path to fixpoint, recursive-
        # CTE-checked) — the dependency-scheduling primitive
        "dag_critical_path": _dag_critical_path,
        # chi-square term selection vs the lang label (classifier
        # feature mining; exact integer micro-units)
        "term_chi2": textops.term_chi2_topk,
        # skyline / Pareto frontier (two-level bucket decomposition —
        # no O(n²) self-join, no global window over data rows)
        "pareto_frontier": relational.pareto_frontier,
        # video frame-sampling plan (map-only sequence explode; the
        # Spark half of video ingest, codec decode stubbed elsewhere)
        "media_frame_sample": _media_frame_sample,
        # Unicode-confusable skeleton dedup: homoglyph evasion twins
        # (planted) collapse under a translate-fold + md5 group
        "homoglyph_dedup": dedup.homoglyph_dedup,
        # fractional-epoch corpus mixing (DoReMi-style recipes):
        # floor(e) full copies + md5-gated extra copy, map-only
        "mixture_epochs": sampling.mixture_epochs,
        # SentencePiece unigram-LM tokenizer training (EM rounds over a
        # broadcast piece model; rows-only — iterative EM isn't SQL,
        # reconstruction/mass/determinism invariants pytest-pinned)
        "unigram_lm_em": tokenize.unigram_lm_em,
        # late-interaction retrieval (ColBERT MaxSim) over int8 codes —
        # query token bag broadcast, doc×|Q|-bounded agg shuffles
        "colbert_maxsim": similarity.colbert_maxsim_topk,
        # Wilson-lower-bound source trust ranking (z=2: one IEEE
        # division + one correctly-rounded sqrt — engine-exact)
        "wilson_source_ranking": textops.wilson_source_ranking,
        # Kendall-tau agreement of two quality signals per source
        # (capped pairwise stage — the m² guard)
        "signal_agreement_tau": textops.signal_agreement_tau,
        # per-conversation OLS quality-trend slope in exact integers
        "conv_quality_trend": convops.conv_quality_trend,
        # test-vs-train n-gram novelty (memorization audit; shares the
        # decontamination gram stream + split buckets)
        "ngram_novelty": dedup.ngram_novelty,
        # Great-Expectations-style DQ rule suite (one fused scan/table)
        "dq_expectations": maintenance.dq_expectations,
        # dynamic partition pruning end-to-end (scan-level pruning
        # subquery plan-gated in pytest; result oracle-certified)
        "dpp_partition_prune": maintenance.dpp_partition_prune,
        # DeepWalk graph→sequence corpus (keyed-uniform next hop over
        # a ranked adjacency; one node-keyed join per step)
        "deepwalk_corpus": _deepwalk_corpus,
        # contrastive hard-negative mining: top-k cross-label int8
        # dots, anchors broadcast, corpus unshuffled
        "hard_negative_mining": similarity.hard_negative_mining,
        # T5 span-corruption masking plan (exact 15% rate, one span
        # per 20-token block, map-only — plan-gated)
        "span_corruption_plan": tokenize.span_corruption_plan,
        # k-anonymity audit of quasi-identifier cells (privacy gate;
        # user-bounded pre-aggregate, violating cells only)
        "k_anonymity_audit": relational.k_anonymity_audit,
        # unbiased pass@k estimator (HumanEval eq. 1) in exact bigint
        # telescoping products, ONE task-cardinality aggregate
        "pass_at_k": convops.pass_at_k,
        # quality-based survivorship over the duplicate clusters
        # (longest member wins — composes cluster formation end-to-end)
        "cluster_survivorship": dedup.cluster_survivorship,
        # BLEU-1 modified unigram precision between retried episodes
        # and their originals (exact clipped counts, ppm)
        "bleu1_retry_similarity": convops.bleu1_retry_similarity,
        # Structured-Streaming == batch parity under the DuckDB oracle:
        # readStream → windowed agg → memory sink, bounded replay
        "stream_hourly_events": _stream_hourly_events,
        # SCD Type 2 dimension maintenance: change stream → versioned
        # validity intervals, all windows on one user partitioning
        "scd2_user_history": temporal.scd2_user_history,
        # PERMISSIVE-mode corrupt-record containment at JSONL ingest
        # (planted truncations land in _corrupt_record, job survives)
        "jsonl_corrupt_read": maintenance.jsonl_corrupt_read,
        # Cohen's kappa between the two lang classifiers (chance-
        # corrected agreement, exact bigint ppm)
        "classifier_kappa": textops.classifier_kappa,
        # A/B readout: SRM chi-square + exact cross-product lift
        # (keyed-uniform user assignment, one user pre-aggregate)
        "ab_experiment_report": relational.ab_experiment_report,
        # offline bandit policy evaluation (replay method): filtered
        # rollup over logged interactions, exact micro-cents
        "bandit_replay_eval": relational.bandit_replay_eval,
        # active-learning margin sampling over classifier scores
        # (TakeOrderedAndProject — never a global sort)
        "uncertainty_sample": textops.uncertainty_sample,
        # exact-sufficient-stats Pearson correlation per event type
        # (bigint sums, two correctly-rounded sqrts, one micro-round)
        "metric_correlation": relational.metric_correlation,
        # greedy k-center coreset (diversity data pruning, Gonzalez/
        # Sener-Savarese): k map-only scans, exact-int L2², unrolled
        # round-by-round in the oracle
        "kcenter_coreset": similarity.kcenter_coreset,
        # per-epoch training order over the materialized mixture —
        # epoch-salted permutation (each epoch shuffles differently)
        "epoch_training_order": sampling.epoch_training_order,
        # watermark-tuning audit: deterministic arrival replay, rows a
        # W-second watermark would drop, per event type
        "late_data_audit": temporal.late_data_audit,
        "s8_delete_rewrite": relational.s8_delete_rewrite,
        "s3_merge_upsert": relational.s3_merge_upsert,
        "o1_ordered_concat": relational.o1_ordered_concat,
        "f5_existence_gate": relational.f5_existence_gate,
        "set_op_retry_merge": relational.set_op_retry_merge,
        "t14_lineage_stamp": relational.t14_lineage_stamp,
        "rollup_event_hierarchy": relational.rollup_event_hierarchy,
        "decontaminate_ngram": dedup.decontaminate,
        "dedup_apply": dedup.dedup_apply,
        "corpus_curation": dedup.corpus_curation,
        "dedup_minhash_lsh": dedup.minhash_lsh_buckets,
        "dedup_ngram_jaccard": dedup.ngram_jaccard_adjacent,
        "dedup_simhash": dedup.simhash,
        "dedup_simhash_pairs": dedup.simhash_neardup_pairs,
        "similarity_cosine_topk": similarity.cosine_topk,
        "similarity_embedding_neardup": similarity.embedding_cosine_neardup,
        "similarity_lsh_ann": similarity.lsh_ann_buckets,  # rows-only
        # ANN search: LSH candidates + exact re-rank; approximate by design,
        # gated by the >=90% recall pytest against cosine_topk (no SQL oracle)
        "similarity_ann_topk": similarity.ann_topk,  # rows-only
        "similarity_ivf_topk": similarity.ivf_topk,  # rows-only (recall-gated)
        "dedup_clusters": dedup.neardup_clusters,
        # web-scale CC variant: large-star/small-star (identical output,
        # O(log^2 n) rounds) — same oracle as dedup_clusters
        "dedup_clusters_two_phase": lambda spark, sf_dir: dedup.neardup_clusters(
            spark, sf_dir, algorithm="two_phase"
        ),
        "dedup_minhash_estimate": dedup.minhash_jaccard_estimate,
        "chunk_documents": dedup.chunk_documents,
        "train_split_assign": dedup.train_split_assign,
        "pretrain_pipeline": dedup.pretrain_pipeline,
        # sampling / corpus-mixing suite (oracle-checked, md5-keyed)
        "stratified_sample": sampling.stratified_sample,
        "corpus_mix_sample": sampling.corpus_mix_sample,
        "training_order": sampling.training_order,
        "per_stratum_topk_sample": sampling.per_stratum_topk_sample,
        "global_exact_k_sample": sampling.global_exact_k_sample,
        # lean (vec_id-only) index layout: same buckets + recall, 1 extra
        # broadcast join; must return the IDENTICAL top-k (pytest-asserted)
        "similarity_ann_topk_lean": lambda spark, sf_dir: similarity.ann_topk(
            spark, sf_dir, index_layout="lean"
        ),
        # iterative numeric algorithm (Lloyd's k-means) — rows-only by the
        # contract's iterative-algorithms clause; invariants pytest-gated
        "kmeans_topics": similarity.kmeans_topics,
        "dedup_exact": dedup.exact_dedup,
        "docx_decode": _docx_decode,  # T1 raw-byte path, stdlib OOXML reader
        "s9_pdf_export": _s9_pdf_export,  # S9 render sink, stdlib PDF writer
        "pdf_roundtrip": _pdf_roundtrip,  # write->decode PDF byte roundtrip
        # Iceberg rewrite_data_files / OPTIMIZE analogue, content-verified
        "compact_table": maintenance.compact_table,
        # link-graph side table over the real DOM parser (templated oracle)
        "link_graph": _link_graph,
        # byte-sniffing format dispatch: html/docx/pdf/layout/text payloads
        # routed by content alone through the real decoders (hash-checked)
        "format_router": _format_router,
        # RFC-3986 URL canonicalization + per-domain crawl-frontier rollup
        "url_normalize": _url_normalize,
        "url_frontier": _url_frontier,
        # iterative web-graph algorithm, exact-integer formulation
        "domain_pagerank": _domain_pagerank,
        # temporal joins Spark lacks: as-of (union+window) and range (bins)
        "asof_view_attribution": _asof_view_attribution,
        "range_join_campaigns": _range_join_campaigns,
        # OLAP cube grouping sets (companion to rollup_event_hierarchy)
        "cube_event_stats": _cube_event_stats,
        # semi-structured: JSON column schema-on-read (from_json, JVM-side)
        "json_props_stats": _json_props_stats,
        # broadcast-bloom decontamination prefilter: same output contract
        # as decontaminate_ngram (shared oracle), map-side bit_get topology
        "decontaminate_bloom": dedup.decontaminate_bloom,
        # degree-ordered triangle census (Suri–Vassilvitskii orientation)
        "triangle_count": _triangle_count,
        # IR inverted index with capped posting lists (OOM-safe collect)
        "inverted_index": textops.inverted_index,
        # UAX #15 NFC canonicalization, Arrow kernel vs DuckDB ICU oracle
        "nfc_normalize_stats": textops.nfc_normalize_stats,
        # Okapi BM25 ranked retrieval, exact-integer micro-unit scoring
        "bm25_topk": textops.bm25_topk,
        # windowed-hash substring-duplication profile (suffix-array-dedup
        # approximation); JVM-side window generation, two-level distinct agg
        "substring_dup_profile": dedup.substring_dup_profile,
        # per-key LOCF grid resample (batch analogue of a watermarked
        # streaming resample); grid-sized windows, never event-sized
        "gap_fill_hourly": _gap_fill_hourly,
        # per-vector int8 scalar quantization (map-only HOF projection)
        "embedding_quantize_int8": similarity.embedding_quantize_int8,
        # bucketBy layout: join + agg replan to ZERO Exchange (plan-gated)
        "bucketed_colocated_join": maintenance.bucketed_colocated_join,
        # PMI collocation mining (sum-of-logs, exact micro-unit oracle)
        "collocations_pmi": textops.collocations_pmi,
        # per-domain anchor-text top-k (WindowGroupLimit, composed oracle)
        "anchor_text_topk": _anchor_text_topk,
        # multi-source BFS crawl depth (recursive-CTE-checked fixpoint)
        "bfs_hop_distance": _bfs_hop_distance,
        # BPE merge-step pair counting (tokenizer-training kernel)
        "bpe_pair_counts": textops.bpe_pair_counts,
        # transcript curation family (ops/convops.py): repeated-context
        # strip, token-budget truncation, role-sequence validation —
        # per-conversation windows on the extraction partitioning
        "conv_prefix_strip": convops.conv_prefix_strip,
        "conv_token_truncate": convops.conv_token_truncate,
        "conv_role_stats": convops.conv_role_stats,
        # stuck-loop detection: gaps-and-islands run-length encoding
        "conv_repeat_runs": convops.conv_repeat_runs,
        # DSIR importance resampling weights (hashed-feature LLR,
        # int64 micro-unit sums — order-independent, oracle-exact)
        "dsir_importance": textops.dsir_importance,
        # char-distribution Shannon entropy quality signal (micro-nats)
        "doc_entropy": textops.doc_entropy,
        # rolling z-score anomaly detection, exact-integer milli-units
        "zscore_outliers": _zscore_outliers,
        # incremental view maintenance: merged partials == full recompute
        # (the oracle checks the IVM identity itself)
        "ivm_event_counts": maintenance.ivm_event_counts,
        # key-skew diagnostic: exact discrete percentile profile of the
        # per-key count distribution (decides salting / AQE skew-split)
        "key_skew_profile": maintenance.event_user_skew_profile,
        # weight-proportional sampling via exact-integer bottom-k tickets
        "weighted_bottomk_sample": sampling.weighted_bottomk_sample,
        # ANALYZE TABLE statistics collection (CBO / zone-map feed)
        "table_profile": maintenance.table_profile,
        "extract_documents": _extract_documents,
        "extraction_lineage": _extraction_lineage,
        # templated kernel paths (oracle-checked: deterministic HTML from
        # doc_id drives the real DOM kernel; DuckDB rebuilds the output)
        "t4_table_shapes": _t4_table_shapes,
        "t6_math_modes": _t6_math_modes,
        "s6_images_inventory": _s6_images_inventory,
        "t11_cell_img_fix": _t11_cell_img_fix,
        "t12_image_appendix": _t12_image_appendix,
        "t13_relative_paths": _t13_relative_paths,
        "boilerplate_strip": _boilerplate_strip,
        "t10_markdown_cleanup": textops.t10_markdown_cleanup,
        "token_stats": textops.token_stats,
        "quality_score": textops.quality_score,
        # (everything below was green in r3/r4) ----
        "line_dedup": dedup.line_dedup,
        "pack_sequences": dedup.pack_sequences,
        # nested prefix-sum variant for unbounded corpora — identical
        # output, same oracle; the single-partition window shrinks to
        # n_docs/(bucket_width*l2_width) rows
        "pack_sequences_two_level": lambda spark, sf_dir: dedup.pack_sequences(
            spark, sf_dir, two_level=True
        ),
        "extract_transcripts_pipeline": _extract_synth_transcripts,
        "layout_linearize": _layout_linearize,
        "images_side_table": _images_side_table,
        "conversation_stitch": _conversation_stitch,
        "lang_id": textops.lang_id,
        "doc_fingerprint": textops.doc_fingerprint,
        "pii_redact": textops.pii_redact,
        "repetition_quality": textops.repetition_quality,
        "lang_id_chargram": textops.lang_id_chargram,
        "vocab_topk": textops.vocab_topk,
        "tfidf_top_terms": textops.tfidf_top_terms,
        "bigram_lm_score": textops.bigram_lm_score,
        # relational operators (oracle-checked)
        "q1_pricing_summary": relational.q1_pricing_summary,
        "q3_shipping_priority": relational.q3_shipping_priority,
        "q_regional_revenue": relational.q_regional_revenue,
        "f_filters_quarantine": relational.f_filters_quarantine,
        "f4_path_safety": relational.f4_path_safety,
        "a4_batch_rollup": relational.a4_batch_rollup,
        "o1_turn_ordering": relational.o1_turn_ordering,
        "a6_collision_suffix": relational.a6_collision_suffix,
        "o3_sessionize": relational.o3_sessionize,
        "hourly_event_stats": relational.hourly_event_stats,
        "a2_array_aggregate": relational.a2_array_aggregate,
        "percentile_metrics": relational.percentile_metrics,
        "funnel_stages": relational.funnel_stages,
        "salted_skew_join": relational.salted_skew_join,
        "snapshot_diff_cdc": relational.snapshot_diff_cdc,
        "zorder_key": relational.zorder_key,
        "sketch_profile": textops.sketch_profile,  # rows-only (sketches)
        "pivot_event_hours": relational.pivot_event_hours,
        "argmax_latest_event": relational.argmax_latest_event,
        "media_features": _media_features,
        "media_meta": _media_meta,
        "s7_point_lookup": relational.s7_point_lookup,
    }



def _dd_md5_bucket(salt: str, mod: int, key: str = "doc_id") -> str:
    """DuckDB expression for the engine's shared keyed-uniform primitive:
    first 8 md5 hex digits of ``salt || key`` parsed as an integer, mod N —
    bit-for-bit the Spark side's ``extractor.ops.md5_bucket``."""
    return (
        "CAST(list_sum(list_transform(range(8), i -> "
        "CAST(strpos('0123456789abcdef', "
        f"substr(md5('{salt}' || CAST({key} AS VARCHAR)), "
        "CAST(i + 1 AS INTEGER), 1)) - 1 AS BIGINT) "
        "* (CAST(1 AS BIGINT) << CAST(4 * (7 - i) AS INTEGER)))) "
        f"% {mod} AS BIGINT)"
    )


def oracle_sql() -> dict[str, str]:
    # Kirsch–Mitzenmacher lanes: one md5 per token, hex digits 1-8/9-16
    # as 32-bit ints (h2 forced odd), i-th hash = (h1 + i*h2) mod 2^32 —
    # mirrors dedup.minhash_signatures exactly.
    def _dd_hex32(start: int) -> str:
        return (
            "CAST(list_sum(list_transform(range(8), i -> "
            "CAST(strpos('0123456789abcdef', substr(md5(tok), "
            f"CAST(i + {start} AS INTEGER), 1)) - 1 AS BIGINT) "
            "* (CAST(1 AS BIGINT) << CAST(4 * (7 - i) AS INTEGER)))) "
            "AS BIGINT)"
        )

    mh_th = (
        f"SELECT doc_id, {_dd_hex32(1)} AS h1, "
        f"({_dd_hex32(9)} | 1) AS h2 FROM toks"
    )
    mh_mins = ",\n            ".join(
        f"CAST(min((h1 + {i} * h2) % 4294967296) AS BIGINT) AS mh_{i}"
        for i in range(dedup.N_HASHES)
    )
    mh_match = " + ".join(
        f"(CASE WHEN sa.mh_{i} = sb.mh_{i} THEN 1 ELSE 0 END)"
        for i in range(dedup.N_HASHES)
    )
    band_selects = "\n        UNION ALL\n".join(
        f"        SELECT doc_id, {b} AS band, "
        f"md5(concat_ws('|', mh_{b * dedup.BAND_SIZE}, mh_{b * dedup.BAND_SIZE + 1})) AS bucket FROM sig"
        for b in range(dedup.N_HASHES // dedup.BAND_SIZE)
    )
    # The documents corpus is markup-free prose (verified: no '<' or '&'),
    # so the kernel's fast path — html2text md-escaping with '>' acting as
    # an unescaped entity-chunk boundary (escape_md_text), whitespace
    # collapse, T10's leading-blockquote strip — is fully SQL-expressible
    # and the extraction core itself gets a hash-checked oracle.  RE2 has
    # no lookahead; the emulation below is lookahead-exact (pinned by
    # tests/test_oracle_emulation.py against the kernel on an adversarial
    # corpus; ASCII whitespace/digit domain, matching the synthesizer;
    # explicit [ \t\r\n\f\v] classes because RE2's \s lacks \v):
    #
    # * backslash rule: a run of k backslashes doubles to 2k before an
    #   md-special char ('\' is itself special, so every bs in the run is
    #   followed by one) and to 2k-1 otherwise.  Emulated by doubling ALL
    #   backslashes, then un-doubling each run-final pair not followed by a
    #   special (fixes the old consuming form's 3-vs-4 divergence on '\\*').
    # * dot/plus/dash rules anchor at line starts AND after '>' (chunk
    #   boundary re-anchors '^' exactly as html2text sees bs4's '&gt;').
    prose = r"""
            WITH esc AS (
              SELECT doc_id,
                     regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                     regexp_replace(
                       text,
                       '\\', '\\\\', 'g'),
                       '\\\\([^\\`*_{}\[\]()#+.!-]|$)', '\\\1', 'g'),
                       '(?m)(^|>)([ \t\r\n\f\v]*\d+)\.([ \t\r\n\f\v])', '\1\2\\.\3', 'g'),
                       '(?m)(^|>)([ \t\r\n\f\v]*)\+([ \t\r\n\f\v])', '\1\2\\+\3', 'g'),
                       '(?m)(^|>)([ \t\r\n\f\v]*)-([ \t\r\n\f\v-])', '\1\2\\-\3', 'g') AS t
              FROM documents WHERE text IS NOT NULL
            ), coll AS (
              SELECT doc_id,
                     trim(regexp_replace(t, '[ \t\r\n\f\v]+', ' ', 'g')) AS c
              FROM esc
            ), fin AS (
              SELECT doc_id,
                     CASE WHEN c LIKE '>%'
                          THEN trim(regexp_replace(c, '^> *', ''))
                          ELSE c END AS extracted_text
              FROM coll
            )
    """
    simhash_sig = r"""
            WITH toks AS (
              SELECT doc_id,
                     unnest(list_filter(list_distinct(
                       regexp_split_to_array(lower(trim(text)), '[ \t\r\n\f\v]+')),
                       x -> x <> '')) AS tok
              FROM documents WHERE text IS NOT NULL
            ), h AS (
              SELECT doc_id,
                     list_sum(list_transform(range(1, 17), i ->
                       CAST(strpos('0123456789abcdef', substr(md5(tok), i, 1)) - 1
                            AS HUGEINT)
                       * (CAST(1 AS HUGEINT) << (4 * (16 - i))))) AS hv
              FROM toks
            ), bits AS (
              SELECT doc_id, j,
                     sum(CASE WHEN ((hv >> CAST(j AS INTEGER)) & 1) = 1
                              THEN 1 ELSE -1 END) AS acc
              FROM h CROSS JOIN range(64) t(j)
              GROUP BY doc_id, j
            ), sig AS (
              SELECT doc_id,
                     sum(CASE WHEN acc > 0
                              THEN (CAST(1 AS HUGEINT) << CAST(j AS INTEGER))
                              ELSE CAST(0 AS HUGEINT) END) AS s
              FROM bits GROUP BY doc_id
            ), signed_nz AS (
              SELECT doc_id,
                     CAST(CASE WHEN s >= (CAST(1 AS HUGEINT) << 63)
                               THEN s - (CAST(1 AS HUGEINT) << 64)
                               ELSE s END AS BIGINT) AS simhash
              FROM sig
            ), signed AS (
              -- docs whose text tokenizes to nothing (empty/whitespace-only)
              -- emit no unnest rows above, but the kernel emits simhash=0
              -- for them: left-join back to the full non-null doc set
              SELECT d.doc_id, coalesce(z.simhash, 0) AS simhash
              FROM (SELECT doc_id FROM documents WHERE text IS NOT NULL) d
              LEFT JOIN signed_nz z USING (doc_id)
            )
    """
    oracles = {
        "extract_documents": prose + f"""
            SELECT CAST(doc_id AS VARCHAR) AS conv_id, 0 AS turn_idx,
                   extracted_text, 0 AS tables_count, 0 AS math_count,
                   0 AS images_count,
                   length(extracted_text) AS output_length,
                   CAST(NULL AS VARCHAR) AS error
            FROM fin
            UNION ALL
            SELECT CAST(doc_id AS VARCHAR), 0, NULL, 0, 0, 0, 0, 'null_input'
            FROM documents WHERE text IS NULL
        """,
        # Templated kernel paths: the Spark side builds deterministic HTML
        # from doc_id and runs the REAL DOM kernel; the oracle rebuilds the
        # expected markdown by construction (no HTML parsing needed — the
        # templates are fixed up to integer substitutions).
        "compact_table": r"""
            SELECT count(*) AS rows,
                   16 AS files_before,
                   4 AS files_after,
                   TRUE AS content_match
            FROM events
        """,
        "pdf_roundtrip": r"""
            SELECT doc_id,
                   CAST(list_sum(list_transform(
                     string_split(text, chr(10)),
                     s -> greatest(CAST(1 AS BIGINT),
                                   CAST(ceil(length(s) / 90.0) AS BIGINT))
                   )) AS BIGINT) AS n_lines,
                   CAST(ceil(list_sum(list_transform(
                     string_split(text, chr(10)),
                     s -> greatest(CAST(1 AS BIGINT),
                                   CAST(ceil(length(s) / 90.0) AS BIGINT))
                   )) / 54.0) AS BIGINT) AS n_pages,
                   TRUE AS roundtrip_ok,
                   TRUE AS flate_ok
            FROM documents
            WHERE text IS NOT NULL
        """,
        "pdf_lzw_roundtrip": r"""
            SELECT doc_id,
                   CAST(list_sum(list_transform(
                     string_split(text, chr(10)),
                     s -> greatest(CAST(1 AS BIGINT),
                                   CAST(ceil(length(s) / 90.0) AS BIGINT))
                   )) AS BIGINT) AS n_lines,
                   CAST(ceil(list_sum(list_transform(
                     string_split(text, chr(10)),
                     s -> greatest(CAST(1 AS BIGINT),
                                   CAST(ceil(length(s) / 90.0) AS BIGINT))
                   )) / 54.0) AS BIGINT) AS n_pages,
                   TRUE AS lzw_ok,
                   TRUE AS pred_ok
            FROM documents
            WHERE text IS NOT NULL
        """,
        "s9_pdf_export": r"""
            SELECT doc_id,
                   CAST(list_sum(list_transform(
                     string_split(text, chr(10)),
                     s -> greatest(CAST(1 AS BIGINT),
                                   CAST(ceil(length(s) / 90.0) AS BIGINT))
                   )) AS BIGINT) AS n_lines,
                   CAST(ceil(list_sum(list_transform(
                     string_split(text, chr(10)),
                     s -> greatest(CAST(1 AS BIGINT),
                                   CAST(ceil(length(s) / 90.0) AS BIGINT))
                   )) / 54.0) AS BIGINT) AS n_pages,
                   TRUE AS valid
            FROM documents
            WHERE text IS NOT NULL
        """,
        "link_graph": r"""
            WITH d AS (SELECT doc_id, doc_id % 3 AS m FROM documents),
                 ext AS (
                   SELECT d.doc_id,
                          'https://site'
                            || CAST((d.doc_id + t.i) % 50 AS VARCHAR)
                            || '.example.com/p'
                            || CAST(d.doc_id % 100 AS VARCHAR)
                            || '?i=' || CAST(t.i AS VARCHAR) AS href,
                          'ref ' || CAST(d.doc_id % 10 AS VARCHAR)
                            || '-' || CAST(t.i AS VARCHAR) AS anchor,
                          FALSE AS is_internal,
                          'site' || CAST((d.doc_id + t.i) % 50 AS VARCHAR)
                            || '.example.com' AS domain
                   FROM d, (SELECT UNNEST([0, 1, 2]) AS i) t
                   WHERE t.i = 0 OR d.m >= t.i
                 )
            SELECT * FROM ext
            UNION ALL
            SELECT doc_id,
                   '#sec' || CAST(doc_id % 4 AS VARCHAR) AS href,
                   'jump' AS anchor,
                   TRUE AS is_internal,
                   CAST(NULL AS VARCHAR) AS domain
            FROM d
        """,
        "extract_mode_mathjax_toc": r"""
            WITH p AS (
              SELECT doc_id,
                     CAST(doc_id % 9 AS VARCHAR) AS k,
                     doc_id % 3 AS m
              FROM documents
            )
            SELECT doc_id,
                   CASE m
                     WHEN 0 THEN '* Sec' || k || chr(10) || '  * Sub' || k
                          || repeat(chr(10), 2) || '# Sec' || k
                          || repeat(chr(10), 2) || 'intro' || k
                          || repeat(chr(10), 2) || '## Sub' || k
                          || repeat(chr(10), 2) || '\(E=mc^' || k || '\)'
                          || repeat(chr(10), 2) || 'tail' || k
                     WHEN 1 THEN '* Sec' || k || chr(10)
                          || repeat(' ', 10) || '* Deep' || k
                          || repeat(chr(10), 2) || '# Sec' || k
                          || repeat(chr(10), 2) || '#### Deep' || k
                          || repeat(chr(10), 2) || '\[' || chr(10)
                          || '\sum_{i=0}^{' || k
                          || '} \alpha_i x^i + \beta_i y^i + \gamma_i z^i = 0'
                          || chr(10) || '\]'
                          || repeat(chr(10), 2) || 'tail' || k
                     ELSE '* Sec' || k
                          || repeat(chr(10), 2) || '# Sec' || k
                          || repeat(chr(10), 2) || 'intro' || k
                          || repeat(chr(10), 2) || '\(x_' || k || '+y_' || k
                          || '=z_' || k || '\)'
                          || repeat(chr(10), 2) || 'tail' || k
                   END AS extracted_text,
                   1 AS math_count
            FROM p
        """,
        "docx_decode": r"""
            WITH p AS (
              SELECT doc_id,
                     CAST(doc_id % 7 AS VARCHAR) AS a,
                     CAST(doc_id % 5 AS VARCHAR) AS b,
                     doc_id % 6 AS m
              FROM documents
            )
            SELECT doc_id,
                   CASE m
                     WHEN 0 THEN '# Title' || a || repeat(chr(10), 2)
                          || 'body' || b
                     WHEN 1 THEN '**bold' || a || '**' || repeat(chr(10), 2)
                          || '![](images/image1.png)caption'
                          || repeat(chr(10), 2) || 'tail' || b
                     WHEN 2 THEN 'pre' || a || repeat(chr(10), 3)
                          || '| hA | hB |' || chr(10) || '| --- | --- |'
                          || chr(10) || '| a' || a || ' | b' || b || ' |'
                          || repeat(chr(10), 3) || 'post'
                     WHEN 3 THEN 'before $x^{' || b || '}+1$ after'
                          || repeat(chr(10), 2) || 'end' || a
                     WHEN 4 THEN 'pre' || a || repeat(chr(10), 2)
                          || '  * bulA' || a || chr(10) || '  * bulB' || b
                          || repeat(chr(10), 2)
                          || '  1. numA' || a || chr(10) || '  2. numB' || b
                          || repeat(chr(10), 2) || 'fin'
                     ELSE 'see [link' || a || '](https://example.com/doc) end'
                          || b
                   END AS extracted_text,
                   CASE m WHEN 2 THEN 1 ELSE 0 END AS tables_count,
                   CASE m WHEN 3 THEN 1 ELSE 0 END AS math_count,
                   CASE m WHEN 1 THEN 1 ELSE 0 END AS images_count
            FROM p
        """,
        "format_router": r"""
            WITH p AS (
              SELECT doc_id,
                     doc_id % 5 AS m,
                     CAST(doc_id % 7 AS VARCHAR) AS a,
                     CAST(doc_id % 3 AS VARCHAR) AS b,
                     CAST(doc_id % 5 AS VARCHAR) AS b5,
                     doc_id % 6 AS m6
              FROM documents
            )
            SELECT doc_id,
                   CASE m
                     WHEN 0 THEN 'html'
                     WHEN 1 THEN 'docx'
                     WHEN 2 THEN 'pdf'
                     WHEN 3 THEN 'layout_json'
                     ELSE 'text'
                   END AS format,
                   CASE m
                     WHEN 0 THEN '# Doc ' || a || repeat(chr(10), 2)
                          || 'body ' || b || ' & tail'
                     WHEN 1 THEN CASE m6
                       WHEN 0 THEN '# Title' || a || repeat(chr(10), 2)
                            || 'body' || b5
                       WHEN 1 THEN '**bold' || a || '**' || repeat(chr(10), 2)
                            || '![](images/image1.png)caption'
                            || repeat(chr(10), 2) || 'tail' || b5
                       WHEN 2 THEN 'pre' || a || repeat(chr(10), 3)
                            || '| hA | hB |' || chr(10) || '| --- | --- |'
                            || chr(10) || '| a' || a || ' | b' || b5 || ' |'
                            || repeat(chr(10), 3) || 'post'
                       WHEN 3 THEN 'before $x^{' || b5 || '}+1$ after'
                            || repeat(chr(10), 2) || 'end' || a
                       WHEN 4 THEN 'pre' || a || repeat(chr(10), 2)
                            || '  * bulA' || a || chr(10) || '  * bulB' || b5
                            || repeat(chr(10), 2)
                            || '  1. numA' || a || chr(10) || '  2. numB' || b5
                            || repeat(chr(10), 2) || 'fin'
                       ELSE 'see [link' || a || '](https://example.com/doc) end'
                            || b5
                     END
                     WHEN 2 THEN 'pdf doc ' || a || ' line two ' || b
                     WHEN 3 THEN 'layout ' || a
                     ELSE 'plain *text* ' || a || chr(10) || 'line ' || b
                   END AS extracted_text,
                   CASE WHEN m = 1 AND m6 = 2 THEN 1 ELSE 0 END AS tables_count,
                   CASE WHEN m = 1 AND m6 = 3 THEN 1 ELSE 0 END AS math_count,
                   CASE WHEN m = 1 AND m6 = 1 THEN 1 ELSE 0 END AS images_count
            FROM p
        """,
        "url_normalize": r"""
            WITH p AS (
              SELECT doc_id,
                     doc_id % 6 AS m,
                     CAST(doc_id % 50 AS VARCHAR) AS k,
                     CAST(doc_id % 100 AS VARCHAR) AS j
              FROM documents
            )
            SELECT doc_id,
                   CASE m
                     WHEN 0 THEN 'https://site' || k || '.example.com/p' || j
                          || '?a=1&b=2'
                     WHEN 1 THEN 'http://site' || k || '.example.com/'
                     WHEN 2 THEN 'https://site' || k || '.example.com/p' || j
                     WHEN 5 THEN 'https://site' || k || '.example.com/p' || j
                          || '/sub?a=1&z=9'
                   END AS url,
                   CASE WHEN m IN (0, 1, 2, 5)
                        THEN 'site' || k || '.example.com'
                   END AS url_domain
            FROM p
        """,
        "url_frontier": r"""
            WITH p AS (
              SELECT doc_id,
                     doc_id % 6 AS m,
                     CAST(doc_id % 50 AS VARCHAR) AS k,
                     CAST(doc_id % 100 AS VARCHAR) AS j
              FROM documents
            ), n AS (
              SELECT doc_id,
                     CASE m
                       WHEN 0 THEN 'https://site' || k || '.example.com/p'
                            || j || '?a=1&b=2'
                       WHEN 1 THEN 'http://site' || k || '.example.com/'
                       WHEN 2 THEN 'https://site' || k || '.example.com/p' || j
                       WHEN 5 THEN 'https://site' || k || '.example.com/p'
                            || j || '/sub?a=1&z=9'
                     END AS url,
                     'site' || k || '.example.com' AS url_domain
              FROM p
            )
            SELECT url_domain AS domain,
                   COUNT(*) AS n_links,
                   COUNT(DISTINCT url) AS n_urls,
                   COUNT(DISTINCT doc_id) AS n_src_docs,
                   MIN(url) AS sample_url
            FROM n
            WHERE url IS NOT NULL
            GROUP BY url_domain
        """,
        "asof_view_attribution": r"""
            WITH c AS (
              SELECT event_id, user_id, ts FROM events
              WHERE event_type = 'click'
            ), v AS (
              SELECT user_id, ts, event_id, value FROM events
              WHERE event_type = 'view'
            )
            SELECT c.event_id, c.user_id, c.ts,
                   v.event_id AS asof_event_id,
                   v.value    AS asof_value,
                   epoch_us(c.ts) - epoch_us(v.ts) AS asof_lag_us
            FROM c ASOF LEFT JOIN v
              ON c.user_id = v.user_id AND c.ts >= v.ts
        """,
        "range_join_campaigns": r"""
            WITH camp AS (
              SELECT i AS campaign_id,
                     TIMESTAMP '2024-01-01 00:00:00' + to_hours(8 * i)
                       AS start_ts,
                     TIMESTAMP '2024-01-01 00:00:00' + to_hours(8 * i + 12)
                       AS end_ts
              FROM range(20) t(i)
            )
            SELECT e.event_id, camp.campaign_id, camp.start_ts
            FROM events e
            JOIN camp ON e.ts BETWEEN camp.start_ts AND camp.end_ts
        """,
        "cube_event_stats": r"""
            SELECT event_type, hour(ts) AS hr,
                   COUNT(*) AS n, CAST(SUM(user_id) AS BIGINT) AS sum_uid
            FROM events
            GROUP BY CUBE (event_type, hour(ts))
        """,
        "json_props_stats": r"""
            WITH t AS (
              SELECT event_type,
                     CAST(json_extract(props, '$.k') AS BIGINT) AS k
              FROM events
            )
            SELECT event_type,
                   COUNT(k) AS n,
                   CAST(SUM(k) AS BIGINT) AS sum_k,
                   MIN(k) AS min_k,
                   MAX(k) AS max_k,
                   COUNT(DISTINCT k) AS n_k
            FROM t
            GROUP BY event_type
        """,
        "domain_pagerank": r"""
            WITH e AS (
              SELECT DISTINCT
                     doc_id % 50 AS src,
                     (7 * (doc_id % 50) + doc_id // 50) % 50 AS dst
              FROM documents
              WHERE ((doc_id % 50) + 2 * (doc_id // 50)) % 3 <> 0
            ), deg AS (
              SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src
            ), n AS (
              SELECT src AS node FROM e UNION SELECT dst FROM e
            ), r0 AS (
              SELECT node, CAST(1000000000000 AS BIGINT) AS rank FROM n
            ), r1 AS (
              SELECT n.node,
                     150000000000 + COALESCE(SUM(
                       (r.rank * 85) // (100 * deg.outdeg)), 0) AS rank
              FROM n
              LEFT JOIN e ON e.dst = n.node
              LEFT JOIN deg ON deg.src = e.src
              LEFT JOIN r0 r ON r.node = e.src
              GROUP BY n.node
            ), r2 AS (
              SELECT n.node,
                     150000000000 + COALESCE(SUM(
                       (r.rank * 85) // (100 * deg.outdeg)), 0) AS rank
              FROM n
              LEFT JOIN e ON e.dst = n.node
              LEFT JOIN deg ON deg.src = e.src
              LEFT JOIN r1 r ON r.node = e.src
              GROUP BY n.node
            ), r3 AS (
              SELECT n.node,
                     150000000000 + COALESCE(SUM(
                       (r.rank * 85) // (100 * deg.outdeg)), 0) AS rank
              FROM n
              LEFT JOIN e ON e.dst = n.node
              LEFT JOIN deg ON deg.src = e.src
              LEFT JOIN r2 r ON r.node = e.src
              GROUP BY n.node
            ), r4 AS (
              SELECT n.node,
                     150000000000 + COALESCE(SUM(
                       (r.rank * 85) // (100 * deg.outdeg)), 0) AS rank
              FROM n
              LEFT JOIN e ON e.dst = n.node
              LEFT JOIN deg ON deg.src = e.src
              LEFT JOIN r3 r ON r.node = e.src
              GROUP BY n.node
            )
            SELECT node, CAST(rank AS BIGINT) AS rank FROM r4
        """,
        "t4_table_shapes": r"""
            WITH p AS (
              SELECT doc_id,
                     CAST(doc_id % 7 AS VARCHAR) AS a,
                     CAST(doc_id % 5 AS VARCHAR) AS b,
                     doc_id % 4 AS m
              FROM documents
            )
            SELECT doc_id,
                   'pre' || a || repeat(chr(10), 3) ||
                   CASE m
                     WHEN 0 THEN '| hA | hB |' || chr(10) || '| --- | --- |'
                          || chr(10) || '| a' || a || ' | b' || b || ' |'
                          || chr(10) || '| c' || a || ' | d' || b || ' |'
                     WHEN 1 THEN '| hA | hB |' || chr(10) || '| --- | --- |'
                          || chr(10) || '| c' || a || ' | d' || b || ' |'
                     WHEN 2 THEN '| a' || a || ' | b' || b || ' |'
                          || chr(10) || '| --- | --- |'
                          || chr(10) || '| c' || a || ' | d' || b || ' |'
                     ELSE '| hA | hB |' || chr(10) || '| --- | --- |'
                   END || repeat(chr(10), 3) || 'post' AS extracted_text,
                   1 AS tables_count
            FROM p
        """,
        "t6_math_modes": r"""
            WITH p AS (
              SELECT doc_id,
                     CAST(doc_id % 9 AS VARCHAR) AS k,
                     doc_id % 5 AS m
              FROM documents
            )
            SELECT doc_id,
                   CASE WHEN m = 4
                        THEN 'before' || k || chr(10)
                             || '<math><mrow></mrow></math>' || chr(10) || 'after'
                        ELSE 'before' || k || chr(10) || chr(10) ||
                             CASE m
                               WHEN 0 THEN '$E=mc^' || k || '$'
                               WHEN 1 THEN '$$' || chr(10) || '\sum_{i=0}^{' || k
                                    || '} \alpha_i x^i + \beta_i y^i + \gamma_i z^i = 0'
                                    || chr(10) || '$$'
                               WHEN 2 THEN '$a^' || k || '+b^' || k || '=c^' || k || '$'
                               ELSE '$x_' || k || '+y_' || k || '=z_' || k || '$'
                             END || chr(10) || chr(10) || 'after'
                   END AS extracted_text,
                   1 AS math_count
            FROM p
        """,
        "s6_images_inventory": r"""
            WITH p AS (
              SELECT doc_id,
                     CAST(doc_id % 1000 AS VARCHAR) AS pp,
                     CAST(doc_id % 97 AS VARCHAR) AS n,
                     doc_id % 2 = 0 AS titled
              FROM documents
            )
            SELECT doc_id,
                   'doc ' || CAST(doc_id AS VARCHAR) || ' body'
                   || chr(10) || chr(10)
                   || '![fig ' || n || '](images/p' || pp || '.png'
                   || CASE WHEN titled THEN ' "Figure ' || n || '"' ELSE '' END
                   || ')' AS extracted_text,
                   'images/p' || pp || '.png' AS src,
                   'fig ' || n AS alt,
                   CASE WHEN titled THEN 'Figure ' || n ELSE '' END AS title,
                   'p' || pp || '.png' AS filename,
                   FALSE AS in_table
            FROM p
        """,
        # boilerplate_strip: the wrapped-chrome document is deterministic
        # (nav 18 chars, h1 'Document' 8, body paragraph, div 9, footer 7 =
        # 5 blocks), so the jusText classification in language-independent
        # mode reduces to: paragraph good iff collapsed length >= 80 (LONG_
        # BLOCK); the heading survives iff the paragraph does; nav/div/
        # footer die on link density.  Hash-checks the DOM-heuristic kernel.
        "boilerplate_strip": r"""
            WITH c AS (
              SELECT doc_id, trim(regexp_replace(text, '\s+', ' ', 'g')) AS ct
              FROM documents WHERE text IS NOT NULL
            )
            SELECT doc_id,
                   CASE WHEN length(ct) >= 80
                        THEN 'Document' || chr(10) || chr(10) || ct
                        ELSE '' END AS main_text,
                   5 AS n_blocks,
                   CASE WHEN length(ct) >= 80 THEN 2 ELSE 0 END AS n_good,
                   round(1.0 - (CASE WHEN length(ct) >= 80
                                     THEN 8 + length(ct) ELSE 0 END)::DOUBLE
                             / (length(ct) + 42)::DOUBLE, 4)
                     AS boilerplate_ratio,
                   CAST(NULL AS VARCHAR) AS error
            FROM c
        """,
        "extraction_lineage": """
            SELECT count(*) AS turns,
                   CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                     AS null_rows,
                   CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                     AS error_rows,
                   CAST(sum(coalesce(length(text), 0)) AS BIGINT) AS bytes_in
            FROM documents
        """,
        "dedup_simhash": simhash_sig + """
            SELECT doc_id, simhash FROM signed
        """,
        # connected components over the duplicate graph: transitive closure
        # via recursive CTE (exact in DuckDB; the Spark side is iterative
        # min-label propagation — same fixpoint)
        "dedup_clusters": simhash_sig.replace("WITH ", "WITH RECURSIVE ", 1)
        + f"""
            , bands AS MATERIALIZED (
              SELECT doc_id, simhash, b.band,
                     (simhash >> CAST(b.band * 16 AS INTEGER)) & 65535 AS key
              FROM signed CROSS JOIN (
                SELECT unnest(range({dedup.SIMHASH_BANDS})) AS band) b
            ), near AS (
              SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM bands a JOIN bands b
                ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
              WHERE bit_count(xor(a.simhash, b.simhash)) <= {dedup.SIMHASH_RADIUS}
            ), exact AS (
              SELECT keeper AS doc_a, doc_id AS doc_b FROM (
                SELECT doc_id,
                       min(doc_id) OVER (PARTITION BY md5(text)) AS keeper
                FROM documents WHERE text IS NOT NULL
              ) WHERE keeper < doc_id
            ), edges0 AS (
              SELECT doc_a, doc_b FROM exact
              UNION
              SELECT doc_a, doc_b FROM near
            ), edges AS MATERIALIZED (
              -- MATERIALIZED: the recursive reach step below re-evaluates
              -- its join input each iteration; inlined, that re-runs the
              -- whole simhash+LSH pipeline per iteration (121s -> s at
              -- sf0.1)
              SELECT doc_a AS a, doc_b AS b FROM edges0
              UNION
              SELECT doc_b, doc_a FROM edges0
            ), reach AS (
              SELECT a AS node, a AS label FROM edges
              UNION
              SELECT e.a, r.label FROM reach r JOIN edges e ON e.b = r.node
            ), comp AS (
              SELECT node AS doc_id, min(label) AS cluster_id
              FROM reach GROUP BY node
            ), csizes AS (
              SELECT cluster_id, count(*) AS cluster_size
              FROM comp GROUP BY cluster_id
            )
            SELECT c.doc_id, c.cluster_id, s.cluster_size
            FROM comp c JOIN csizes s USING (cluster_id)
        """,
        "chunk_documents": r"""
            WITH t AS (
              SELECT doc_id,
                     list_filter(
                       regexp_split_to_array(trim(text), '[ \t\r\n\f\v]+'),
                       x -> x <> '') AS toks
              FROM documents WHERE text IS NOT NULL
            ), nz AS (
              SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0
            ), ch AS (
              SELECT doc_id, toks, n,
                     CAST(g.s // 48 AS INTEGER) AS chunk_idx,
                     CAST(g.s AS INTEGER) AS start
              FROM nz,
                   unnest(range(0, ((n - 1) // 48) * 48 + 1, 48)) AS g(s)
            )
            SELECT doc_id, chunk_idx, CAST(n AS INTEGER) AS doc_tokens,
                   CAST(len(list_slice(toks, start + 1, start + 64))
                        AS INTEGER) AS chunk_len,
                   array_to_string(list_slice(toks, start + 1, start + 64),
                                   ' ') AS chunk_text
            FROM ch
        """,
        "pretrain_pipeline": r"""
            WITH gated AS (
              SELECT doc_id, text,
                     len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
                     length(regexp_replace(text, '\s+', '', 'g'))
                       / len(regexp_split_to_array(trim(text), '\s+')) AS mean_wl
              FROM documents
              WHERE text IS NOT NULL
                AND n_chars BETWEEN 100 AND 52428800
            ), kept AS (
              SELECT doc_id, text FROM (
                SELECT doc_id, text,
                       row_number() OVER (PARTITION BY md5(text)
                                          ORDER BY doc_id) AS rn
                FROM gated WHERE n_tokens >= 20 AND mean_wl < 15
              ) WHERE rn = 1
            ), train AS (
              SELECT doc_id, text FROM kept
              WHERE CAST(list_sum(list_transform(range(8), i ->
                      CAST(strpos('0123456789abcdef',
                                  substr(md5('split:' || CAST(doc_id AS VARCHAR)),
                                         CAST(i + 1 AS INTEGER), 1)) - 1
                           AS BIGINT)
                      * (CAST(1 AS BIGINT) << CAST(4 * (7 - i) AS INTEGER))))
                    % 1000 AS BIGINT) < 980
            ), t AS (
              SELECT doc_id,
                     list_filter(
                       regexp_split_to_array(trim(text), '[ \t\r\n\f\v]+'),
                       x -> x <> '') AS toks
              FROM train
            ), nz AS (
              SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0
            ), ch AS (
              SELECT doc_id, toks, n,
                     CAST(g.s // 48 AS INTEGER) AS chunk_idx,
                     CAST(g.s AS INTEGER) AS start
              FROM nz,
                   unnest(range(0, ((n - 1) // 48) * 48 + 1, 48)) AS g(s)
            )
            SELECT doc_id, chunk_idx, CAST(n AS INTEGER) AS doc_tokens,
                   CAST(len(list_slice(toks, start + 1, start + 64))
                        AS INTEGER) AS chunk_len,
                   array_to_string(list_slice(toks, start + 1, start + 64),
                                   ' ') AS chunk_text
            FROM ch
        """,
        "train_split_assign": r"""
            WITH b AS (
              SELECT doc_id,
                     CAST(list_sum(list_transform(range(8), i ->
                       CAST(strpos('0123456789abcdef',
                                   substr(md5('split:' || CAST(doc_id AS VARCHAR)),
                                          CAST(i + 1 AS INTEGER), 1)) - 1
                            AS BIGINT)
                       * (CAST(1 AS BIGINT) << CAST(4 * (7 - i) AS INTEGER))))
                     % 1000 AS BIGINT) AS split_bucket
              FROM documents
            )
            SELECT doc_id, split_bucket,
                   CASE WHEN split_bucket < 980 THEN 'train'
                        WHEN split_bucket < 990 THEN 'val'
                        ELSE 'test' END AS split
            FROM b
        """,
        "dedup_simhash_pairs": simhash_sig + f"""
            , bands AS (
              SELECT doc_id, simhash, b.band,
                     (simhash >> CAST(b.band * 16 AS INTEGER)) & 65535 AS key
              FROM signed CROSS JOIN (
                SELECT unnest(range({dedup.SIMHASH_BANDS})) AS band) b
            )
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   bit_count(xor(a.simhash, b.simhash)) AS hamming
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
            WHERE bit_count(xor(a.simhash, b.simhash)) <= {dedup.SIMHASH_RADIUS}
        """,
        "t10_markdown_cleanup": r"""
            SELECT doc_id,
                   trim(
                     regexp_replace(regexp_replace(regexp_replace(
                     regexp_replace(regexp_replace(regexp_replace(
                     regexp_replace(regexp_replace(regexp_replace(
                       '> ' || substring(text, 1, 40) ||
                       chr(10)||chr(10)||chr(10)||chr(10)||chr(10)||chr(9)||chr(9) ||
                       substring(text, 41, 30) ||
                       chr(10)||'    indented tail'||chr(10)||chr(10)||chr(10)||
                       '<table>t</table>'||chr(10)||chr(10)||chr(10)||
                       '<math>m</math>'||chr(10)||chr(10)||chr(10)||'done',
                       '(?m)^>\s*', '', 'g'),
                       '(?m)^\t+', '', 'g'),
                       '(?m)^    ', '', 'g'),
                       '\n{4,}', chr(10)||chr(10)||chr(10), 'g'),
                       '\n{3}(?=\n)', chr(10)||chr(10), 'g'),
                       '\n+(<table)', chr(10)||'\1', 'g'),
                       '(</table>)\n+', '\1'||chr(10)||chr(10), 'g'),
                       '\n+(<math)', chr(10)||'\1', 'g'),
                       '(</math>)\n+', '\1'||chr(10), 'g')
                   ) AS cleaned
            FROM documents WHERE text IS NOT NULL
        """,
        "token_stats": r"""
            SELECT doc_id,
                   len(regexp_split_to_array(trim(text), '\s+')) AS ws_tokens,
                   len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS bpe_ish_tokens,
                   length(text) AS chars
            FROM documents WHERE text IS NOT NULL
        """,
        "quality_score": r"""
            WITH t AS (
              SELECT doc_id, text,
                     regexp_split_to_array(trim(text), '\s+') AS toks
              FROM documents WHERE text IS NOT NULL
            )
            SELECT doc_id,
                   len(toks) AS n_tokens,
                   round(len(list_filter(toks, x -> x IN
                     ('the','a','and','of','to','in','is','for','on','with')))
                     / len(toks), 4) AS stopword_ratio,
                   round(len(regexp_extract_all(text, '[^\w\s]'))
                     / length(text), 4) AS punct_density,
                   round(length(regexp_replace(text, '\s+', '', 'g'))
                     / len(toks), 4) AS mean_word_len,
                   (len(toks) >= 10
                    AND length(regexp_replace(text, '\s+', '', 'g')) / len(toks) < 15)
                     AS passes_quality
            FROM t
        """,
        "lang_id": r"""
            WITH t AS (
              SELECT doc_id,
                     regexp_split_to_array(lower(text), '\s+') AS toks
              FROM documents WHERE text IS NOT NULL
            ), s AS (
              SELECT doc_id,
                     len(list_filter(toks, x -> x IN ('the','and','of'))) AS score_en,
                     len(list_filter(toks, x -> x IN ('der','und','das'))) AS score_de,
                     len(list_filter(toks, x -> x IN ('le','et','les'))) AS score_fr
              FROM t
            )
            SELECT doc_id, score_en, score_de, score_fr,
                   CASE WHEN score_en >= score_de AND score_en >= score_fr
                             AND score_en > 0 THEN 'en'
                        WHEN score_de >= score_fr AND score_de > 0 THEN 'de'
                        WHEN score_fr > 0 THEN 'fr'
                        ELSE 'unknown' END AS pred_lang
            FROM s
        """,
        "doc_fingerprint": r"""
            SELECT doc_id,
                   md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fingerprint,
                   CAST(floor(length(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) / 100) * 100 AS BIGINT) AS len_bucket
            FROM documents WHERE text IS NOT NULL
        """,
        "pii_redact": r"""
            WITH p AS (
              SELECT doc_id,
                     substr(text, 1, 50)
                     || ' mail user' || CAST(doc_id AS VARCHAR) || '@example.com'
                     || ' ip 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                     || '.1 call +1 555-'
                     || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS payload
              FROM documents WHERE text IS NOT NULL
            )
            SELECT doc_id,
                   CAST(len(regexp_extract_all(payload,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
                     AS n_emails,
                   CAST(len(regexp_extract_all(payload,
                     '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
                   CAST(len(regexp_extract_all(payload,
                     '\+\d{1,2} \d{3}-\d{4}')) AS BIGINT) AS n_phones,
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(payload,
                         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                         '[EMAIL]', 'g'),
                       '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g'),
                     '\+\d{1,2} \d{3}-\d{4}', '[PHONE]', 'g') AS redacted
            FROM p
        """,
        "repetition_quality": r"""
            WITH toks AS (
              SELECT doc_id,
                     unnest(list_filter(
                       regexp_split_to_array(lower(trim(text)), '[ \t\r\n\f\v]+'),
                       x -> x <> '')) AS tok
              FROM documents WHERE text IS NOT NULL
            ), pt AS (
              SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY doc_id, tok
            )
            SELECT doc_id,
                   CAST(sum(c) AS BIGINT) AS n_tokens,
                   CAST(count(*) AS BIGINT) AS n_distinct,
                   CAST(max(c) AS BIGINT) AS top_count,
                   round(1 - count(*) / CAST(sum(c) AS DOUBLE), 4) AS dup_fraction,
                   round(max(c) / CAST(sum(c) AS DOUBLE), 4) AS top_fraction
            FROM pt GROUP BY doc_id
        """,
        "line_dedup": r"""
            WITH base AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(trim(text), '\s+'),
                                 x -> x <> '') AS toks,
                     'common license header variant '
                       || CAST(doc_id % 2 AS VARCHAR) AS header
              FROM documents WHERE text IS NOT NULL
            ), nz AS (
              SELECT doc_id,
                     list_prepend(header, list_transform(
                       range(0, CAST((len(toks)-1) // 8 AS INTEGER) + 1, 1),
                       i -> array_to_string(list_slice(toks, i*8+1, i*8+8), ' ')
                     )) AS ls
              FROM base WHERE len(toks) > 0
            ), ex AS (
              SELECT doc_id,
                     unnest(list_transform(range(1, len(ls)+1, 1),
                       i -> {'pos': i-1, 'line': ls[i]})) AS u
              FROM nz
            ), e2 AS (
              SELECT doc_id, u.pos AS pos, u.line AS line,
                     md5(u.line) AS line_hash
              FROM ex
            ), counts AS (
              SELECT line_hash, count(*) AS n_occur FROM e2 GROUP BY line_hash
            ), kept AS (
              SELECT e2.* FROM e2 JOIN counts USING (line_hash)
              WHERE n_occur < 5
            ), rebuilt AS (
              SELECT doc_id, count(*) AS n_kept,
                     string_agg(line, chr(10) ORDER BY pos) AS cleaned
              FROM kept GROUP BY doc_id
            ), spine AS (
              SELECT doc_id, count(*) AS n_lines FROM e2 GROUP BY doc_id
            )
            SELECT s.doc_id, CAST(s.n_lines AS BIGINT) AS n_lines,
                   CAST(s.n_lines - coalesce(r.n_kept, 0) AS BIGINT)
                     AS n_dup_lines,
                   coalesce(r.cleaned, '') AS cleaned_text
            FROM spine s LEFT JOIN rebuilt r USING (doc_id)
        """,
        "pack_sequences": r"""
            WITH d AS (
              SELECT doc_id,
                     CAST(len(list_filter(
                       regexp_split_to_array(trim(text), '\s+'),
                       x -> x <> '')) AS BIGINT) AS n_tok
              FROM documents WHERE text IS NOT NULL
            ), nz AS (SELECT * FROM d WHERE n_tok > 0),
            c AS (
              SELECT doc_id, n_tok,
                     CAST(coalesce(sum(n_tok) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       AS BIGINT) AS "start"
              FROM nz
            )
            SELECT doc_id, n_tok, "start",
                   "start" // 256 AS seq_id,
                   "start" % 256 AS offset_in_seq,
                   (("start" + n_tok - 1) // 256) - ("start" // 256) + 1
                     AS n_seqs_spanned,
                   (("start" + n_tok - 1) // 256) > ("start" // 256)
                     AS crosses_boundary
            FROM c
        """,
        "q1_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(avg(l_quantity), 2) AS avg_qty,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "q3_shipping_priority": """
            SELECT l_orderkey, o_orderdate, o_orderpriority,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
            GROUP BY l_orderkey, o_orderdate, o_orderpriority
            ORDER BY revenue DESC, l_orderkey
            LIMIT 10
        """,
        "q_regional_revenue": """
            SELECT r_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   count(*) AS n_items
            FROM lineitem
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name
        """,
        "f_filters_quarantine": """
            SELECT doc_id, lang, n_chars,
                   (text IS NOT NULL AND text NOT LIKE '~$%'
                    AND n_chars <= 52428800) AS accepted
            FROM documents
        """,
        "f4_path_safety": """
            WITH p AS (
              SELECT doc_id,
                     (CASE WHEN doc_id % 101 = 0 THEN '/' ELSE '' END)
                     || source || '/'
                     || (CASE WHEN doc_id % 97 = 0 THEN '../' ELSE '' END)
                     || CAST(doc_id AS VARCHAR) || '.docx' AS relative_path
              FROM documents
            )
            SELECT doc_id, relative_path,
                   NOT (relative_path LIKE '/%'
                        OR relative_path LIKE '\\%'
                        OR position('..' IN relative_path) > 0) AS path_safe
            FROM p
        """,
        "a4_batch_rollup": """
            WITH agg AS (
              SELECT event_type,
                     count(*) AS total,
                     CAST(sum(CASE WHEN value > 100 THEN 1 ELSE 0 END) AS BIGINT) AS completed,
                     CAST(sum(CASE WHEN value <= 100 THEN 1 ELSE 0 END) AS BIGINT) AS failed
              FROM events GROUP BY event_type
            )
            SELECT event_type, total, completed, failed,
                   CASE WHEN completed = 0 THEN 'FAILED'
                        WHEN failed = 0 THEN 'COMPLETED'
                        ELSE 'PARTIAL' END AS status
            FROM agg
        """,
        "o1_turn_ordering": """
            SELECT user_id, rn, event_id, event_type FROM (
              SELECT user_id, event_id, event_type,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS rn
              FROM events
            ) WHERE rn <= 3
        """,
        "a6_collision_suffix": """
            SELECT event_id,
                   printf('%s_%d', event_type,
                          row_number() OVER (PARTITION BY event_type
                                             ORDER BY ts, event_id)) AS unique_name
            FROM events
        """,
        "o3_sessionize": """
            WITH g AS (
              SELECT event_id, user_id, ts,
                     CASE WHEN lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER w IS NULL
                            OR CAST(floor(epoch(ts)) AS BIGINT)
                               - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER w > 1800
                          THEN 1 ELSE 0 END AS new_session
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            )
            SELECT event_id, user_id,
                   CAST(sum(new_session) OVER (PARTITION BY user_id
                                               ORDER BY ts, event_id
                                               ROWS UNBOUNDED PRECEDING) AS BIGINT)
                     AS session_id
            FROM g
        """,
        "hourly_event_stats": """
            SELECT date_trunc('hour', ts) AS hour, event_type,
                   count(*) AS n,
                   round(sum(value), 2) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "a2_array_aggregate": """
            SELECT event_id,
                   round(0.0 + round(value, 2) + round(value * 2, 2) + 1.0, 2)
                     AS total_duration
            FROM events
        """,
        "percentile_metrics": """
            SELECT event_type,
                   round(quantile_cont(value, 0.5), 4) AS p50,
                   round(quantile_cont(value, 0.9), 4) AS p90,
                   round(quantile_cont(value, 0.99), 4) AS p99,
                   count(*) AS n
            FROM events GROUP BY event_type
        """,
        "pivot_event_hours": """
            SELECT event_type,
                   CAST(sum(CASE WHEN day = 1 THEN 1 ELSE 0 END) AS BIGINT) AS d1,
                   CAST(sum(CASE WHEN day = 2 THEN 1 ELSE 0 END) AS BIGINT) AS d2,
                   CAST(sum(CASE WHEN day = 3 THEN 1 ELSE 0 END) AS BIGINT) AS d3,
                   CAST(sum(CASE WHEN day = 4 THEN 1 ELSE 0 END) AS BIGINT) AS d4,
                   CAST(sum(CASE WHEN day = 5 THEN 1 ELSE 0 END) AS BIGINT) AS d5
            FROM (SELECT event_type, date_part('day', ts) AS day FROM events)
            GROUP BY event_type
        """,
        "argmax_latest_event": """
            WITH t AS (
              SELECT *, (epoch_us(ts) - 1704067200000000) * 100000 + event_id
                        AS ord_key
              FROM events
            )
            SELECT user_id,
                   arg_max(event_type, ord_key) AS last_type,
                   round(arg_max(value, ord_key), 2) AS last_value,
                   max(ts) AS last_ts
            FROM t GROUP BY user_id
        """,
        # media_features: the synthetic payload body is md5('42:'||i) bytes
        # cycled to width*height, so the kernel's strided-bin features are a
        # pure function DuckDB can rebuild: per-bin byte sums are exact
        # integers (< 2^24, so numpy's float32 pairwise sum is exact too),
        # and the two float32 divisions (/chunk, /255) are emulated with
        # explicit FLOAT casts before widening to DOUBLE for the contract's
        # mean/L2/per-element-rounded digest (bit-equal, all 200 rows).
        "media_features": r"""
            WITH ids AS (SELECT unnest(range(200)) AS media_id),
            nib AS (
              SELECT media_id, md5('42:' || CAST(media_id AS VARCHAR)) AS hx
              FROM ids
            ), hb AS (
              SELECT media_id,
                     list_transform(range(16), j ->
                       (strpos('0123456789abcdef',
                               substr(hx, CAST(2*j+1 AS INTEGER), 1)) - 1) * 16 +
                       (strpos('0123456789abcdef',
                               substr(hx, CAST(2*j+2 AS INTEGER), 1)) - 1)
                     ) AS h
              FROM nib
            ), sz AS (
              SELECT media_id, h,
                     16 + (h[1] % 64) AS width,
                     16 + (h[2] % 64) AS height,
                     (16 + (h[1] % 64)) * (16 + (h[2] % 64)) AS n,
                     CAST(ceil((16 + (h[1] % 64)) * (16 + (h[2] % 64)) / 16.0)
                          AS BIGINT) AS chunk
              FROM hb
            ), vals AS (
              SELECT media_id, chunk, CAST(t.m // chunk AS INTEGER) AS k,
                     h[CAST(t.m % 16 AS INTEGER) + 1] AS v
              FROM sz, unnest(range(sz.n)) AS t(m)
            ), sums AS (
              SELECT media_id, k, chunk, sum(v) AS s
              FROM vals GROUP BY media_id, k, chunk
            ), feats AS (
              SELECT media_id, k,
                     CAST(CAST(CAST(s AS FLOAT) / CAST(chunk AS FLOAT) AS FLOAT)
                          / CAST(255 AS FLOAT) AS FLOAT) AS f
              FROM sums
            ), agg AS (
              SELECT media_id,
                     round(sum(CAST(f AS DOUBLE)) / 16, 4) AS feature_mean,
                     round(sqrt(sum(CAST(f AS DOUBLE)*CAST(f AS DOUBLE))), 4)
                       AS feature_l2,
                     md5(string_agg(CAST(round(CAST(f AS DOUBLE), 4) AS VARCHAR),
                                    ',' ORDER BY k)) AS feature_hash
              FROM feats GROUP BY media_id
            )
            SELECT s.media_id, s.width, s.height, a.feature_mean,
                   a.feature_l2, a.feature_hash,
                   CAST(NULL AS VARCHAR) AS error
            FROM sz s JOIN agg a USING (media_id)
        """,
        "media_meta": """
            WITH m AS (
              SELECT i AS media_id, md5('42:' || CAST(i AS VARCHAR)) AS hx
              FROM range(200) t(i)
            ), b AS (
              SELECT media_id,
                (strpos('0123456789abcdef', substr(hx,1,1))-1)*16
                  + strpos('0123456789abcdef', substr(hx,2,1))-1 AS b0,
                (strpos('0123456789abcdef', substr(hx,3,1))-1)*16
                  + strpos('0123456789abcdef', substr(hx,4,1))-1 AS b1,
                (strpos('0123456789abcdef', substr(hx,5,1))-1)*16
                  + strpos('0123456789abcdef', substr(hx,6,1))-1 AS b2,
                (strpos('0123456789abcdef', substr(hx,7,1))-1)*16
                  + strpos('0123456789abcdef', substr(hx,8,1))-1 AS b3
              FROM m
            ), d AS (
              SELECT media_id,
                     CASE b3 % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                          ELSE 'video' END AS kind,
                     16 + b0 % 64 AS width,
                     16 + b1 % 64 AS height,
                     CASE b2 % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpg'
                          ELSE 'bmp' END AS format
              FROM b
            )
            SELECT media_id, kind, width, height, format,
                   CAST(length('FAKEIMG|' || width || '|' || height || '|'
                               || format || '|') + width * height
                        AS BIGINT) AS n_bytes
            FROM d
        """,
        "s7_point_lookup": """
            SELECT doc_id, lang, n_chars FROM documents WHERE doc_id = 42
        """,
        "s8_delete_rewrite": """
            SELECT doc_id, lang, n_chars FROM documents
            WHERE doc_id % 10 <> 0
        """,
        "s3_merge_upsert": """
            WITH src AS (
              SELECT doc_id, 'xx' AS lang, n_chars + 1 AS n_chars
              FROM documents WHERE doc_id % 7 = 0
              UNION ALL
              SELECT doc_id + 1000000, 'new', 0
              FROM documents WHERE doc_id % 13 = 0
            )
            SELECT coalesce(t.doc_id, s.doc_id) AS doc_id,
                   coalesce(s.lang, t.lang) AS lang,
                   coalesce(s.n_chars, t.n_chars) AS n_chars
            FROM documents t FULL OUTER JOIN src s ON t.doc_id = s.doc_id
        """,
        "o1_ordered_concat": """
            SELECT user_id,
                   string_agg(event_type, '|' ORDER BY ts, event_id) AS event_seq,
                   count(*) AS n_events
            FROM events GROUP BY user_id
        """,
        "f5_existence_gate": """
            SELECT o_orderkey, o_orderstatus FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM lineitem l
                              WHERE l.l_orderkey = o.o_orderkey)
        """,
        "set_op_retry_merge": """
            WITH merged AS (
              SELECT event_id, 1 AS round, 'failed' AS status
              FROM events WHERE value <= 100
              UNION ALL
              SELECT event_id, 2 AS round, 'completed' AS status
              FROM events WHERE value <= 100 AND value > 30
            )
            SELECT event_id, round, status FROM (
              SELECT *, row_number() OVER (PARTITION BY event_id
                                           ORDER BY round DESC) AS rn
              FROM merged
            ) WHERE rn = 1
        """,
        "t14_lineage_stamp": """
            SELECT event_id,
                   strftime(ts, '%Y-%m-%d %H.%M.%S') || '_AI Race' AS lineage_tag
            FROM events
        """,
        "rollup_event_hierarchy": """
            SELECT event_type, date_trunc('hour', ts) AS hour,
                   count(*) AS n, round(sum(value), 2) AS sum_value
            FROM events
            GROUP BY ROLLUP (event_type, date_trunc('hour', ts))
        """,
        "decontaminate_ngram": rf"""
            WITH t AS (
              SELECT doc_id, lang,
                     list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                                 x -> x <> '') AS toks
              FROM documents WHERE text IS NOT NULL
            ), bench AS (
              SELECT DISTINCT md5(array_to_string(toks[1:{dedup.DECON_N}], ' ')) AS g
              FROM t WHERE doc_id % 50 = 0 AND len(toks) >= {dedup.DECON_N}
            ), grams AS (
              SELECT doc_id,
                     unnest(list_transform(
                       range(1, greatest(len(toks) - {dedup.DECON_N - 1}, 0) + 1),
                       i -> md5(array_to_string(toks[i:i+{dedup.DECON_N - 1}], ' ')))) AS g
              FROM t WHERE len(toks) >= {dedup.DECON_N}
            ), hits AS (
              SELECT DISTINCT doc_id FROM grams JOIN bench USING (g)
            )
            SELECT t.doc_id, t.lang,
                   (hits.doc_id IS NOT NULL) AS is_contaminated
            FROM t LEFT JOIN hits ON t.doc_id = hits.doc_id
        """,
        "dedup_exact": """
            SELECT md5(text) AS content_hash,
                   count(*) AS n_copies,
                   min(doc_id) AS keeper_doc_id
            FROM documents WHERE text IS NOT NULL
            GROUP BY md5(text) HAVING count(*) >= 1
        """,
        "dedup_apply": """
            SELECT doc_id, lang, n_chars FROM (
              SELECT doc_id, lang, n_chars,
                     row_number() OVER (PARTITION BY md5(text)
                                        ORDER BY doc_id) AS rn
              FROM documents WHERE text IS NOT NULL
            ) WHERE rn = 1
        """,
        "corpus_curation": r"""
            WITH gated AS (
              SELECT doc_id, lang, source, n_chars, text,
                     len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
                     length(regexp_replace(text, '\s+', '', 'g'))
                       / len(regexp_split_to_array(trim(text), '\s+')) AS mean_wl
              FROM documents
              WHERE text IS NOT NULL
                AND n_chars BETWEEN 100 AND 52428800
            )
            SELECT doc_id, lang, source, n_chars FROM (
              SELECT doc_id, lang, source, n_chars,
                     row_number() OVER (PARTITION BY md5(text)
                                        ORDER BY doc_id) AS rn
              FROM gated WHERE n_tokens >= 20 AND mean_wl < 15
            ) WHERE rn = 1
        """,
        "dedup_minhash_lsh": f"""
            WITH toks AS (
              SELECT doc_id, unnest(list_distinct(
                       regexp_split_to_array(lower(trim(text)), '\\s+'))) AS tok
              FROM documents WHERE text IS NOT NULL
            ), th AS (
              {mh_th}
            ), sig AS (
              SELECT doc_id,
            {mh_mins}
              FROM th GROUP BY doc_id
            ), bands AS (
        {band_selects}
            )
            SELECT band, bucket, count(*) AS n_docs, min(doc_id) AS min_doc_id
            FROM bands GROUP BY band, bucket HAVING count(*) >= 2
        """,
        "dedup_minhash_estimate": f"""
            WITH toks AS (
              SELECT doc_id, unnest(list_distinct(
                       regexp_split_to_array(lower(trim(text)), '\\s+'))) AS tok
              FROM documents WHERE text IS NOT NULL
            ), th AS (
              {mh_th}
            ), sig AS (
              SELECT doc_id,
            {mh_mins}
              FROM th GROUP BY doc_id
            ), bands AS (
        {band_selects}
            ), small AS (
              SELECT * FROM (
                SELECT doc_id, band, bucket,
                       count(*) OVER (PARTITION BY band, bucket) AS bsize
                FROM bands
              ) WHERE bsize <= 20
            ), pairs AS (
              SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
              FROM small x JOIN small y
                ON x.band = y.band AND x.bucket = y.bucket
                   AND x.doc_id < y.doc_id
            ), ts AS (
              SELECT doc_id, list_distinct(
                       regexp_split_to_array(lower(trim(text)), '\\s+')) AS t
              FROM documents WHERE text IS NOT NULL
            )
            SELECT p.doc_a, p.doc_b,
                   CAST({mh_match} AS INTEGER) AS matching_components,
                   round(({mh_match}) / {dedup.N_HASHES}, 4) AS est_jaccard,
                   round(len(list_intersect(ta.t, tb.t))
                     / len(list_distinct(list_concat(ta.t, tb.t))), 4)
                     AS exact_jaccard
            FROM pairs p
            JOIN sig sa ON sa.doc_id = p.doc_a
            JOIN sig sb ON sb.doc_id = p.doc_b
            JOIN ts ta ON ta.doc_id = p.doc_a
            JOIN ts tb ON tb.doc_id = p.doc_b
        """,
        "dedup_ngram_jaccard": r"""
            WITH t AS (
              SELECT doc_id,
                     list_distinct(regexp_split_to_array(lower(trim(text)), '\s+')) AS toks
              FROM documents WHERE text IS NOT NULL
            )
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   round(len(list_intersect(a.toks, b.toks))
                     / len(list_distinct(list_concat(a.toks, b.toks))), 4) AS jaccard,
                   (len(list_intersect(a.toks, b.toks))
                     / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.8) AS is_near_dup
            FROM t a JOIN t b ON b.doc_id = a.doc_id + 1
        """,
        "similarity_cosine_topk": f"""
            WITH q AS (
              SELECT vec_id AS query_id, embedding AS qe
              FROM embeddings WHERE vec_id < {similarity.N_QUERIES}
            ), pairs AS (
              SELECT q.query_id, e.vec_id,
                     list_sum(list_transform(range(1, len(e.embedding) + 1),
                       i -> e.embedding[i]::DOUBLE * qe[i]::DOUBLE))
                     / (sqrt(list_sum(list_transform(range(1, len(e.embedding) + 1),
                          i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)))
                        * sqrt(list_sum(list_transform(range(1, len(qe) + 1),
                          i -> qe[i]::DOUBLE * qe[i]::DOUBLE)))) AS cos
              FROM embeddings e CROSS JOIN q
              WHERE e.vec_id <> q.query_id
            )
            SELECT query_id, rank, vec_id, cosine FROM (
              SELECT query_id, vec_id, round(cos, 4) AS cosine,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY round(cos, 4) DESC, vec_id) AS rank
              FROM pairs
            ) WHERE rank <= {similarity.TOP_K}
        """,
        "similarity_embedding_neardup": """
            WITH e AS (SELECT vec_id, embedding FROM embeddings)
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(
                     list_sum(list_transform(range(1, len(a.embedding) + 1),
                       i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
                     / (sqrt(list_sum(list_transform(range(1, len(a.embedding) + 1),
                          i -> a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE)))
                        * sqrt(list_sum(list_transform(range(1, len(b.embedding) + 1),
                          i -> b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)))), 4) AS cosine,
                   (list_sum(list_transform(range(1, len(a.embedding) + 1),
                       i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
                     / (sqrt(list_sum(list_transform(range(1, len(a.embedding) + 1),
                          i -> a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE)))
                        * sqrt(list_sum(list_transform(range(1, len(b.embedding) + 1),
                          i -> b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))))
                     >= 0.95) AS is_near_dup
            FROM e a JOIN e b ON b.vec_id = a.vec_id + 1
        """,
        "stratified_sample": f"""
            WITH b AS (
              SELECT doc_id, lang, source,
                     {_dd_md5_bucket("strat:", 10000)} AS sample_bucket,
                     CAST(CASE lang WHEN 'en' THEN 10000 WHEN 'de' THEN 5000
                                    WHEN 'fr' THEN 5000 WHEN 'es' THEN 2500
                                    WHEN 'zh' THEN 2500 ELSE 1000 END
                          AS BIGINT) AS rate_bp
              FROM documents
            )
            SELECT * FROM b WHERE sample_bucket < rate_bp
        """,
        "corpus_mix_sample": f"""
            WITH t AS (
              SELECT doc_id, lang,
                     CAST(len(list_filter(
                       regexp_split_to_array(trim(text), '[ \\t\\r\\n\\f\\v]+'),
                       x -> x <> '')) AS BIGINT) AS n_toks
              FROM documents WHERE text IS NOT NULL
            ), per_lang AS (
              SELECT lang, sum(n_toks) AS lang_toks FROM t GROUP BY lang
            ), tot AS (SELECT sum(n_toks) AS total_toks FROM t),
            rates AS (
              SELECT lang,
                     CAST(least(CAST(1000000 AS BIGINT),
                       (CAST(1000000 AS BIGINT)
                        * CASE lang WHEN 'en' THEN 2 WHEN 'de' THEN 1
                                    WHEN 'fr' THEN 1 WHEN 'es' THEN 1
                                    WHEN 'zh' THEN 1 ELSE 0 END
                        * total_toks)
                       // (CASE lang WHEN 'en' THEN 5 WHEN 'de' THEN 5
                                     WHEN 'fr' THEN 5 WHEN 'es' THEN 10
                                     WHEN 'zh' THEN 10 ELSE 1 END
                           * lang_toks)) AS BIGINT) AS rate_ppm
              FROM per_lang CROSS JOIN tot
            )
            SELECT * FROM (
              SELECT t.doc_id, t.lang, t.n_toks,
                     {_dd_md5_bucket("mix:", 1000000, key="t.doc_id")} AS mix_bucket,
                     r.rate_ppm
              FROM t JOIN rates r USING (lang)
            ) WHERE mix_bucket < rate_ppm
        """,
        "training_order": f"""
            WITH k AS (
              SELECT doc_id,
                     CAST({_dd_md5_bucket("shard:", 16)} AS INTEGER) AS shard,
                     md5('order:' || CAST(doc_id AS VARCHAR)) AS order_key
              FROM documents
            )
            SELECT doc_id, shard,
                   CAST(row_number() OVER (
                     PARTITION BY shard ORDER BY order_key, doc_id
                   ) AS INTEGER) AS position
            FROM k
        """,
        "t11_cell_img_fix": r"""
            WITH f AS (
              SELECT doc_id,
                     '<td>cell ' || CAST(doc_id AS VARCHAR)
                     || ' <img src="media/deep/p' || CAST(doc_id % 1000 AS VARCHAR)
                     || '.png" alt="a' || CAST(doc_id % 97 AS VARCHAR)
                     || '"> and <img src="/abs/dir/x' || CAST(doc_id % 1000 AS VARCHAR)
                     || '.jpg" alt="b"></td>' AS cell_html
              FROM documents
            )
            SELECT doc_id, cell_html,
                   regexp_replace(cell_html, '(src=")[^"]*?([^/"]+)(")',
                                  '\1images/\2\3', 'g') AS fixed_html
            FROM f
        """,
        "t12_image_appendix": r"""
            WITH b AS (
              SELECT doc_id,
                     CAST(doc_id % 1000 AS VARCHAR) AS p,
                     CAST(doc_id % 97 AS VARCHAR) AS n,
                     (doc_id % 2 = 0) AS titled,
                     (doc_id % 5 = 0) AS noimg
              FROM documents
            )
            SELECT doc_id,
                   CAST(CASE WHEN noimg THEN 0 ELSE 1 END AS INTEGER) AS n_images,
                   CASE WHEN noimg THEN '' ELSE
                     chr(10) || chr(10) || '---' || chr(10) || chr(10)
                     || '## Images Used in Document' || chr(10) || chr(10)
                     || '1. **Image 1:**' || chr(10)
                     || '   - Source: `images/p' || p || '.png`' || chr(10)
                     || '   - Alt text: fig ' || n || chr(10)
                     || CASE WHEN titled
                          THEN '   - Title: Figure ' || n || chr(10)
                          ELSE '' END
                     || '   - HTML: `![fig ' || n || '](images/p' || p || '.png'
                     || CASE WHEN titled
                          THEN ' "Figure ' || n || '"'
                          ELSE '' END
                     || ')`' || chr(10) || chr(10)
                   END AS appendix
            FROM b
        """,
        "t13_relative_paths": """
            SELECT doc_id,
                   'out/conv' || CAST(doc_id AS VARCHAR) || '/main.html'
                     AS html_path,
                   CASE doc_id % 4
                     WHEN 0 THEN 'out/conv' || CAST(doc_id AS VARCHAR) || '/doc.md'
                     WHEN 1 THEN 'out/conv' || CAST(doc_id AS VARCHAR) || '/sub/doc.md'
                     WHEN 2 THEN 'out/other' || CAST(doc_id AS VARCHAR) || '/doc.md'
                     ELSE 'out/a/b/doc.md' END AS md_path,
                   CASE doc_id % 4
                     WHEN 0 THEN 'images'
                     WHEN 1 THEN '../images'
                     WHEN 2 THEN '../conv' || CAST(doc_id AS VARCHAR) || '/images'
                     ELSE '../../conv' || CAST(doc_id AS VARCHAR) || '/images'
                   END AS rel_images
            FROM documents
        """,
        "snapshot_diff_cdc": """
            WITH old AS (SELECT doc_id, text FROM documents),
            new AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 31 = 0
                          THEN 'rewritten: ' || substr(text, 1, 40)
                          ELSE text END AS text
              FROM old WHERE doc_id % 97 <> 0
              UNION ALL
              SELECT doc_id + 1000000 AS doc_id, text
              FROM old WHERE doc_id % 113 = 0
            ),
            o AS (SELECT doc_id, md5(coalesce(text, '')) AS h_old FROM old),
            n AS (SELECT doc_id, md5(coalesce(text, '')) AS h_new FROM new),
            j AS (
              SELECT coalesce(o.doc_id, n.doc_id) AS doc_id, o.h_old, n.h_new
              FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
            )
            SELECT * FROM (
              SELECT doc_id,
                     CASE WHEN h_old IS NULL THEN 'insert'
                          WHEN h_new IS NULL THEN 'delete'
                          WHEN h_old <> h_new THEN 'update'
                          ELSE 'unchanged' END AS change,
                     h_old, h_new
              FROM j
            ) WHERE change <> 'unchanged'
        """,
        "zorder_key": """
            SELECT event_id, user_id,
                   CAST(user_id % 65536 AS BIGINT) AS x_dim,
                   CAST(event_id % 65536 AS BIGINT) AS y_dim,
                   CAST(list_sum(list_transform(range(16), i ->
                     (((user_id % 65536) >> CAST(i AS INTEGER)) & 1)
                       * (CAST(1 AS BIGINT) << CAST(2 * i AS INTEGER))
                     + (((event_id % 65536) >> CAST(i AS INTEGER)) & 1)
                       * (CAST(1 AS BIGINT) << CAST(2 * i + 1 AS INTEGER))
                   )) AS BIGINT) AS z_key
            FROM events
        """,
        "salted_skew_join": """
            WITH dim AS (
              SELECT lang, count(*) AS lang_docs, sum(n_chars) AS lang_chars
              FROM documents GROUP BY lang
            )
            SELECT d.doc_id, d.lang, dim.lang_docs,
                   round(d.n_chars / dim.lang_chars, 6) AS char_share
            FROM documents d JOIN dim USING (lang)
        """,
        "funnel_stages": """
            WITH v AS (
              SELECT user_id, min(ts) AS t_view FROM events
              WHERE event_type = 'view' GROUP BY user_id
            ), c AS (
              SELECT e.user_id, min(e.ts) AS t_click
              FROM events e JOIN v ON e.user_id = v.user_id
              WHERE e.event_type = 'click' AND e.ts > v.t_view
              GROUP BY e.user_id
            ), p AS (
              SELECT e.user_id, min(e.ts) AS t_purchase
              FROM events e JOIN c ON e.user_id = c.user_id
              WHERE e.event_type = 'purchase' AND e.ts > c.t_click
              GROUP BY e.user_id
            )
            SELECT v.user_id, v.t_view, c.t_click, p.t_purchase,
                   CAST(CASE WHEN p.t_purchase IS NOT NULL THEN 3
                             WHEN c.t_click IS NOT NULL THEN 2
                             ELSE 1 END AS INTEGER) AS funnel_stage
            FROM v
            LEFT JOIN c ON v.user_id = c.user_id
            LEFT JOIN p ON v.user_id = p.user_id
        """,
        "lang_id_chargram": r"""
            WITH d AS (
              SELECT doc_id, lang,
                     regexp_split_to_array(
                       regexp_replace(lower(text), '[ \t\r\n\f\v]+', ' ', 'g'),
                       '') AS bgc
              FROM documents WHERE text IS NOT NULL
            ), d2 AS (
              SELECT * FROM d WHERE len(bgc) >= 2
            ), doc_bg AS (
              SELECT doc_id, lang,
                     bgc[CAST(i AS INTEGER)] || bgc[CAST(i + 1 AS INTEGER)] AS bg
              FROM (
                SELECT doc_id, lang, bgc, unnest(range(1, len(bgc))) AS i
                FROM d2
              )
              WHERE length(bgc[CAST(i AS INTEGER)]
                           || bgc[CAST(i + 1 AS INTEGER)]) = 2
            ), profiles AS (
              SELECT plang, bg FROM (
                SELECT lang AS plang, bg, count(*) AS c,
                       row_number() OVER (
                         PARTITION BY lang ORDER BY count(*) DESC, bg
                       ) AS rk
                FROM doc_bg GROUP BY lang, bg
              ) WHERE rk <= 20
            ), scored AS (
              SELECT doc_id, plang, count(*) AS hits
              FROM doc_bg JOIN profiles USING (bg)
              GROUP BY doc_id, plang
            ), totals AS (
              SELECT doc_id, count(*) AS total_bigrams
              FROM doc_bg GROUP BY doc_id
            ), best AS (
              SELECT doc_id, plang AS pred_lang, hits FROM (
                SELECT doc_id, plang, hits,
                       row_number() OVER (
                         PARTITION BY doc_id ORDER BY hits DESC, plang
                       ) AS rk
                FROM scored
              ) WHERE rk = 1
            )
            SELECT d2.doc_id, d2.lang,
                   coalesce(best.pred_lang, 'unknown') AS pred_lang,
                   CAST(coalesce(best.hits, 0) AS BIGINT) AS hits,
                   totals.total_bigrams
            FROM d2
            LEFT JOIN best ON d2.doc_id = best.doc_id
            JOIN totals ON d2.doc_id = totals.doc_id
        """,
        "vocab_topk": r"""
            WITH toks AS (
              SELECT unnest(list_filter(
                regexp_split_to_array(lower(trim(text)), '[ \t\r\n\f\v]+'),
                x -> x <> '')) AS tok
              FROM documents WHERE text IS NOT NULL
            )
            SELECT tok, count(*) AS n
            FROM toks GROUP BY tok
            ORDER BY n DESC, tok LIMIT 100
        """,
        "tfidf_top_terms": r"""
            WITH toks AS (
              SELECT doc_id, unnest(list_filter(
                regexp_split_to_array(lower(trim(text)), '[ \t\r\n\f\v]+'),
                x -> x <> '')) AS tok
              FROM documents WHERE text IS NOT NULL
            ), pt AS (
              SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY 1, 2
            ), ranked AS (
              SELECT doc_id, tok, c,
                     sum(c) OVER (PARTITION BY doc_id) AS doc_toks,
                     row_number() OVER (
                       PARTITION BY doc_id ORDER BY c DESC, tok
                     ) AS rk
              FROM pt
            ), dfc AS (
              SELECT tok, count(*) AS df FROM pt GROUP BY tok
            ), nd AS (
              SELECT count(DISTINCT doc_id) AS n_docs
              FROM documents WHERE text IS NOT NULL
            )
            SELECT r.doc_id, r.tok, CAST(r.c AS BIGINT) AS c,
                   CAST(r.rk AS INTEGER) AS rk,
                   round((r.c / r.doc_toks) * ln((n_docs + 1) / (df + 1)), 4)
                     AS tf_idf
            FROM ranked r JOIN dfc USING (tok) CROSS JOIN nd
            WHERE r.rk <= 3
        """,
        "bigram_lm_score": r"""
            WITH t AS (
              SELECT doc_id, list_filter(
                regexp_split_to_array(lower(trim(text)), '[ \t\r\n\f\v]+'),
                x -> x <> '') AS toks
              FROM documents WHERE text IS NOT NULL
            ), t2 AS (
              SELECT doc_id, toks FROM t WHERE len(toks) >= 2
            ), idx AS (
              SELECT doc_id, toks,
                     unnest(range(1, len(toks))) AS i
              FROM t2
            ), bg AS (
              SELECT doc_id,
                     toks[CAST(i AS INTEGER)] AS w1,
                     toks[CAST(i + 1 AS INTEGER)] AS w2
              FROM idx
            ), cb AS (
              SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2
            ), cu AS (
              SELECT w1, count(*) AS c1 FROM bg GROUP BY 1
            ), vv AS (
              SELECT count(DISTINCT tok) AS v FROM (
                SELECT unnest(list_filter(
                  regexp_split_to_array(lower(trim(text)), '[ \t\r\n\f\v]+'),
                  x -> x <> '')) AS tok
                FROM documents WHERE text IS NOT NULL
              )
            ), s AS (
              SELECT bg.doc_id,
                     round(ln(cu.c1 + vv.v) - ln(cb.c2 + 1), 6) AS nll
              FROM bg
              JOIN cb ON bg.w1 = cb.w1 AND bg.w2 = cb.w2
              JOIN cu ON bg.w1 = cu.w1
              CROSS JOIN vv
            )
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                   round(avg(nll), 3) AS lm_score
            FROM s GROUP BY doc_id
        """,
        "global_exact_k_sample": """
            SELECT doc_id, lang, source,
                   md5('gsample:' || CAST(doc_id AS VARCHAR)) AS sample_key
            FROM documents
            ORDER BY sample_key, doc_id
            LIMIT 100
        """,
        "per_stratum_topk_sample": """
            WITH k AS (
              SELECT doc_id, source,
                     md5('resv:' || CAST(doc_id AS VARCHAR)) AS sample_key
              FROM documents
            ), r AS (
              SELECT doc_id, source,
                     CAST(row_number() OVER (
                       PARTITION BY source ORDER BY sample_key, doc_id
                     ) AS INTEGER) AS rk
              FROM k
            )
            SELECT doc_id, source, rk FROM r WHERE rk <= 5
        """,
        "triangle_count": """
            WITH raw AS (
              SELECT doc_id % 30 AS src, (doc_id // 30) % 30 AS dst
              FROM documents
              WHERE (doc_id % 30 + 2 * ((doc_id // 30) % 30)) % 5 < 3
            ), und AS (
              SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
              FROM raw WHERE src <> dst
            ), nodes AS (
              SELECT u AS node FROM und UNION SELECT v FROM und
            ), tri AS (
              SELECT count(*) AS n_triangles
              FROM und e1
              JOIN und e2 ON e2.u = e1.v
              JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v
            )
            SELECT (SELECT count(*) FROM nodes) AS n_nodes,
                   (SELECT count(*) FROM und) AS n_edges,
                   (SELECT n_triangles FROM tri) AS n_triangles
        """,
        "inverted_index": r"""
            WITH toks AS (
              SELECT doc_id, unnest(list_filter(
                regexp_split_to_array(lower(trim(text)), '[ \t\r\n\f\v]+'),
                x -> x <> '')) AS tok
              FROM documents WHERE text IS NOT NULL
            ), per AS (
              SELECT tok, doc_id, count(*) AS tf FROM toks GROUP BY 1, 2
            ), capped AS (
              SELECT tok, doc_id, tf,
                     row_number() OVER (
                       PARTITION BY tok ORDER BY doc_id
                     ) AS rn
              FROM per
            )
            SELECT tok, CAST(count(*) AS BIGINT) AS df,
                   CAST(sum(tf) AS BIGINT) AS tf_total,
                   string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
                     FILTER (WHERE rn <= 16) AS postings
            FROM capped GROUP BY tok
        """,
        "bm25_topk": r"""
            WITH toks AS (
              SELECT doc_id, unnest(list_filter(
                regexp_split_to_array(lower(trim(text)), '[ \t\r\n\f\v]+'),
                x -> x <> '')) AS tok
              FROM documents WHERE text IS NOT NULL
            ), tf AS (
              SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2
            ), dl AS (
              SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
              FROM tf GROUP BY doc_id
            ), stats AS (
              SELECT CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
              FROM dl
            ), vocab AS (
              SELECT tok, sum(tf) AS cnt, CAST(count(*) AS BIGINT) AS df
              FROM tf GROUP BY tok
            ), q AS (
              SELECT tok, df FROM (
                SELECT tok, df, row_number() OVER (
                  ORDER BY cnt DESC, tok
                ) AS r FROM vocab
              ) WHERE r IN (5, 10, 15)
            ), scored AS (
              SELECT tf.doc_id,
                     CAST(round(
                       ln((stats.n_docs - q.df + CAST(0.5 AS DOUBLE))
                          / (q.df + CAST(0.5 AS DOUBLE))
                          + CAST(1.0 AS DOUBLE))
                       * (tf.tf * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE)))
                       / (tf.tf + CAST(1.2 AS DOUBLE)
                          * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
                             + CAST(0.75 AS DOUBLE) * dl.dl / stats.avgdl))
                       * CAST(1000000 AS DOUBLE)
                     ) AS BIGINT) AS s_micro
              FROM tf
              JOIN q ON tf.tok = q.tok
              JOIN dl ON tf.doc_id = dl.doc_id
              CROSS JOIN stats
            )
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
                   CAST(sum(s_micro) AS BIGINT) AS bm25_micro
            FROM scored GROUP BY doc_id
            ORDER BY bm25_micro DESC, doc_id LIMIT 50
        """,
        "collocations_pmi": r"""
            WITH tk AS (
              SELECT list_filter(
                regexp_split_to_array(lower(trim(text)), '[ \t\r\n\f\v]+'),
                x -> x <> '') AS toks
              FROM documents WHERE text IS NOT NULL
            ), bg AS (
              SELECT toks[i] AS w1, toks[i + 1] AS w2
              FROM tk, unnest(range(1, len(toks))) AS t(i)
              WHERE len(toks) >= 2
            ), p AS (
              SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2
            ), m1 AS (
              SELECT w1, sum(c12) AS cw1 FROM p GROUP BY w1
            ), m2 AS (
              SELECT w2, sum(c12) AS cw2 FROM p GROUP BY w2
            ), n AS (
              SELECT CAST(sum(c12) AS BIGINT) AS n_bigrams FROM p
            )
            SELECT p.w1, p.w2, CAST(p.c12 AS BIGINT) AS c12,
                   CAST(round(
                     (ln(CAST(p.c12 AS DOUBLE))
                      + ln(CAST(n.n_bigrams AS DOUBLE))
                      - ln(CAST(m1.cw1 AS DOUBLE))
                      - ln(CAST(m2.cw2 AS DOUBLE))) * 1000000
                   ) AS BIGINT) AS pmi_micro
            FROM p JOIN m1 USING (w1) JOIN m2 USING (w2) CROSS JOIN n
            WHERE p.c12 >= 5
            ORDER BY pmi_micro DESC, p.w1, p.w2 LIMIT 100
        """,
        "bucketed_colocated_join": """
            SELECT o.o_custkey AS custkey, c.c_name,
                   CAST(count(*) AS BIGINT) AS n_orders,
                   CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS total_cents,
                   CAST(min(o.o_orderkey) AS BIGINT) AS first_order
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            GROUP BY o.o_custkey, c.c_name
        """,
        "embedding_quantize_int8": """
            WITH s AS (
              SELECT vec_id, embedding,
                     CASE WHEN list_max(list_transform(embedding,
                                                       x -> abs(x))) > 0
                          THEN CAST(127.0 AS DOUBLE)
                               / list_max(list_transform(embedding,
                                                         x -> abs(x)))
                          ELSE CAST(0.0 AS DOUBLE) END AS scale
              FROM embeddings
            )
            SELECT vec_id,
                   CAST(round(scale * 1000000) AS BIGINT) AS scale_micro,
                   array_to_string(list_transform(embedding,
                     x -> CAST(CAST(round(x * scale) AS INT) AS VARCHAR)),
                     ',') AS q_codes
            FROM s
        """,
        "gap_fill_hourly": """
            WITH e AS (
              SELECT user_id AS k, epoch_us(ts) AS us, value AS v,
                     event_id AS tb, epoch_us(ts) // 3600000000 AS bucket
              FROM events
            ), pb AS (
              SELECT k, bucket, v, TRUE AS has_row FROM (
                SELECT k, bucket, v,
                       row_number() OVER (
                         PARTITION BY k, bucket ORDER BY us DESC, tb DESC
                       ) AS rn
                FROM e) WHERE rn = 1
            ), bounds AS (
              SELECT k, min(bucket) AS b0, max(bucket) AS b1
              FROM e GROUP BY k
            ), grid AS (
              SELECT k, unnest(range(b0, b1 + 1)) AS bucket FROM bounds
            )
            SELECT g.k AS user_id,
                   CAST(g.bucket * 3600000000 AS BIGINT) AS bucket_us,
                   last_value(pb.v IGNORE NULLS) OVER (
                     PARTITION BY g.k ORDER BY g.bucket
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS value_filled,
                   (pb.has_row IS NULL) AS is_gap
            FROM grid g LEFT JOIN pb USING (k, bucket)
        """,
        "substring_dup_profile": """
            WITH d AS (
              SELECT doc_id, text,
                     CASE WHEN length(text) >= 32
                          THEN (length(text) - 32) // 16 + 1
                          ELSE 0 END AS n_windows
              FROM documents WHERE text IS NOT NULL
            ), w AS (
              SELECT doc_id, md5(substr(text, i * 16 + 1, 32)) AS h
              FROM d, unnest(range(0, n_windows)) AS t(i)
              WHERE n_windows > 0
            ), dup AS (
              SELECT h FROM (SELECT DISTINCT h, doc_id FROM w)
              GROUP BY h HAVING count(*) > 1
            ), dpd AS (
              SELECT doc_id, count(*) AS n_dup_windows
              FROM w WHERE h IN (SELECT h FROM dup)
              GROUP BY doc_id
            )
            SELECT d.doc_id,
                   CAST(d.n_windows AS BIGINT) AS n_windows,
                   CAST(coalesce(dpd.n_dup_windows, 0) AS BIGINT)
                     AS n_dup_windows,
                   CASE WHEN d.n_windows > 0
                        THEN round(CAST(coalesce(dpd.n_dup_windows, 0)
                                        AS DOUBLE) / d.n_windows, 6)
                        ELSE CAST(0.0 AS DOUBLE) END AS dup_fraction
            FROM d LEFT JOIN dpd USING (doc_id)
        """,
        "nfc_normalize_stats": """
            SELECT doc_id,
                   length(s) AS len_raw,
                   length(nfc_normalize(s)) AS len_nfc,
                   md5(nfc_normalize(s)) AS nfc_md5
            FROM (
              SELECT doc_id,
                     text || repeat('e' || chr(769),
                                    CAST(doc_id % 3 + 1 AS INT))
                          || 'A' || chr(778) AS s
              FROM documents WHERE text IS NOT NULL
            )
        """,
    }
    # identical output contract, different distributed algorithm
    oracles["dedup_clusters_two_phase"] = oracles["dedup_clusters"]
    oracles["pack_sequences_two_level"] = oracles["pack_sequences"]
    # JSONL export sink: the Spark side re-reads the PUBLISHED shard
    # files and aggregates them; DuckDB independently computes the same
    # rollup from the packing semantics — disk contents vs spec.
    oracles["export_training_shards"] = f"""
        SELECT CAST(floor(seq_id / 4) AS BIGINT) AS shard,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tok) AS BIGINT) AS sum_tok
        FROM ({oracles["pack_sequences"]}) p
        GROUP BY 1
    """
    # bloom prefilter + exact verify is output-identical to the exact path
    oracles["decontaminate_bloom"] = oracles["decontaminate_ngram"]
    # anchor rollup composes the link-graph reconstruction as a CTE
    oracles["anchor_text_topk"] = f"""
        WITH lg AS ({oracles["link_graph"]}),
        c AS (
          SELECT domain, anchor, count(*) AS n
          FROM lg WHERE domain IS NOT NULL GROUP BY 1, 2
        )
        SELECT domain, anchor, CAST(n AS BIGINT) AS n,
               CAST(rk AS INTEGER) AS rk
        FROM (
          SELECT *, row_number() OVER (
            PARTITION BY domain ORDER BY n DESC, anchor
          ) AS rk FROM c
        ) WHERE rk <= 3
    """
    # multi-source BFS: the recursive-CTE min-distance fixpoint over the
    # same deterministic graph as domain_pagerank, seeds = node%17=0
    oracles["bfs_hop_distance"] = """
        WITH RECURSIVE e AS (
          SELECT DISTINCT
                 doc_id % 50 AS src,
                 (7 * (doc_id % 50) + doc_id // 50) % 50 AS dst
          FROM documents
          WHERE ((doc_id % 50) + 2 * (doc_id // 50)) % 3 <> 0
        ), n AS (
          SELECT src AS node FROM e UNION SELECT dst FROM e
        ), seeds AS (
          SELECT node FROM n WHERE node % 17 = 0
        ), r(node, d) AS (
          SELECT node, 0 FROM seeds
          UNION
          SELECT e.dst, r.d + 1 FROM r JOIN e ON e.src = r.node
          WHERE r.d < 6
        )
        SELECT CAST(node AS BIGINT) AS node,
               CAST(min(d) AS BIGINT) AS hops
        FROM r GROUP BY node
    """
    # BPE merge-step pair counts: per-position substr pairs, top-200
    oracles["bpe_pair_counts"] = """
        SELECT pair, CAST(n AS BIGINT) AS n FROM (
          SELECT pair, count(*) AS n FROM (
            SELECT substr(text, CAST(i AS INTEGER), 2) AS pair FROM (
              SELECT text, unnest(range(1, length(text))) AS i
              FROM documents
              WHERE text IS NOT NULL AND length(text) >= 2
            )
          ) GROUP BY pair
        ) ORDER BY n DESC, pair LIMIT 200
    """
    # transcript curation family: each oracle derives the SAME
    # deterministic transcript view (convops.DTR_CTE) then mirrors the
    # window/agg plan.  LCP via list_filter monotone-prefix trick.
    oracles["conv_prefix_strip"] = f"""
        {convops.DTR_CTE}, lagged AS (
          SELECT doc_id, conv_id, turn_idx, text,
                 lag(text) OVER (PARTITION BY conv_id
                                 ORDER BY turn_idx) AS prev_text
          FROM dtr
        ), lcps AS (
          SELECT doc_id, conv_id, turn_idx, text,
                 CASE WHEN prev_text IS NULL
                        OR least(length(text), length(prev_text)) < 1
                      THEN 0
                      ELSE coalesce(list_max(list_filter(
                             range(1, least(length(text),
                                            length(prev_text), 64) + 1),
                             k -> substr(text, 1, CAST(k AS INTEGER))
                                = substr(prev_text, 1,
                                         CAST(k AS INTEGER)))), 0)
                 END AS lcp
          FROM lagged
        )
        SELECT doc_id, conv_id, turn_idx,
               CAST(lcp AS BIGINT) AS lcp,
               CAST(length(text) - lcp AS BIGINT) AS kept_chars,
               substr(text, CAST(lcp AS INTEGER) + 1, 40) AS head
        FROM lcps
    """
    oracles["conv_token_truncate"] = f"""
        {convops.DTR_CTE}, toks AS (
          SELECT conv_id, turn_idx,
                 CAST(floor((length(text) + 3) / 4.0) AS BIGINT) AS tok
          FROM dtr
        )
        SELECT conv_id, turn_idx, tok, cum_from_end FROM (
          SELECT conv_id, turn_idx, tok,
                 CAST(sum(tok) OVER (PARTITION BY conv_id
                                     ORDER BY turn_idx DESC
                                     ROWS UNBOUNDED PRECEDING)
                      AS BIGINT) AS cum_from_end
          FROM toks
        ) WHERE cum_from_end <= 400
    """
    oracles["conv_role_stats"] = f"""
        {convops.DTR_CTE}, flagged AS (
          SELECT conv_id, role,
                 CASE WHEN lag(role) OVER (PARTITION BY conv_id
                                           ORDER BY turn_idx) = role
                      THEN 1 ELSE 0 END AS same_as_prev
          FROM dtr
        )
        SELECT conv_id,
               CAST(count(*) AS BIGINT) AS n_turns,
               CAST(sum(CASE WHEN role = 'tool' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_tool_turns,
               CAST(sum(same_as_prev) AS BIGINT) AS n_same_role_adjacent,
               CAST(CASE WHEN sum(same_as_prev) = 0 THEN 1 ELSE 0 END
                    AS INTEGER) AS alternation_ok
        FROM flagged GROUP BY conv_id
    """
    # repeat-run detection: gaps-and-islands (rn − rn-per-value) over
    # the derived transcript view + a 16-bucket md5 content signature
    oracles["conv_repeat_runs"] = f"""
        {convops.DTR_CTE}, sigged AS (
          SELECT *, substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS sig
          FROM dtr
        ), islands AS (
          SELECT conv_id, role, sig,
                 row_number() OVER (PARTITION BY conv_id
                                    ORDER BY turn_idx)
               - row_number() OVER (PARTITION BY conv_id, role, sig
                                    ORDER BY turn_idx) AS island
          FROM sigged
        ), runs AS (
          SELECT conv_id, role, sig, island, count(*) AS run_len
          FROM islands GROUP BY 1, 2, 3, 4
        )
        SELECT conv_id,
               CAST(sum(run_len) AS BIGINT) AS n_turns,
               CAST(max(run_len) AS BIGINT) AS max_run,
               CAST(sum(CASE WHEN run_len >= 2 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_repeat_islands
        FROM runs GROUP BY conv_id
    """
    # SFT pair assembly: bounded 8-turn context frame rendered
    # 'role: text', newline-joined IN FRAME ORDER, right-cut to 600
    # chars, then md5 of the exact assembled bytes — the hash check
    # verifies the true concatenation + truncation in both engines.
    oracles["sft_pair_assembly"] = f"""
        {convops.DTR_CTE}, ctx AS (
          SELECT conv_id, turn_idx, role, text,
                 coalesce(array_to_string(
                   list(role || ': ' || text) OVER (
                     PARTITION BY conv_id ORDER BY turn_idx
                     ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING),
                   chr(10)), '') AS ctx_full,
                 count(*) OVER (
                   PARTITION BY conv_id ORDER BY turn_idx
                   ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING
                 ) AS n_ctx_turns
          FROM dtr
        )
        SELECT conv_id, turn_idx,
               CAST(n_ctx_turns AS BIGINT) AS n_ctx_turns,
               CAST(length(ctx) AS BIGINT) AS ctx_chars,
               md5(ctx) AS ctx_md5,
               md5(text) AS target_md5
        FROM (SELECT *, right(ctx_full, 600) AS ctx FROM ctx)
        WHERE role = 'assistant'
    """
    # tool-usage transition matrix: deterministic tool column on tool
    # turns, lag per conversation, global bigram counts
    oracles["tool_transitions"] = f"""
        {convops.DTR_CTE}, with_tool AS (
          SELECT *,
                 CASE WHEN role = 'tool' THEN
                   (['search','python','browser','calculator'])
                   [CAST(doc_id % 4 AS INTEGER) + 1]
                 END AS tool
          FROM dtr
        ), calls AS (
          SELECT conv_id, turn_idx, tool
          FROM with_tool WHERE tool IS NOT NULL
        ), lagged AS (
          SELECT conv_id, tool,
                 coalesce(lag(tool) OVER (PARTITION BY conv_id
                                          ORDER BY turn_idx),
                          'START') AS prev_tool
          FROM calls
        )
        SELECT prev_tool, tool, CAST(count(*) AS BIGINT) AS n
        FROM lagged GROUP BY 1, 2
    """
    # conversation quality gate: single hash aggregate, all-integer
    # facets; the mean-length bound is integer cross-products
    oracles["conv_quality_gate"] = f"""
        {convops.DTR_CTE}
        SELECT conv_id,
               CAST(count(*) AS BIGINT) AS n_turns,
               CAST(sum(CASE WHEN role = 'user' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_user,
               CAST(sum(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_assistant,
               CAST(sum(length(text)) AS BIGINT) AS total_chars,
               CAST(CASE WHEN count(*) >= 2
                     AND sum(CASE WHEN role = 'user'
                             THEN 1 ELSE 0 END) >= 1
                     AND sum(CASE WHEN role = 'assistant'
                             THEN 1 ELSE 0 END) >= 1
                     AND sum(length(text)) >= 10 * count(*)
                     AND sum(length(text)) <= 4000 * count(*)
                    THEN 1 ELSE 0 END AS INTEGER) AS keep
        FROM dtr GROUP BY conv_id
    """
    # stitch operator: '[role]\ntext' sections joined by blank lines in
    # turn order; NULL (errored) and empty texts skipped from the
    # render but counted in n_turns / n_errors; markdown hash-checked
    oracles["conv_stitch_exact"] = f"""
        {convops.DTR_CTE}, flagged AS (
          SELECT conv_id, turn_idx, role, text,
                 CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 3, 1)
                      = '0' THEN 'planted_error' END AS error
          FROM dtr
        ), stitched AS (
          SELECT conv_id,
                 count(*) AS n_turns,
                 count(error) AS n_errors,
                 coalesce(string_agg(
                   '[' || role || ']' || chr(10) || text,
                   chr(10) || chr(10) ORDER BY turn_idx)
                   FILTER (WHERE error IS NULL AND text <> ''),
                   '') AS md
          FROM flagged GROUP BY conv_id
        )
        SELECT CAST(conv_id AS VARCHAR) AS conv_id,
               CAST(n_turns AS INTEGER) AS n_turns,
               CAST(n_errors AS INTEGER) AS n_errors,
               CAST(length(md) AS BIGINT) AS md_chars,
               md5(md) AS md_md5
        FROM stitched
    """
    # conversation near-dup: minhash over the shared-turn transcript
    # view (DTR_SHARED_CTE), 4 bands × 2 components, hot buckets > 40
    # excluded, distinct candidate pairs with signature agreement
    _sig_mins = ", ".join(
        f"min(md5('cseed{i}:' || text)) AS mh_{i}" for i in range(8)
    )
    _sig_bands = " UNION ALL ".join(
        f"SELECT conv_id, {b} AS band,"
        f" md5(mh_{2 * b} || '|' || mh_{2 * b + 1}) AS bucket FROM sig"
        for b in range(4)
    )
    _sig_agree = " + ".join(
        f"CASE WHEN sa.mh_{i} = sb.mh_{i} THEN 1 ELSE 0 END"
        for i in range(8)
    )
    oracles["conv_neardup_pairs"] = f"""
        {convops.DTR_SHARED_CTE}, sig AS (
          SELECT conv_id, {_sig_mins} FROM dtrs GROUP BY conv_id
        ), bands AS (
          {_sig_bands}
        ), sz AS (
          SELECT band, bucket FROM bands GROUP BY 1, 2
          HAVING count(*) BETWEEN 2 AND 40
        ), cand AS (
          SELECT DISTINCT a.conv_id AS conv_a, b.conv_id AS conv_b
          FROM bands a
          JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
               AND a.conv_id < b.conv_id
          JOIN sz ON sz.band = a.band AND sz.bucket = a.bucket
        )
        SELECT conv_a, conv_b,
               CAST({_sig_agree} AS INTEGER) AS n_agree
        FROM cand
        JOIN sig sa ON sa.conv_id = conv_a
        JOIN sig sb ON sb.conv_id = conv_b
    """
    # composed SFT curation: quality HAVING gate + the near-dup CTE
    # chain pruning the higher conv of each >=6/8-agreement pair +
    # the bounded-frame pair-assembly window over the survivors
    oracles["sft_curation_pipeline"] = f"""
        {convops.DTR_RETRIED_CTE}, q AS (
          SELECT conv_id FROM dtrr GROUP BY conv_id
          HAVING count(*) >= 2
             AND sum(CASE WHEN role = 'user' THEN 1 ELSE 0 END) >= 1
             AND sum(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END) >= 1
             AND sum(length(text)) >= 10 * count(*)
             AND sum(length(text)) <= 4000 * count(*)
        ), sig AS (
          SELECT conv_id, {_sig_mins} FROM dtrr GROUP BY conv_id
        ), bands AS (
          {_sig_bands}
        ), sz AS (
          SELECT band, bucket FROM bands GROUP BY 1, 2
          HAVING count(*) BETWEEN 2 AND 40
        ), pruned AS (
          SELECT DISTINCT b.conv_id AS conv_id
          FROM bands a
          JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
               AND a.conv_id < b.conv_id
          JOIN sz ON sz.band = a.band AND sz.bucket = a.bucket
          JOIN sig sa ON sa.conv_id = a.conv_id
          JOIN sig sb ON sb.conv_id = b.conv_id
          WHERE {_sig_agree} >= 6
        ), cur AS (
          SELECT dtrr.* FROM dtrr JOIN q USING (conv_id)
          WHERE conv_id NOT IN (SELECT conv_id FROM pruned)
        ), ctx AS (
          SELECT conv_id, turn_idx, role, text,
                 coalesce(array_to_string(
                   list(role || ': ' || text) OVER (
                     PARTITION BY conv_id ORDER BY turn_idx
                     ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING),
                   chr(10)), '') AS ctx_full,
                 count(*) OVER (
                   PARTITION BY conv_id ORDER BY turn_idx
                   ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING
                 ) AS n_ctx_turns
          FROM cur
        )
        SELECT conv_id, turn_idx,
               CAST(n_ctx_turns AS BIGINT) AS n_ctx_turns,
               CAST(length(ctx) AS BIGINT) AS ctx_chars,
               md5(ctx) AS ctx_md5,
               md5(text) AS target_md5
        FROM (SELECT *, right(ctx_full, 600) AS ctx FROM ctx)
        WHERE role = 'assistant'
    """
    # CDC chunk dedup: boundary rule p>=k AND p<len AND
    # md5int(trailing k-gram) % divisor == 0 (the shared keyed-uniform
    # primitive — NB the outer lambda var is 'p', not 'i', because the
    # md5int helper's own inner lambda binds 'i'); final position always
    # closes the last chunk; indexed list_transform slices the chunks.
    _cdc_hash = _dd_md5_bucket(
        "", 64, key="substr(text, CAST(p - 7 AS INTEGER), 8)"
    )
    oracles["cdc_chunk_stats"] = f"""
        WITH docs AS (
          SELECT doc_id, text FROM documents
          WHERE text IS NOT NULL AND length(text) >= 1
        ), b AS (
          SELECT doc_id, text,
                 list_filter(range(1, length(text) + 1),
                   p -> p >= 8 AND p < length(text)
                        AND {_cdc_hash} = 0) AS bpos
          FROM docs
        ), bo AS (
          SELECT doc_id, text,
                 list_append(bpos, CAST(length(text) AS BIGINT)) AS bounds
          FROM b
        ), ch AS (
          SELECT unnest(list_transform(range(len(bounds)), j ->
                   substr(text,
                          CAST((CASE WHEN j = 0 THEN 0
                                ELSE bounds[CAST(j AS INTEGER)] END)
                               + 1 AS INTEGER),
                          CAST(bounds[CAST(j + 1 AS INTEGER)]
                               - CASE WHEN j = 0 THEN 0
                                 ELSE bounds[CAST(j AS INTEGER)] END
                               AS INTEGER)))) AS chunk
          FROM bo
        ), g AS (
          SELECT md5(chunk) AS h, length(chunk) AS clen,
                 count(*) AS cnt
          FROM ch GROUP BY 1, 2
        )
        SELECT CAST(sum(cnt) AS BIGINT) AS total_chunks,
               CAST(count(*) AS BIGINT) AS distinct_chunks,
               CAST(sum(cnt) - count(*) AS BIGINT)
                 AS dup_chunk_instances,
               CAST(sum((cnt - 1) * clen) AS BIGINT) AS saved_chars
        FROM g
    """
    # per-conversation integrity audit over the dirty transcript view
    # (deterministic duplicate injection + the gaps NULL-text docs
    # already leave); pure counting, all-integer
    oracles["conv_gap_audit"] = f"""
        {convops.DTR_DIRTY_CTE}
        SELECT conv_id,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(DISTINCT turn_idx) AS BIGINT) AS n_turns,
               CAST(count(*) - count(DISTINCT turn_idx) AS BIGINT)
                 AS n_dup_rows,
               CAST(min(turn_idx) AS BIGINT) AS min_turn,
               CAST(max(turn_idx) AS BIGINT) AS max_turn,
               CAST(max(turn_idx) - min(turn_idx) + 1
                    - count(DISTINCT turn_idx) AS BIGINT) AS n_gaps,
               CAST(CASE WHEN count(*) = count(DISTINCT turn_idx)
                     AND max(turn_idx) - min(turn_idx) + 1
                         = count(DISTINCT turn_idx)
                     AND min(turn_idx) = 0
                    THEN 1 ELSE 0 END AS INTEGER) AS clean
        FROM dtrd GROUP BY conv_id
    """
    # preference-pair mining: per-conv integer score (assistant chars
    # + assistant turns), episode family = conv_id % 8, chosen =
    # max(score, conv_id), rejected = min(score, conv_id) — the
    # row_number tiebreaks below mirror Spark's struct max/min exactly
    oracles["preference_pairs"] = f"""
        {convops.DTR_SHARED_CTE}, sc AS (
          SELECT conv_id,
                 CAST(sum(length(text)) + count(*) AS BIGINT) AS score,
                 conv_id % 8 AS group_id
          FROM dtrs WHERE role = 'assistant' GROUP BY conv_id
        ), r AS (
          SELECT group_id, conv_id, score,
                 row_number() OVER (PARTITION BY group_id
                   ORDER BY score DESC, conv_id DESC) AS rhi,
                 row_number() OVER (PARTITION BY group_id
                   ORDER BY score ASC, conv_id ASC) AS rlo,
                 count(*) OVER (PARTITION BY group_id) AS n
          FROM sc
        )
        SELECT CAST(h.group_id AS BIGINT) AS group_id,
               CAST(h.conv_id AS BIGINT) AS chosen_conv,
               CAST(l.conv_id AS BIGINT) AS rejected_conv,
               h.score AS chosen_score,
               l.score AS rejected_score,
               h.score - l.score AS margin
        FROM (SELECT * FROM r WHERE rhi = 1 AND n >= 2) h
        JOIN (SELECT * FROM r WHERE rlo = 1) l USING (group_id)
        WHERE h.conv_id <> l.conv_id
    """
    # contrastive triplets: anchor = user turn answered by the next
    # (assistant) turn; negative = md5-uniform(anchor_doc) mod 500,
    # kept only when it resolves to a real assistant turn; md5s cover
    # the joined text so the hash check verifies the fetch
    oracles["contrastive_triplets"] = f"""
        {convops.DTR_CTE}, p AS (
          SELECT doc_id AS anchor_doc, text AS anchor_text, role,
                 lead(role) OVER w AS next_role,
                 lead(text) OVER w AS pos_text,
                 lead(doc_id) OVER w AS pos_doc
          FROM dtr
          WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
        ), a AS (
          SELECT anchor_doc, anchor_text, pos_doc, pos_text,
                 {_dd_md5_bucket("neg:", 500, key="anchor_doc")}
                   AS neg_doc
          FROM p WHERE role = 'user' AND next_role = 'assistant'
        ), neg AS (
          SELECT doc_id AS neg_doc, text AS neg_text
          FROM dtr WHERE role = 'assistant'
        )
        SELECT anchor_doc, pos_doc, neg_doc,
               md5(anchor_text) AS anchor_md5,
               md5(pos_text) AS pos_md5,
               md5(neg_text) AS neg_md5
        FROM a JOIN neg USING (neg_doc)
        WHERE neg_doc <> anchor_doc AND neg_doc <> pos_doc
    """
    # KV-prefix sharing: md5 of the first-2-turn '~|~' concat keys each
    # conversation; per-key conv count and (n-1)×prefix_chars savings
    oracles["prefix_sharing_stats"] = f"""
        {convops.DTR_SHARED_CTE}, rk AS (
          SELECT conv_id, turn_idx, text,
                 row_number() OVER (PARTITION BY conv_id
                                    ORDER BY turn_idx) AS rn
          FROM dtrs
        ), pf AS (
          SELECT conv_id,
                 md5(string_agg(text, '~|~' ORDER BY turn_idx))
                   AS prefix_key,
                 CAST(length(string_agg(text, '~|~' ORDER BY turn_idx))
                      AS BIGINT) AS prefix_chars
          FROM rk WHERE rn <= 2 GROUP BY conv_id
        )
        SELECT prefix_key,
               CAST(count(*) AS BIGINT) AS n_convs,
               min(prefix_chars) AS prefix_chars,
               CAST((count(*) - 1) * min(prefix_chars) AS BIGINT)
                 AS saved_chars
        FROM pf GROUP BY prefix_key
    """
    # hybrid RRF: the bm25_topk CTE chain (verbatim) ranks the lexical
    # list; int8 quantization (the embedding_quantize_int8 formula)
    # + exact-integer dot products rank the semantic list against the
    # vec_id-0 query; fusion = floor(1e9/(60+rank)) sums, pure bigint
    oracles["hybrid_rrf"] = r"""
        WITH toks AS (
          SELECT doc_id, unnest(list_filter(
            regexp_split_to_array(lower(trim(text)), '[ \t\r\n\f\v]+'),
            x -> x <> '')) AS tok
          FROM documents WHERE text IS NOT NULL
        ), tf AS (
          SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2
        ), dl AS (
          SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
          FROM tf GROUP BY doc_id
        ), stats AS (
          SELECT CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
          FROM dl
        ), vocab AS (
          SELECT tok, sum(tf) AS cnt, CAST(count(*) AS BIGINT) AS df
          FROM tf GROUP BY tok
        ), q AS (
          SELECT tok, df FROM (
            SELECT tok, df, row_number() OVER (
              ORDER BY cnt DESC, tok
            ) AS r FROM vocab
          ) WHERE r IN (5, 10, 15)
        ), scored AS (
          SELECT tf.doc_id,
                 CAST(round(
                   ln((stats.n_docs - q.df + CAST(0.5 AS DOUBLE))
                      / (q.df + CAST(0.5 AS DOUBLE))
                      + CAST(1.0 AS DOUBLE))
                   * (tf.tf * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE)))
                   / (tf.tf + CAST(1.2 AS DOUBLE)
                      * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
                         + CAST(0.75 AS DOUBLE) * dl.dl / stats.avgdl))
                   * CAST(1000000 AS DOUBLE)
                 ) AS BIGINT) AS s_micro
          FROM tf
          JOIN q ON tf.tok = q.tok
          JOIN dl ON tf.doc_id = dl.doc_id
          CROSS JOIN stats
        ), bm AS (
          SELECT doc_id, CAST(sum(s_micro) AS BIGINT) AS bm25_micro
          FROM scored GROUP BY doc_id
          ORDER BY bm25_micro DESC, doc_id LIMIT 50
        ), lex AS (
          SELECT doc_id, row_number() OVER (
            ORDER BY bm25_micro DESC, doc_id) AS rank_lex
          FROM bm
        ), qv AS (
          SELECT vec_id, embedding,
                 CASE WHEN list_max(list_transform(embedding,
                                                   x -> abs(x))) > 0
                      THEN CAST(127.0 AS DOUBLE)
                           / list_max(list_transform(embedding,
                                                     x -> abs(x)))
                      ELSE CAST(0.0 AS DOUBLE) END AS scale
          FROM embeddings
        ), qc AS (
          SELECT vec_id, list_transform(embedding,
                   x -> CAST(round(x * scale) AS INTEGER)) AS qcodes
          FROM qv
        ), qq AS (
          SELECT qcodes AS pcodes FROM qc WHERE vec_id = 0
        ), dots AS (
          SELECT qc.vec_id,
                 CAST(sum(CAST(qc.qcodes[CAST(t.i AS INTEGER)] AS BIGINT)
                          * qq.pcodes[CAST(t.i AS INTEGER)]) AS BIGINT)
                   AS dot_q
          FROM qc, qq, unnest(range(1, len(qc.qcodes) + 1)) AS t(i)
          GROUP BY qc.vec_id
        ), semtop AS (
          SELECT vec_id, dot_q FROM dots
          ORDER BY dot_q DESC, vec_id LIMIT 50
        ), sem AS (
          SELECT vec_id, row_number() OVER (
            ORDER BY dot_q DESC, vec_id) AS rank_sem
          FROM semtop
        ), fused AS (
          SELECT coalesce(lex.doc_id, sem.vec_id) AS doc_id,
                 coalesce(rank_lex, 0) AS rank_lex,
                 coalesce(rank_sem, 0) AS rank_sem,
                 (CASE WHEN rank_lex IS NOT NULL
                       THEN 1000000000 // (60 + rank_lex) ELSE 0 END
                  + CASE WHEN rank_sem IS NOT NULL
                         THEN 1000000000 // (60 + rank_sem) ELSE 0 END)
                   AS rrf_nano
          FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.vec_id
        )
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
               CAST(rank_lex AS BIGINT) AS rank_lex,
               CAST(rank_sem AS BIGINT) AS rank_sem,
               CAST(rrf_nano AS BIGINT) AS rrf_nano
        FROM fused ORDER BY rrf_nano DESC, doc_id LIMIT 20
    """
    # Luhn-validated PII audit: synthesized 16-digit candidate, real
    # doubled-digit checksum via a bounded indexed list transform
    oracles["pii_luhn_audit"] = """
        WITH c AS (
          SELECT doc_id,
                 lpad(CAST((doc_id * 48271 + 12345)
                           % 10000000000000000 AS VARCHAR),
                      16, '0') AS card
          FROM documents WHERE text IS NOT NULL
        ), l AS (
          SELECT doc_id, card,
                 CAST(list_sum(list_transform(range(1, 17), i ->
                   CASE WHEN i % 2 = 1 THEN
                     CASE WHEN CAST(substr(card, CAST(i AS INTEGER), 1)
                               AS INTEGER) * 2 > 9
                          THEN CAST(substr(card, CAST(i AS INTEGER), 1)
                               AS INTEGER) * 2 - 9
                          ELSE CAST(substr(card, CAST(i AS INTEGER), 1)
                               AS INTEGER) * 2 END
                   ELSE CAST(substr(card, CAST(i AS INTEGER), 1)
                        AS INTEGER) END)) AS BIGINT) AS luhn_sum
          FROM c
        )
        SELECT doc_id,
               '************' || substr(card, 13, 4) AS card_masked,
               luhn_sum,
               CAST(CASE WHEN luhn_sum % 10 = 0 THEN 1 ELSE 0 END
                    AS INTEGER) AS is_valid
        FROM l
    """
    # conversation embedding pooling: int8 lane sums per conv, lanes
    # re-assembled in position order (unnest-with-ordinality mirror)
    oracles["conv_embedding_pool"] = """
        WITH qv AS (
          SELECT vec_id, embedding,
                 CASE WHEN list_max(list_transform(embedding,
                                                   x -> abs(x))) > 0
                      THEN CAST(127.0 AS DOUBLE)
                           / list_max(list_transform(embedding,
                                                     x -> abs(x)))
                      ELSE CAST(0.0 AS DOUBLE) END AS scale
          FROM embeddings
        ), qc AS (
          SELECT vec_id % 40 AS conv_id,
                 list_transform(embedding,
                   x -> CAST(round(x * scale) AS INTEGER)) AS q
          FROM qv
        ), lanes AS (
          SELECT conv_id, CAST(t.i - 1 AS INTEGER) AS pos,
                 q[CAST(t.i AS INTEGER)] AS qv
          FROM qc, unnest(range(1, len(q) + 1)) AS t(i)
        ), s AS (
          SELECT conv_id, pos, CAST(sum(qv) AS BIGINT) AS sv,
                 count(*) AS c
          FROM lanes GROUP BY 1, 2
        )
        SELECT conv_id,
               CAST(max(c) AS BIGINT) AS n_vecs,
               array_to_string(list(CAST(sv AS VARCHAR) ORDER BY pos),
                               ',') AS pooled,
               CAST(sum(abs(sv)) AS BIGINT) AS l1
        FROM s GROUP BY conv_id
    """
    # off-topic turn detection: pooled lane sums re-joined per turn,
    # leave-one-out dot, min-struct argmin — all bigint
    oracles["conv_offtopic_turns"] = """
        WITH qv AS (
          SELECT vec_id, embedding,
                 CASE WHEN list_max(list_transform(embedding,
                                                   x -> abs(x))) > 0
                      THEN CAST(127.0 AS DOUBLE)
                           / list_max(list_transform(embedding,
                                                     x -> abs(x)))
                      ELSE CAST(0.0 AS DOUBLE) END AS scale
          FROM embeddings
        ), qc AS (
          SELECT vec_id, vec_id % 40 AS conv_id,
                 list_transform(embedding,
                   x -> CAST(round(x * scale) AS INTEGER)) AS q
          FROM qv
        ), lanes AS (
          SELECT conv_id, CAST(t.i AS INTEGER) AS pos,
                 q[CAST(t.i AS INTEGER)] AS qv
          FROM qc, unnest(range(1, len(q) + 1)) AS t(i)
        ), pooled AS (
          SELECT conv_id, list(sv ORDER BY pos) AS s_arr
          FROM (
            SELECT conv_id, pos, CAST(sum(qv) AS BIGINT) AS sv
            FROM lanes GROUP BY 1, 2
          ) GROUP BY conv_id
        ), scored AS (
          SELECT qc.conv_id, qc.vec_id,
                 CAST(list_sum(list_transform(range(1, len(qc.q) + 1),
                   i -> CAST(qc.q[CAST(i AS INTEGER)] AS BIGINT)
                        * (pooled.s_arr[CAST(i AS INTEGER)]
                           - qc.q[CAST(i AS INTEGER)])))
                   AS BIGINT) AS rel
          FROM qc JOIN pooled USING (conv_id)
        ), ranked AS (
          SELECT conv_id, vec_id, rel,
                 row_number() OVER (PARTITION BY conv_id
                                    ORDER BY rel ASC, vec_id ASC) AS rn,
                 count(*) OVER (PARTITION BY conv_id) AS n_vecs
          FROM scored
        )
        SELECT conv_id, CAST(n_vecs AS BIGINT) AS n_vecs,
               vec_id AS outlier_vec, rel AS rel_dot
        FROM ranked WHERE rn = 1 AND n_vecs >= 2
    """
    # temperature language rebalancing: sqrt weights micro-rounded
    # before the bigint normalizing sum; probabilities by integer DIV
    oracles["lang_temperature_weights"] = """
        WITH c AS (
          SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
          FROM documents WHERE text IS NOT NULL GROUP BY lang
        ), w AS (
          SELECT lang, n_docs,
                 CAST(round(sqrt(n_docs) * 1000000) AS BIGINT) AS w_micro
          FROM c
        ), t AS (
          SELECT CAST(sum(n_docs) AS BIGINT) AS n_total,
                 CAST(sum(w_micro) AS BIGINT) AS w_total
          FROM w
        )
        SELECT lang, n_docs,
               CAST(n_docs * 1000000 // n_total AS BIGINT) AS share_ppm,
               w_micro,
               CAST(w_micro * 1000000 // w_total AS BIGINT) AS samp_ppm
        FROM w, t
    """
    # word2vec negative sampling: count^0.75 as sqrt(x*sqrt(x)),
    # micro-rounded per token, full-vocab bigint normalizer, top-200
    oracles["unigram_neg_sampling"] = r"""
        WITH toks AS (
          SELECT unnest(list_filter(
            regexp_split_to_array(lower(trim(text)), '[ \t\r\n\f\v]+'),
            x -> x <> '')) AS tok
          FROM documents WHERE text IS NOT NULL
        ), c AS (
          SELECT tok, CAST(count(*) AS BIGINT) AS cnt
          FROM toks GROUP BY tok
        ), w AS (
          SELECT tok, cnt,
                 CAST(round(sqrt(cnt * sqrt(cnt)) * 1000000) AS BIGINT)
                   AS w_micro
          FROM c
        ), t AS (
          SELECT CAST(sum(w_micro) AS BIGINT) AS w_total FROM w
        )
        SELECT tok, cnt, w_micro,
               CAST(w_micro * 1000000 // w_total AS BIGINT) AS samp_ppm
        FROM w, t ORDER BY cnt DESC, tok LIMIT 200
    """
    # shared exact-decile cutoff CTE chain (value-domain histogram +
    # cum-count rank probe; cum·10 ≥ i·n is ceil(i·n/10) in integers)
    _cuts_cte = """
        nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM {src}),
        vc AS (SELECT n_chars AS v, count(*) AS c FROM {src} GROUP BY 1),
        cm AS (SELECT v, sum(c) OVER (ORDER BY v) AS cum FROM vc),
        cuts AS (
          SELECT i, min(v) AS cut
          FROM cm, nn, unnest(range(1, 10)) AS t(i)
          WHERE cum * 10 >= i * nn.n
          GROUP BY i
        ), carr AS (SELECT list(cut ORDER BY i) AS cuts FROM cuts)
    """
    oracles["length_curriculum"] = f"""
        WITH d AS (
          SELECT doc_id, n_chars FROM documents WHERE text IS NOT NULL
        ), {_cuts_cte.format(src="d")},
        b AS (
          SELECT d.doc_id, d.n_chars,
                 CAST(1 + len(list_filter(carr.cuts,
                                          c -> d.n_chars > c))
                      AS INTEGER) AS bucket
          FROM d, carr
        )
        SELECT bucket,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(min(n_chars) AS BIGINT) AS min_chars,
               CAST(max(n_chars) AS BIGINT) AS max_chars,
               CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM b GROUP BY bucket
    """
    oracles["psi_snapshot_drift"] = f"""
        WITH d AS (
          SELECT doc_id, n_chars FROM documents WHERE text IS NOT NULL
        ), base AS (
          SELECT * FROM d WHERE doc_id % 3 <> 0
        ), cur AS (
          SELECT * FROM d WHERE doc_id % 3 = 0
        ), {_cuts_cte.format(src="base")},
        tagged AS (
          SELECT 1 AS is_base,
                 1 + len(list_filter(carr.cuts, c -> n_chars > c))
                   AS bucket
          FROM base, carr
          UNION ALL
          SELECT 0,
                 1 + len(list_filter(carr.cuts, c -> n_chars > c))
          FROM cur, carr
        ), counts AS (
          SELECT CAST(bucket AS INTEGER) AS bucket,
                 CAST(sum(is_base) AS BIGINT) AS base_n,
                 CAST(sum(1 - is_base) AS BIGINT) AS cur_n
          FROM tagged GROUP BY 1
        ), tot AS (
          SELECT CAST(sum(base_n) AS BIGINT) AS nb,
                 CAST(sum(cur_n) AS BIGINT) AS nc
          FROM counts
        )
        SELECT bucket, base_n, cur_n,
               CAST(round(
                 (CAST(greatest(base_n, 1) AS DOUBLE) / nb
                  - CAST(greatest(cur_n, 1) AS DOUBLE) / nc)
                 * (ln(CAST(greatest(base_n, 1) AS DOUBLE))
                    + ln(CAST(nc AS DOUBLE))
                    - ln(CAST(greatest(cur_n, 1) AS DOUBLE))
                    - ln(CAST(nb AS DOUBLE)))
                 * 1000000) AS BIGINT) AS psi_micro
        FROM counts, tot
    """
    # SemDeDup cell-scoped semantic prune: int8 quantization + sign-bit
    # cells + the squared exact-integer cosine test; min-id survivor
    oracles["semdedup_prune"] = r"""
        WITH pe AS (
          SELECT e.vec_id,
                 CASE WHEN substr(md5(CAST(e.vec_id AS VARCHAR)), 1, 1)
                      < '4'
                      THEN s.embedding ELSE e.embedding END AS embedding
          FROM embeddings e
          JOIN embeddings s ON s.vec_id = e.vec_id - (e.vec_id % 5)
        ), qv AS (
          SELECT vec_id, embedding,
                 CASE WHEN list_max(list_transform(embedding,
                                                   x -> abs(x))) > 0
                      THEN CAST(127.0 AS DOUBLE)
                           / list_max(list_transform(embedding,
                                                     x -> abs(x)))
                      ELSE CAST(0.0 AS DOUBLE) END AS scale
          FROM pe
        ), qc AS (
          SELECT vec_id,
                 list_transform(embedding,
                   x -> CAST(round(x * scale) AS INTEGER)) AS q
          FROM qv
        ), qn AS (
          SELECT vec_id, q,
                 CAST(list_sum(list_transform(q,
                   x -> CAST(x AS BIGINT) * x)) AS BIGINT) AS n2,
                 CAST((CASE WHEN q[1] >= 0 THEN 1 ELSE 0 END)
                      + (CASE WHEN q[17] >= 0 THEN 2 ELSE 0 END)
                      + (CASE WHEN q[33] >= 0 THEN 4 ELSE 0 END)
                      + (CASE WHEN q[49] >= 0 THEN 8 ELSE 0 END)
                      AS INTEGER) AS cell
          FROM qc
        ), pairs AS (
          SELECT b.vec_id AS vb, a.n2 AS n2a, b.n2 AS n2b,
                 CAST(list_sum(list_transform(range(1, len(a.q) + 1),
                   i -> CAST(a.q[CAST(i AS INTEGER)] AS BIGINT)
                        * b.q[CAST(i AS INTEGER)])) AS BIGINT) AS dot
          FROM qn a JOIN qn b
            ON a.cell = b.cell AND a.vec_id < b.vec_id
        ), pruned AS (
          SELECT DISTINCT vb FROM pairs
          WHERE dot > 0
            AND dot * dot * 1000000 >= 902500 * n2a * n2b
        )
        SELECT qn.vec_id, qn.cell, qn.n2,
               CAST(CASE WHEN pruned.vb IS NULL THEN 1 ELSE 0 END
                    AS INTEGER) AS kept
        FROM qn LEFT JOIN pruned ON qn.vec_id = pruned.vb
    """
    # DSIR importance: hashed-unigram LLR vs the 'en' target subcorpus;
    # every log is ln(one bigint) rounded to micro-units BEFORE the
    # int64 per-doc sum (the PMI/BM25 exact-log pattern)
    oracles["dsir_importance"] = f"""
        WITH toks AS (
          SELECT doc_id, lang, unnest(list_filter(
            regexp_split_to_array(lower(trim(text)), '[ \\t\\r\\n\\f\\v]+'),
            x -> x <> '')) AS tok
          FROM documents WHERE text IS NOT NULL
        ), tb AS (
          SELECT doc_id, lang,
                 {_dd_md5_bucket('dsir:', 256, 'tok')} AS b
          FROM toks
        ), counts AS (
          SELECT b, count(*) AS cr,
                 sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS ct
          FROM tb GROUP BY b
        ), llr AS (
          SELECT b,
                 CAST(round(ln(CAST(ct + 1 AS DOUBLE)) * 1000000)
                      AS BIGINT)
               - CAST(round(ln(CAST(cr + 1 AS DOUBLE)) * 1000000)
                      AS BIGINT) AS llr_micro
          FROM counts
        ), totals AS (
          SELECT CAST(sum(ct) AS BIGINT) AS nt,
                 CAST(sum(cr) AS BIGINT) AS nr
          FROM counts
        )
        SELECT tb.doc_id,
               CAST(count(*) AS BIGINT) AS n_toks,
               CAST(sum(llr_micro)
                    + count(*) * (
                        CAST(round(ln(CAST(256 + nr AS DOUBLE)) * 1000000)
                             AS BIGINT)
                      - CAST(round(ln(CAST(256 + nt AS DOUBLE)) * 1000000)
                             AS BIGINT))
                    AS BIGINT) AS dsir_micro
        FROM tb JOIN llr USING (b) CROSS JOIN totals
        GROUP BY tb.doc_id, totals.nt, totals.nr
    """
    # char entropy: int64 inner sum of cnt·(ln_micro(len)−ln_micro(cnt)),
    # one closing double division on two exact integers
    oracles["doc_entropy"] = """
        WITH chars AS (
          SELECT doc_id, substr(text, CAST(i AS INTEGER), 1) AS ch FROM (
            SELECT doc_id, text,
                   unnest(range(1, length(text) + 1)) AS i
            FROM documents
            WHERE text IS NOT NULL AND length(text) >= 1
          )
        ), cc AS (
          SELECT doc_id, ch, count(*) AS cnt FROM chars GROUP BY 1, 2
        ), cl AS (
          SELECT doc_id, ch, cnt,
                 sum(cnt) OVER (PARTITION BY doc_id) AS len
          FROM cc
        )
        SELECT doc_id,
               CAST(max(len) AS BIGINT) AS n_chars,
               CAST(round(CAST(sum(cnt * (
                      CAST(round(ln(CAST(len AS DOUBLE)) * 1000000)
                           AS BIGINT)
                    - CAST(round(ln(CAST(cnt AS DOUBLE)) * 1000000)
                           AS BIGINT))) AS DOUBLE) / max(len))
                    AS BIGINT) AS entropy_micro
        FROM cl GROUP BY doc_id
    """
    # rolling z-score: trailing-20 frame, all-integer milli-units; the
    # flag inequality (n·v−s)² > 4·(n·q−s²) is z²>4 cleared of division
    oracles["zscore_outliers"] = """
        WITH base AS (
          SELECT event_id, user_id, ts,
                 CAST(round(value * 1000) AS BIGINT) AS value_milli
          FROM events
        ), framed AS (
          SELECT event_id, user_id, value_milli,
                 count(*) OVER w AS n_win,
                 CAST(sum(value_milli) OVER w AS BIGINT) AS win_sum,
                 CAST(sum(value_milli * value_milli) OVER w AS BIGINT)
                   AS win_sumsq
          FROM base
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
        )
        SELECT event_id, user_id, value_milli, win_sum, win_sumsq
        FROM framed
        WHERE n_win = 20
          AND (n_win * value_milli - win_sum)
              * (n_win * value_milli - win_sum)
            > 4 * (n_win * win_sumsq - win_sum * win_sum)
    """
    # weighted bottom-k: every compared quantity is an md5 string —
    # the selected set is engine-exact (no float priorities)
    oracles["weighted_bottomk_sample"] = """
        WITH t AS (
          SELECT doc_id,
                 1 + CAST(length(list_filter(
                       regexp_split_to_array(trim(text),
                          '[ \\t\\r\\n\\f\\v]+'), x -> x <> ''))
                     AS BIGINT) // 5 AS weight
          FROM documents WHERE text IS NOT NULL
        ), keyed AS (
          SELECT doc_id, weight,
                 list_min(list_transform(range(1, weight + 1),
                   i -> md5('wbk:' || CAST(doc_id AS VARCHAR) || ':'
                            || CAST(i AS VARCHAR)))) AS min_ticket
          FROM t
        )
        SELECT doc_id, weight, min_ticket
        FROM keyed ORDER BY min_ticket LIMIT 50
    """
    # table statistics: one UNION ALL branch per profiled column
    oracles["table_profile"] = " UNION ALL ".join(
        f"""
        SELECT '{c}' AS col_name,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_nulls,
               CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
               substr(CAST(min({c}) AS VARCHAR), 1, 32) AS min_val,
               substr(CAST(max({c}) AS VARCHAR), 1, 32) AS max_val
        FROM documents
        """
        for c in ("doc_id", "text", "lang", "source", "n_chars")
    )
    # snapshot expiration: 3 snapshots of 8 bucket rows each -> keep 2;
    # retained turns = 2 passes over the documents corpus
    oracles["expire_checkpoints"] = """
        SELECT CAST(3 AS INTEGER) AS snapshots_before,
               CAST(2 AS INTEGER) AS snapshots_after,
               CAST(24 AS BIGINT) AS rows_before,
               CAST(16 AS BIGINT) AS rows_after,
               CAST(2 * count(*) AS BIGINT) AS turns_retained,
               TRUE AS content_match
        FROM documents
    """
    # IVM identity: the merged base+delta partials must equal the
    # full-table aggregate — so the oracle IS the full recompute
    oracles["ivm_event_counts"] = """
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(round(value * 1000) AS BIGINT)) AS BIGINT)
                 AS sum_value_milli
        FROM events GROUP BY event_type
    """
    # skew profile: exact discrete percentiles via the same total-order
    # ranking (count, key) — no engine-specific quantile semantics
    oracles["key_skew_profile"] = """
        WITH counts AS (
          SELECT CAST(user_id AS VARCHAR) AS k, count(*) AS n
          FROM events GROUP BY 1
        ), ranked AS (
          SELECT k, n, row_number() OVER (ORDER BY n, k) AS rk FROM counts
        ), tot AS (
          SELECT CAST(count(*) AS BIGINT) AS n_keys,
                 CAST(sum(n) AS BIGINT) AS total_rows,
                 CAST(max(n) AS BIGINT) AS max_n
          FROM ranked
        )
        SELECT tot.n_keys, tot.total_rows, tot.max_n,
               (SELECT CAST(n AS BIGINT) FROM ranked, tot
                WHERE rk = CAST(ceil(0.5 * n_keys) AS INTEGER)) AS p50_n,
               (SELECT CAST(n AS BIGINT) FROM ranked, tot
                WHERE rk = CAST(ceil(0.9 * n_keys) AS INTEGER)) AS p90_n,
               (SELECT CAST(n AS BIGINT) FROM ranked, tot
                WHERE rk = CAST(ceil(0.99 * n_keys) AS INTEGER)) AS p99_n,
               (SELECT k FROM ranked, tot WHERE rk = n_keys) AS top_key,
               (SELECT CAST(n AS BIGINT) FROM ranked, tot
                WHERE rk = n_keys) AS top_n
        FROM tot
    """
    # fastText-style hashed linear inference: feature -> md5 bucket ->
    # md5-derived weight, summed per doc; bigrams joined with '_'
    _ftb = _dd_md5_bucket("ftb:", 4096, key="feat")
    _ftw = _dd_md5_bucket("ftw:", 2001, key="b")
    oracles["hashed_classifier_score"] = f"""
        WITH d AS (
          SELECT doc_id, list_filter(
            regexp_split_to_array(lower(trim(text)), '[ \\t\\r\\n\\f\\v]+'),
            x -> x <> '') AS toks
          FROM documents WHERE text IS NOT NULL
        ), feats AS (
          SELECT doc_id, unnest(toks) AS feat FROM d
          UNION ALL
          SELECT doc_id, unnest(list_transform(range(1, len(toks)),
                   i -> toks[CAST(i AS INTEGER)] || '_'
                        || toks[CAST(i + 1 AS INTEGER)])) AS feat
          FROM d
        ), fb AS (
          SELECT doc_id, {_ftb} AS b FROM feats
        ), ws AS (
          SELECT doc_id, sum({_ftw} - 1000) AS s FROM fb GROUP BY doc_id
        )
        SELECT d.doc_id,
               CAST(len(d.toks) + greatest(len(d.toks) - 1, 0)
                    AS BIGINT) AS n_feats,
               CAST(coalesce(ws.s, 0) AS BIGINT) AS score,
               CAST(CASE WHEN coalesce(ws.s, 0) > 0 THEN 1 ELSE 0 END
                    AS INTEGER) AS label
        FROM d LEFT JOIN ws USING (doc_id)
    """
    # Gopher duplicate-paragraph metrics over the deterministically
    # synthesized paragraph layout (40-char windows + planted repeats)
    oracles["paragraph_dup_profile"] = f"""
        WITH d AS (
          SELECT doc_id, text,
                 CAST(floor((length(text) - 1) / 40.0) AS INTEGER) + 1 AS n,
                 {_dd_md5_bucket("pdup:", 3)} AS bkt
          FROM documents WHERE text IS NOT NULL AND length(text) >= 1
        ), pl AS (
          SELECT doc_id,
                 CASE WHEN bkt = 0 THEN list_concat(base, [base[1]])
                      WHEN bkt = 1 AND n >= 2
                        THEN list_concat(base, [base[1], base[2]])
                      ELSE base END AS paras
          FROM (SELECT doc_id, n, bkt,
                       list_transform(range(0, n),
                         i -> substr(text, CAST(i * 40 + 1 AS INTEGER), 40))
                         AS base
                FROM d)
        ), pc AS (
          SELECT doc_id, para, count(*) AS cnt
          FROM (SELECT doc_id, unnest(paras) AS para FROM pl)
          GROUP BY 1, 2
        ), agg AS (
          SELECT doc_id,
                 CAST(sum(cnt) AS BIGINT) AS n_paras,
                 CAST(sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END)
                      AS BIGINT) AS n_dup_paras,
                 CAST(sum(cnt * length(para)) AS BIGINT) AS chars,
                 CAST(sum(CASE WHEN cnt > 1 THEN cnt * length(para)
                          ELSE 0 END) AS BIGINT) AS dup_chars
          FROM pc GROUP BY doc_id
        )
        SELECT doc_id, n_paras, n_dup_paras,
               CAST((n_dup_paras * 10000) // n_paras AS BIGINT)
                 AS dup_para_bp,
               CAST((dup_chars * 10000) // chars AS BIGINT) AS dup_char_bp
        FROM agg
    """
    # count–min sketch: deterministic given the md5 hash family, so the
    # oracle rebuilds the d×w sketch itself and the min-estimates
    _cms_rows = "\n          UNION ALL\n".join(
        f"          SELECT tok, n, {j} AS j, "
        f"{_dd_md5_bucket(f'cms{j}:', 128, 'tok')} AS bucket FROM tc"
        for j in range(4)
    )
    oracles["cms_topk"] = f"""
        WITH toks AS (
          SELECT unnest(list_filter(
            regexp_split_to_array(lower(trim(text)), '[ \\t\\r\\n\\f\\v]+'),
            x -> x <> '')) AS tok
          FROM documents WHERE text IS NOT NULL
        ), tc AS (
          SELECT tok, count(*) AS n FROM toks GROUP BY tok
        ), tcb AS (
{_cms_rows}
        ), cms AS (
          SELECT j, bucket, sum(n) AS cell FROM tcb GROUP BY 1, 2
        ), est AS (
          SELECT tok, min(cell) AS est, min(n) AS exact_n
          FROM tcb JOIN cms USING (j, bucket) GROUP BY tok
        )
        SELECT tok, CAST(est AS BIGINT) AS est,
               CAST(exact_n AS BIGINT) AS exact_n,
               CAST(est - exact_n AS BIGINT) AS overcount
        FROM est ORDER BY est DESC, tok LIMIT 20
    """
    # incremental ingest dedup: batch-vs-stored-fingerprints verdicts
    # with planted cross-snapshot and in-batch duplicates
    oracles["incremental_ingest_dedup"] = f"""
        WITH docs AS (
          SELECT doc_id, text FROM documents WHERE text IS NOT NULL
        ), inc AS (
          SELECT * FROM docs WHERE doc_id % 5 = 0
        ), ex AS (
          SELECT * FROM docs WHERE doc_id % 5 <> 0
        ), b AS (
          SELECT i.doc_id,
                 CASE WHEN {_dd_md5_bucket("ing:", 3, "i.doc_id")} = 0
                        THEN coalesce(c.text, i.text)
                      WHEN {_dd_md5_bucket("ing:", 3, "i.doc_id")} = 1
                        THEN coalesce(bb.text, i.text)
                      ELSE i.text END AS text
          FROM inc i
          LEFT JOIN ex c ON c.doc_id = i.doc_id + 1
          LEFT JOIN inc bb ON bb.doc_id = i.doc_id - 5
        ), rn AS (
          SELECT doc_id, md5(text) AS fp,
                 row_number() OVER (PARTITION BY md5(text)
                                    ORDER BY doc_id) AS rn
          FROM b
        ), cf AS (
          SELECT DISTINCT md5(text) AS fp FROM ex
        )
        SELECT rn.doc_id, rn.fp,
               CASE WHEN cf.fp IS NOT NULL THEN 'dup_of_corpus'
                    WHEN rn.rn > 1 THEN 'dup_in_batch'
                    ELSE 'novel' END AS status
        FROM rn LEFT JOIN cf USING (fp)
        ORDER BY doc_id
    """
    # winnowing: the md5-int k-gram hash has no salt/mod, so reuse the
    # bucket helper with an identity modulus (hash < 2^32 << 2^62).
    # NB the helper's own digit lambda binds ``i`` — the outer gram
    # position must use a different variable (``p``) or it is shadowed
    _win_h = _dd_md5_bucket(
        "", 1 << 62, key="substr(text, CAST(p AS INTEGER), 8)"
    )
    oracles["winnowing_fingerprints"] = f"""
        WITH d AS (
          SELECT doc_id, text FROM documents
          WHERE text IS NOT NULL AND length(text) >= 11
        ), hs AS (
          SELECT doc_id,
                 list_transform(range(1, length(text) - 6),
                   p -> {_win_h}) AS h
          FROM d
        ), fp AS (
          SELECT DISTINCT doc_id, fp FROM (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(h) - 2),
                     j -> list_min(list_transform(range(0, 4),
                       t -> h[CAST(j + t AS INTEGER)])))) AS fp
            FROM hs
          )
        ), fd AS (
          SELECT fp, count(*) AS n_docs FROM fp GROUP BY fp
        )
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fps,
               CAST(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_shared_fps,
               CAST((sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) * 10000)
                    // count(*) AS BIGINT) AS shared_bp
        FROM fp JOIN fd USING (fp) GROUP BY doc_id
    """
    # blocklist verdicts: most-specific entry first, LIKE covers the
    # subdomain (suffix) semantics of the Spark-side suffix-chain walk
    oracles["url_blocklist_filter"] = """
        WITH b AS (
          SELECT doc_id,
                 (CASE doc_id % 4 WHEN 0 THEN 'www.' WHEN 1 THEN 'ads.'
                       WHEN 2 THEN 'cdn.' ELSE '' END)
                 || 'site' || CAST(doc_id % 7 AS VARCHAR)
                 || '.example.com' AS domain
          FROM documents
        )
        SELECT doc_id, domain,
               CAST(CASE WHEN domain = 'ads.site1.example.com'
                           OR domain LIKE '%.ads.site1.example.com'
                           OR domain = 'site2.example.com'
                           OR domain LIKE '%.site2.example.com'
                           OR domain = 'example.org'
                           OR domain LIKE '%.example.org'
                    THEN 1 ELSE 0 END AS INTEGER) AS blocked,
               CASE WHEN domain = 'ads.site1.example.com'
                      OR domain LIKE '%.ads.site1.example.com'
                      THEN 'ads.site1.example.com'
                    WHEN domain = 'site2.example.com'
                      OR domain LIKE '%.site2.example.com'
                      THEN 'site2.example.com'
                    WHEN domain = 'example.org'
                      OR domain LIKE '%.example.org'
                      THEN 'example.org'
               END AS matched_entry
        FROM b ORDER BY doc_id
    """
    # politeness: per-domain round number, global (round, domain, url)
    # order, 200-row cut, then the position stamp over survivors
    oracles["politeness_schedule"] = """
        WITH pairs AS (
          SELECT DISTINCT
            'site' || CAST(doc_id % 50 AS VARCHAR)
              || '.example.com' AS domain,
            'https://site' || CAST(doc_id % 50 AS VARCHAR)
              || '.example.com/p' || CAST(doc_id % 250 AS VARCHAR) AS url
          FROM documents
        ), r AS (
          SELECT domain, url,
                 CAST(row_number() OVER (PARTITION BY domain ORDER BY url)
                      - 1 AS INTEGER) AS fetch_round
          FROM pairs
        ), top AS (
          SELECT * FROM r ORDER BY fetch_round, domain, url LIMIT 200
        )
        SELECT CAST(row_number() OVER (ORDER BY fetch_round, domain, url)
                    AS INTEGER) AS position,
               fetch_round, domain, url
        FROM top
    """
    # CCNet thirds: compose the bigram-LM oracle, then per-language
    # exact-rank head/middle/tail cut-points in integers
    oracles["ccnet_perplexity_buckets"] = f"""
        WITH base AS ({oracles["bigram_lm_score"]}),
        j AS (
          SELECT base.doc_id, d.lang, base.lm_score
          FROM base JOIN documents d ON base.doc_id = d.doc_id
        ), r AS (
          SELECT doc_id, lang, lm_score,
                 row_number() OVER (PARTITION BY lang
                                    ORDER BY lm_score, doc_id) AS rn,
                 count(*) OVER (PARTITION BY lang) AS n
          FROM j
        )
        SELECT doc_id, lang, lm_score,
               CASE WHEN rn * 3 <= n THEN 'head'
                    WHEN rn * 3 <= 2 * n THEN 'middle'
                    ELSE 'tail' END AS ppl_bucket
        FROM r
    """
    # winnowing containment pairs: planted neighbor passages, capped
    # fingerprint sharing, exact pair/containment arithmetic
    oracles["winnowing_containment_pairs"] = f"""
        WITH docs AS (
          SELECT doc_id, text FROM documents WHERE text IS NOT NULL
        ), nbr AS (
          SELECT doc_id - 1 AS doc_id, substr(text, 1, 80) AS t_nb
          FROM docs
        ), planted AS (
          SELECT d.doc_id,
                 CASE WHEN {_dd_md5_bucket("win:", 5, "d.doc_id")} = 0
                        AND nbr.t_nb IS NOT NULL
                      THEN d.text || ' ' || nbr.t_nb
                      ELSE d.text END AS text
          FROM docs d LEFT JOIN nbr ON d.doc_id = nbr.doc_id
        ), pl AS (
          SELECT doc_id, text FROM planted WHERE length(text) >= 11
        ), hs AS (
          SELECT doc_id,
                 list_transform(range(1, length(text) - 6),
                   p -> {_dd_md5_bucket("", 1 << 62, key="substr(text, CAST(p AS INTEGER), 8)")}) AS h
          FROM pl
        ), fp AS (
          SELECT DISTINCT doc_id, fp FROM (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(h) - 2),
                     j -> list_min(list_transform(range(0, 4),
                       t -> h[CAST(j + t AS INTEGER)])))) AS fp
            FROM hs
          )
        ), cold AS (
          SELECT fp FROM (
            SELECT fp, count(*) AS n FROM fp GROUP BY fp
          ) WHERE n BETWEEN 2 AND 20
        ), cf AS (
          SELECT doc_id, fp FROM fp JOIN cold USING (fp)
        ), pairs AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 CAST(count(*) AS BIGINT) AS shared_fps
          FROM cf a JOIN cf b ON a.fp = b.fp AND a.doc_id < b.doc_id
          GROUP BY 1, 2 HAVING count(*) >= 5
        ), nf AS (
          SELECT doc_id, count(*) AS n_fps FROM fp GROUP BY doc_id
        )
        SELECT doc_a, doc_b, shared_fps,
               CAST((shared_fps * 10000) // least(na.n_fps, nb2.n_fps)
                    AS BIGINT) AS containment_bp
        FROM pairs
        JOIN nf na ON na.doc_id = doc_a
        JOIN nf nb2 ON nb2.doc_id = doc_b
        ORDER BY doc_a, doc_b
    """
    # media dHash buckets: the media_features float32 emulation (pinned
    # by test_oracle_emulation) + the 8-bit gradient chain
    oracles["media_neardup_groups"] = r"""
        WITH ids AS (SELECT unnest(range(200)) AS media_id),
        nib AS (
          SELECT media_id, md5('42:' || CAST(media_id AS VARCHAR)) AS hx
          FROM ids
        ), hb AS (
          SELECT media_id,
                 list_transform(range(16), j ->
                   (strpos('0123456789abcdef',
                           substr(hx, CAST(2*j+1 AS INTEGER), 1)) - 1) * 16 +
                   (strpos('0123456789abcdef',
                           substr(hx, CAST(2*j+2 AS INTEGER), 1)) - 1)
                 ) AS h
          FROM nib
        ), sz AS (
          SELECT media_id, h,
                 (16 + (h[1] % 64)) * (16 + (h[2] % 64)) AS n,
                 CAST(ceil((16 + (h[1] % 64)) * (16 + (h[2] % 64)) / 16.0)
                      AS BIGINT) AS chunk
          FROM hb
        ), vals AS (
          SELECT media_id, chunk, CAST(t.m // chunk AS INTEGER) AS k,
                 h[CAST(t.m % 16 AS INTEGER) + 1] AS v
          FROM sz, unnest(range(sz.n)) AS t(m)
        ), sums AS (
          SELECT media_id, k, chunk, sum(v) AS s
          FROM vals GROUP BY media_id, k, chunk
        ), feats AS (
          SELECT media_id, k,
                 CAST(CAST(CAST(s AS FLOAT) / CAST(chunk AS FLOAT) AS FLOAT)
                      / CAST(255 AS FLOAT) AS FLOAT) AS f
          FROM sums
        ), bits AS (
          SELECT media_id, k,
                 CASE WHEN f > lead(f) OVER (PARTITION BY media_id ORDER BY k)
                      THEN 1 ELSE 0 END AS b
          FROM feats
        ), sig AS (
          SELECT media_id,
                 CAST(sum(b * (CAST(1 AS BIGINT) << CAST(k AS INTEGER)))
                      AS BIGINT) AS dhash
          FROM bits WHERE k < 8 GROUP BY media_id
        )
        SELECT dhash, CAST(count(*) AS BIGINT) AS n_media,
               min(media_id) AS min_media_id,
               max(media_id) AS max_media_id
        FROM sig GROUP BY dhash HAVING count(*) >= 2
    """
    # heading outline: the six templated branch families with their
    # branch-dependent positions and the post-h1 counter restart
    oracles["headings_outline"] = """
        SELECT doc_id, CAST(0 AS INTEGER) AS pos, CAST(1 AS INTEGER)
                 AS level, '1' AS section_no,
               'Intro ' || CAST(doc_id % 3 AS VARCHAR) AS text
        FROM documents
        UNION ALL
        SELECT doc_id, CAST(1 AS INTEGER), CAST(2 AS INTEGER), '1.1',
               'A ' || CAST(doc_id % 5 AS VARCHAR) FROM documents
        UNION ALL
        SELECT doc_id, CAST(2 AS INTEGER), CAST(3 AS INTEGER), '1.1.1',
               'Deep ' || CAST(doc_id % 7 AS VARCHAR) FROM documents
        WHERE doc_id % 2 = 0
        UNION ALL
        SELECT doc_id,
               CAST(CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 2 END AS INTEGER),
               CAST(2 AS INTEGER), '1.2',
               'B ' || CAST(doc_id % 5 AS VARCHAR) FROM documents
        UNION ALL
        SELECT doc_id,
               CAST(CASE WHEN doc_id % 2 = 0 THEN 4 ELSE 3 END AS INTEGER),
               CAST(1 AS INTEGER), '2',
               'Part ' || CAST(doc_id % 3 AS VARCHAR) FROM documents
        WHERE doc_id % 3 = 0
        UNION ALL
        SELECT doc_id,
               CAST(CASE WHEN doc_id % 2 = 0 THEN 5 ELSE 4 END AS INTEGER),
               CAST(2 AS INTEGER), '2.1',
               'C ' || CAST(doc_id % 5 AS VARCHAR) FROM documents
        WHERE doc_id % 3 = 0
    """
    # Flesch: vowel-group syllables + synthesized sentence boundaries
    # (every 7th token), integer floor-divided milli-unit score
    oracles["flesch_readability"] = """
        WITH d AS (
          SELECT doc_id, text, list_filter(
            regexp_split_to_array(lower(trim(text)), '[ \\t\\r\\n\\f\\v]+'),
            x -> x <> '') AS toks
          FROM documents WHERE text IS NOT NULL
        ), f AS (
          SELECT doc_id,
                 CAST(len(toks) AS BIGINT) AS n_words,
                 CAST(greatest(len(toks) // 7, 1) AS BIGINT) AS n_sentences,
                 CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                      + len(list_filter(toks,
                          t -> NOT regexp_matches(t, '[aeiouy]')))
                      AS BIGINT) AS n_syllables
          FROM d WHERE len(toks) >= 1
        )
        SELECT doc_id, n_words, n_sentences, n_syllables,
               CAST(206835 - (1015 * n_words) // n_sentences
                    - (84600 * n_syllables) // n_words
                    AS BIGINT) AS flesch_milli
        FROM f
    """
    # Kneser–Ney continuation counts: distinct-(prev, w) relation first
    # (no count-distinct expansion), then per-w rollup + global N1+(••)
    oracles["kn_continuation"] = """
        WITH d AS (
          SELECT list_filter(
            regexp_split_to_array(lower(trim(text)), '[ \\t\\r\\n\\f\\v]+'),
            x -> x <> '') AS toks
          FROM documents WHERE text IS NOT NULL
        ), pairs AS (
          SELECT toks[CAST(i AS INTEGER)] AS prev,
                 toks[CAST(i + 1 AS INTEGER)] AS w
          FROM (SELECT toks, unnest(range(1, len(toks))) AS i
                FROM d WHERE len(toks) >= 2)
        ), pc AS (
          SELECT prev, w, count(*) AS c FROM pairs GROUP BY 1, 2
        ), per_w AS (
          SELECT w, CAST(count(*) AS BIGINT) AS cont_types,
                 CAST(sum(c) AS BIGINT) AS total_count
          FROM pc GROUP BY w
        ), nt AS (
          SELECT CAST(count(*) AS BIGINT) AS n_types FROM pc
        )
        SELECT w, cont_types, total_count,
               CAST((cont_types * 1000000) // n_types AS BIGINT)
                 AS p_cont_ppm
        FROM per_w CROSS JOIN nt
        ORDER BY cont_types DESC, w LIMIT 30
    """
    # C4 page filter: rebuild the synthesized 6-line page, the line
    # rules, and the kept-text md5 with DuckDB list HOFs.
    oracles["c4_page_filter"] = """
        WITH p AS (
          SELECT doc_id,
                 [substr(text, 1, 60) || '.',
                  'Click here to subscribe',
                  CASE WHEN doc_id % 7 = 0 THEN 'function() { return 0; }'
                       ELSE 'plain footer line without punctuation at all'
                       END,
                  CASE WHEN doc_id % 5 = 1 THEN
                         'enable the javascript snippet to view this '
                         || 'content today.'
                       ELSE substr(text, 61, 60) || '.' END,
                  CASE WHEN doc_id % 11 = 3 THEN 'lorem ipsum dolor sit amet.'
                       ELSE substr(text, 121, 60) || '!' END,
                  CASE WHEN doc_id % 3 = 0 THEN 'Too short.'
                       ELSE substr(text, 181, 60) || '?' END] AS lines
          FROM documents WHERE text IS NOT NULL
        ), k AS (
          SELECT doc_id,
                 array_to_string(lines, chr(10)) AS page,
                 list_filter(lines, ln ->
                     right(ln, 1) IN ('.', '!', '?', '"')
                     AND len(string_split(ln, ' ')) >= 5
                     AND NOT contains(lower(ln), 'javascript')) AS kept
          FROM p
        ), r AS (
          SELECT doc_id, kept,
                 CASE WHEN contains(page, '{') THEN 'curly_brace'
                      WHEN contains(lower(page), 'lorem ipsum')
                        THEN 'lorem_ipsum'
                      WHEN len(kept) < 3 THEN 'too_few_lines'
                      ELSE 'kept' END AS drop_reason
          FROM k
        )
        SELECT doc_id,
               CAST(len(kept) AS BIGINT) AS n_kept_lines,
               CAST(coalesce(list_sum(list_transform(kept,
                   ln -> len(string_split(ln, ' ')))), 0) AS BIGINT)
                 AS kept_words,
               drop_reason,
               CASE WHEN drop_reason = 'kept'
                    THEN md5(array_to_string(kept, chr(10))) END AS kept_md5
        FROM r
    """
    # mojibake audit: same planted suffixes / markers / repair chain as
    # textops.mojibake_stats, injected from the module constants so the
    # two engines can never drift.
    _moji_rep = "payload"
    for _bad, _good in textops._MOJIBAKE_REPAIRS:
        _moji_rep = f"replace({_moji_rep}, '{_bad}', '{_good}')"
    _moji_n = " + ".join(
        f"(len(payload) - len(replace(payload, '{m}', ''))) // {len(m)}"
        for m in textops._MOJIBAKE_MARKERS
    )
    oracles["mojibake_stats"] = f"""
        WITH p AS (
          SELECT doc_id,
                 substr(text, 1, 40) ||
                 CASE WHEN doc_id % 4 = 2 THEN '{textops._MOJIBAKE_SUFFIX_A}'
                      WHEN doc_id % 4 = 3 THEN '{textops._MOJIBAKE_SUFFIX_B}'
                      ELSE '' END AS payload
          FROM documents WHERE text IS NOT NULL
        ), c AS (
          SELECT doc_id, payload, {_moji_n} AS n_moji FROM p
        )
        SELECT doc_id,
               CAST(n_moji AS BIGINT) AS n_mojibake,
               n_moji > 0 AS is_mojibake,
               md5({_moji_rep}) AS repaired_md5
        FROM c
    """
    # Matryoshka truncation eval: int8 quantize (scale from the FULL
    # vector), both dots in one unnest pass, per-query top-20 overlap.
    oracles["matryoshka_eval"] = """
        WITH qv AS (
          SELECT vec_id, embedding,
                 CASE WHEN list_max(list_transform(embedding,
                                                   x -> abs(x))) > 0
                      THEN CAST(127.0 AS DOUBLE)
                           / list_max(list_transform(embedding,
                                                     x -> abs(x)))
                      ELSE CAST(0.0 AS DOUBLE) END AS scale
          FROM embeddings
        ), qc AS (
          SELECT vec_id, list_transform(embedding,
                   x -> CAST(round(x * scale) AS INTEGER)) AS qcodes
          FROM qv
        ), qs AS (
          SELECT vec_id AS query_id, qcodes AS pcodes FROM qc
          WHERE vec_id < 5
        ), dots AS (
          SELECT q.query_id, c.vec_id,
                 CAST(sum(CAST(c.qcodes[CAST(t.i AS INTEGER)] AS BIGINT)
                          * q.pcodes[CAST(t.i AS INTEGER)]) AS BIGINT)
                   AS dot_full,
                 CAST(sum(CASE WHEN t.i <= len(c.qcodes) // 4
                          THEN CAST(c.qcodes[CAST(t.i AS INTEGER)] AS BIGINT)
                               * q.pcodes[CAST(t.i AS INTEGER)]
                          ELSE 0 END) AS BIGINT) AS dot_trunc
          FROM qc c, qs q, unnest(range(1, len(c.qcodes) + 1)) AS t(i)
          WHERE c.vec_id <> q.query_id
          GROUP BY 1, 2
        ), rf AS (
          SELECT query_id, vec_id, row_number() OVER (
            PARTITION BY query_id ORDER BY dot_full DESC, vec_id) AS r
          FROM dots
        ), rt AS (
          SELECT query_id, vec_id, row_number() OVER (
            PARTITION BY query_id ORDER BY dot_trunc DESC, vec_id) AS r
          FROM dots
        ), tf AS (SELECT query_id, vec_id FROM rf WHERE r <= 20),
           tt AS (SELECT query_id, vec_id FROM rt WHERE r <= 20)
        SELECT tf.query_id,
               CAST(20 AS BIGINT) AS k,
               CAST(count(tt.vec_id) AS BIGINT) AS n_overlap,
               CAST(count(tt.vec_id) * 10000 // 20 AS BIGINT) AS recall_bp
        FROM tf LEFT JOIN tt
          ON tf.query_id = tt.query_id AND tf.vec_id = tt.vec_id
        GROUP BY tf.query_id
    """
    # Next-fit bin packing: the oracle replays the per-shard greedy
    # chain (length desc, doc_id order) as a recursive CTE.
    oracles["bin_pack_nextfit"] = f"""
        WITH RECURSIVE d AS (
          SELECT doc_id,
                 CAST(doc_id % {dedup.BINPACK_SHARDS} AS BIGINT) AS shard,
                 CAST(length(text) AS BIGINT) AS n,
                 row_number() OVER (
                   PARTITION BY doc_id % {dedup.BINPACK_SHARDS}
                   ORDER BY length(text) DESC, doc_id) AS r
          FROM documents WHERE text IS NOT NULL
        ), state AS (
          SELECT shard, r, doc_id, n,
                 CAST(0 AS BIGINT) AS bin_local, n AS fill
          FROM d WHERE r = 1
          UNION ALL
          SELECT d.shard, d.r, d.doc_id, d.n,
                 CASE WHEN s.fill + d.n <= {dedup.BINPACK_CAP}
                      THEN s.bin_local ELSE s.bin_local + 1 END,
                 CASE WHEN s.fill + d.n <= {dedup.BINPACK_CAP}
                      THEN s.fill + d.n ELSE d.n END
          FROM state s JOIN d ON d.shard = s.shard AND d.r = s.r + 1
        )
        SELECT doc_id, shard,
               CAST(bin_local AS BIGINT) AS bin_local,
               CAST(fill AS BIGINT) AS bin_fill_after
        FROM state
    """
    # Inference batching: same per-shard descending walk, state =
    # (batch, n_in_batch, batch_max); close when max*(n+1) > budget.
    oracles["inference_batch_pack"] = f"""
        WITH RECURSIVE d AS (
          SELECT doc_id,
                 CAST(doc_id % {dedup.IBATCH_SHARDS} AS BIGINT) AS shard,
                 CAST(length(text) AS BIGINT) AS n,
                 row_number() OVER (
                   PARTITION BY doc_id % {dedup.IBATCH_SHARDS}
                   ORDER BY length(text) DESC, doc_id) AS r
          FROM documents WHERE text IS NOT NULL
        ), state AS (
          SELECT shard, r, doc_id, n,
                 CAST(0 AS BIGINT) AS batch_local,
                 CAST(1 AS BIGINT) AS n_in, n AS mx
          FROM d WHERE r = 1
          UNION ALL
          SELECT d.shard, d.r, d.doc_id, d.n,
                 CASE WHEN s.mx * (s.n_in + 1) > {dedup.IBATCH_BUDGET}
                      THEN s.batch_local + 1 ELSE s.batch_local END,
                 CASE WHEN s.mx * (s.n_in + 1) > {dedup.IBATCH_BUDGET}
                      THEN 1 ELSE s.n_in + 1 END,
                 CASE WHEN s.mx * (s.n_in + 1) > {dedup.IBATCH_BUDGET}
                      THEN d.n ELSE s.mx END
          FROM state s JOIN d ON d.shard = s.shard AND d.r = s.r + 1
        )
        SELECT doc_id, shard, batch_local,
               n_in AS batch_fill_n,
               CAST(mx * n_in AS BIGINT) AS padded_cells_after
        FROM state
    """
    # HITS: unroll the 3 max-normalized rounds as chained CTEs over the
    # shared deterministic domain graph (generated to match links.hits).
    _hits_cte = [
        """
        WITH e AS MATERIALIZED (
          SELECT DISTINCT
                 doc_id % 50 AS src,
                 (7 * (doc_id % 50) + doc_id // 50) % 50 AS dst
          FROM documents
          WHERE ((doc_id % 50) + 2 * (doc_id // 50)) % 3 <> 0
        ), n AS MATERIALIZED (
          SELECT src AS node FROM e UNION SELECT dst FROM e
        ), h0 AS (
          SELECT node, CAST(1000000 AS BIGINT) AS hub FROM n
        )"""
    ]
    # Each round's CTEs are MATERIALIZED: without it DuckDB inlines the
    # chain (a3 -> h2 -> a2 -> ...), re-expanding every prior round at
    # each of its 2+ reference sites — 2^depth plan blowup (measured
    # 11.6s -> <0.1s at sf0.01).
    for _k in (1, 2, 3):
        _hits_cte.append(f""", a{_k}r AS MATERIALIZED (
          SELECT n.node, CAST(coalesce(sum(h.hub), 0) AS BIGINT) AS raw
          FROM n LEFT JOIN e ON e.dst = n.node
                 LEFT JOIN h{_k - 1} h ON h.node = e.src
          GROUP BY n.node
        ), a{_k}m AS (
          SELECT greatest(max(raw), 1) AS m FROM a{_k}r
        ), a{_k} AS MATERIALIZED (
          SELECT node, CAST(raw * 1000000 // m AS BIGINT) AS auth
          FROM a{_k}r, a{_k}m
        ), h{_k}r AS MATERIALIZED (
          SELECT n.node, CAST(coalesce(sum(a.auth), 0) AS BIGINT) AS raw
          FROM n LEFT JOIN e ON e.src = n.node
                 LEFT JOIN a{_k} a ON a.node = e.dst
          GROUP BY n.node
        ), h{_k}m AS (
          SELECT greatest(max(raw), 1) AS m FROM h{_k}r
        ), h{_k} AS MATERIALIZED (
          SELECT node, CAST(raw * 1000000 // m AS BIGINT) AS hub
          FROM h{_k}r, h{_k}m
        )""")
    _hits_cte.append("""
        SELECT a3.node, a3.auth, h3.hub
        FROM a3 JOIN h3 ON a3.node = h3.node
    """)
    oracles["domain_hits"] = "".join(_hits_cte)
    # k-core: unroll the 4 peel rounds as chained CTEs over the layered
    # deterministic graph (sparse chain + dense 12-node core).
    _kcore_cte = [
        """
        WITH e0 AS (
          SELECT DISTINCT doc_id % 150 AS src,
                 (7 * (doc_id % 150) + doc_id // 150) % 150 AS dst
          FROM documents
          WHERE ((doc_id % 150) + 3 * (doc_id // 150)) % 7 = 0
          UNION
          SELECT DISTINCT doc_id % 12 AS src,
                 (5 * (doc_id % 12) + doc_id // 12) % 12 AS dst
          FROM documents
          WHERE doc_id % 5 = 0
        ), e AS (
          SELECT src, dst FROM e0 WHERE src <> dst
          UNION SELECT dst, src FROM e0 WHERE src <> dst
        ), a0 AS (
          SELECT DISTINCT src AS node FROM e
        )"""
    ]
    for _k in (1, 2, 3, 4):
        _kcore_cte.append(f""", d{_k} AS (
          SELECT e.src AS node, count(*) AS deg
          FROM e JOIN a{_k - 1} x ON x.node = e.src
                 JOIN a{_k - 1} y ON y.node = e.dst
          GROUP BY e.src
        ), a{_k} AS (
          SELECT node FROM d{_k} WHERE deg >= 3
        )""")
    _kcore_cte.append("""
        SELECT CAST(e.src AS BIGINT) AS node,
               CAST(count(*) AS BIGINT) AS deg
        FROM e JOIN a4 x ON x.node = e.src
               JOIN a4 y ON y.node = e.dst
        GROUP BY e.src
    """)
    oracles["domain_kcore"] = "".join(_kcore_cte)
    # Jaccard link prediction: same generated graph (prefix reuses the
    # kcore CTE — its a0 CTE is simply unused), hub cap 8 replayed, ppm
    # scores by integer division (non-negative, so // == Spark DIV).
    oracles["linkpred_jaccard"] = f"""{_kcore_cte[0]},
        deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
        centers AS (SELECT src AS z FROM deg WHERE deg <= 8),
        adj AS (SELECT e.src AS z, e.dst AS nb
                FROM e JOIN centers c ON c.z = e.src),
        degf AS (SELECT nb, count(*) AS degf FROM adj GROUP BY nb),
        pairs AS (
          SELECT l.nb AS a, r.nb AS b, CAST(count(*) AS BIGINT) AS common
          FROM adj l JOIN adj r ON l.z = r.z AND l.nb < r.nb
          GROUP BY l.nb, r.nb
        ),
        cand AS (
          SELECT p.* FROM pairs p
          WHERE NOT EXISTS (SELECT 1 FROM e
                            WHERE e.src = p.a AND e.dst = p.b)
        )
        SELECT CAST(c.a AS BIGINT) AS a, CAST(c.b AS BIGINT) AS b,
               c.common,
               CAST(c.common * 1000000
                    // (da.degf + db.degf - c.common) AS BIGINT)
                 AS score_ppm
        FROM cand c JOIN degf da ON da.nb = c.a
                    JOIN degf db ON db.nb = c.b
        ORDER BY score_ppm DESC, a, b LIMIT 30
    """
    # DAG critical path: orient edges small→big (ids are a topological
    # order), then longest path per node via a recursive CTE over
    # (node, depth) pairs — UNION dedupes, so the enumeration is
    # bounded by V × max_depth.
    oracles["dag_critical_path"] = f"""{
        _kcore_cte[0].replace("WITH e0", "WITH RECURSIVE e0", 1)},
        dag AS (
          SELECT least(src, dst) AS s, greatest(src, dst) AS d
          FROM e WHERE src <> dst GROUP BY 1, 2
        ),
        nodes AS (SELECT DISTINCT s AS node FROM dag
                  UNION SELECT DISTINCT d FROM dag),
        paths(node, depth) AS (
          SELECT node, 0 FROM nodes
          UNION
          SELECT dag.d, p.depth + 1 FROM paths p JOIN dag ON dag.s = p.node
        )
        SELECT CAST(node AS BIGINT) AS node,
               CAST(max(depth) AS BIGINT) AS depth
        FROM paths GROUP BY node
    """
    # chi-square term selection: document-frequency contingency over the
    # shared tokenizer, margins from the corpus totals, exact integer
    # micro-unit scoring (numerator non-negative → // == DIV).
    oracles["term_chi2"] = r"""
        WITH docs AS (SELECT * FROM documents WHERE text IS NOT NULL),
        tot AS (
          SELECT count(*) AS n,
                 sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS p
          FROM docs
        ),
        toks AS (
          SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos,
                 unnest(list_distinct(list_filter(
                   regexp_split_to_array(lower(trim(text)),
                                         '[ \t\r\n\f\v]+'),
                   x -> x <> ''))) AS tok
          FROM docs
        ),
        per AS (
          SELECT tok, CAST(count(*) AS BIGINT) AS df,
                 CAST(sum(pos) AS BIGINT) AS pos_df
          FROM toks GROUP BY tok HAVING count(*) >= 5
        )
        SELECT tok, df, pos_df,
          -- explicit 128-bit products (HUGEINT) mirroring the Spark
          -- side's DECIMAL(38,0): the worst-case numerator N^5/16*10^6
          -- exceeds int64 past ~6e3 docs (hit live at sf0.1)
          CAST(CAST(t.n AS HUGEINT)
               * (per.pos_df * (t.n - t.p) - (per.df - per.pos_df) * t.p)
               * (per.pos_df * (t.n - t.p) - (per.df - per.pos_df) * t.p)
               * 1000000
               // (CAST(per.df AS HUGEINT) * (t.n - per.df) * t.p
                   * (t.n - t.p))
            AS BIGINT) AS chi2_micro
        FROM per, tot t
        ORDER BY chi2_micro DESC, tok LIMIT 25
    """
    # Pareto frontier: NOT-EXISTS dominance over the distinct points —
    # the declarative spec the two-level Spark decomposition must match.
    oracles["pareto_frontier"] = f"""
        WITH pts AS (
          SELECT CAST(n_chars AS BIGINT) AS x,
                 {_dd_md5_bucket('pareto:', 1000000)} AS y,
                 CAST(count(*) AS BIGINT) AS n_docs
          FROM documents GROUP BY 1, 2
        )
        SELECT x, y, n_docs FROM pts p
        WHERE NOT EXISTS (
          SELECT 1 FROM pts q
          WHERE q.x >= p.x AND q.y >= p.y AND (q.x > p.x OR q.y > p.y)
        )
        ORDER BY x DESC
    """
    # frame-sampling plan: replay the md5 media generator (video rows),
    # duration/fps from the same bytes, uniform index arithmetic in //.
    oracles["media_frame_sample"] = """
        WITH m AS (
          SELECT i AS media_id, md5('42:' || CAST(i AS VARCHAR)) AS hx
          FROM range(200) t(i)
        ), b AS (
          SELECT media_id,
            (strpos('0123456789abcdef', substr(hx,1,1))-1)*16
              + strpos('0123456789abcdef', substr(hx,2,1))-1 AS b0,
            (strpos('0123456789abcdef', substr(hx,5,1))-1)*16
              + strpos('0123456789abcdef', substr(hx,6,1))-1 AS b2,
            (strpos('0123456789abcdef', substr(hx,7,1))-1)*16
              + strpos('0123456789abcdef', substr(hx,8,1))-1 AS b3
          FROM m
        ), v AS (
          SELECT media_id, CAST(5 + b0 % 64 AS BIGINT) AS duration_s,
                 CAST(CASE b2 % 3 WHEN 0 THEN 24 WHEN 1 THEN 30
                      ELSE 60 END AS BIGINT) AS fps
          FROM b WHERE b3 % 3 = 2
        ), vv AS (
          SELECT media_id, duration_s * fps AS total_frames, fps,
                 least(8, duration_s * fps) AS n
          FROM v
        )
        SELECT media_id, CAST(i AS BIGINT) AS frame_no,
               CAST(i * total_frames // n AS BIGINT) AS frame_idx,
               CAST((i * total_frames // n) * 1000 // fps AS BIGINT)
                 AS ts_ms,
               total_frames
        FROM vv, range(8) t(i) WHERE i < n
    """
    # Calibration ECE: mid-rank confidence per distinct score, decile
    # bins, exact integer accuracy/confidence gap — all on the
    # distinct-score histogram of the shared classifier oracle.
    oracles["calibration_ece"] = f"""
        WITH s AS ({oracles["hashed_classifier_score"]}),
        d AS (
          SELECT score,
                 substr(md5(CAST(doc_id AS VARCHAR)), 2, 1) < '8' AS y
          FROM s
        ), per AS (
          SELECT score,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS p
          FROM d GROUP BY score
        ), c AS (
          SELECT n, p,
                 CAST(coalesce(sum(n) OVER (ORDER BY score
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS BIGINT) AS cumb,
                 CAST(sum(n) OVER () AS BIGINT) AS tot
          FROM per
        ), ph AS (
          SELECT n, p,
                 (2 * cumb + n) * 500000 // tot AS phat
          FROM c
        ), b AS (
          SELECT least(phat // 100000, 9) AS bin,
                 CAST(sum(n) AS BIGINT) AS nb,
                 CAST(sum(p) AS BIGINT) AS pb,
                 CAST(sum(n * phat) AS BIGINT) AS confsum
          FROM ph GROUP BY 1
        )
        SELECT CAST(bin AS BIGINT) AS bin, nb AS n,
               CAST(pb * 1000000 // nb AS BIGINT) AS acc_micro,
               CAST(confsum // nb AS BIGINT) AS conf_micro,
               CAST(abs(pb * 1000000 // nb - confsum // nb) AS BIGINT)
                 AS gap_micro
        FROM b
    """
    # Bradley-Terry MM: identical deterministic comparisons (md5-ranked
    # family contestants, lexicographic winner), 3 unrolled exact-
    # integer rounds with per-round max normalization.
    _bt_cte = [
        f"""
        {convops.DTR_SHARED_CTE}, sc AS (
          SELECT conv_id,
                 CAST(sum(length(text)) + count(*) AS BIGINT) AS score,
                 conv_id % 32 AS g
          FROM dtrs WHERE role = 'assistant' GROUP BY conv_id
        ), samp AS (
          SELECT * FROM (
            SELECT g, conv_id, score,
                   row_number() OVER (PARTITION BY g
                     ORDER BY md5('bt:' || CAST(conv_id AS VARCHAR)),
                              conv_id) AS rk
            FROM sc
          ) WHERE rk <= 6
        ), comp AS MATERIALIZED (
          SELECT CASE WHEN (a.score, a.conv_id) > (c.score, c.conv_id)
                      THEN a.conv_id ELSE c.conv_id END AS w,
                 CASE WHEN (a.score, a.conv_id) > (c.score, c.conv_id)
                      THEN c.conv_id ELSE a.conv_id END AS l
          FROM samp a JOIN samp c ON a.g = c.g AND a.rk < c.rk
        ), items AS (
          SELECT w AS conv_id FROM comp UNION SELECT l FROM comp
        ), wins AS MATERIALIZED (
          SELECT i.conv_id, CAST(coalesce(cw.n, 0) AS BIGINT) AS wins
          FROM items i LEFT JOIN (
            SELECT w, count(*) AS n FROM comp GROUP BY w
          ) cw ON cw.w = i.conv_id
        ), p0 AS (
          SELECT conv_id, CAST(1000000 AS BIGINT) AS pv FROM items
        )"""
    ]
    for _k in (1, 2, 3):
        _bt_cte.append(f""", t{_k} AS (
          SELECT comp.w, comp.l,
                 CAST(1000000000000 // greatest(pw.pv + pl.pv, 1)
                      AS BIGINT) AS term
          FROM comp JOIN p{_k - 1} pw ON pw.conv_id = comp.w
                    JOIN p{_k - 1} pl ON pl.conv_id = comp.l
        ), d{_k} AS (
          SELECT conv_id, CAST(sum(term) AS BIGINT) AS dsum FROM (
            SELECT w AS conv_id, term FROM t{_k}
            UNION ALL SELECT l, term FROM t{_k}
          ) GROUP BY conv_id
        ), praw{_k} AS MATERIALIZED (
          SELECT wins.conv_id,
                 CAST(wins.wins * 1000000000000 // greatest(d.dsum, 1)
                      AS BIGINT) AS raw
          FROM wins JOIN d{_k} d USING (conv_id)
        ), m{_k} AS (
          SELECT greatest(max(raw), 1) AS m FROM praw{_k}
        ), p{_k} AS MATERIALIZED (
          SELECT conv_id, CAST(raw * 1000000 // m AS BIGINT) AS pv
          FROM praw{_k}, m{_k}
        )""")
    _bt_cte.append("""
        SELECT CAST(w.conv_id AS BIGINT) AS conv_id, w.wins,
               p3.pv AS strength
        FROM wins w JOIN p3 ON p3.conv_id = w.conv_id
    """)
    oracles["bt_strength"] = "".join(_bt_cte)
    # Retention cohorts: integer week indices from the fixed epoch,
    # per-user first week, distinct users + events per (cohort, offset).
    oracles["retention_cohorts"] = """
        WITH e AS (
          SELECT user_id,
                 CAST(datediff('day', DATE '2024-01-01',
                               CAST(ts AS DATE)) AS BIGINT) // 7 AS wk
          FROM events
        ), cohort AS (
          SELECT user_id, min(wk) AS cohort_week FROM e GROUP BY user_id
        ), cells AS (
          SELECT c.cohort_week, e.wk - c.cohort_week AS week_offset,
                 e.user_id, count(*) AS n
          FROM e JOIN cohort c USING (user_id)
          GROUP BY 1, 2, 3
        )
        SELECT cohort_week, week_offset,
               CAST(count(*) AS BIGINT) AS n_users,
               CAST(sum(n) AS BIGINT) AS n_events
        FROM cells GROUP BY 1, 2
    """
    # cogroup merge_asof: correlated-subquery twin — latest preceding
    # view per click, same-instant ties to the max view_event.
    oracles["cogroup_merge_asof"] = """
        WITH c AS (
          SELECT user_id, CAST(event_id AS BIGINT) AS click_event,
                 epoch_us(ts) AS click_us
          FROM events WHERE event_type = 'click'
        ), v AS (
          SELECT user_id, CAST(event_id AS BIGINT) AS view_event,
                 epoch_us(ts) AS view_us
          FROM events WHERE event_type = 'view'
        ), b AS (
          SELECT c.user_id, c.click_event, c.click_us,
                 (SELECT max(v.view_us) FROM v
                  WHERE v.user_id = c.user_id
                    AND v.view_us <= c.click_us) AS bus
          FROM c
        )
        SELECT CAST(user_id AS BIGINT) AS user_id, click_event, click_us,
               (SELECT max(v.view_event) FROM v
                WHERE v.user_id = b.user_id AND v.view_us = b.bus)
                 AS view_event,
               bus AS view_us,
               click_us - bus AS gap_us
        FROM b
    """
    # Split leakage: candidate pairs from the estimator oracle (same
    # banding + hot-bucket exclusion) × the split-assignment oracle,
    # order-normalized split labels.
    oracles["split_leakage_audit"] = f"""
        WITH est AS ({oracles["dedup_minhash_estimate"]}),
        sp AS ({oracles["train_split_assign"]}),
        lab AS (
          SELECT least(sa.split, sb.split) AS split_a,
                 greatest(sa.split, sb.split) AS split_b,
                 p.doc_a * 1000000 + p.doc_b AS pair_key
          FROM (SELECT DISTINCT doc_a, doc_b FROM est) p
          JOIN sp sa ON sa.doc_id = p.doc_a
          JOIN sp sb ON sb.doc_id = p.doc_b
        )
        SELECT split_a, split_b, CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(min(pair_key) AS BIGINT) AS sample_pair
        FROM lab GROUP BY 1, 2
    """
    # GDPR cascade: same md5 delete sample; per-table before/deleted/
    # after counts, chunks derived via the chunk_documents oracle.
    oracles["gdpr_delete_cascade"] = f"""
        WITH delset AS (
          SELECT doc_id FROM documents
          WHERE substr(md5('gdpr:' || CAST(doc_id AS VARCHAR)), 1, 1) < '4'
        ), ch AS ({oracles["chunk_documents"]})
        SELECT 'documents' AS table_name,
               CAST(count(*) AS BIGINT) AS rows_before,
               CAST(count(d.doc_id) AS BIGINT) AS rows_deleted,
               CAST(count(*) - count(d.doc_id) AS BIGINT) AS rows_after
        FROM documents t LEFT JOIN delset d USING (doc_id)
        UNION ALL
        SELECT 'chunks',
               CAST(count(*) AS BIGINT),
               CAST(count(d.doc_id) AS BIGINT),
               CAST(count(*) - count(d.doc_id) AS BIGINT)
        FROM ch t LEFT JOIN delset d USING (doc_id)
        UNION ALL
        SELECT 'embeddings',
               CAST(count(*) AS BIGINT),
               CAST(count(d.doc_id) AS BIGINT),
               CAST(count(*) - count(d.doc_id) AS BIGINT)
        FROM (SELECT CAST(vec_id AS BIGINT) AS doc_id FROM embeddings) t
        LEFT JOIN delset d USING (doc_id)
    """
    # OOV rate: identical top-k vocab (count desc, token asc), per-
    # source occurrence coverage, ppm floor division.
    oracles["oov_rate_report"] = r"""
        WITH toks AS (
          SELECT source, unnest(list_filter(
            regexp_split_to_array(lower(trim(text)), '[ \t\r\n\f\v]+'),
            x -> x <> '')) AS tok
          FROM documents WHERE text IS NOT NULL
        ), vocab AS (
          SELECT tok FROM (
            SELECT tok, count(*) AS n FROM toks GROUP BY tok
            ORDER BY n DESC, tok LIMIT 50
          )
        )
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(count(*) - count(v.tok) AS BIGINT) AS n_oov,
               CAST((count(*) - count(v.tok)) * 1000000 // count(*)
                    AS BIGINT) AS oov_ppm
        FROM toks t LEFT JOIN vocab v USING (tok)
        GROUP BY source
    """
    # FK integrity: per-edge dangling-child counts, ppm floor division.
    oracles["referential_integrity_audit"] = """
        SELECT 'orders->customer' AS fk_edge,
               CAST(count(*) AS BIGINT) AS n_child_rows,
               CAST(count(*) - count(p.k) AS BIGINT) AS n_orphans,
               CAST((count(*) - count(p.k)) * 1000000 // count(*)
                    AS BIGINT) AS orphan_ppm
        FROM orders c LEFT JOIN (SELECT DISTINCT c_custkey AS k
                                 FROM customer) p ON c.o_custkey = p.k
        UNION ALL
        SELECT 'lineitem->orders', CAST(count(*) AS BIGINT),
               CAST(count(*) - count(p.k) AS BIGINT),
               CAST((count(*) - count(p.k)) * 1000000 // count(*) AS BIGINT)
        FROM lineitem c LEFT JOIN (SELECT DISTINCT o_orderkey AS k
                                   FROM orders) p ON c.l_orderkey = p.k
        UNION ALL
        SELECT 'customer->nation', CAST(count(*) AS BIGINT),
               CAST(count(*) - count(p.k) AS BIGINT),
               CAST((count(*) - count(p.k)) * 1000000 // count(*) AS BIGINT)
        FROM customer c LEFT JOIN (SELECT DISTINCT n_nationkey AS k
                                   FROM nation) p ON c.c_nationkey = p.k
        UNION ALL
        SELECT 'supplier->nation', CAST(count(*) AS BIGINT),
               CAST(count(*) - count(p.k) AS BIGINT),
               CAST((count(*) - count(p.k)) * 1000000 // count(*) AS BIGINT)
        FROM supplier c LEFT JOIN (SELECT DISTINCT n_nationkey AS k
                                   FROM nation) p ON c.s_nationkey = p.k
        UNION ALL
        SELECT 'nation->region', CAST(count(*) AS BIGINT),
               CAST(count(*) - count(p.k) AS BIGINT),
               CAST((count(*) - count(p.k)) * 1000000 // count(*) AS BIGINT)
        FROM nation c LEFT JOIN (SELECT DISTINCT r_regionkey AS k
                                 FROM region) p ON c.n_regionkey = p.k
    """
    # Backfill: clicks corrected by +1 cent, everything else original —
    # derived straight from events, certifying the dynamic-overwrite
    # write→read roundtrip by hash.
    oracles["backfill_partition_overwrite"] = """
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(CAST(round(value * 100) AS BIGINT)
                        + CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                    AS BIGINT) AS sum_value_cents
        FROM events GROUP BY event_type
    """
    # Lang confusion: compose the two classifier oracles verbatim and
    # cross-tabulate their predictions.
    oracles["lang_confusion"] = f"""
        WITH ma AS ({oracles["lang_id"]}),
        cg AS ({oracles["lang_id_chargram"]})
        SELECT ma.pred_lang AS marker_lang, cg.pred_lang AS chargram_lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(min(ma.doc_id) AS BIGINT) AS sample_doc
        FROM ma JOIN cg ON ma.doc_id = cg.doc_id
        GROUP BY 1, 2
    """
    # Schema evolution: the oracle derives the same per-lang rollup
    # straight from documents (lang exists only for odd post-evolution
    # ids), certifying the write→mergeSchema-read roundtrip by hash.
    oracles["schema_evolution_read"] = """
        SELECT CASE WHEN doc_id % 2 = 1
                    THEN 'l' || CAST(doc_id % 4 AS VARCHAR) END AS lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(length(text)) AS BIGINT) AS sum_len
        FROM documents
        GROUP BY 1
    """
    # Zone maps: identical layout arithmetic + min/max zones + the
    # prune verdict for the fixed date window, both layouts unioned.
    oracles["zonemap_prune_stats"] = """
        WITH o AS (
          SELECT CAST(o_orderkey AS BIGINT) AS k,
                 CAST(datediff('day', DATE '1992-01-01',
                               CAST(o_orderdate AS DATE)) AS BIGINT) AS day
          FROM orders
        ), bounds AS (
          SELECT CAST(datediff('day', DATE '1992-01-01',
                               DATE '1995-01-01') AS BIGINT) AS lo,
                 CAST(datediff('day', DATE '1992-01-01',
                               DATE '1995-06-30') AS BIGINT) AS hi
        ), z AS (
          SELECT 'clustered' AS layout, day // 45 AS file_id,
                 CAST(count(*) AS BIGINT) AS n_rows,
                 CAST(min(day) AS BIGINT) AS min_day,
                 CAST(max(day) AS BIGINT) AS max_day
          FROM o GROUP BY 2
          UNION ALL
          SELECT 'scattered' AS layout, k % 64 AS file_id,
                 CAST(count(*) AS BIGINT) AS n_rows,
                 CAST(min(day) AS BIGINT) AS min_day,
                 CAST(max(day) AS BIGINT) AS max_day
          FROM o GROUP BY 2
        )
        SELECT layout, CAST(file_id AS BIGINT) AS file_id, n_rows,
               min_day, max_day,
               (max_day < bounds.lo OR min_day > bounds.hi) AS pruned
        FROM z, bounds
    """
    # Label propagation: same layered graph as k-core; each round is a
    # neighbor-label count + deterministic argmax (count desc, label asc).
    _lpa_cte = [_kcore_cte[0] + """, l0 AS (
          SELECT node, CAST(node AS BIGINT) AS label FROM a0
        )"""]
    for _k in (1, 2, 3):
        _lpa_cte.append(f""", v{_k} AS (
          SELECT e.dst AS node, l.label AS nb_label, count(*) AS cnt
          FROM e JOIN l{_k - 1} l ON l.node = e.src
          GROUP BY 1, 2
        ), l{_k} AS (
          SELECT node, label FROM (
            SELECT node, nb_label AS label,
                   row_number() OVER (PARTITION BY node
                     ORDER BY cnt DESC, nb_label ASC) AS rn
            FROM v{_k}
          ) WHERE rn = 1
        )""")
    _lpa_cte.append("""
        SELECT CAST(node AS BIGINT) AS node, CAST(label AS BIGINT) AS label
        FROM l3
    """)
    oracles["domain_communities"] = "".join(_lpa_cte)
    # Blocked fuzzy entity resolution: identical blocking + levenshtein
    # threshold; the argmin tie-break (dist, then key) via row_number.
    oracles["fuzzy_match_parts"] = """
        WITH p AS (
          SELECT CAST(p_partkey AS BIGINT) AS k, p_name AS n,
                 split_part(p_name, ' ', 1) AS b,
                 length(p_name) AS ln
          FROM part
        ), pairs AS (
          SELECT a.k, c.k AS k2, levenshtein(a.n, c.n) AS d
          FROM p a JOIN p c ON a.b = c.b AND a.k <> c.k
                              AND abs(a.ln - c.ln) <= 5
          WHERE levenshtein(a.n, c.n) <= 5
        ), ranked AS (
          SELECT k, k2, d,
                 row_number() OVER (PARTITION BY k ORDER BY d, k2) AS rn
          FROM pairs
        )
        SELECT k AS p_partkey, CAST(k2 AS BIGINT) AS match_key,
               CAST(d AS BIGINT) AS dist
        FROM ranked WHERE rn = 1
    """
    # Classifier AUC: Mann-Whitney pair counting over the per-distinct-
    # score histogram of the hashed-classifier oracle.
    oracles["classifier_auc"] = f"""
        WITH s AS ({oracles["hashed_classifier_score"]}),
        d AS (
          SELECT score,
                 substr(md5(CAST(doc_id AS VARCHAR)), 2, 1) < '8' AS y
          FROM s
        ), per AS (
          SELECT score,
                 CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS p,
                 CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS q
          FROM d GROUP BY score
        ), c AS (
          SELECT p, q,
                 CAST(coalesce(sum(q) OVER (ORDER BY score
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS cumq
          FROM per
        )
        SELECT CAST(sum(p) AS BIGINT) AS n_pos,
               CAST(sum(q) AS BIGINT) AS n_neg,
               CAST(sum(p * cumq) AS BIGINT) AS pairs_won,
               CAST(sum(p * q) AS BIGINT) AS ties,
               CAST((2 * sum(p * cumq) + sum(p * q)) * 1000000
                    // (2 * sum(p) * sum(q)) AS BIGINT) AS auc_micro
        FROM c
    """
    # Curation funnel: compose the c4 / quality / mojibake oracles and
    # roll up per source.
    oracles["curation_report"] = f"""
        WITH c4 AS ({oracles["c4_page_filter"]}),
        qs AS ({oracles["quality_score"]}),
        mj AS ({oracles["mojibake_stats"]})
        SELECT d.source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN c4.drop_reason = 'kept'
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_c4,
               CAST(sum(CASE WHEN qs.passes_quality
                             THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_pass_quality,
               CAST(sum(CASE WHEN mj.n_mojibake = 0
                             THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_clean_encoding,
               CAST(sum(CASE WHEN c4.drop_reason = 'kept'
                              AND qs.passes_quality
                              AND mj.n_mojibake = 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_all
        FROM documents d
        JOIN c4 ON c4.doc_id = d.doc_id
        JOIN qs ON qs.doc_id = d.doc_id
        JOIN mj ON mj.doc_id = d.doc_id
        WHERE d.text IS NOT NULL
        GROUP BY d.source
    """
    # Grounding audit: assistant first-3-token claim phrase vs earlier
    # tool turns of the same conversation, verbatim containment.
    oracles["grounding_audit"] = f"""
        {convops.DTR_CTE}, a AS (
          SELECT conv_id, turn_idx,
                 array_to_string(
                   list_slice(string_split(text, ' '), 1, 3), ' ') AS claim
          FROM dtr WHERE role = 'assistant'
        ), t AS (
          SELECT conv_id, turn_idx AS tool_idx, text AS tool_text
          FROM dtr WHERE role = 'tool'
        )
        SELECT a.conv_id, a.turn_idx,
               CAST(count(t.tool_idx) AS BIGINT) AS n_prior_tool,
               CAST(coalesce(sum(CASE WHEN contains(t.tool_text, a.claim)
                                      THEN 1 ELSE 0 END), 0) AS BIGINT)
                 AS n_supporting,
               coalesce(sum(CASE WHEN contains(t.tool_text, a.claim)
                                 THEN 1 ELSE 0 END), 0) > 0 AS grounded
        FROM a LEFT JOIN t
          ON t.conv_id = a.conv_id AND t.tool_idx < a.turn_idx
        GROUP BY a.conv_id, a.turn_idx
    """
    # Turn-latency transitions: lag over the deterministic ts column.
    oracles["turn_latency_stats"] = f"""
        {convops.DTR_CTE}, ts AS (
          SELECT conv_id, turn_idx, role,
                 CAST(turn_idx * 120 + doc_id % 90 AS BIGINT) AS ts_sec
          FROM dtr
        ), gaps AS (
          SELECT ts_sec - lag(ts_sec) OVER w AS gap_s,
                 lag(role) OVER w || '->' || role AS transition
          FROM ts
          WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
        )
        SELECT transition,
               CAST(count(*) AS BIGINT) AS n_gaps,
               CAST(min(gap_s) AS BIGINT) AS min_gap_s,
               CAST(max(gap_s) AS BIGINT) AS max_gap_s,
               CAST(sum(gap_s) * 1000 // count(*) AS BIGINT)
                 AS mean_gap_milli
        FROM gaps WHERE gap_s IS NOT NULL
        GROUP BY transition
    """
    # SFT loss-mask spans: cumulative (length + 2) window over the
    # deterministic transcript view.
    oracles["loss_mask_spans"] = f"""
        {convops.DTR_CTE}, spans AS (
          SELECT conv_id, turn_idx, role, length(text) AS n,
                 coalesce(sum(length(text) + 2) OVER (
                     PARTITION BY conv_id ORDER BY turn_idx
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS s
          FROM dtr
        )
        SELECT conv_id, turn_idx, role,
               CAST(s AS BIGINT) AS span_start,
               CAST(s + n AS BIGINT) AS span_end,
               role <> 'assistant' AS mask
        FROM spans
    """
    # Homoglyph skeleton dedup: plant the same evasion twins, fold the
    # same confusable map, group on the same md5 skeleton.
    oracles["homoglyph_dedup"] = """
        WITH docs AS (
          SELECT doc_id, text FROM documents WHERE text IS NOT NULL
        ), corpus AS (
          SELECT doc_id, text FROM docs
          UNION ALL
          SELECT doc_id + 10000000 AS doc_id,
                 translate(text, 'aeo', 'аеο') AS text
          FROM docs WHERE doc_id % 37 = 0
        )
        SELECT md5(translate(text, 'аеο', 'aeo')) AS skel_hash,
               CAST(count(*) AS BIGINT) AS n_docs,
               min(doc_id) AS min_doc_id,
               max(doc_id) AS max_doc_id
        FROM corpus GROUP BY skel_hash HAVING count(*) > 1
    """
    # Fractional-epoch mixing: floor(e) copies via correlated range
    # unnest + the shared md5-keyed uniform gate for the extra copy.
    oracles["mixture_epochs"] = f"""
        WITH d AS (
          SELECT doc_id, source,
                 500000 + 250000 *
                   (coalesce(TRY_CAST(regexp_extract(source, '([0-9]+)$', 1)
                                      AS BIGINT), 0)
                    % 8) AS eppm,
                 {_dd_md5_bucket("epoch:", 1000000)} AS draw
          FROM documents
        ), exp AS (
          SELECT doc_id, source, eppm, draw,
                 unnest(range(0, eppm // 1000000 + 1)) AS e
          FROM d
        )
        SELECT doc_id, source, CAST(e AS BIGINT) AS epoch
        FROM exp
        WHERE e < eppm // 1000000
           OR (e = eppm // 1000000 AND draw < eppm % 1000000)
    """
    # ColBERT MaxSim: int8-quantized token bags, per-query-token best
    # document token, summed — all-bigint dot products.
    oracles["colbert_maxsim"] = """
        WITH qv AS (
          SELECT vec_id, embedding,
                 CASE WHEN list_max(list_transform(embedding,
                                                   x -> abs(x))) > 0
                      THEN CAST(127.0 AS DOUBLE)
                           / list_max(list_transform(embedding,
                                                     x -> abs(x)))
                      ELSE CAST(0.0 AS DOUBLE) END AS scale
          FROM embeddings
        ), qc AS (
          SELECT vec_id, list_transform(embedding,
                   x -> CAST(round(x * scale) AS INTEGER)) AS qcodes
          FROM qv
        ), toks AS (
          SELECT vec_id // 10 AS doc_id, vec_id AS tok_id, qcodes FROM qc
        ), qt AS (
          SELECT tok_id AS q_tok, qcodes AS pcodes
          FROM toks WHERE doc_id = 0
        ), dots AS (
          SELECT t.doc_id, t.tok_id, qt.q_tok,
                 CAST(sum(CAST(t.qcodes[CAST(u.i AS INTEGER)] AS BIGINT)
                          * qt.pcodes[CAST(u.i AS INTEGER)]) AS BIGINT)
                   AS dot_q
          FROM toks t, qt, unnest(range(1, len(t.qcodes) + 1)) AS u(i)
          GROUP BY t.doc_id, t.tok_id, qt.q_tok
        ), best AS (
          SELECT doc_id, q_tok, max(dot_q) AS best
          FROM dots GROUP BY doc_id, q_tok
        )
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
               CAST(count(*) AS BIGINT) AS n_qtok,
               CAST(sum(best) AS BIGINT) AS maxsim
        FROM best GROUP BY doc_id
        ORDER BY maxsim DESC, doc_id LIMIT 10
    """
    # Wilson lower bound, z = 2: one IEEE division + one correctly-
    # rounded sqrt + micro-round — the lang_temperature exactness recipe.
    oracles["wilson_source_ranking"] = r"""
        WITH q AS (
          SELECT source,
                 CASE WHEN len(regexp_split_to_array(trim(text), '\s+')) >= 10
                       AND length(regexp_replace(text, '\s+', '', 'g'))
                           / len(regexp_split_to_array(trim(text), '\s+')) < 15
                      THEN 1 ELSE 0 END AS p
          FROM documents WHERE text IS NOT NULL
        ), a AS (
          SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(p) AS BIGINT) AS n_pass
          FROM q GROUP BY source
        )
        SELECT source, n_docs, n_pass,
               CAST(n_pass * 1000000 // n_docs AS BIGINT) AS pass_ppm,
               CAST(round(
                 (n_pass + 2 - 2 * sqrt(
                    n_pass * (n_docs - n_pass) / CAST(n_docs AS DOUBLE) + 1))
                 / (n_docs + 4) * 1000000) AS BIGINT) AS wilson_lb_micro
        FROM a
    """
    # Kendall tau over the capped per-source pair set (cap mirrors the
    # Spark-side TAU_GROUP_CAP WindowGroupLimit).
    oracles["signal_agreement_tau"] = rf"""
        WITH sig AS (
          SELECT source, doc_id,
                 CAST(length(text) AS BIGINT) AS x,
                 CAST(len(list_filter(
                   regexp_split_to_array(trim(text), '[ \t\r\n\f\v]+'),
                   t -> t <> '')) AS BIGINT) AS y
          FROM documents WHERE text IS NOT NULL
        ), capped AS (
          SELECT source, doc_id, x, y FROM (
            SELECT *, row_number() OVER (
              PARTITION BY source ORDER BY doc_id) AS rn
            FROM sig
          ) WHERE rn <= {textops.TAU_GROUP_CAP}
        ), pairs AS (
          SELECT a.source, (a.x - b.x) * (a.y - b.y) AS sgn
          FROM capped a JOIN capped b
            ON a.source = b.source AND a.doc_id < b.doc_id
        ), t AS (
          SELECT source, CAST(count(*) AS BIGINT) AS n_pairs,
                 CAST(sum(CASE WHEN sgn > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_concordant,
                 CAST(sum(CASE WHEN sgn < 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_discordant,
                 CAST(sum(CASE WHEN sgn = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_tied
          FROM pairs GROUP BY source
        ), nd AS (
          SELECT source, CAST(count(*) AS BIGINT) AS n_docs
          FROM capped GROUP BY source
        )
        SELECT nd.source, n_docs, n_pairs, n_concordant, n_discordant,
               n_tied,
               CAST((n_concordant - n_discordant) * 10000 // n_pairs
                    AS BIGINT) AS tau_bp
        FROM nd JOIN t USING (source)
    """
    # Per-conversation OLS slope from exact sufficient statistics.
    oracles["conv_quality_trend"] = f"""
        {convops.DTR_CTE}, s AS (
          SELECT conv_id, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(turn_idx) AS BIGINT) AS sx,
                 CAST(sum(length(text)) AS BIGINT) AS sy,
                 CAST(sum(turn_idx * length(text)) AS BIGINT) AS sxy,
                 CAST(sum(turn_idx * turn_idx) AS BIGINT) AS sxx
          FROM dtr GROUP BY conv_id
        )
        SELECT CAST(conv_id AS BIGINT) AS conv_id, n AS n_turns,
               CAST(n * sxy - sx * sy AS BIGINT) AS slope_num,
               CAST(n * sxx - sx * sx AS BIGINT) AS slope_den,
               CAST((n * sxy - sx * sy) * 1000 // (n * sxx - sx * sx)
                    AS BIGINT) AS slope_milli
        FROM s WHERE n >= 2
    """
    # Test-split n-gram novelty vs the train split — shares the
    # decontamination gram construction + the split:-salted buckets.
    oracles["ngram_novelty"] = rf"""
        WITH t AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                             x -> x <> '') AS toks
          FROM documents WHERE text IS NOT NULL
        ), grams AS (
          SELECT doc_id,
                 unnest(list_transform(
                   range(1, greatest(len(toks) - {dedup.DECON_N - 1}, 0) + 1),
                   i -> md5(array_to_string(toks[i:i+{dedup.DECON_N - 1}], ' '))))
                   AS g
          FROM t WHERE len(toks) >= {dedup.DECON_N}
        ), b AS (
          SELECT doc_id, g, {_dd_md5_bucket("split:", 1000)} AS bucket
          FROM grams
        ), train AS (
          SELECT DISTINCT g FROM b WHERE bucket < 980
        ), test AS (
          SELECT DISTINCT doc_id, g FROM b WHERE bucket >= 990
        ), agg AS (
          SELECT test.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
                 CAST(sum(CASE WHEN train.g IS NOT NULL THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_seen
          FROM test LEFT JOIN train ON test.g = train.g
          GROUP BY test.doc_id
        )
        SELECT doc_id, n_grams, n_seen,
               CAST((n_grams - n_seen) * 1000000 // n_grams AS BIGINT)
                 AS novelty_ppm
        FROM agg
    """
    # DQ expectation suite: fused conditional counts per table,
    # unpivoted to rule rows.
    oracles["dq_expectations"] = """
        WITH d AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END)
                      AS BIGINT) AS f_id_null,
                 CAST(count(*) - count(DISTINCT doc_id) AS BIGINT)
                   AS f_id_dup,
                 CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END)
                      AS BIGINT) AS f_text_null,
                 CAST(sum(CASE WHEN text IS NOT NULL
                               AND n_chars <> length(text)
                          THEN 1 ELSE 0 END) AS BIGINT) AS f_nchars,
                 CAST(sum(CASE WHEN n_chars < 0 THEN 1 ELSE 0 END)
                      AS BIGINT) AS f_neg
          FROM documents
        ), e AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END)
                      AS BIGINT) AS f_id_null,
                 CAST(count(*) - count(DISTINCT event_id) AS BIGINT)
                   AS f_id_dup,
                 CAST(sum(CASE WHEN event_type NOT IN
                        ('click','view','purchase','signup','error')
                          THEN 1 ELSE 0 END) AS BIGINT) AS f_domain,
                 CAST(sum(CASE WHEN value < 0 THEN 1 ELSE 0 END)
                      AS BIGINT) AS f_neg,
                 CAST(sum(CASE WHEN ts < TIMESTAMP '2020-01-01'
                               OR ts >= TIMESTAMP '2030-01-01'
                          THEN 1 ELSE 0 END) AS BIGINT) AS f_ts
          FROM events
        ), rules AS (
          SELECT 'documents' AS tbl, 'doc_id_not_null' AS rule,
                 n, f_id_null AS f FROM d
          UNION ALL SELECT 'documents', 'doc_id_unique', n, f_id_dup FROM d
          UNION ALL SELECT 'documents', 'text_not_null', n, f_text_null FROM d
          UNION ALL SELECT 'documents', 'n_chars_matches_text', n, f_nchars FROM d
          UNION ALL SELECT 'documents', 'n_chars_non_negative', n, f_neg FROM d
          UNION ALL SELECT 'events', 'event_id_not_null', n, f_id_null FROM e
          UNION ALL SELECT 'events', 'event_id_unique', n, f_id_dup FROM e
          UNION ALL SELECT 'events', 'event_type_in_domain', n, f_domain FROM e
          UNION ALL SELECT 'events', 'value_non_negative', n, f_neg FROM e
          UNION ALL SELECT 'events', 'ts_in_range', n, f_ts FROM e
        )
        SELECT tbl AS table_name, rule, n AS n_checked, f AS n_failed,
               CAST(f * 1000000 // n AS BIGINT) AS fail_ppm,
               f = 0 AS pass
        FROM rules
    """
    # DeepWalk: identical layered graph, ranked adjacency, and
    # md5(node, step) mod degree hop rule, four hops unrolled.
    def _dw_hash(key: str) -> str:
        return (
            "CAST(list_sum(list_transform(range(8), i -> "
            f"CAST(strpos('0123456789abcdef', substr(md5({key}), "
            "CAST(i + 1 AS INTEGER), 1)) - 1 AS BIGINT) "
            "* (CAST(1 AS BIGINT) << CAST(4 * (7 - i) AS INTEGER)))) "
            "AS BIGINT)"
        )

    _dw = [
        """
        WITH e0 AS (
          SELECT DISTINCT doc_id % 150 AS src,
                 (7 * (doc_id % 150) + doc_id // 150) % 150 AS dst
          FROM documents
          WHERE ((doc_id % 150) + 3 * (doc_id // 150)) % 7 = 0
          UNION
          SELECT DISTINCT doc_id % 12 AS src,
                 (5 * (doc_id % 12) + doc_id // 12) % 12 AS dst
          FROM documents
          WHERE doc_id % 5 = 0
        ), e AS (
          SELECT src, dst FROM e0 WHERE src <> dst
          UNION SELECT dst, src FROM e0 WHERE src <> dst
        ), deg AS (
          SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY src
        ), adj AS (
          SELECT e.src, e.dst, deg.deg,
                 row_number() OVER (PARTITION BY e.src ORDER BY e.dst)
                   AS rk
          FROM e JOIN deg ON deg.src = e.src
        ), w0 AS (
          SELECT DISTINCT src AS start, src AS node FROM e
        )"""
    ]
    for _s in (1, 2, 3, 4):
        _key = f"'walk:' || CAST(w{_s - 1}.node AS VARCHAR) || ':{_s}'"
        _dw.append(f""", w{_s} AS (
          SELECT w{_s - 1}.start, adj.dst AS node
          FROM w{_s - 1} JOIN adj ON adj.src = w{_s - 1}.node
          WHERE adj.rk = ({_dw_hash(_key)} % adj.deg) + 1
        )""")
    _dw.append(
        """
        SELECT CAST(start AS BIGINT) AS start, CAST(0 AS BIGINT) AS step,
               CAST(node AS BIGINT) AS node FROM w0"""
        + "".join(
            f"""
        UNION ALL SELECT CAST(start AS BIGINT), CAST({_s} AS BIGINT),
               CAST(node AS BIGINT) FROM w{_s}"""
            for _s in (1, 2, 3, 4)
        )
    )
    oracles["deepwalk_corpus"] = "".join(_dw)
    # Hard negatives: cross-label int8 dots, top-5 per anchor.
    oracles["hard_negative_mining"] = """
        WITH qv AS (
          SELECT vec_id, label, embedding,
                 CASE WHEN list_max(list_transform(embedding,
                                                   x -> abs(x))) > 0
                      THEN CAST(127.0 AS DOUBLE)
                           / list_max(list_transform(embedding,
                                                     x -> abs(x)))
                      ELSE CAST(0.0 AS DOUBLE) END AS scale
          FROM embeddings
        ), qc AS (
          SELECT vec_id, label, list_transform(embedding,
                   x -> CAST(round(x * scale) AS INTEGER)) AS qcodes
          FROM qv
        ), a AS (
          SELECT vec_id AS query_id, label AS q_label, qcodes AS pcodes
          FROM qc WHERE vec_id < 5
        ), dots AS (
          SELECT a.query_id, c.vec_id,
                 CAST(sum(CAST(c.qcodes[CAST(u.i AS INTEGER)] AS BIGINT)
                          * a.pcodes[CAST(u.i AS INTEGER)]) AS BIGINT)
                   AS dot_q
          FROM qc c, a, unnest(range(1, len(c.qcodes) + 1)) AS u(i)
          WHERE c.label <> a.q_label
          GROUP BY a.query_id, c.vec_id
        )
        SELECT query_id, vec_id, dot_q, CAST(rank AS BIGINT) AS rank
        FROM (
          SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY dot_q DESC, vec_id) AS rank
          FROM dots
        ) WHERE rank <= 5
    """
    # T5 span plan: one keyed-uniform offset per 20-token block.
    _span_key = "CAST(doc_id AS VARCHAR) || ':' || CAST(blk AS VARCHAR)"
    oracles["span_corruption_plan"] = rf"""
        WITH t AS (
          SELECT doc_id,
                 len(list_filter(
                   regexp_split_to_array(lower(trim(text)), '\s+'),
                   x -> x <> '')) AS n
          FROM documents WHERE text IS NOT NULL
        ), b AS (
          SELECT doc_id, unnest(range(0, n // 20)) AS blk
          FROM t WHERE n >= 20
        )
        SELECT doc_id, CAST(blk AS BIGINT) AS sentinel_id,
               CAST(blk * 20 + {_dd_md5_bucket("span:", 18, _span_key)}
                    AS BIGINT) AS span_start,
               CAST(3 AS BIGINT) AS span_len
        FROM b
    """
    # DPP rollup: the unpartitioned restatement of the pruned join.
    oracles["dpp_partition_prune"] = """
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                 AS sum_value_cents
        FROM events
        WHERE day(ts) % 7 = 1
        GROUP BY event_type
    """
    # k-anonymity: user-bounded pre-aggregate, then the cell rollup.
    oracles["k_anonymity_audit"] = f"""
        WITH per_user AS (
          SELECT event_type, day(ts) AS day, hour(ts) AS hour, user_id,
                 count(*) AS n
          FROM events GROUP BY 1, 2, 3, 4
        ), cells AS (
          SELECT event_type, day, hour,
                 CAST(count(*) AS BIGINT) AS n_users,
                 CAST(sum(n) AS BIGINT) AS n_rows
          FROM per_user GROUP BY 1, 2, 3
        )
        SELECT event_type, CAST(day AS BIGINT) AS day,
               CAST(hour AS BIGINT) AS hour, n_users, n_rows
        FROM cells WHERE n_users < {relational.K_ANON_K}
    """
    # pass@k: the telescoping-product expansion per declared k, in
    # HUGEINT (the Spark side uses DECIMAL(38,0)) — the k=5 numerator
    # × 10⁶ passes int64 once a task has ≳400 failing attempts.
    _pk_parts = []
    for _k in convops.PASS_AT_KS:
        _num = "CAST((n - c) AS HUGEINT)" + "".join(
            f" * (n - c - {i})" for i in range(1, _k)
        )
        _den = "CAST(n AS HUGEINT)" + "".join(
            f" * (n - {i})" for i in range(1, _k)
        )
        _pk_parts.append(f"""
        SELECT CAST(task_id AS BIGINT) AS task_id,
               CAST({_k} AS BIGINT) AS k,
               n AS n_attempts, c AS n_correct,
               CASE WHEN n - c < {_k} THEN CAST(1000000 AS BIGINT)
                    ELSE CAST(1000000 - ({_num}) * 1000000
                              // ({_den}) AS BIGINT)
               END AS pass_ppm
        FROM a WHERE n >= {_k}""")
    oracles["pass_at_k"] = f"""
        WITH t AS (
          SELECT doc_id % {convops.PASS_TASK_MOD} AS task_id,
                 CASE WHEN {_dd_md5_bucket("pass:", 1000)}
                        < {convops.PASS_RATE_PPT}
                      THEN 1 ELSE 0 END AS ok
          FROM documents
        ), a AS (
          SELECT task_id, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(ok) AS BIGINT) AS c
          FROM t GROUP BY task_id
        )
        {" UNION ALL ".join(_pk_parts)}
    """
    # Survivorship: the dedup_clusters oracle as a nested CTE + a
    # quality argmax per cluster.
    oracles["cluster_survivorship"] = f"""
        WITH base AS ({oracles["dedup_clusters"]}),
        q AS (
          SELECT b.doc_id, b.cluster_id, b.cluster_size, d.n_chars
          FROM base b JOIN documents d USING (doc_id)
        ), k AS (
          SELECT cluster_id, doc_id AS keeper_doc_id FROM (
            SELECT cluster_id, doc_id, row_number() OVER (
              PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id) AS rn
            FROM q
          ) WHERE rn = 1
        )
        SELECT q.doc_id, q.cluster_id, q.cluster_size,
               CAST(q.n_chars AS BIGINT) AS n_chars, k.keeper_doc_id,
               q.doc_id = k.keeper_doc_id AS is_keeper
        FROM q JOIN k USING (cluster_id)
    """
    # BLEU-1 retry similarity: clipped unigram counts over the planted
    # retried-episode families, aligned turn by turn.
    oracles["bleu1_retry_similarity"] = rf"""
        {convops.DTR_RETRIED_CTE}, cand AS (
          SELECT conv_id, turn_idx, tok, CAST(count(*) AS BIGINT) AS c_cand
          FROM (
            SELECT conv_id, turn_idx,
                   unnest(list_filter(
                     regexp_split_to_array(lower(trim(text)), '\s+'),
                     x -> x <> '')) AS tok
            FROM dtrr WHERE conv_id >= 36
          ) GROUP BY 1, 2, 3
        ), ref AS (
          SELECT conv_id + 36 AS conv_id, turn_idx, tok,
                 CAST(count(*) AS BIGINT) AS c_ref
          FROM (
            SELECT conv_id, turn_idx,
                   unnest(list_filter(
                     regexp_split_to_array(lower(trim(text)), '\s+'),
                     x -> x <> '')) AS tok
            FROM dtrr WHERE conv_id < 4
          ) GROUP BY 1, 2, 3
        ), j AS (
          SELECT cand.conv_id, cand.turn_idx, cand.c_cand,
                 least(cand.c_cand, coalesce(ref.c_ref, 0)) AS clip
          FROM cand LEFT JOIN ref USING (conv_id, turn_idx, tok)
        )
        SELECT conv_id, turn_idx,
               CAST(sum(c_cand) AS BIGINT) AS n_cand_tokens,
               CAST(sum(clip) AS BIGINT) AS n_clipped,
               CAST(sum(clip) * 1000000 // sum(c_cand) AS BIGINT)
                 AS bleu1_ppm
        FROM j GROUP BY conv_id, turn_idx
    """
    # Streaming parity: the window(ts, 1h) start IS date_trunc('hour').
    oracles["stream_hourly_events"] = """
        SELECT date_trunc('hour', ts) AS window_start, event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                 AS sum_value_cents
        FROM events GROUP BY 1, 2
    """
    # SCD2: identical change-point / version-numbering / interval-close
    # construction (within a version every segment is equal, so
    # min(segment) is the version's segment).
    oracles["scd2_user_history"] = """
        WITH ch AS (
          SELECT user_id, ts, event_id, event_type AS segment,
                 CASE WHEN lag(event_type) OVER w IS NULL
                       OR event_type <> lag(event_type) OVER w
                      THEN 1 ELSE 0 END AS changed
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), v AS (
          SELECT user_id, ts, segment,
                 sum(changed) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS version_n
          FROM ch
        ), spans AS (
          SELECT user_id, version_n, min(segment) AS segment,
                 min(ts) AS effective_from
          FROM v GROUP BY user_id, version_n
        )
        SELECT user_id, CAST(version_n AS BIGINT) AS version_n, segment,
               effective_from,
               lead(effective_from) OVER w2 AS effective_to,
               lead(effective_from) OVER w2 IS NULL AS is_current
        FROM spans WINDOW w2 AS (PARTITION BY user_id ORDER BY version_n)
    """
    # JSONL corrupt-read rollup: the planted-truncation rule restated.
    oracles["jsonl_corrupt_read"] = f"""
        SELECT CASE WHEN doc_id % {maintenance.CORRUPT_MOD} = 0
                    THEN '_corrupt' ELSE lang END AS category,
               CAST(count(*) AS BIGINT) AS n_rows
        FROM documents GROUP BY 1
    """
    # Cohen's kappa: aggregates the lang_confusion oracle as a CTE.
    oracles["classifier_kappa"] = f"""
        WITH conf AS ({oracles["lang_confusion"]}),
        r AS (
          SELECT marker_lang AS l, CAST(sum(n_docs) AS BIGINT) AS row_n
          FROM conf GROUP BY 1
        ), c AS (
          SELECT chargram_lang AS l, CAST(sum(n_docs) AS BIGINT) AS col_n
          FROM conf GROUP BY 1
        ), m AS (
          SELECT coalesce(r.row_n, 0) AS row_n,
                 coalesce(c.col_n, 0) AS col_n
          FROM r FULL JOIN c USING (l)
        ), t AS (
          SELECT CAST(sum(n_docs) AS BIGINT) AS n_docs,
                 CAST(sum(CASE WHEN marker_lang = chargram_lang
                          THEN n_docs ELSE 0 END) AS BIGINT) AS n_agree
          FROM conf
        ), p AS (
          SELECT CAST(sum(row_n * col_n) AS BIGINT) AS pe_num FROM m
        )
        SELECT n_docs, n_agree,
               CAST(n_agree * 1000000 // n_docs AS BIGINT) AS po_ppm,
               CAST(pe_num * 1000000 // (n_docs * n_docs) AS BIGINT)
                 AS pe_ppm,
               CAST(CASE WHEN n_docs * n_docs = pe_num THEN 0
                    ELSE (n_agree * n_docs - pe_num) * 1000000
                         // (n_docs * n_docs - pe_num) END AS BIGINT)
                 AS kappa_ppm
        FROM t, p
    """
    # A/B readout: same keyed assignment, same exact-integer algebra.
    oracles["ab_experiment_report"] = f"""
        WITH pu AS (
          SELECT user_id,
                 CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS cents
          FROM events GROUP BY user_id
        ), v AS (
          SELECT {_dd_md5_bucket("exp:", 2, "user_id")} AS v, cents FROM pu
        ), agg AS (
          SELECT CAST(sum(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_control,
                 CAST(sum(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_treatment,
                 CAST(sum(CASE WHEN v = 0 THEN cents ELSE 0 END) AS BIGINT)
                   AS sum_control_cents,
                 CAST(sum(CASE WHEN v = 1 THEN cents ELSE 0 END) AS BIGINT)
                   AS sum_treatment_cents
          FROM v
        )
        SELECT n_control, n_treatment,
               CAST((n_control - n_treatment) * (n_control - n_treatment)
                    * 1000000 // (n_control + n_treatment) AS BIGINT)
                 AS srm_chi2_micro,
               sum_control_cents, sum_treatment_cents,
               CAST((sum_treatment_cents * n_control
                     - sum_control_cents * n_treatment) * 1000000
                    // (sum_control_cents * n_treatment) AS BIGINT)
                 AS lift_ppm
        FROM agg
    """
    # Bandit replay: same keyed policy map, same filtered rollup.
    _arm_list = ", ".join(f"'{a}'" for a in relational.BANDIT_ARMS)
    oracles["bandit_replay_eval"] = f"""
        WITH ev AS (
          SELECT user_id % 10 AS context, event_type AS logged_arm,
                 CAST(round(value * 100) AS BIGINT) AS cents,
                 ([{_arm_list}])[
                   CAST({_dd_md5_bucket("policy:",
                                        len(relational.BANDIT_ARMS),
                                        "user_id % 10")}
                        + 1 AS INTEGER)] AS policy_arm
          FROM events
        )
        SELECT CAST(context AS BIGINT) AS context,
               CAST(count(*) AS BIGINT) AS n_logged,
               CAST(sum(CASE WHEN logged_arm = policy_arm
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
               CAST(sum(CASE WHEN logged_arm = policy_arm
                        THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT)
                 AS match_ppm,
               CAST(sum(CASE WHEN logged_arm = policy_arm
                        THEN cents ELSE 0 END) AS BIGINT)
                 AS sum_matched_cents,
               CAST(CASE WHEN sum(CASE WHEN logged_arm = policy_arm
                                  THEN 1 ELSE 0 END) > 0
                    THEN sum(CASE WHEN logged_arm = policy_arm
                             THEN cents ELSE 0 END) * 1000000
                         // sum(CASE WHEN logged_arm = policy_arm
                                THEN 1 ELSE 0 END)
                    ELSE 0 END AS BIGINT) AS mean_reward_microcents
        FROM ev GROUP BY context
    """
    # Margin uncertainty: runner-up of three via greatest-of-leasts.
    oracles["uncertainty_sample"] = f"""
        WITH li AS ({oracles["lang_id"]})
        SELECT doc_id,
               CAST(greatest(score_en, score_de, score_fr) AS BIGINT)
                 AS best,
               CAST(greatest(least(score_en, score_de),
                             least(score_en, score_fr),
                             least(score_de, score_fr)) AS BIGINT)
                 AS second,
               CAST(greatest(score_en, score_de, score_fr)
                    - greatest(least(score_en, score_de),
                               least(score_en, score_fr),
                               least(score_de, score_fr)) AS BIGINT)
                 AS margin
        FROM li ORDER BY margin, doc_id LIMIT {textops.UNCERTAIN_K}
    """
    # Pearson correlation from exact sufficient statistics.
    oracles["metric_correlation"] = """
        WITH ev AS (
          SELECT event_type,
                 CAST(round(value * 100) AS BIGINT) AS x,
                 CAST(hour(ts) AS BIGINT) AS y
          FROM events
        ), a AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(x) AS BIGINT) AS sx,
                 CAST(sum(y) AS BIGINT) AS sy,
                 CAST(sum(x * y) AS BIGINT) AS sxy,
                 CAST(sum(x * x) AS BIGINT) AS sxx,
                 CAST(sum(y * y) AS BIGINT) AS syy
          FROM ev GROUP BY event_type
        )
        SELECT event_type, n, sx, sy, sxy,
               CAST(round((n * sxy - sx * sy)
                          / (sqrt(n * sxx - sx * sx)
                             * sqrt(n * syy - sy * sy))
                          * 1000000) AS BIGINT) AS corr_micro
        FROM a
    """
    # Greedy k-center: rounds unrolled — d{r} = min(d{r-1}, L2² to the
    # round-r pick), each pick the argmax of the previous d.
    def _dw_l2(v: str, s: str) -> str:
        return (
            f"CAST(list_sum(list_transform(range(1, len({v}.qcodes) + 1),"
            f" i -> CAST({v}.qcodes[CAST(i AS INTEGER)]"
            f" - {s}.qcodes[CAST(i AS INTEGER)] AS BIGINT)"
            f" * CAST({v}.qcodes[CAST(i AS INTEGER)]"
            f" - {s}.qcodes[CAST(i AS INTEGER)] AS BIGINT))) AS BIGINT)"
        )

    _kc = [
        """
        WITH qv AS (
          SELECT vec_id, embedding,
                 CASE WHEN list_max(list_transform(embedding,
                                                   x -> abs(x))) > 0
                      THEN CAST(127.0 AS DOUBLE)
                           / list_max(list_transform(embedding,
                                                     x -> abs(x)))
                      ELSE CAST(0.0 AS DOUBLE) END AS scale
          FROM embeddings
        ), qc AS (
          SELECT vec_id, list_transform(embedding,
                   x -> CAST(round(x * scale) AS INTEGER)) AS qcodes
          FROM qv
        ), c0 AS (
          SELECT vec_id, qcodes FROM qc WHERE vec_id = 0
        ), d0 AS (
          SELECT v.vec_id, """ + _dw_l2("v", "s") + """ AS d
          FROM qc v, c0 s
        )"""
    ]
    for _r in range(1, similarity.KC_K):
        _kc.append(f""", s{_r} AS (
          SELECT vec_id FROM d{_r - 1} ORDER BY d DESC, vec_id LIMIT 1
        ), c{_r} AS (
          SELECT qc.vec_id, qc.qcodes FROM qc JOIN s{_r} USING (vec_id)
        )""")
        if _r < similarity.KC_K - 1:
            _kc.append(f""", d{_r} AS (
          SELECT v.vec_id, least(p.d, {_dw_l2("v", "s")}) AS d
          FROM qc v JOIN d{_r - 1} p ON p.vec_id = v.vec_id, c{_r} s
        )""")
    _kc.append(
        """
        SELECT CAST(0 AS BIGINT) AS round, CAST(0 AS BIGINT) AS vec_id,
               CAST(0 AS BIGINT) AS min_dist2"""
        + "".join(
            f"""
        UNION ALL SELECT CAST({_r} AS BIGINT), s{_r}.vec_id, d{_r - 1}.d
        FROM s{_r} JOIN d{_r - 1} USING (vec_id)"""
            for _r in range(1, similarity.KC_K)
        )
    )
    oracles["kcenter_coreset"] = "".join(_kc)
    # Per-epoch order: the mixture oracle as a CTE + epoch-salted keys.
    _ekey = "CAST(epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)"
    oracles["epoch_training_order"] = f"""
        WITH mix AS ({oracles["mixture_epochs"]}),
        keyed AS (
          SELECT doc_id, epoch,
                 md5('eorder:' || {_ekey}) AS order_key,
                 {_dd_md5_bucket("eshard:", 16, _ekey)} AS shard
          FROM mix
        )
        SELECT doc_id, epoch, CAST(shard AS BIGINT) AS shard,
               CAST(row_number() OVER (
                 PARTITION BY epoch, shard
                 ORDER BY order_key, doc_id) AS BIGINT) AS position
        FROM keyed
    """
    # Late-data audit: identical arrival replay.  floor(epoch(ts)) —
    # a bare BIGINT cast of epoch ROUNDS in DuckDB while Spark's
    # timestamp→long truncates.
    oracles["late_data_audit"] = f"""
        WITH ev AS (
          SELECT event_id, event_type,
                 CAST(floor(epoch(ts)) AS BIGINT) AS ets
          FROM events
        ), arr AS (
          SELECT event_type, event_id, ets,
                 ets + {_dd_md5_bucket("delay:", temporal.LATE_MAX_DELAY_S,
                                       "event_id")} AS ats
          FROM ev
        ), flagged AS (
          SELECT event_type, ets,
                 coalesce(max(ets) OVER (
                   PARTITION BY event_type ORDER BY ats, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   - ets AS lateness_s
          FROM arr
        )
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(CASE WHEN lateness_s > {temporal.LATE_WATERMARK_S}
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
               CAST(sum(CASE WHEN lateness_s > {temporal.LATE_WATERMARK_S}
                        THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT)
                 AS late_ppm,
               CAST(max(lateness_s) AS BIGINT) AS max_lateness_s
        FROM flagged GROUP BY event_type
    """
    return oracles
