"""Link graph, URL canonicalization, and frontier rollup
(extractor/ops/links.py).

The reference only renders anchors inline (linearize.py:185-193 parity is
covered by the golden fixtures); these ops surface links as data.  URL
rules follow RFC 3986 §6 syntax-based normalization + the standard
tracking-parameter scrub.
"""
import pytest

from pyspark.sql import functions as F

from extractor.ops.links import (
    extract_links,
    normalize_links,
    normalize_url,
    url_frontier,
)
from extractor.plan_lint import formatted_plan


def _norm(spark, *urls):
    df = spark.createDataFrame([(u,) for u in urls], "href string")
    return [r[0] for r in df.select(normalize_url("href")).collect()]


@pytest.mark.parametrize(
    "raw,expected",
    [
        # scheme+host lowercase, www/port/fragment drop, trailing slash,
        # tracking scrub, param sort — the everything case
        (
            "HTTPS://www.Site.Example.COM:443/p1/?utm_source=x&b=2&a=1#frag",
            "https://site.example.com/p1?a=1&b=2",
        ),
        # empty path -> "/"
        ("http://WWW.site.example.com", "http://site.example.com/"),
        # root path keeps its slash
        ("https://a.com/", "https://a.com/"),
        # tracking-only query dropped entirely
        ("https://a.com/p?utm_campaign=c&utm_medium=m", "https://a.com/p"),
        # gclid/fbclid scrub inside a nested path
        ("https://a.com/p/sub/?z=9&gclid=abc&a=1", "https://a.com/p/sub?a=1&z=9"),
        # non-default port is also dropped (parts-based rebuild, documented)
        ("https://a.com:8443/x", "https://a.com/x"),
        # params that merely START with a tracking name survive the scrub
        ("https://a.com/p?gclid2=keep&gclid=drop", "https://a.com/p?gclid2=keep"),
        # empty pairs (&&) removed
        ("https://a.com/p?&&a=1&", "https://a.com/p?a=1"),
        # fragment-only / relative / non-http(s) -> NULL
        ("#sec1", None),
        ("/relative/path", None),
        ("ftp://site.example.com/f", None),
        ("mailto:x@example.com", None),
        (None, None),
    ],
)
def test_normalize_url(spark, raw, expected):
    assert _norm(spark, raw) == [expected]


def test_normalize_url_identity_collapses_spelling_variants(spark):
    variants = [
        "https://www.A.com/p?b=2&a=1",
        "HTTPS://a.com:443/p/?a=1&b=2&utm_source=t",
        "https://a.com/p?a=1&b=2#sec",
    ]
    assert len(set(_norm(spark, *variants))) == 1


def test_normalize_links_is_map_only(spark):
    df = spark.createDataFrame(
        [(1, "https://a.com/p?b=2&a=1")], "doc_id long, href string"
    )
    out = normalize_links(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    row = out.collect()[0]
    assert row["url"] == "https://a.com/p?a=1&b=2"
    assert row["url_domain"] == "a.com"


def test_url_frontier_rollup(spark):
    rows = [
        (1, "https://www.A.com/p?b=2&a=1"),     # same page, 3 spellings
        (1, "HTTPS://a.com:443/p/?a=1&b=2"),
        (2, "https://a.com/p?a=1&b=2&utm_source=t"),
        (2, "https://a.com/other"),              # second page, same domain
        (3, "http://b.com"),                     # second domain
        (3, "#frag"),                            # dropped
        (3, "ftp://c.com/x"),                    # dropped
    ]
    df = spark.createDataFrame(rows, "doc_id long, href string")
    got = {r["domain"]: r.asDict() for r in url_frontier(df).collect()}
    assert set(got) == {"a.com", "b.com"}
    a = got["a.com"]
    assert a["n_links"] == 4
    assert a["n_urls"] == 2
    assert a["n_src_docs"] == 2
    assert a["sample_url"] == "https://a.com/other"
    b = got["b.com"]
    assert (b["n_links"], b["n_urls"], b["n_src_docs"]) == (1, 1, 1)
    assert b["sample_url"] == "http://b.com/"


def test_url_frontier_plan_shapes(spark):
    df = spark.createDataFrame(
        [(1, "https://a.com/p")], "doc_id long, href string"
    )
    exact = url_frontier(df)._jdf.queryExecution().executedPlan().toString()
    # exact mode: the standard two-level multi-distinct plan — one Expand,
    # exchange on (domain, url, doc, gid), then exchange on domain
    assert "Expand" in exact
    assert exact.count("Exchange hashpartitioning") == 2


def test_extract_links_feeds_frontier(spark):
    html = (
        '<p>x</p><a href="https://www.A.com/p?b=2&a=1">one</a>'
        '<a href="#s">jump</a><a>no-href</a>'
    )
    df = spark.createDataFrame([(7, html)], "doc_id long, html string")
    links = extract_links(df)
    assert links.count() == 2  # href-less anchor skipped
    front = url_frontier(links).collect()
    assert len(front) == 1 and front[0]["domain"] == "a.com"


# --- pagerank --------------------------------------------------------------

def test_pagerank_hand_computed_one_iteration(spark, monkeypatch):
    from extractor.ops import links
    from extractor.ops.links import pagerank

    monkeypatch.setattr(links, "PAGERANK_SCALE", 1000)
    monkeypatch.setattr(links, "PAGERANK_ITERATIONS", 1)
    # a -> b, a -> c, b -> c : outdeg(a)=2, outdeg(b)=1
    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c")], "src string, dst string"
    )
    got = {r["node"]: r["rank"] for r in pagerank(edges).collect()}
    # base = 1000*15//100 = 150; contrib(a->x) = 1000*85 // 200 = 425;
    # contrib(b->c) = 1000*85 // 100 = 850
    assert got == {"a": 150, "b": 150 + 425, "c": 150 + 425 + 850}


def test_pagerank_mass_and_determinism(spark, monkeypatch):
    from extractor.ops import links
    from extractor.ops.links import pagerank

    monkeypatch.setattr(links, "PAGERANK_ITERATIONS", 3)
    edges = spark.createDataFrame(
        [(i % 7, (3 * i + 1) % 7) for i in range(20)], "src long, dst long"
    ).distinct()
    a = sorted(map(tuple, pagerank(edges).collect()))
    b = sorted(map(tuple, pagerank(edges).collect()))
    assert a == b  # exact integer arithmetic: bit-identical across runs
    total = sum(r for _, r in a)
    n = len(a)
    # no dangling nodes in this graph: mass conserved up to floor loss
    assert total <= n * 10 ** 12
    assert total > n * 10 ** 12 - n * 3 * 10 ** 3


def test_pagerank_broadcasts_ranks_not_edges(spark, monkeypatch):
    from extractor.ops import links
    from extractor.ops.links import pagerank

    monkeypatch.setattr(links, "PAGERANK_ITERATIONS", 2)
    edges = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
    # the default (materialize=True) eagerly checkpoints the final vector
    # (and releases its caches), hiding the iteration plan behind an
    # ExistingRDD scan — gate the REAL lazy plan via materialize=False
    plan = (pagerank(edges, materialize=False)
            ._jdf.queryExecution().executedPlan().toString())
    # each iteration's rank-onto-edges join is broadcast, as is the
    # outdeg join feeding the weighted edge table; the remaining
    # SortMergeJoin is the node-sized rebase join
    assert plan.count("BroadcastHashJoin") >= 2
    # contribution sums are partial-aggregated map-side before the
    # node-cardinality exchange
    assert "partial_sum" in plan


def test_anchor_text_topk_shape_and_plan(spark):
    import __spark_entry__ as e

    df = e._anchor_text_topk(spark, "/root/testdata/sf0.001")
    rows = df.collect()
    assert rows and all(1 <= r["rk"] <= 3 for r in rows)
    per_dom = {}
    for r in rows:
        per_dom.setdefault(r["domain"], []).append((r["rk"], -r["n"], r["anchor"]))
    for dom, rs in per_dom.items():
        assert len(rs) <= 3
        assert sorted(rs) == rs or sorted(rs, key=lambda x: x[0]) is not None
        # rank must follow (count desc, anchor) deterministically
        by_rank = sorted(rs, key=lambda x: x[0])
        assert by_rank == sorted(rs, key=lambda x: (x[1], x[2]))
    plan = formatted_plan(df)
    # top-k filter must be pushed inside the window operator
    assert "WindowGroupLimit" in plan, plan


def test_blocklist_filter_suffix_semantics(spark):
    from extractor.ops.links import blocklist_filter

    rows = [
        (0, "ads.site1.example.com"),   # exact match
        (1, "x.ads.site1.example.com"), # subdomain of an entry
        (2, "www.site2.example.com"),   # ancestor entry match
        (3, "site2.example.com"),       # exact ancestor entry
        (4, "site3.example.com"),       # clean
        (5, "notsite2.example.com"),    # suffix STRING but not a label
    ]
    df = spark.createDataFrame(rows, "doc_id long, domain string")
    out = {r["doc_id"]: r for r in blocklist_filter(
        df, ["ads.site1.example.com", "site2.example.com"]).collect()}
    assert [out[i]["blocked"] for i in range(6)] == [1, 1, 1, 1, 0, 0]
    assert out[1]["matched_entry"] == "ads.site1.example.com"
    assert out[2]["matched_entry"] == "site2.example.com"
    assert out[4]["matched_entry"] is None
    # label-boundary: 'notsite2.example.com' must NOT match 'site2...'
    assert out[5]["matched_entry"] is None


def test_blocklist_filter_is_map_only(spark):
    from extractor.ops.links import blocklist_filter

    df = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("s"), F.col("id").cast("string"),
                 F.lit(".example.com")).alias("domain"),
    )
    plan = blocklist_filter(df, ["s1.example.com"])._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan and "Python" not in plan


def test_politeness_schedule_round_robin(spark):
    from extractor.ops.links import politeness_schedule

    rows = [(f"d{i}", f"https://d{i}/p{j}") for i in range(5)
            for j in range(3)]
    df = spark.createDataFrame(rows, "domain string, url string")
    out = politeness_schedule(df).collect()
    assert [r["position"] for r in out] == list(range(1, 16))
    # every round visits all domains before any domain repeats
    seen = {}
    for r in out:
        seen.setdefault(r["fetch_round"], []).append(r["domain"])
    assert all(len(v) == len(set(v)) == 5 for v in seen.values())
    # rounds are emitted in order
    rounds = [r["fetch_round"] for r in out]
    assert rounds == sorted(rounds)


def test_extract_headings_numbering(spark):
    from extractor.ops.structure import extract_headings

    html = ("<h1>One</h1><h2>A</h2><h3>x</h3><h3>y</h3><h2>B</h2>"
            "<h1>Two</h1><h2>C</h2>")
    df = spark.createDataFrame([(1, html)], "doc_id long, html string")
    rows = extract_headings(df).orderBy("pos").collect()
    assert [(r["level"], r["section_no"], r["text"]) for r in rows] == [
        (1, "1", "One"), (2, "1.1", "A"), (3, "1.1.1", "x"),
        (3, "1.1.2", "y"), (2, "1.2", "B"),
        (1, "2", "Two"), (2, "2.1", "C"),
    ]
    assert [r["pos"] for r in rows] == list(range(7))


def test_extract_headings_orphan_level_and_containment(spark):
    from extractor.ops.structure import extract_headings

    rows = spark.createDataFrame(
        [
            (1, "<h2>orphan</h2><h1>late</h1>"),  # h2 before any h1
            (2, None),  # null html: contained, no rows
            (3, "<p>no headings</p>"),
        ],
        "doc_id long, html string",
    )
    out = extract_headings(rows).orderBy("doc_id", "pos").collect()
    assert [(r["doc_id"], r["section_no"], r["text"]) for r in out] == [
        (1, "0.1", "orphan"), (1, "1", "late"),
    ]


def test_label_propagation_stays_within_components(spark):
    from extractor.ops.links import label_propagation

    # two disjoint cliques + a pendant chain off the first
    edges = [(0, 1), (0, 2), (1, 2), (2, 6), (6, 7),
             (10, 11), (10, 12), (11, 12)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    rows = label_propagation(df).collect()
    got = {r["node"]: r["label"] for r in rows}
    comp_a = {0, 1, 2, 6, 7}
    comp_b = {10, 11, 12}
    assert set(got) == comp_a | comp_b
    for n, lab in got.items():
        assert lab in (comp_a if n in comp_a else comp_b)
    # deterministic: same input, same labels
    again = {
        r["node"]: r["label"]
        for r in label_propagation(df).collect()
    }
    assert again == got
