"""Anchor/link extraction — the link-graph side table of a web-scale
curation pipeline (URL frontier seeding, per-domain quality rollups,
link-based dedup all start from this shape).

Reference parity: the reference renders ``a[href]`` inline as markdown
links during the html2text pass (our ``extractor/linearize.py:185-193``
reproduces that, per html2text's skip_internal_links config); it never
*surfaces* the links as data.  This op runs the SAME stdlib DOM parser
(``extractor/dom.py``) over the HTML and emits one row per anchor — the
structured companion to the inline rendering, in the same family as the
dedup/sampling extensions (first-class training-pipeline operators
beyond the reference's own surface).

Scale posture (100 TB): a single map-only Arrow stage — ``arrow_stage``
parses each batch and yields the exploded per-link rows directly (no
Spark-side explode, no shuffle, no UDF in the hot columns afterward);
``domain`` is derived JVM-side with ``F.parse_url`` so the only Python
work is the DOM walk itself.  Output partitioning follows the input, so
a downstream per-domain rollup is the usual single agg shuffle.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from extractor.ops import fixpoint, md5_bucket
from extractor.session import arrow_stage

LINK_SCHEMA = "doc_id long, href string, anchor string"


def extract_links(df: DataFrame) -> DataFrame:
    """One output row per ``<a href=...>`` in ``html`` (document order,
    nested anchors' text included verbatim): ``(doc_id, href, anchor,
    is_internal, domain)``.  ``is_internal`` marks fragment-only links
    (``#...``); ``domain`` is the lowercased host for absolute URLs, null
    otherwise.  Anchors with no ``href`` attribute are not links and are
    skipped (same rule as the linearizer's inline rendering)."""
    from ..dom import parse_html

    def kernel(batch):
        ids, hrefs, anchors = [], [], []
        for doc_id, html in zip(
            batch.column("doc_id").to_pylist(), batch.column("html").to_pylist()
        ):
            if html is None:
                continue
            try:
                root = parse_html(html)
            except Exception:
                continue  # per-unit containment: bad HTML emits no rows
            for el in root.find_all(["a"]):
                href = el.get("href")
                if href is None:
                    continue
                ids.append(doc_id)
                hrefs.append(href)
                anchors.append(el.get_text())
        return ids, hrefs, anchors

    out = arrow_stage(
        df.select(F.col("doc_id"), F.col("html")), kernel, LINK_SCHEMA
    )
    return out.select(
        "doc_id",
        "href",
        "anchor",
        F.col("href").startswith("#").alias("is_internal"),
        F.lower(F.parse_url("href", F.lit("HOST"))).alias("domain"),
    )


# --- URL canonicalization + frontier rollup --------------------------------
#
# The reference never touches URLs as data (links are only rendered inline,
# linearize.py:185-193); these are the training-pipeline companions: a crawl
# frontier and URL-level dedup both require one canonical spelling per page.
# Published canonicalization rules (RFC 3986 §6 syntax-based normalization +
# the tracking-parameter scrub every large crawler applies).

# one-regex membership test for analytics/click-tracking query parameters
_TRACKING_PARAM_RE = r"^(utm_[^=]*|gclid|fbclid|msclkid|mc_eid|ref_src)="


def normalize_url(col) -> "F.Column":
    """Canonical spelling of an absolute http(s) URL, NULL otherwise.

    Pure codegen'd column expression (zero Python in the hot path):

    * scheme + host lowercased, leading ``www.`` dropped;
    * port and fragment dropped (``parse_url`` parts exclude both);
    * path: trailing slash stripped (root stays ``/``), empty path → ``/``;
    * query: tracking params (``utm_*``, ``gclid``, ``fbclid``, ``msclkid``,
      ``mc_eid``, ``ref_src``) and empty pairs removed, the rest sorted
      bytewise so param order never splits a URL's identity; dropped
      entirely when nothing survives.

    Relative URLs, fragments, and non-http(s) schemes return NULL — the
    frontier only enqueues absolute fetchable pages.
    """
    c = F.col(col) if isinstance(col, str) else col
    proto = F.lower(F.parse_url(c, F.lit("PROTOCOL")))
    host = F.regexp_replace(
        F.lower(F.parse_url(c, F.lit("HOST"))), r"^www\.", ""
    )
    raw_path = F.parse_url(c, F.lit("PATH"))
    path = F.when(
        raw_path.isNull() | (raw_path == "") | (raw_path == "/"), F.lit("/")
    ).otherwise(F.regexp_replace(raw_path, r"/$", ""))
    kept = F.array_sort(
        F.filter(
            F.split(F.coalesce(F.parse_url(c, F.lit("QUERY")), F.lit("")), "&"),
            lambda x: (x != "") & ~x.rlike(_TRACKING_PARAM_RE),
        )
    )
    query = F.when(
        F.size(kept) > 0, F.concat(F.lit("?"), F.array_join(kept, "&"))
    ).otherwise(F.lit(""))
    ok = proto.isin("http", "https") & host.isNotNull() & (host != "")
    return F.when(ok, F.concat(proto, F.lit("://"), host, path, query))


def normalize_links(links: DataFrame) -> DataFrame:
    """Add ``url`` (canonical) + ``url_domain`` columns to a link table.

    Map-only: both are column expressions over the existing rows, so the
    link table keeps its partitioning — at 100 TB this is a free pass over
    the extract_links output, not a job."""
    url = normalize_url("href")
    return links.withColumns({
        "url": url,
        "url_domain": F.parse_url(url, F.lit("HOST")),
    })


def url_frontier(links: DataFrame) -> DataFrame:
    """Per-domain crawl-frontier rollup over canonicalized links.

    ``(domain, n_links, n_urls, n_src_docs, sample_url)`` — total anchor
    count, distinct canonical URLs, distinct linking documents, and the
    bytewise-min canonical URL as a deterministic seed sample.

    Scale shape: canonicalization is map-only, then the exact aggregation
    the oracle checks: the standard two-level multi-distinct plan —
    Expand (3× the link rows, partial-aggregated map-side) → exchange on
    (domain, url, doc, gid) → exchange on domain; the first shuffle
    carries near-link-cardinality keys."""
    n = normalize_links(links).where(F.col("url").isNotNull())
    return n.groupBy(F.col("url_domain").alias("domain")).agg(
        F.count(F.lit(1)).alias("n_links"),
        F.countDistinct("url").alias("n_urls"),
        F.countDistinct("doc_id").alias("n_src_docs"),
        F.min("url").alias("sample_url"),
    )


PAGERANK_DAMPING_PCT = 85  # damping d, in percent
PAGERANK_SCALE = 10 ** 12  # rank fixed-point scale
PAGERANK_ITERATIONS = 4  # power-iteration rounds



def pagerank(edges: DataFrame, materialize: bool = True) -> DataFrame:
    """Fixed-iteration PageRank (``PAGERANK_ITERATIONS`` rounds) over a
    (src, dst) edge table, in EXACT integer arithmetic: ``(node, rank)``
    with

        rank_0(v)   = PAGERANK_SCALE
        rank_k+1(v) = PAGERANK_SCALE*(100-d)//100
                      + Σ_{u→v} rank_k(u)*d // (100*outdeg(u))

    (d = ``PAGERANK_DAMPING_PCT``).  Floor-division contributions make every value
    exactly reproducible on any engine and any partitioning — integer
    sums are order-independent, float sums are not — so a SQL oracle can
    check the result bit-for-bit; dangling-node mass is dropped (the
    standard simplification; ranks are absolute, not normalized).

    Scale posture (the web graph: ~10^11 edges, ~10^8 nodes): the rank
    vector is node-sized, the edge table is the big side.  Each iteration
    BROADCASTS the current ranks onto the (cached, never-reshuffled) edge
    table — edges are scanned map-side every round, and every shuffle per
    iteration carries node-cardinality rows, not edge-cardinality: the
    dst-keyed partial-aggregated contribution sum plus the node-sized
    rebase join that re-adds the teleport base.  At 10^8+
    nodes swap the broadcast for a src-bucketed sort-merge join; the
    edge-side-never-moves property survives either way.  Each round's
    rank vector is ``localCheckpoint``-ed (node-cardinality rows, cheap)
    so downstream actions replay one materialized vector instead of
    re-deriving the whole k-round lineage — the same cut
    :func:`hits`/:func:`bfs_hop_distance`/``_cc_two_phase`` apply.

    ``materialize=False`` (plan-gate seam, same contract as
    :func:`kcore`/:func:`hits`) skips every persist/checkpoint and
    returns the pure lazy plan — nothing cached, nothing for the caller
    to release.  The default eagerly materializes the final vector and
    releases the three caches before returning, so repeated calls in a
    long-lived session leave no storage-memory residue."""
    e = edges.select("src", "dst")
    if materialize:
        e = e.persist()
    out = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    weighted = e.join(F.broadcast(out), "src").select(
        "src", "dst", (F.lit(100) * F.col("outdeg")).alias("denom")
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    if materialize:
        weighted = weighted.persist()
        nodes = nodes.persist()
    base = PAGERANK_SCALE * (100 - PAGERANK_DAMPING_PCT) // 100
    ranks = nodes.select("node", F.lit(PAGERANK_SCALE).cast("long").alias("rank"))
    for it in range(PAGERANK_ITERATIONS):
        contribs = (
            weighted.join(
                F.broadcast(ranks), weighted["src"] == ranks["node"]
            )
            .select(
                "dst",
                (F.col("rank") * F.lit(PAGERANK_DAMPING_PCT))
                .cast("long")
                .alias("num"),
                "denom",
            )
            .groupBy("dst")
            .agg(F.sum(F.expr("num DIV denom")).alias("inflow"))
        )
        ranks = nodes.join(
            contribs, nodes["node"] == contribs["dst"], "left"
        ).select(
            "node",
            (F.lit(base) + F.coalesce(F.col("inflow"), F.lit(0)))
            .cast("long")
            .alias("rank"),
        )
        # lineage cut BETWEEN iterations: every earlier round reads one
        # materialized node-cardinality vector instead of replaying the
        # whole k-round chain
        if materialize and it < PAGERANK_ITERATIONS - 1:
            ranks = ranks.localCheckpoint(eager=False)
    if materialize:
        # eager materialization (cascades the lazy per-round checkpoints
        # in one job tree), then release the caches — repeated pagerank
        # calls must not accumulate persisted edge tables
        ranks = ranks.localCheckpoint()
        e.unpersist()
        weighted.unpersist()
        nodes.unpersist()
    return ranks


def triangle_count(edges: DataFrame) -> DataFrame:
    """Global triangle census of an undirected simple graph given as a
    (src, dst) edge table (either orientation, duplicates/self-loops
    tolerated): one row ``(n_nodes, n_edges, n_triangles)``.

    Algorithm: degree-ordered edge orientation (Cohen / Suri–Vassilvitskii
    MapReduce triangle counting).  Every edge is directed from its
    lower-(degree, id) endpoint to the higher, so each triangle has
    exactly one "apex" node with two out-edges and is counted exactly
    once; the per-node out-degree under this orientation is bounded by
    O(sqrt(m)), so the wedge relation is O(m^1.5) rows instead of the
    Σ deg² blowup a naive wedge join suffers on skewed web graphs —
    THE property that makes the plan survive a power-law degree
    distribution at web scale.

    Spark shape: degrees are one agg shuffle (node cardinality); the
    degree attach is a broadcast join (node-sized table onto edges — at
    10^8+ nodes swap for a sort-merge join on the bucketed node key, the
    topology is unchanged); wedges are an equi self-join of the oriented
    edge table on its apex (one hash shuffle of m rows), and the closing
    test is an equi join of wedges against oriented edges on the
    (lo, hi) pair — every join is an equi join, no cross products, and
    the count aggregate is map-side combined down to one row per task."""
    und = (
        edges.where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("u"),
            F.greatest("src", "dst").alias("v"),
        )
        .distinct()
    )
    deg = (
        und.select(F.col("u").alias("node"))
        .unionAll(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # total order for the orientation: (deg, node) packed into one long
    # (node ids must fit 32 bits — true of any hashed/dictionary node key)
    rank = deg.select(
        "node",
        (F.col("deg") * F.lit(1 << 32) + F.col("node")).alias("rk"),
    )
    ru = rank.select(F.col("node").alias("u"), F.col("rk").alias("rk_u"))
    rv = rank.select(F.col("node").alias("v"), F.col("rk").alias("rk_v"))
    oriented = (
        und.join(F.broadcast(ru), "u")
        .join(F.broadcast(rv), "v")
        .select(
            F.when(F.col("rk_u") < F.col("rk_v"), F.col("u"))
            .otherwise(F.col("v"))
            .alias("a"),
            F.when(F.col("rk_u") < F.col("rk_v"), F.col("rk_v"))
            .otherwise(F.col("rk_u"))
            .alias("rk_b"),
            F.when(F.col("rk_u") < F.col("rk_v"), F.col("v"))
            .otherwise(F.col("u"))
            .alias("b"),
        )
    )
    o1 = oriented.select(
        F.col("a").alias("apex"), F.col("b").alias("x"), F.col("rk_b").alias("rk_x")
    )
    o2 = oriented.select(
        F.col("a").alias("apex"), F.col("b").alias("y"), F.col("rk_b").alias("rk_y")
    )
    # each unordered out-pair once: order the wedge arms by the SAME total
    # order used for the orientation, so the closing edge is oriented x->y
    wedges = o1.join(o2, "apex").where(F.col("rk_x") < F.col("rk_y"))
    closing = oriented.select(
        F.col("a").alias("x"), F.col("b").alias("y")
    )
    # three 1-row aggregates composed into one plan (bounded cross joins)
    n_tri = wedges.join(closing, ["x", "y"], "left_semi").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
    n_nodes = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    n_edges = und.agg(F.count(F.lit(1)).alias("n_edges"))
    return n_nodes.crossJoin(n_edges).crossJoin(n_tri)


BFS_MAX_HOPS = 6  # hops from the seeds



def bfs_hop_distance(edges: DataFrame, seeds: DataFrame) -> DataFrame:
    """Multi-source BFS over a directed (src, dst) edge table: one row
    ``(node, hops)`` per node reachable from *seeds* within ``BFS_MAX_HOPS``,
    where ``hops`` is the exact shortest hop count (0 for the seeds).
    The crawl-depth / link-distance primitive of a frontier scheduler —
    "how far is every page from the seed list" — and the third member of
    this module's iterative-graph family (PageRank, connected
    components, now single-source/multi-source shortest hops).

    Algorithm: frontier-expansion BFS.  ``dist`` starts as the seed set
    at hop 0; each round joins the current frontier into the edge table,
    anti-joins out already-settled nodes, and unions the survivors in at
    hop k.  Because every node enters ``dist`` the first round it is
    reached, the recorded hop count is minimal — the same fixpoint a SQL
    oracle computes with a recursive CTE + ``min(d)``.

    Scale posture (web graph, ~10^11 edges): the edge table is persisted
    once and NEVER re-shuffled; each round broadcasts the (node-sized,
    usually tiny) frontier onto it, so per-round cost is one map-side
    semi-join over edges plus two node-cardinality hash ops (the
    anti-join and the union-dedup).  ``dist`` stays node-sized.  Rounds
    run through :func:`extractor.ops.fixpoint`, capped at ``BFS_MAX_HOPS``
    (graph diameter in practice — O(log n) on web graphs).  Round k's
    frontier is ``dist``'s hop-(k-1) rows and ``dist`` only grows by new
    nodes, so its row count, observed on the round's own checkpoint
    job, stops changing exactly when no node is new."""
    e = edges.select("src", "dst").persist()

    def expand(dist: DataFrame, k: int) -> DataFrame:
        frontier = dist.where(F.col("hops") == k - 1).select("node")
        reached = (
            e.join(F.broadcast(frontier), e["src"] == frontier["node"])
            .select(F.col("dst").alias("node"))
            .distinct()
        )
        new = reached.join(dist, "node", "left_anti").select(
            "node", F.lit(k).cast("long").alias("hops")
        )
        return dist.unionAll(new)

    seeded = seeds.select(
        F.col("node").cast("long").alias("node"),
        F.lit(0).cast("long").alias("hops"),
    )
    # the hop cap is a cap, not an error: `converged` goes unread
    dist, _ = fixpoint(seeded, expand, [F.count("*").alias("n")], BFS_MAX_HOPS)
    e.unpersist()
    return dist


def blocklist_filter(links: DataFrame, blocklist: list[str]) -> DataFrame:
    """UT1-style domain-blocklist verdicts — the URL-filtering stage
    every web-curation pipeline runs before fetch/ingest (C4, RefinedWeb
    and friends all gate on domain blocklists).  An entry blocks the
    domain itself AND every subdomain (``site.example.com`` blocks
    ``ads.site.example.com``), so matching walks the domain's suffix
    chain (``a.b.c`` → ``a.b.c``, ``b.c``, ``c``) and takes the most
    specific blocklisted suffix.

    Scale shape: the suffix walk is a pure codegen'd HOF over the split
    domain — map-only, zero Python, zero shuffle; the blocklist rides
    along as a literal array (fine to a few thousand entries — it is a
    per-task constant, not a join side).  For million-entry blocklists,
    explode the suffix chain and LeftSemi-join a broadcast blocklist
    table instead; the verdict semantics are identical.

    Output adds ``blocked`` (0/1) and ``matched_entry`` (most specific
    match, null if clean) to the input's columns."""
    bl = F.array(*[F.lit(b) for b in blocklist])
    parts = F.split(F.col("domain"), r"\.")
    suffixes = F.transform(
        parts,
        lambda _, i: F.array_join(
            F.slice(parts, i + 1, F.size(parts) - i), "."
        ),
    )
    matched = F.filter(suffixes, lambda s: F.array_contains(bl, s))
    return links.select(
        "*",
        (F.size(matched) > 0).cast("int").alias("blocked"),
        F.when(F.size(matched) > 0, F.element_at(matched, 1)).alias(
            "matched_entry"
        ),
    )


POLITENESS_LIMIT = 200  # schedule rows emitted



def politeness_schedule(urls: DataFrame) -> DataFrame:
    """Per-domain round-robin fetch schedule — crawl politeness: no two
    consecutive fetches hit the same host until every other pending host
    has been visited.  Each URL gets a per-domain round number
    (``row_number`` over the domain partition), and the global fetch
    order is ``(round, domain, url)`` — round 0 visits every domain
    once, then round 1, and so on.

    Scale shape: the per-domain window is the frontier's natural
    partitioning (one shuffle); the global ordering NEVER materializes —
    the emitted schedule is cut to ``POLITENESS_LIMIT`` rows via
    TakeOrderedAndProject, and a full-corpus schedule would simply write
    ``(round, domain)`` as the sink's sort key (the order is defined by
    the key, not by a global sort).  The closing position window runs
    over the ≤``POLITENESS_LIMIT`` surviving rows only.

    Input: distinct ``(domain, url)`` pairs.  Output: ``(position,
    fetch_round, domain, url)``."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("domain").orderBy("url")
    top = (
        urls.select("domain", "url")
        .distinct()
        .withColumn("fetch_round", F.row_number().over(w) - 1)
        .orderBy("fetch_round", "domain", "url")
        .limit(POLITENESS_LIMIT)
    )
    w_pos = Window.orderBy("fetch_round", "domain", "url")
    return top.select(
        F.row_number().over(w_pos).alias("position"),
        "fetch_round",
        "domain",
        "url",
    )


HITS_ITERATIONS = 3  # hub/authority rounds
HITS_SCALE = 10 ** 6  # score fixed-point scale



def hits(edges: DataFrame, materialize: bool = True) -> DataFrame:
    """Fixed-iteration HITS (Kleinberg hubs & authorities) over a
    (src, dst) edge table, in EXACT integer arithmetic:

        auth_0 = hub_0 = HITS_SCALE
        auth'_{k+1}(v) = Σ_{u→v} hub_k(u)
        auth_{k+1}    = auth' * HITS_SCALE // max(auth')   (per round)
        hub'_{k+1}(u) = Σ_{u→v} auth_{k+1}(v)
        hub_{k+1}     = hub' * HITS_SCALE // max(hub')

    Max-normalization replaces the usual L2 norm so every value stays a
    BIGINT — integer sums and a 1-row max are order-independent, so a
    SQL oracle verifies the fixpoint bit-for-bit (the same exactness
    trick as :func:`pagerank`'s floor-division contributions).

    Unlike :func:`pagerank` (one self-reference per round → linear
    lineage), each half-round here reads the previous vector TWICE (the
    edge-sum and the 1-row max), so an unbroken lineage doubles per
    half-round — 2^(2k) recompute.  Each normalized vector is therefore
    ``localCheckpoint``-ed (node-cardinality rows, cheap) to keep every
    round O(edges).

    Scale posture (~10^11 edges, ~10^8 nodes): identical to
    :func:`pagerank` — both score vectors are node-sized and BROADCAST
    onto the cached, never-reshuffled edge table each half-round; every
    shuffle carries node-cardinality partial sums; the per-round max is
    a 1-row aggregate cross-joined back (never a driver collect).  At
    10^8+ nodes swap broadcasts for src/dst-bucketed sort-merge joins.

    ``materialize=False`` (plan-gate seam, same contract as
    :func:`kcore`) skips every persist/checkpoint and returns the pure
    lazy plan — nothing cached, nothing for the caller to release."""
    e = edges.select("src", "dst").distinct()
    if materialize:
        e = e.persist()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    if materialize:
        nodes = nodes.persist()

    def _cut(df: DataFrame) -> DataFrame:
        return df.localCheckpoint(eager=False) if materialize else df

    auth = nodes.select("node", F.lit(HITS_SCALE).cast("long").alias("auth"))
    hub = nodes.select("node", F.lit(HITS_SCALE).cast("long").alias("hub"))
    for _ in range(HITS_ITERATIONS):
        a_raw = (
            e.join(F.broadcast(hub), e["src"] == hub["node"])
            .groupBy("dst")
            .agg(F.sum("hub").cast("long").alias("s"))
        )
        auth = (
            nodes.join(a_raw, nodes["node"] == a_raw["dst"], "left")
            .select(
                "node",
                F.coalesce("s", F.lit(0)).cast("long").alias("raw"),
            )
        )
        auth = _cut(auth)
        amax = auth.agg(F.greatest(F.max("raw"), F.lit(1)).alias("m"))
        auth = auth.crossJoin(F.broadcast(amax)).select(
            "node",
            F.expr(f"raw * {HITS_SCALE} DIV m").cast("long").alias("auth"),
        )
        auth = _cut(auth)
        h_raw = (
            e.join(F.broadcast(auth), e["dst"] == auth["node"])
            .groupBy("src")
            .agg(F.sum("auth").cast("long").alias("s"))
        )
        hub = (
            nodes.join(h_raw, nodes["node"] == h_raw["src"], "left")
            .select(
                "node",
                F.coalesce("s", F.lit(0)).cast("long").alias("raw"),
            )
        )
        hub = _cut(hub)
        hmax = hub.agg(F.greatest(F.max("raw"), F.lit(1)).alias("m"))
        hub = hub.crossJoin(F.broadcast(hmax)).select(
            "node",
            F.expr(f"raw * {HITS_SCALE} DIV m").cast("long").alias("hub"),
        )
        hub = _cut(hub)
    # one EAGER materialization at the end (cascades through the lazy
    # per-round checkpoints in a single job tree) before the caches drop
    out = auth.join(hub, "node").select("node", "auth", "hub")
    if materialize:
        out = out.localCheckpoint()
        e.unpersist()
        nodes.unpersist()
    return out


def undirected_edges(edges: DataFrame) -> DataFrame:
    """The symmetric simple graph of a (src, dst) edge table (self-loops
    dropped, both orientations, duplicates collapsed), lazy: each caller
    persists it as its own materialization policy allows."""
    e0 = edges.select("src", "dst").where(F.col("src") != F.col("dst"))
    return e0.union(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()


KCORE_K = 3  # minimum degree a survivor keeps
KCORE_ROUNDS = 4  # peeling rounds



def kcore(edges: DataFrame, materialize: bool = True) -> DataFrame:
    """Fixed-round k-core peeling over an undirected graph given as a
    (src, dst) edge table (either orientation; self-loops dropped,
    duplicates collapsed): each round removes every node whose degree
    in the CURRENTLY-surviving induced subgraph is below ``KCORE_K``.
    After ``KCORE_ROUNDS`` peels, returns the survivors with their induced degree
    ``(node, deg)``.  Fixed-iteration semantics (like :func:`hits` /
    :func:`pagerank`) keep the op exactly SQL-unrollable; at the
    convergence point a{r} == a{r-1} and the result IS the k-core —
    the spam-farm/link-ring filter of web-graph curation (a genuine
    k-core is densely interlinked; chains and stars peel away).

    Scale posture (~10^11 edges): the symmetrized edge table is
    persisted once and NEVER re-shuffled — each round's degree count
    joins it against two BROADCAST copies of the (node-cardinality,
    shrinking) alive set, then one map-side-combined count per src.
    The alive set is read twice per round (src- and dst-side), so it is
    ``localCheckpoint``-ed to keep lineage linear.  At 10^8+ surviving
    nodes, swap the broadcasts for src/dst-bucketed semi-joins; the
    edge table still never moves."""
    e = undirected_edges(edges)
    if materialize:
        # plan-gate callers (materialize=False) get a pure lazy plan —
        # nothing cached, nothing for them to release
        e = e.persist()
    alive = (
        e.select(F.col("src").alias("node")).distinct().localCheckpoint()
    )

    def _induced_degree(surv: DataFrame) -> DataFrame:
        return (
            e.join(
                F.broadcast(surv.select(F.col("node").alias("src"))), "src"
            )
            .join(
                F.broadcast(surv.select(F.col("node").alias("dst"))), "dst"
            )
            .groupBy("src")
            .agg(F.count(F.lit(1)).cast("long").alias("deg"))
        )

    for _ in range(KCORE_ROUNDS):
        alive = (
            _induced_degree(alive)
            .where(F.col("deg") >= KCORE_K)
            .select(F.col("src").alias("node"))
            .localCheckpoint(eager=False)
        )
    out = _induced_degree(alive).select(
        F.col("src").cast("long").alias("node"), "deg"
    )
    if materialize:
        # materialize before releasing the edge cache (the default);
        # materialize=False never persisted anything, so the lazy plan
        # it returns carries no cache to release
        out = out.localCheckpoint()
        e.unpersist()
    return out


LPA_ROUNDS = 3  # label votes



def label_propagation(edges: DataFrame) -> DataFrame:
    """Fixed-round synchronous label-propagation community detection
    (Raghavan et al. 2007) over an undirected (src, dst) edge table:
    every node starts as its own label; each round it adopts the MODE
    of its neighbors' labels, ties broken toward the smallest label so
    the update is a pure deterministic function of the previous round
    (exactly SQL-unrollable — no random tie-breaks, no async sweep).
    Distinct from connected components (``dedup.duplicate_clusters``,
    min-label to convergence): majority vote segments DENSE regions
    apart even inside one component — community structure, not mere
    reachability.

    Scale posture (~10^11 edges): the symmetrized edge table persists
    once and never re-shuffles; each round BROADCASTS the (node-sized)
    label vector onto it, counts (node, neighbor-label) pairs with one
    map-side-combined aggregate, and takes the per-node argmax as ONE
    struct-max aggregate (no row_number window).  The label vector is
    ``localCheckpoint``-ed per round to keep lineage flat.  Labels are
    node ids (nonnegative), so ``max(struct(cnt, -label))`` encodes
    "highest count, then smallest label" without a sort.

    Output: ``(node, label)`` after ``LPA_ROUNDS`` votes."""
    e = undirected_edges(edges).persist()
    labels = (
        e.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").cast("long").alias("label"))
        .localCheckpoint()
    )
    for _ in range(LPA_ROUNDS):
        votes = (
            e.join(
                F.broadcast(
                    labels.select(
                        F.col("node").alias("src"),
                        F.col("label").alias("nb_label"),
                    )
                ),
                "src",
            )
            .groupBy(F.col("dst").alias("node"), "nb_label")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        )
        labels = (
            votes.groupBy("node")
            .agg(F.max(F.struct("cnt", (-F.col("nb_label")).alias("neg"))).alias("m"))
            .select(
                "node", (-F.col("m.neg")).cast("long").alias("label")
            )
            .localCheckpoint(eager=False)
        )
    out = labels.select(
        F.col("node").cast("long").alias("node"), "label"
    ).localCheckpoint()  # eager: materialize before releasing the edge cache
    e.unpersist()
    return out


LINKPRED_MAX_DEGREE = 8  # hot-center cap
LINKPRED_TOP_N = 30  # candidate edges returned



def jaccard_linkpred(edges: DataFrame) -> DataFrame:
    """Jaccard link prediction (Liben-Nowell & Kleinberg 2003) over an
    undirected (src, dst) edge table: for every NON-adjacent pair (a, b)
    sharing at least one common neighbor, score the missing edge by the
    Jaccard similarity of their neighborhoods.  All-integer formulation:
    ``score_ppm = |N'(a) ∩ N'(b)| * 10^6 DIV |N'(a) ∪ N'(b)|`` so the
    oracle can reproduce it bit-for-bit (no float sums).

    Hub exclusion: common neighbors are only counted through *wedge
    centers* of degree ≤ ``LINKPRED_MAX_DEGREE``, and the neighborhoods N'(v)
    are restricted to those centers too — so the score stays an exact
    Jaccard of the FILTERED neighbor sets.  This is the standard guard
    against the quadratic wedge blow-up (a degree-d hub emits d² pairs;
    a celebrity node at web scale emits 10^12) — the same hot-key cap
    as ``dedup.minhash_jaccard_estimate``'s max_bucket.

    Scale posture (~10^11 edges): degrees are one map-side-combined
    count; the wedge self-join is keyed on the center z (shuffle on z,
    bounded by the cap: ≤ LINKPRED_MAX_DEGREE² pairs per center); the result agg
    is one shuffle on (a, b); the final top-n is TakeOrderedAndProject
    (no global sort materialized).  The degree table is node-sized —
    broadcast here, a shuffle join at 10^9+ nodes.

    Output: ``(a, b, common, score_ppm)``, the ``LINKPRED_TOP_N`` candidate edges by
    (score_ppm desc, a, b)."""
    e = undirected_edges(edges).persist()
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    centers = deg.where(F.col("deg") <= LINKPRED_MAX_DEGREE).select(
        F.col("src").alias("z")
    )
    # adjacency through allowed centers only: (z, nb); |N'(v)| is then
    # just the per-nb row count of this table
    adj = e.join(
        F.broadcast(centers), e["src"] == centers["z"]
    ).select("z", F.col("dst").alias("nb"))
    degf = adj.groupBy("nb").agg(F.count(F.lit(1)).alias("degf"))
    pairs = (
        adj.alias("l")
        .join(adj.alias("r"), "z")
        .where(F.col("l.nb") < F.col("r.nb"))
        .groupBy(F.col("l.nb").alias("a"), F.col("r.nb").alias("b"))
        .agg(F.count(F.lit(1)).cast("long").alias("common"))
    )
    # drop already-adjacent pairs (canonical a < b orientation)
    existing = e.where(F.col("src") < F.col("dst")).select(
        F.col("src").alias("a"), F.col("dst").alias("b")
    )
    cand = pairs.join(existing, ["a", "b"], "left_anti")
    da = degf.select(F.col("nb").alias("a"), F.col("degf").alias("da"))
    db = degf.select(F.col("nb").alias("b"), F.col("degf").alias("db"))
    out = (
        cand.join(F.broadcast(da), "a")
        .join(F.broadcast(db), "b")
        .select(
            F.col("a").cast("long").alias("a"),
            F.col("b").cast("long").alias("b"),
            "common",
            F.expr("common * 1000000 DIV (da + db - common)")
            .cast("long")
            .alias("score_ppm"),
        )
        .orderBy(F.col("score_ppm").desc(), "a", "b")
        .limit(LINKPRED_TOP_N)
    )
    out = out.localCheckpoint()  # materialize before releasing the cache
    e.unpersist()
    return out


DAG_MAX_ROUNDS = 40  # relaxation round budget



def dag_longest_path(edges: DataFrame) -> DataFrame:
    """Critical-path depth of every node in a DAG: ``depth(v)`` = length
    of the LONGEST path ending at v (sources are 0).  The DAG is derived
    from the input edge table by orienting every edge small-id → big-id
    (node ids are a topological order by construction, so acyclicity is
    guaranteed — the standard trick for dependency DAGs keyed by
    monotonically-assigned ids).  This is the scheduling primitive of a
    pipeline/dataset-dependency graph: depth = the earliest wave a task
    can run in, max(depth) = the critical-path lower bound on makespan.

    Distinct from ``bfs_hop_distance`` (SHORTEST path from seeds): the
    longest-path recurrence needs max-propagation to a fixpoint, not a
    frontier expansion — a different dataflow (no frontier shrinkage;
    every round re-relaxes all edges Bellman-Ford-style).

    Iterates ``depth(v) ← max(depth(v), max over in-edges (depth(u)+1))``
    to a FIXPOINT through :func:`extractor.ops.fixpoint` (depths only
    grow over a fixed node set, so ``sum(depth)`` stops changing exactly
    when no depth does); raises if ``DAG_MAX_ROUNDS`` is exhausted first
    rather than return wrong depths.  Rounds needed = longest path
    length, O(diameter) like every label-relaxation algorithm here.

    Scale posture: the edge table never re-shuffles; each round joins it
    against a BROADCAST of the (node-sized) depth vector, one map-side
    combined max per dst, and the convergence read is one observed sum
    on the round's own job — the driver never sees per-node data.

    Output: ``(node, depth)``."""
    dag = (
        edges.select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .persist()
    )
    depth0 = (
        dag.select(F.col("src").alias("node"))
        .union(dag.select(F.col("dst").alias("node")))
        .distinct()
        .select("node", F.lit(0).cast("long").alias("depth"))
    )

    def relax(depth: DataFrame, _r: int) -> DataFrame:
        relaxed = (
            dag.join(
                F.broadcast(
                    depth.select(
                        F.col("node").alias("src"),
                        F.col("depth").alias("d_src"),
                    )
                ),
                "src",
            )
            .groupBy(F.col("dst").alias("node"))
            .agg((F.max("d_src") + F.lit(1)).alias("d_in"))
        )
        return depth.join(relaxed, "node", "left").select(
            "node",
            F.greatest(
                F.col("depth"), F.coalesce(F.col("d_in"), F.lit(0))
            ).cast("long").alias("depth"),
        )

    depth, converged = fixpoint(
        depth0,
        relax,
        [F.sum(F.col("depth").cast("decimal(38,0)")).alias("depth_sum")],
        DAG_MAX_ROUNDS,
    )
    dag.unpersist()
    if not converged:
        raise RuntimeError(
            f"dag_longest_path did not reach a fixpoint within "
            f"{DAG_MAX_ROUNDS} rounds — critical path exceeds the round "
            "budget"
        )
    return depth.select(F.col("node").cast("long").alias("node"), "depth")


WALK_LEN = 4  # steps per walk



def deepwalk_corpus(edges: DataFrame) -> DataFrame:
    """DeepWalk-style random-walk corpus over an undirected graph —
    the graph→sequence step that turns a web/domain graph into
    skip-gram training data (Perozzi et al. 2014).  One walk starts at
    every node; the next hop from node *v* at step *s* is the
    ``rk``-th neighbor in ``v``'s dst-sorted adjacency where
    ``rk = md5("walk:" v ":" s) mod deg(v) + 1`` — a keyed-uniform
    choice, so the corpus is a pure function of the graph (fully
    oracle-checkable) while remaining uniform over neighbors, exactly
    the determinism-for-reproducibility trade production walk
    generators make (seeded per node+step).

    Scale shape (~10^11 edges): the symmetrized ranked adjacency is
    built once (one row_number window on the src partitioning + a
    degree join) and persisted; each of the ``WALK_LEN`` steps is ONE
    node-keyed equi-join of the (node-cardinality) frontier against
    it — no edge re-shuffle, no per-walk Python.  Walk length is the
    unrolled-iteration budget, like :func:`pagerank` / :func:`hits`.

    Output: ``(start, step, node)`` — step 0 is the start node."""
    from pyspark.sql.window import Window

    e = undirected_edges(edges).persist()
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    adj = e.withColumn(
        "rk", F.row_number().over(Window.partitionBy("src").orderBy("dst"))
    ).join(deg, "src")
    cur = e.select(F.col("src").alias("start")).distinct().select(
        "start", F.col("start").alias("node")
    )
    frames = [cur.select("start", F.lit(0).alias("step"), "node")]
    for s in range(1, WALK_LEN + 1):
        pick = (
            F.pmod(md5_bucket("walk:", "node", F.lit(f":{s}")), F.col("deg"))
            + 1
        )
        cur = (
            cur.join(adj, cur["node"] == adj["src"])
            .where(F.col("rk") == pick)
            .select("start", F.col("dst").alias("node"))
        )
        frames.append(cur.select("start", F.lit(s).alias("step"), "node"))
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    out = out.select(
        F.col("start").cast("long").alias("start"),
        F.col("step").cast("long").alias("step"),
        F.col("node").cast("long").alias("node"),
    ).localCheckpoint()  # materialize before releasing the edge cache
    e.unpersist()
    return out
