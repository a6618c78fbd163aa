"""Property-based robustness tests (hypothesis): the kernels must never
raise and must keep their invariants on arbitrary adversarial input —
the 100 TB posture where every malformed document WILL occur."""

from hypothesis import given, settings, strategies as st

from extractor.boilerplate import strip_boilerplate
from extractor.kernel import convert_text
from extractor.layout import parse_layout

# text with a bias toward HTML-ish structure and placeholder collisions
_tags = st.sampled_from(
    ["<table>", "</table>", "<tr>", "<td>", "<math>", "</math>", "<p>",
     "</p>", "<img src='x'>", "<span class='math'>", "</span>", "<a href='#'>",
     "</a>", "<pre>", "</pre>", "<blockquote>", "___MATH_PLACEHOLDER_0___",
     "___TABLE_PLACEHOLDER_0___", "$", "\\", "\n", "\t", "    ", ">"]
)
_html_soup = st.lists(
    st.one_of(_tags, st.text(max_size=20)), max_size=30
).map("".join)


@settings(max_examples=300, deadline=None)
@given(st.one_of(st.text(max_size=400), _html_soup))
def test_kernel_total_and_deterministic(text):
    r1 = convert_text(text)
    r2 = convert_text(text)
    assert r1.extracted_text == r2.extracted_text
    assert r1.error == r2.error
    assert (r1.extracted_text is None) == (r1.error is not None)
    if r1.extracted_text is not None:
        assert r1.output_length == len(r1.extracted_text)
        # final text never has leading/trailing whitespace (T10 .strip())
        assert r1.extracted_text == r1.extracted_text.strip()
        for s in r1.spans:
            assert 0 <= s["start"] <= s["end"] <= len(r1.extracted_text)
            snippet = r1.extracted_text[s["start"] : s["end"]]
            assert snippet == snippet.strip() and snippet


@settings(max_examples=150, deadline=None)
@given(st.one_of(st.text(max_size=300), _html_soup))
def test_boilerplate_total(text):
    r = strip_boilerplate(text)
    assert (r.main_text is None) == (r.error is not None)
    if r.main_text is not None:
        assert 0.0 <= r.boilerplate_ratio <= 1.0
        assert r.n_good <= r.n_blocks


@settings(max_examples=100, deadline=None)
@given(st.one_of(st.binary(max_size=200), st.text(max_size=200)))
def test_layout_total(payload):
    r = parse_layout(payload)
    assert (r.text is None) == (r.error is not None)
    if r.text is not None:
        for s in r.spans:
            assert 0 <= s["start"] <= s["end"] <= len(r.text)


_fastpath_bait = st.lists(
    st.one_of(
        st.text(alphabet=st.characters(blacklist_characters="<&"), max_size=20),
        # '>' is an entity-chunk boundary (escape_md_text): these force the
        # re-anchored dot/plus/dash rules right after it on BOTH paths
        st.sampled_from([">", ">1. x", ">+ y", ">- z", "> 7. q", "\\", "\n"]),
    ),
    max_size=15,
).map("".join)


@settings(max_examples=400, deadline=None)
@given(
    st.one_of(
        st.text(alphabet=st.characters(blacklist_characters="<&"), max_size=300),
        _fastpath_bait,
    )
)
def test_fastpath_equals_slowpath(text):
    """The plain-text fast path must be byte-identical to the full DOM
    pipeline on markup-free input."""
    from extractor.dom import parse_html
    from extractor.kernel import (
        _extract_special_elements,
        _restore_special_elements,
        clean_markdown,
    )
    from extractor.linearize import linearize

    fast = convert_text(text)

    # force the slow path
    doc = parse_html(text)
    tables, maths, images = _extract_special_elements(doc)
    slow = clean_markdown(
        _restore_special_elements(linearize(doc), tables, maths, images)
    )
    assert fast.extracted_text == slow


_md_bait = st.lists(
    st.one_of(
        st.text(max_size=15),
        st.sampled_from(
            ["\\", "1. ", "23. x", "+ y", "- z", "--", "\n", " ", "\t",
             "\\*", "\\\\", ". ", "+", "-",
             # exotic \s members that are NOT plain blanks: the probe must
             # treat a \r/\f/\v-prefixed line start exactly like the
             # unguarded \s* form (round-2 ADVICE divergence)
             "\r1. x", "\x0c+ y", "\x0b- z", "\r", "\x0c", "\x0b",
             "\n\r 7. a", "\r\n+ b"]
        ),
    ),
    max_size=25,
).map("".join)


@settings(max_examples=500, deadline=None)
@given(_md_bait)
def test_md_escape_guards_equivalent(text):
    """The probe-guarded escape must be byte-identical to the exact
    html2text-ordered unguarded form on any input."""
    from extractor.linearize import (
        _escape_md_section_unguarded,
        escape_md_section,
    )

    assert escape_md_section(text) == _escape_md_section_unguarded(text)


_cleanup_bait = st.lists(
    st.one_of(
        st.text(max_size=12),
        st.sampled_from(
            ["\n", "\t", "    ", ">", "<table", "</table>", "<math", "</math>",
             "\n\n\n\n", "\n> ", "\n\t\t", "\n    ", " ", "\r"]
        ),
    ),
    max_size=25,
).map("".join)


@settings(max_examples=500, deadline=None)
@given(_cleanup_bait)
def test_cleanup_probes_equivalent(text):
    """The probe-guarded cleanup chain must be byte-identical to running
    every step of it unconditionally, in order, then stripping."""
    from extractor.kernel import _CLEANUP_STEPS, clean_markdown

    unguarded = text
    for _probe, pattern, repl in _CLEANUP_STEPS:
        unguarded = pattern.sub(repl, unguarded)
    assert clean_markdown(text) == unguarded.strip()


@settings(max_examples=300, deadline=None)
@given(st.text(alphabet=st.characters(blacklist_characters="<&"), max_size=200))
def test_ws_probe_miss_implies_collapse_identity(text):
    """The fast path's probe-gated collapse is sound: whenever _WS_PROBE
    misses, the collapse sub must be the identity."""
    from extractor.kernel import _WS_COLLAPSE, _WS_PROBE

    if _WS_PROBE.search(text) is None:
        assert _WS_COLLAPSE.sub(" ", text) == text


@settings(max_examples=400, deadline=None)
@given(st.text(alphabet="ab \t\r\f\v\n0123456789+-.\\", max_size=60))
def test_linestart_probe_equals_regex(text):
    from extractor.linearize import _MD_LINESTART_PROBE, _linestart_probe

    assert _linestart_probe(text) == (
        _MD_LINESTART_PROBE.search(text) is not None
    )


@settings(max_examples=500, deadline=None)
@given(
    st.lists(st.integers(min_value=1, max_value=2000), max_size=200),
    st.integers(min_value=1, max_value=1500),
)
def test_nextfit_chain_invariants(lengths, cap):
    from extractor.ops.dedup import nextfit_chain

    bins, fills = nextfit_chain(lengths, cap)
    assert len(bins) == len(fills) == len(lengths)
    prev_b, prev_fill = 0, 0
    for n, b, fill in zip(lengths, bins, fills):
        # bins only ever advance by 0 or 1
        assert b in (prev_b, prev_b + 1)
        if b == prev_b and fill != n:
            # stayed in the bin: fill accumulates and respects cap
            assert fill == prev_fill + n and fill <= cap
        else:
            # opened (or started) a bin: fill restarts at n
            assert fill == n
        prev_b, prev_fill = b, fill
    # a bin exceeding cap must contain exactly one (oversized) item
    from collections import Counter

    per_bin = Counter(bins)
    for n, b, fill in zip(lengths, bins, fills):
        if fill > cap:
            assert per_bin[b] == 1 and n > cap


@settings(max_examples=500, deadline=None)
@given(
    st.lists(st.integers(min_value=1, max_value=3000), max_size=150),
    st.integers(min_value=1, max_value=5000),
)
def test_infer_batch_chain_invariants(raw, budget):
    from extractor.ops.dedup import infer_batch_chain

    lengths = sorted(raw, reverse=True)  # contract: descending arrival
    batches, ns, cells = infer_batch_chain(lengths, budget)
    assert len(batches) == len(ns) == len(cells) == len(lengths)
    prev_b, prev_n = 0, 0
    mx = None
    for ln, b, n, c in zip(lengths, batches, ns, cells):
        assert b in (prev_b, prev_b + 1)
        if b != prev_b or prev_n == 0:
            mx = ln  # batch opener sets the padded width
            assert n == 1
        else:
            assert n == prev_n + 1
            assert ln <= mx  # descending: opener is the max
        assert c == mx * n
        # admission rule: a multi-member batch never exceeds budget
        if n > 1:
            assert c <= budget
        prev_b, prev_n = b, n
    # every batch is maximal: the first item of batch k+1 would not
    # have fit at the end of batch k
    from collections import defaultdict

    per = defaultdict(list)
    for ln, b in zip(lengths, batches):
        per[b].append(ln)
    for k in range(1, len(per)):
        prev = per[k - 1]
        assert prev[0] * (len(prev) + 1) > budget
