"""Fast-tokenizer ≡ stdlib-parser equivalence (extractor/dom.py).

``parse_html`` tries a regex fast path (``_fast_parse``) before the
authoritative stdlib ``HTMLParser`` tree builder.  The fast path must be
*tree-identical* (tags, attrs, exact text-node chunking) wherever it
accepts a document, and must decline (return None) on anything outside
its verified subset — comments, declarations, PIs, script/style CDATA,
bogus ``<``, junk-in-start-tag — so the stdlib path stays authoritative.
These tests pin that contract on golden fixture inputs, handcrafted
quirks, hypothesis-fuzzed tag soup, and the bench transcripts corpus.
"""

import pytest
from hypothesis import given, settings, strategies as st

from extractor.dom import MAX_DOM_DEPTH, Element, _TreeBuilder, _fast_parse, parse_html
from extractor.fixtures import FIXTURE_CASES, OPTION_CASES
from extractor.transcripts import generate_conversation


def _stdlib_parse(text: str) -> Element:
    builder = _TreeBuilder()
    builder.feed(text)
    builder.close()
    return builder.root


def _sig(node):
    if isinstance(node, str):
        return ("#text", node)
    attrs = node.attrs
    attrs_t = tuple(sorted(attrs.items())) if isinstance(attrs, dict) else tuple(attrs)
    return (node.tag, attrs_t, tuple(_sig(c) for c in node.children))


def _assert_parity(text: str) -> None:
    fast = _fast_parse(text)
    if fast is None:  # declined: stdlib path is authoritative by construction
        return
    assert _sig(fast) == _sig(_stdlib_parse(text)), repr(text[:200])


# --- handcrafted: common-case acceptance -----------------------------------

ACCEPT_CASES = [
    "plain prose, no markup",
    "<p>hello <b>world</b></p>",
    "<table><tr><td>a</td><td>b</td></tr></table>",
    '<img src="images/x.png" alt="a &amp; b" title=\'q\'>',
    "<br/><hr />text<p>one</p><p>two</p>",
    "<a href=foo bar baz>x</a>",
    "text &amp; entities &lt;not a tag&gt; &#65; &unknown; done",
    "<p>unclosed <b>bold",
    '<P CLASS="Upper">MiXeD</P>',
    '<span  class = "math inline" >$x$</span>',
    "<ul><li>one<li>two</ul>",
    '<td colspan=2 rowspan="3">cell</td>',
    "<math><mi>x</mi></math>",
    '<a href="x?a=1&b=2">q</a>',
    "",
    "   \n\t  ",
    '<div\nclass="multi\nline">x</div>',
    '<input type="checkbox" checked>',
    '<div data-latex="\\frac{a}{b}">f</div>',
    '<div a=b"c">quoted-in-unquoted value</div>',
    '<div "junk">bare-quoted token parses as an attribute</div>',
]

# --- handcrafted: constructs the fast path must decline ---------------------

DECLINE_CASES = [
    "<!-- comment --><p>x</p>",
    "<?pi ?>",
    "<!DOCTYPE html><p>x</p>",
    "<script>var a=1;</script>",
    "<style>.x{}</style>",
    "a < b and c > d",
    "</ div>",
    "<3 hearts",
    '<div a=b"c>unterminated quote</div>',
    # the quote after e= closes only past this tag's '>'
    "<a b=c'd e='f>g'>x</a>",
]


def test_accept_cases_taken_and_identical():
    for text in ACCEPT_CASES:
        assert _fast_parse(text) is not None, repr(text)
        _assert_parity(text)


def test_decline_cases_fall_back():
    for text in DECLINE_CASES:
        assert _fast_parse(text) is None, repr(text)


def test_parse_html_uses_fallback_transparently():
    # parse_html must give the stdlib tree even for declined documents
    for text in DECLINE_CASES:
        assert _sig(parse_html(text)) == _sig(_stdlib_parse(text)), repr(text)


# --- depth cap and attribute details -----------------------------------------

@pytest.mark.parametrize("last", ["<div>", "<br>"])
def test_depth_cap_raises_on_both_paths(last):
    # the start tag one past the cap raises, void or not
    text = "<div>" * MAX_DOM_DEPTH + last
    with pytest.raises(RecursionError):
        _fast_parse(text)
    with pytest.raises(RecursionError):
        _stdlib_parse(text)


@pytest.mark.parametrize(
    "text",
    [
        "<div>" * MAX_DOM_DEPTH,
        "<div>" * (MAX_DOM_DEPTH - 1) + "<br>",
        # a self-closing tag is never depth-checked, on either path
        "<div>" * MAX_DOM_DEPTH + "<br/>",
    ],
)
def test_depth_at_cap_parses_on_both_paths(text):
    fast = _fast_parse(text)
    assert fast is not None
    assert _sig(fast) == _sig(_stdlib_parse(text))


def _attr_items(root: Element) -> list:
    return list(root.children[0].attrs.items())


def test_duplicate_attributes_first_position_last_value():
    text = '<p a="1" b="2" A=\'3\'>x</p>'
    for root in (_fast_parse(text), _stdlib_parse(text)):
        assert _attr_items(root) == [("a", "3"), ("b", "2")]


def test_uppercase_and_entity_attribute_values():
    text = (
        '<IMG SRC="Media/A.PNG" ALT="fish &amp; Chips &lt;HOT&gt;" '
        "TITLE='&quot;Q&quot; &#65;&#x42;' data-X=&eacute;t&eacute;>"
    )
    want = [
        ("src", "Media/A.PNG"),
        ("alt", "fish & Chips <HOT>"),
        ("title", '"Q" AB'),
        ("data-x", "\u00e9t\u00e9"),
    ]
    for root in (_fast_parse(text), _stdlib_parse(text)):
        assert root.children[0].tag == "img"
        assert _attr_items(root) == want


@pytest.mark.parametrize(
    "text, tag, attrs, children",
    [
        # ' /' ends the attribute list: a self-closing <a> (no children)
        ("<a b=c />after", "a", [("b", "c")], 0),
        # unquoted values run to '>' and keep the '/': a void <img>
        ("<img src=x/>after", "img", [("src", "x/")], 0),
    ],
)
def test_self_closing_forms(text, tag, attrs, children):
    fast = _fast_parse(text)
    assert fast is not None
    assert _sig(fast) == _sig(_stdlib_parse(text))
    el = fast.children[0]
    assert (el.tag, list(el.attrs.items()), len(el.children)) == (tag, attrs, children)
    assert fast.children[1] == "after"


# --- golden fixture inputs ---------------------------------------------------

def test_golden_fixture_parity():
    for text in FIXTURE_CASES.values():
        if text is not None:  # the null-payload fixture never reaches the parser
            _assert_parity(text)
    for html, _kw in OPTION_CASES.values():
        _assert_parity(html)


# --- bench transcripts corpus ------------------------------------------------

def test_transcripts_corpus_parity():
    taken = declined = 0
    for conv_index in range(400):
        for row in generate_conversation(42, conv_index, 10):
            text = row[3]
            if not text:
                continue
            fast = _fast_parse(text)
            if fast is None:
                declined += 1
                continue
            taken += 1
            assert _sig(fast) == _sig(_stdlib_parse(text)), repr(text[:200])
    # the fast path must actually cover the corpus, or it is dead weight
    assert taken > declined * 10


# --- hypothesis tag soup -----------------------------------------------------

_frag = st.sampled_from(
    ["<p>", "</p>", "<b>", "</b>", "<div class='x'>", "</div>",
     "<img src=\"a.png\" alt='t'>", "<br/>", "text ", "&amp; ", "& ",
     "a<b ", "< ", "<!-- c -->", "<table><tr><td>", "</td></tr></table>",
     "<span a=b>", "'", '"', ">", "<", '<x y="1">', "</x>", "\n", "\t",
     "&#65;", "&unknown;", "<a href=foo bar>", "</a>", "<input checked>",
     "<3 ", "</ p>", "<script>x</script>", "=", "/>", "<div a=b\"c>",
     "<br/>", "<br />", "<b >", "<i\t>", "<img src=x/>", "<a b=c />",
     "<em//>", "<p  \n >", "<q/ >", "<r / >", "<SCRIPT>", "</SCRIPT>"]
)
_soup = st.lists(st.one_of(_frag, st.text(max_size=12)), max_size=14).map("".join)


@settings(max_examples=1500, deadline=None)
@given(_soup)
def test_fuzz_parity(text):
    try:
        _assert_parity(text)
    except RecursionError:
        # DOM depth cap: both paths raise identically; callers contain it
        pass
