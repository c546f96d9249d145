"""Adversarial HTML-kernel hardening (real-web tag soup).

The extraction tier's core invariants, under inputs messier than the
golden fixtures: unbalanced/misnested tags, unclosed blocks inside
pruned subtrees, entities, unicode, comments. Two generators:

* ``tag_soup`` — arbitrary (NOT balanced) open/close/text streams:
  the kernel must never crash, must be deterministic, must emit only
  vocabulary kinds, and must never hallucinate tokens absent from the
  (unescaped) input.
* ``pruned_doc`` — well-formed documents with boilerplate containers
  holding marker text and (sometimes) an UNCLOSED block child: marker
  text must never leak into spans, and content AFTER the pruned
  subtree must still extract (regression for the prune-stack
  auto-close fix — an unclosed <p> inside <div class="ad"> used to
  swallow the rest of the document).
"""

from __future__ import annotations

import re

from hypothesis import example, given, settings, strategies as st

from docling_api_spark.kernels.html import _unescape, extract_html

KINDS = {"heading", "text", "list_item", "code", "table", "image", "caption"}

_WORD_RE = re.compile(r"\w+")

_TAGS = [
    "p", "h1", "h2", "li", "pre", "blockquote", "div", "section", "ul",
    "table", "tr", "td", "th", "caption", "a", "br", "img", "figure",
    "figcaption", "nav", "header", "footer", "script", "style", "span",
]

_texts = st.text(
    alphabet=st.sampled_from(
        list("abcdefgh XYZ012.,;&#<>\"'=-é中م\U0001f600​\t\n")
    ),
    max_size=30,
)
_entity = st.sampled_from(
    ["&amp;", "&lt;", "&gt;", "&quot;", "&#39;", "&apos;", "&nbsp;", "&amp;nbsp;"]
)
_attr = st.sampled_from(
    ["", " class=\"ad banner\"", " class=\"content\"", " id=menu",
     " href='x.html'", " src=\"m/0.png\" alt=\"pic &amp; more\"", " data-x='<'"]
)


@st.composite
def _piece(draw):
    which = draw(st.integers(min_value=0, max_value=4))
    if which == 0:
        return draw(_texts)
    if which == 1:
        return draw(_entity)
    if which == 2:
        return f"<!-- {draw(_texts)} -->"
    tag = draw(st.sampled_from(_TAGS))
    if which == 3:
        return f"<{tag}{draw(_attr)}>"
    return f"</{tag}>"


tag_soup = st.lists(_piece(), max_size=40).map("".join)


@settings(max_examples=150, deadline=None)
@given(tag_soup)
# text on both sides of a dropped subtree must not fuse into one word
@example("0<nav>1</nav>0")
@example("<p>ab<script>x</script>cd</p>")
@example("<table>q<nav>z</nav>r</table>")
@example("<table><tr><td>a<br>b</td></tr><caption>c<br/>d</caption>e<br>f</table>")
def test_tag_soup_safety(markup):
    spans = extract_html(markup)
    # deterministic
    assert extract_html(markup) == spans
    # No hallucination: every output word must occur contiguously in
    # some faithful rendering of the input. Two renderings are needed
    # because, as in a browser, comments and inline tags do NOT break
    # words (`0<!-- -->0` reads "00") — so tokens may merge across
    # stripped markup — while attr-sourced text (img alt) exists only
    # in the RAW form. Entities unescape once for body text and twice
    # for attr values (entity targets are all non-word chars, so extra
    # unescapes never mint new words); a space-joined haystack keeps
    # \w+ tokens from bridging the variants.
    from docling_api_spark.kernels.html import _TAG_RE

    stripped = _TAG_RE.sub("", markup)
    s1 = _unescape(stripped)
    r1 = _unescape(markup)
    haystack = " ".join([s1, _unescape(s1), r1, _unescape(r1)])
    for s in spans:
        assert set(s) == {"kind", "text", "media_ref"}
        assert s["kind"] in KINDS
        for tok in _WORD_RE.findall(s["text"]):
            assert tok in haystack, (tok, markup)


_PRUNE_OPENERS = [
    "<nav>", "<script>", "<style>", "<footer>",
    '<div class="ad">', '<div id="menu-bar">', "<aside>",
]
_PRUNE_CLOSERS = {"<nav>": "</nav>", "<script>": "</script>",
                  "<style>": "</style>", "<footer>": "</footer>",
                  '<div class="ad">': "</div>", '<div id="menu-bar">': "</div>",
                  "<aside>": "</aside>"}


# malformed mid-document fragments that must never swallow later
# content (each pins a fixed silent-loss bug class: prune-stack leak,
# open-anchor leak, unclosed-table leak)
_MALFORMED = [
    "",
    "<table><tr><td>junk cell",                  # unclosed table
    "<table><tr><td>c</td>",                     # unclosed row + table
    '<a href="x">dangling link',                  # unclosed anchor
    "<table><td>stray</table>",                  # td without tr
    "</table></td></a></div>",                   # stray closes
]


@st.composite
def pruned_doc(draw):
    parts = ["<p>ZKEEPZ head</p>"]
    for _ in range(draw(st.integers(min_value=1, max_value=3))):
        opener = draw(st.sampled_from(_PRUNE_OPENERS))
        inner = ["ZPRUNEDZ"]
        # sometimes an unclosed block / misnested close inside the
        # pruned subtree (the real-web shape behind the auto-close fix)
        style = draw(st.integers(min_value=0, max_value=3))
        if style == 0:
            inner = ["<p>ZPRUNEDZ"]                       # unclosed <p>
        elif style == 1:
            inner = ["<div><p>ZPRUNEDZ</div>"]            # p auto-closed by div
        elif style == 2:
            inner = ["<ul><li>ZPRUNEDZ<li>ZPRUNEDZ</ul>"]  # unclosed <li>s
        parts.append(opener + "".join(inner) + _PRUNE_CLOSERS[opener])
        parts.append(draw(st.sampled_from(_MALFORMED)))
        parts.append(f"<p>ZKEEPZ {draw(st.integers(min_value=0, max_value=9))}</p>")
    return "".join(parts)


@settings(max_examples=80, deadline=None)
@given(pruned_doc())
def test_pruned_subtrees_never_leak_and_never_swallow(markup):
    spans = extract_html(markup)
    joined = " ".join(s["text"] for s in spans)
    assert "ZPRUNEDZ" not in joined, markup
    # every ZKEEPZ paragraph survives: one occurrence per planted <p>
    assert joined.count("ZKEEPZ") == markup.count("ZKEEPZ"), markup


def test_unclosed_block_inside_pruned_div_does_not_swallow_document():
    spans = extract_html('<div class="ad"><p>buy stuff</div><p>visible content</p>')
    assert [s["text"] for s in spans] == ["visible content"]


def test_misnested_prune_close_recovers():
    spans = extract_html("<nav><div>menu</nav><p>article text</p>")
    assert [s["text"] for s in spans] == ["article text"]


def test_stray_close_inside_prune_stays_pruned():
    spans = extract_html("<nav>menu</footer>still menu</nav><p>ok</p>")
    assert [s["text"] for s in spans] == ["ok"]


def test_unclosed_anchor_does_not_swallow_document():
    """An <a> left open used to mark every later block link-dominated,
    dropping the rest of the document; anchor state now expires at
    block boundaries."""
    spans = extract_html(
        '<p><a href="x">home</p>'
        "<p>This is a long article paragraph with many words.</p>"
    )
    assert [s["text"] for s in spans] == [
        "This is a long article paragraph with many words."
    ]
    # bare-text variant: expiry at the <div> boundary
    spans = extract_html('<a href="x">nav link<div>Real body text here.</div>')
    assert [s["text"] for s in spans] == ["Real body text here."]


def test_unclosed_table_flushes_at_eof():
    spans = extract_html("<table><tr><td>cell one</td></tr><p>after table text</p>")
    assert [(s["kind"], s["text"]) for s in spans] == [
        ("table", "cell one"),
        ("text", "after table text"),
    ]
    # unclosed cell closes with its table
    spans = extract_html("<table><tr><td>unclosed cell</table><p>after</p>")
    assert [(s["kind"], s["text"]) for s in spans] == [
        ("table", "unclosed cell"),
        ("text", "after"),
    ]
    # trailing open cell at EOF
    spans = extract_html("<table><tr><td>trail cell")
    assert [(s["kind"], s["text"]) for s in spans] == [("table", "trail cell")]


def test_table_edge_shapes():
    # td without tr starts a row
    assert extract_html("<table><td>no tr</td></table>") == [
        {"kind": "table", "text": "no tr", "media_ref": ""}
    ]
    # empty table emits no empty-text span
    assert extract_html("<table><tr></tr></table>") == []
    # consecutive unclosed cells/rows land in distinct rows
    assert extract_html("<table><tr><td>a<tr><td>b</table>")[0]["text"] == "a\nb"
    # inter-row whitespace does not become a foster span
    spans = extract_html("<table><tr><td>a</td></tr>\n  \n</table>")
    assert [(s["kind"], s["text"]) for s in spans] == [("table", "a")]


def test_br_inside_table_separates_words():
    # cell, caption and fostered text: <br> is a word break everywhere,
    # as outside a table
    spans = extract_html(
        "<table><caption>cap<br>tion</caption><tr><td>a<br>b</td><td>c<br/>d</td></tr>"
        "x<br>y</table>"
    )
    assert [(s["kind"], s["text"]) for s in spans] == [
        ("table", "a b | c d"),
        ("caption", "cap tion"),
        ("text", "x y"),
    ]


def test_anchor_semantics_unchanged_when_closed():
    # link-only block: still boilerplate
    assert extract_html('<p><a href="x">just a link</a></p>') == []
    # anchor across <br> still counts as one anchor (no expiry at br)
    assert extract_html('<p><a href="x">one<br>two</a></p>') == []
    # mixed block: kept, anchor ratio under threshold
    spans = extract_html(
        '<p>Read more at <a href="x">this link</a> for details and context.</p>'
    )
    assert [s["text"] for s in spans] == [
        "Read more at this link for details and context."
    ]
