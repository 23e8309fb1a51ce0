"""HTML main-content recovery: pinned cases, equality with the regex form
it replaced (``content_oracle``) on generated markup, and bounded time on
hostile markup."""

import random
import time

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from content_oracle import extract_main_content_oracle
from xponents_spark.textract import extract_main_content

_CONTAINERS = ["script", "style", "head", "nav", "header", "footer", "aside",
               "noscript", "svg", "form", "iframe"]
_OTHER = ["div", "p", "span", "a", "li", "td", "br", "section", "h2", "b",
          "ul", "article"]
# names that fold to a container name under re.I but are not ASCII
_FOLDED = ["ſcript", "ſtyle", "İframe", "ıframe", "noſcript", "aſide"]


def _cased(name_mask):
    name, mask = name_mask
    return "".join(c.upper() if mask >> i & 1 else c for i, c in enumerate(name))


_NAMES = st.tuples(st.sampled_from(_CONTAINERS + _OTHER + _FOLDED),
                   st.integers(0, 255)).map(_cased)
_ATTRS = st.sampled_from(
    ["", " class='nav'", ' id="menu-top"', " class=content", ' href="/x"',
     " data-x='1'", ' class = "social share"', " class='a>b nav'",
     ' ID="Sidebar"', " class='foot'", " x=<y>"])
_TEXT = st.sampled_from(
    ["alpha", "Beta words here", "x", "ab", " ", "\n", "\t", "&amp;", "&lt;b&gt;",
     "&#39;", "café", "ſcript", "Kelvin K", "١٢٣", "nav", "  ", "\x00"])
_STRAY = st.sampled_from(["<", ">", "</", "<>", '"', "'", "=", "<!--", "-->",
                          "<!-- c -->", "<br/>", "<p/>", "<a", "</a >"])


@st.composite
def _fragment(draw):
    kind = draw(st.integers(0, 5))
    if kind == 0:
        return draw(_TEXT)
    if kind == 1:
        return draw(_STRAY)
    name = draw(_NAMES)
    if kind == 2:
        return f"<{name}{draw(_ATTRS)}>"
    if kind == 3:
        return f"<{name}{draw(_ATTRS)}"            # truncated open tag
    return f"</{name}" + draw(st.sampled_from([">", " >", "\n>", " foo>", ""]))


_MARKUP = st.tuples(st.sampled_from(["", "<p>", "<div>", "<html><body>"]),
                    st.lists(_fragment(), max_size=40)).map(
    lambda t: t[0] + "".join(t[1]))


@settings(max_examples=1500, deadline=None)
@given(_MARKUP)
@example("<p>x</script<nav>y</nav>>z</script >w")
@example("<p>a<script>b</script<!-- c -->>d")
def test_scan_equals_regex_oracle(doc):
    """Nested, unclosed, truncated, flagged, mixed-case and case-folded
    markup: the one-pass scan returns exactly what the regex form does."""
    assert extract_main_content(doc) == extract_main_content_oracle(doc)


@pytest.mark.parametrize("doc, expected", [
    # nested same-name containers: the first close ends the outer one too,
    # so the tail after it survives
    ("<p>keep<nav>a<nav>b</nav>tail text</nav> end", "keep tail text end"),
    # mixed-case tags close each other
    ("<P>kept text<SCRIPT>x()</script>more</P><Div>block two</DIV>",
     "kept text more block two"),
    # "</script foo>" is not a close: the script runs on to the real one
    ("<p>a<script>x</script foo>still code</script>b text", "a b text"),
    # nested flagged elements go with their balancing close; the text
    # around a removed element joins with no space
    ("<div>keep<div class='nav'>x<div>y</div>z</div>after</div>", "keepafter"),
    # an unclosed flagged element loses only its open tag
    ("<div>one<div id='menu'>two three", "onetwo three"),
    ("<p>ab<span class='share'>x</span>cd", "abcd"),
    # link density exactly 0.5 (4 of 8 chars) drops the block; 4 of 9
    # keeps it
    ("<p>abc <a href=x>link</a><p>keep this", "keep this"),
    ("<p>abcd <a href=x>link</a>", "abcd link"),
    ("<p>Tom &amp; Jerry &lt;3 &#39;x&#39;", "Tom & Jerry <3 'x'"),
    ("<div>line one<br/>line two<br>x</div>", "line one line two"),
    # re.I folds "ſ" to "s": "<ſcript>" opens a script, but only a close
    # spelled the same way ends it
    ("<p>café<ſcript>x</script>still script</ſcript>después",
     "café después"),
    ("<p>naïve<İframe>x</iframe>text", "naïve text"),
    # a close made by removing a nested container (regex fixed point)
    ("<p>a<script>b</script<nav>c</nav>>d text", "a d text"),
    ("<p>a<script>b</script<!-- c -->>d text", "a d text"),
])
def test_pinned_recovery(doc, expected):
    assert extract_main_content(doc) == expected
    assert extract_main_content_oracle(doc) == expected


_MB = 1 << 20
# per 1 MB turn; the regex form took 1.1-6.0 s on 27-74 KB of the first four
_BOUND_S = 5.0


@pytest.mark.parametrize("unit", [
    "<p>x <!-- ", "<p>x <a href=x>link ", "<p>x <script> ",
    "<p>x <div class='nav'> ", "x <a <a <a ", "<script <script ",
    "<p>a < b ", "<div class=nav <div class=nav ", "<p>q x='nav' ",
    "<b x='nav'>y ",
])
def test_unclosed_markup_is_linear(unit):
    doc = "<html><body>" + unit * (_MB // len(unit) + 1)
    t0 = time.process_time()
    extract_main_content(doc)
    assert time.process_time() - t0 < _BOUND_S


@pytest.mark.parametrize("open_tag, close_tag", [
    ("<div class='nav'>", "</div>"), ("<nav>", "</nav>"), ("<div>", "</div>"),
])
def test_deep_same_name_nest_is_linear(open_tag, close_tag):
    depth = _MB // (len(open_tag) + len(close_tag))
    doc = "<p>before " + open_tag * depth + " inner " + close_tag * depth + " after"
    t0 = time.process_time()
    out = extract_main_content(doc)
    assert time.process_time() - t0 < _BOUND_S
    assert out.startswith("before") and out.endswith("after")


def _bridged_chain(depth, seed=1):
    """``<n>x</n`` opens, each close completed only once the container
    after it is removed: ``</n<m>x</m>>``."""
    rng = random.Random(seed)
    names = [rng.choice(_CONTAINERS) for _ in range(depth)]
    return ("<p>a" + "".join(f"<{n}>x</{n}" for n in names) + ">" * depth
            + " tail text")


def test_bridged_close_chain():
    """The regex form reaches its fixed point over several passes here;
    the scan agrees, and a 1 MB chain stays within the bound."""
    for depth in (5, 50, 300):
        doc = _bridged_chain(depth)
        assert extract_main_content(doc) == extract_main_content_oracle(doc)
    doc = _bridged_chain(_MB // 16)
    t0 = time.process_time()
    extract_main_content(doc)
    assert time.process_time() - t0 < _BOUND_S
