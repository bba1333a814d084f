"""Property-based robustness (hypothesis): the extraction core must never
raise on arbitrary bytes/text, and invariants must hold on random inputs.
SURVEY.md §5.2 layer 5."""

import datetime as dt

from hypothesis import given, settings
from hypothesis import strategies as st

from mre.core.extract import extract_one
from mre.core.fuzzydate import parse_date, parse_time
from mre.core.htmlparse import parse_doc
from mre.core.textutil import collapse_ws, decode_html

SETTINGS = dict(max_examples=200, deadline=None)


@given(st.binary(max_size=4096))
@settings(**SETTINGS)
def test_decode_html_total(b):
    out = decode_html(b)
    assert isinstance(out, str)


@given(st.text(max_size=2048))
@settings(**SETTINGS)
def test_parse_doc_total(s):
    doc = parse_doc(s)
    assert doc.tag == "#document"
    # text content of the tree never exceeds input length by more than
    # entity expansion allows (sanity bound, not exact)
    assert len(doc.text_content()) <= 8 * max(len(s), 1)


@given(st.text(max_size=300))
@settings(**SETTINGS)
def test_parse_date_total_and_valid(s):
    fd = parse_date(s)
    if fd is not None:
        if fd.month is not None:
            assert 1 <= fd.month <= 12
        if fd.day is not None:
            assert 1 <= fd.day <= 31
        d = fd.date()
        if d is not None:
            assert isinstance(d, dt.date)


@given(st.text(max_size=300))
@settings(**SETTINGS)
def test_parse_time_total_and_valid(s):
    ft = parse_time(s)
    if ft is not None:
        assert 0 <= ft.hour <= 23
        assert ft.minute is None or 0 <= ft.minute <= 59


@given(st.binary(max_size=4096))
@settings(**SETTINGS)
def test_extract_one_total(b):
    r = extract_one("https://fuzz.example/a/1", b)
    assert r.url == "https://fuzz.example/a/1"
    if not r.ok:
        assert r.headline is None and r.extracted_text is None


@given(st.text(max_size=500))
@settings(**SETTINGS)
def test_collapse_ws_idempotent(s):
    once = collapse_ws(s)
    assert collapse_ws(once) == once
    assert "  " not in once and not once.startswith(" ") \
        and not once.endswith(" ")


# --- targeted tag-soup differential (VERDICT r2 item 6) ---------------------
# Generators biased toward the malformation family the round-2 ADVICE bug
# came from: bare attributes, unquoted values containing / < > " ', spaced
# '=', trailing-slash soup, bare '</'. The fast scanner must stay
# TREE-IDENTICAL to html.parser recovery on every generated document.

_SOUP_TAG = st.sampled_from(["a", "div", "p", "span", "img", "b"])
_SOUP_ANAME = st.sampled_from(["href", "class", "foo", "hidden", "rel",
                               "data-x"])
# \x00 / \xa0 / \x0b are in the alphabets deliberately: stdlib tag names
# end ONLY on ASCII tab/LF/CR/FF/space (NBSP and VT are name chars) and
# NUL is a bogus-input trigger — the classes a Latin-only alphabet missed
_SOUP_VAL = st.text(alphabet="ab/<>\"'=& ;.\x00\xa0", max_size=8)
_SOUP_WS = st.sampled_from([" ", "  ", "\t", "\xa0", "\x0b", "\x00"])


@st.composite
def _soup_attr(draw):
    name = draw(_SOUP_ANAME)
    kind = draw(st.integers(0, 3))
    if kind == 0:
        return name  # bare attribute
    if kind == 1:
        return name + "=" + draw(_SOUP_VAL)  # unquoted, dangerous chars
    if kind == 2:
        return name + '="' + draw(_SOUP_VAL) + '"'
    return name + " = " + draw(_SOUP_VAL)  # whitespace around '='


@st.composite
def _soup_chunk(draw):
    kind = draw(st.integers(0, 6))
    if kind == 0:
        return draw(st.text(alphabet="xy &;<.\xa0\x00", max_size=6))
    if kind == 1:
        return "</" + draw(st.sampled_from(["", " x>", "a>", "a", ">", "/>"]))
    if kind == 2:
        # the <! / <? family: comments (incl. --!> and -- > closers),
        # doctype, PI, marked sections — terminated and truncated
        return draw(st.sampled_from([
            "<!-- c -->", "<!--", "<!-->", "<!--->", "<!-- a --!>",
            "<!-- a -- >", "<!>", "<!x>", "<!y", "<!doctype html>",
            "<!doctype", "<?pi>", "<?x", "<![CDATA[z]]>", "<![CDATA[a>b]]>",
            "<![CDATA[zz", "<![if !IE]>", "<![endif]>", "<![",
        ]))
    tag = draw(_SOUP_TAG)
    attrs = draw(st.lists(_soup_attr(), max_size=3))
    tail = draw(st.sampled_from([">", "/>", " />", "/ >", "", " >", "/"]))
    return "<" + tag + "".join(draw(_SOUP_WS) + a for a in attrs) + tail


def _tree_dump(n):
    """tag + attrs + children, with adjacent text chunks merged (chunk
    boundaries are not behavior — text_content concatenates)."""
    from mre.core.htmlparse import Node

    out = [(n.tag, dict(n.attrib) if n.attrib else {})]
    for c in n.content:
        if isinstance(c, Node):
            out.append(_tree_dump(c))
        elif out and isinstance(out[-1], str):
            out[-1] += c
        elif c:
            out.append(c)
    return out


@given(st.lists(_soup_chunk(), max_size=8))
@settings(max_examples=500, deadline=None)
def test_parse_doc_tag_soup_matches_stdlib(chunks):
    from hypothesis import assume

    from mre.core.htmlparse import parse_doc_stdlib

    html = "".join(chunks)
    ours = _tree_dump(parse_doc(html))  # ALWAYS total, even where stdlib…
    try:
        ref = _tree_dump(parse_doc_stdlib(html))
    except (AssertionError, NotImplementedError):
        # …raises (html.parser error()s on unknown/malformed marked
        # sections like '<![;'): nothing to differentiate against
        assume(False)
    assert ours == ref
