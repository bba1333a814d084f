"""Unit tests for the non-date extraction stages: charset decode (E1),
lenient parse (E2), text render (E3), headline scoring (E4/E5), url dates
(E6), byline cleaning (E12/E13), content extraction (E14), and E15's
no-cyclic-garbage invariant (extract_one and the extraction kernel)."""

import gc

import pytest

from mre import fixtures as FX
from mre.core.byline import byline_candidates, clean_authors, extract_authors
from mre.core.content import extract_text
from mre.core.extract import extract_one
from mre.core.fuzzydate import FuzzyDate
from mre.core.headline import score_headline
from mre.core.htmlparse import parse_doc
from mre.core.pubdate import url_date
from mre.core.textutil import collapse_ws, decode_html, slugify

# --- E1 decode --------------------------------------------------------------


def test_decode_utf8_plain():
    assert decode_html("héllo".encode("utf-8")) == "héllo"


def test_decode_meta_charset_latin1():
    b = b'<html><head><meta charset="iso-8859-1"></head><body>Jos\xe9</body></html>'
    assert "José" in decode_html(b)


def test_decode_http_equiv():
    b = (b'<meta http-equiv="Content-Type" content="text/html; charset=iso-8859-1">'
         b"caf\xe9")
    assert "café" in decode_html(b)


def test_decode_bom():
    assert decode_html(b"\xef\xbb\xbfhi") == "hi"


def test_decode_content_type_header_beats_meta():
    # header says latin-1, meta says utf-8; the bytes are latin-1 — the
    # transport hint must win over the (wrong) in-document declaration
    body = '<meta charset="utf-8"><p>café</p>'.encode("iso-8859-1")
    assert "café" in decode_html(body, "text/html; charset=ISO-8859-1")
    # without the hint, the meta declaration is used (mojibake expected)
    assert "café" not in decode_html(body)


def test_decode_bom_beats_content_type_header():
    body = b"\xef\xbb\xbf" + "café".encode("utf-8")  # utf-8 BOM prefix
    assert decode_html(body, "text/html; charset=ISO-8859-1") == "café"


def test_decode_invalid_utf8_falls_back():
    # bare 0xE9 is invalid utf-8; latin-1 fallback maps it to é
    assert decode_html(b"caf\xe9 plain") == "café plain"


def test_decode_never_raises_on_garbage():
    assert isinstance(decode_html(bytes(range(256))), str)
    assert decode_html(b"") == ""


# --- E2 lenient parse -------------------------------------------------------


def test_parse_basic_tree():
    doc = parse_doc("<html><body><div id=a><p>one</p><p>two</p></div></body></html>")
    ps = list(doc.iter("p"))
    assert [collapse_ws(p.text_content()) for p in ps] == ["one", "two"]
    assert ps[0].parent.get("id") == "a"


def test_parse_unclosed_p_implied_close():
    doc = parse_doc("<div><p>one<p>two<p>three</div>")
    assert [collapse_ws(p.text_content()) for p in doc.iter("p")] == \
        ["one", "two", "three"]


def test_parse_stray_end_tag_ignored():
    doc = parse_doc("<div><p>hello</b> world</p></div>")
    assert collapse_ws(next(doc.iter("p")).text_content()) == "hello world"


def test_parse_script_style_comments_dropped():
    doc = parse_doc(
        "<body><script>var x = '<p>no</p>';</script><style>p{}</style>"
        "<!-- c --><p>yes</p></body>")
    assert collapse_ws(doc.text_content()) == "yes"


def test_parse_void_elements():
    doc = parse_doc("<p>a<br>b<img src=x>c</p>")
    # void elements don't capture following content as children
    assert collapse_ws(next(doc.iter("p")).text_content()) == "abc"
    assert next(doc.iter("img")).get("src") == "x"


def test_parse_entities_unescaped():
    doc = parse_doc("<p>Fish &amp; Chips &#163;5</p>")
    assert collapse_ws(doc.text_content()) == "Fish & Chips £5"


def test_parse_attr_first_occurrence_wins():
    doc = parse_doc('<div class="a" class="b">x</div>')
    assert next(doc.iter("div")).get("class") == "a"


@pytest.mark.parametrize("html", [
    '<a rel=author href=/staff/jane/>Jane Doe</a>',
    '<img src=/x//>',
    '<a href=/x / >y</a>',
    '<div class=c/><p>t</p>',
    '<input value=a/b/>',
    '<a href=/a/ rel=me>t</a>',
    # bare (valueless) attribute + '/>' stays a SELF-CLOSE in html.parser —
    # only a '/' terminating an unquoted VALUE folds into the value
    '<a foo/>text',
    '<div hidden/><p>x</p>',
    '<a foo bar/>y',
    '<a bar=baz foo/>y',
    '<a foo="q" bar/>y',
    '<a bar="b=c" foo/>y',
    # quoted value then '/>' self-closes
    '<a foo="q"/>y',
    # '=' seen, value empty or whitespace-separated: '/' IS the value
    '<a foo=/>y',
    '<a foo= />y',
    '<a foo = />y',
    '<a foo = bar/>y',
    '<a x=1 foo = bar/>y',
    '<img src=x.png alt=hi/>',
    '<a foo=b"c/>y',
    '<a bar=baz />y',
    '<a foo />y',
])
def test_parse_unquoted_value_trailing_slash_matches_stdlib(html):
    # A '/' ending an unquoted attribute value is part of the VALUE, not a
    # self-close; fast scanner must match html.parser recovery exactly.
    from mre.core.htmlparse import Node, parse_doc_stdlib

    def dump(n):
        return [(n.tag, dict(n.attrib))] + [
            dump(c) if isinstance(c, Node) else c for c in n.content
        ]

    assert dump(parse_doc(html)) == dump(parse_doc_stdlib(html))


def test_parse_unquoted_trailing_slash_keeps_element_open():
    doc = parse_doc('<a rel=author href=/staff/jane/>Jane Doe</a>')
    a = next(doc.iter("a"))
    assert a.get("href") == "/staff/jane/"
    assert collapse_ws(a.text_content()) == "Jane Doe"


# --- E3 render --------------------------------------------------------------


def test_collapse_ws():
    assert collapse_ws("  a \n\t b  ") == "a b"


def test_slugify():
    assert slugify("Council Approves Harbour Plan!") == \
        "council-approves-harbour-plan"


# --- E4/E5 headline ---------------------------------------------------------


def _page(body: str, title: str = "Big Story – Site") -> str:
    return f"<html><head><title>{title}</title></head><body>{body}</body></html>"


def test_headline_h1_wins():
    doc = parse_doc(_page("<h1>Big Story</h1><h2>Other heading here</h2>"))
    h, node = score_headline(doc, "https://x.example/news/big-story/1")
    assert h == "Big Story"
    assert node.tag == "h1"


def test_headline_negative_class_decoy_loses():
    doc = parse_doc(_page(
        '<h2 class="sidebar-title">From The Sidebar</h2>'
        '<div class="story-headline">Big Story</div>'))
    h, _ = score_headline(doc, "https://x.example/news/big-story/1")
    assert h == "Big Story"


def test_headline_og_title_when_no_h1():
    html = ("<html><head><title>Big Story – Site</title>"
            '<meta property="og:title" content="Big Story"></head>'
            "<body><p>text</p></body></html>")
    h, node = score_headline(parse_doc(html), "https://x.example/a/1")
    assert h == "Big Story"
    assert node is None


def test_headline_title_fallback():
    doc = parse_doc("<html><head><title>Only Title – Site</title></head>"
                    "<body><p>no headings at all</p></body></html>")
    h, _ = score_headline(doc, "https://x.example/a/1")
    assert h == "Only Title"


# --- E6 url dates -----------------------------------------------------------

URL_DATE_CASES = [
    ("https://s.example/2024/03/15/slug/", FuzzyDate(2024, 3, 15)),
    ("https://s.example/news/2024-03-15-slug", FuzzyDate(2024, 3, 15)),
    ("https://s.example/20240315/slug", FuzzyDate(2024, 3, 15)),
    ("https://s.example/2024/mar/15/slug", FuzzyDate(2024, 3, 15)),
    ("https://s.example/2024/03/slug", FuzzyDate(2024, 3, None)),
    ("https://s.example/news/slug/123", None),
    ("https://s.example/2024/13/40/x", None),
]


@pytest.mark.parametrize("url,expected", URL_DATE_CASES)
def test_url_date(url, expected):
    assert url_date(url) == expected


# --- E12/E13 byline ---------------------------------------------------------

CLEAN_CASES = [
    ("By Ada Lovelace", ["Ada Lovelace"]),
    ("by Ada Lovelace and Alan Turing", ["Ada Lovelace", "Alan Turing"]),
    ("Ada Lovelace, Alan Turing", ["Ada Lovelace", "Alan Turing"]),
    ("Ada Lovelace & Alan Turing", ["Ada Lovelace", "Alan Turing"]),
    ("Posted by Grace Hopper", ["Grace Hopper"]),
    ("By Jane Doe, Science Correspondent", ["Jane Doe"]),
    ("jane@example.com", []),
    ("By Staff Writer", []),
    ("15 March 2024", []),
    ("By Ada Lovelace | Updated 3 May 2024", ["Ada Lovelace"]),
    ("José Álvarez", ["José Álvarez"]),
    ("", []),
]


@pytest.mark.parametrize("raw,expected", CLEAN_CASES)
def test_clean_authors(raw, expected):
    assert clean_authors(raw) == expected


def test_rel_author_link():
    doc = parse_doc('<body><a rel="author" href="/s">Grace Hopper</a></body>')
    assert extract_authors(doc) == ["Grace Hopper"]


def test_hatom_fn():
    doc = parse_doc('<body><span class="byline vcard">'
                    '<span class="fn">Joan Clarke</span></span></body>')
    assert extract_authors(doc) == ["Joan Clarke"]


def test_meta_author():
    doc = parse_doc('<head><meta name="author" content="Mary Somerville">'
                    "</head><body></body>")
    assert extract_authors(doc) == ["Mary Somerville"]


def test_visible_by_paragraph():
    doc = parse_doc("<body><p>By Claude Shannon and Edsger Dijkstra</p></body>")
    assert extract_authors(doc) == ["Claude Shannon", "Edsger Dijkstra"]


def test_comment_author_not_picked():
    doc = parse_doc('<body><div class="comment author">Troll Guy</div></body>')
    assert extract_authors(doc) == []


# --- E14 content ------------------------------------------------------------


def test_content_basic():
    doc = parse_doc(
        '<body><div class="article-body">'
        "<p>First paragraph of the story, with some detail text.</p>"
        "<p>Second paragraph of the story, with more detail text.</p></div>"
        '<div class="related"><a href="/a">link farm link farm link</a></div>'
        "</body>")
    assert extract_text(doc) == (
        "First paragraph of the story, with some detail text.\n\n"
        "Second paragraph of the story, with more detail text.")


def test_content_link_density_penalty():
    doc = parse_doc(
        '<body><div class="nav-links">'
        '<p><a href="/1">This is a fairly long navigation link one</a></p>'
        '<p><a href="/2">This is a fairly long navigation link two</a></p>'
        "</div>"
        '<div class="content"><p>Actual story paragraph, long enough to '
        "count, talking about events.</p></div></body>")
    assert "Actual story paragraph" in extract_text(doc)
    assert "navigation link" not in extract_text(doc)


def test_content_none_on_empty():
    assert extract_text(parse_doc("<body><div>tiny</div></body>")) is None


# --- microdata (schema.org itemprop) -----------------------------------------


def test_microdata_headline():
    doc = parse_doc(_page('<div itemprop="headline">Big Story</div>'
                          "<p>body text here long enough</p>"))
    h, node = score_headline(doc, "https://x.example/a/1")
    assert h == "Big Story"
    assert node is not None


def test_microdata_author():
    doc = parse_doc('<body><span itemprop="author">'
                    '<span itemprop="name">Radia Perlman</span></span>'
                    "</body>")
    assert extract_authors(doc) == ["Radia Perlman"]


def test_microdata_author_content_attr():
    doc = parse_doc('<body><div itemprop="author" content="Barbara Liskov">'
                    "</div></body>")
    assert extract_authors(doc) == ["Barbara Liskov"]


def test_microdata_date_published():
    import datetime as dt
    from mre.core.pubdate import pick_pubdate
    doc = parse_doc('<body><span itemprop="datePublished" '
                    'content="2024-03-15T10:30:00Z">15 March 2024</span>'
                    "</body>")
    assert pick_pubdate(doc, "https://x.example/a/1") == \
        dt.datetime(2024, 3, 15, 10, 30)


# --- E15: no cyclic garbage --------------------------------------------------
# The extraction kernel runs with cyclic GC disabled and never collects
# (SURVEY.md §7.1 rule 1), so every page's DOM must be freed by reference
# counting: extract_one may leave no reference cycle behind on any path.


def _cyclic_garbage(fn):
    """Objects the cyclic collector finds unreachable after ``fn()`` ran
    with GC disabled (0 = everything ``fn`` dropped was refcount-freed)."""
    was = gc.isenabled()
    gc.collect()
    gc.disable()
    try:
        fn()
        return gc.collect()
    finally:
        if was:
            gc.enable()


def _extract(i):
    return extract_one(FX.url_of(i), FX.html_bytes_of(i),
                       capture_ts=FX.warc_ts_of(i))


def test_extract_one_leaves_no_cyclic_garbage():
    ids = range(300)  # holds size residues 24 (large), 51 and 78 (medium)
    assert {FX.size_class(i) for i in ids} == {"small", "medium", "large"}
    assert len({FX.family_of(i) for i in ids}) == 13
    res = []
    assert _cyclic_garbage(lambda: res.extend(_extract(i) for i in ids)) == 0
    assert 250 < sum(r.ok for r in res) < 300  # truncated pages fail


def test_extract_one_failing_stage_leaves_no_cyclic_garbage(monkeypatch):
    from mre.core import extract

    def boom(doc):
        raise RuntimeError("scorer bug")

    monkeypatch.setattr(extract, "extract_text", boom)
    res = []
    assert _cyclic_garbage(lambda: res.append(_extract(0))) == 0
    assert not res[0].ok


def _feed_half_then_raise(real_feed):
    def feed(self, s):
        real_feed(self, s[:len(s) // 2])  # part of the tree is built
        assert self.root.content
        raise RuntimeError("parser bug")
    return feed


def test_parser_fallback_leaves_no_cyclic_garbage(monkeypatch):
    from mre.core import htmlparse as H
    want = _extract(24)
    monkeypatch.setattr(H._FastScanner, "feed",
                        _feed_half_then_raise(H._FastScanner.feed))
    res = []
    assert _cyclic_garbage(lambda: res.append(_extract(24))) == 0
    assert res[0] == want  # the stdlib fallback parses the same tree
    # the fallback failing as well: no result, still no garbage
    monkeypatch.setattr(H._TreeBuilder, "feed",
                        _feed_half_then_raise(H._TreeBuilder.feed))
    res = []
    assert _cyclic_garbage(lambda: res.append(_extract(24))) == 0
    assert not res[0].ok


def test_extract_kernel_keeps_gc_off_and_never_collects(monkeypatch):
    from test_extract_kernel import CAP, IDS, _batches

    from mre import pipeline

    gc_on, collections = [], []
    real = pipeline.extract_one

    def spy(*a, **kw):
        gc_on.append(gc.isenabled())
        return real(*a, **kw)

    def on_gc(phase, info):
        if phase == "start":
            collections.append(info["generation"])

    def drain():
        out = list(pipeline.extract_batch_arrow(iter(_batches()),
                                                byte_cap=CAP))
        assert len(out) > len(_batches())  # the byte cap split batches
        assert sum(b.num_rows for b in out) == len(IDS) + 1

    monkeypatch.setattr(pipeline, "extract_one", spy)
    drain()  # GC enabled before: off for every page, back on after
    assert gc.isenabled()
    assert gc_on and not any(gc_on)
    # GC disabled before: only an explicit collect could run, and none
    # may; the pages were freed without one
    gc.collect()
    gc.disable()
    gc.callbacks.append(on_gc)
    try:
        drain()
        assert not gc.isenabled()
        assert collections == []
        assert gc.collect() == 0
    finally:
        gc.callbacks.remove(on_gc)
        gc.enable()
