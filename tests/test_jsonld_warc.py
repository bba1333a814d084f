"""JSON-LD metadata extraction (E7b/E12b) + WARC source tests."""

import datetime as dt
import os

from mre.core.extract import extract_one
from mre.core.htmlparse import parse_doc
from mre.core.jsonld import extract_jsonld


def _page(ld: str, body: str = "") -> str:
    return (f'<html><head><title>T</title>'
            f'<script type="application/ld+json">{ld}</script></head>'
            f"<body>{body}</body></html>")


def test_jsonld_basic():
    doc = parse_doc(_page(
        '{"@type": "NewsArticle", "headline": "Big Story",'
        ' "datePublished": "2024-03-15T10:30:00+02:00",'
        ' "author": {"@type": "Person", "name": "Ada Lovelace"}}'))
    metas = extract_jsonld(doc)
    assert len(metas) == 1
    assert metas[0].headline == "Big Story"
    assert metas[0].date_published == dt.datetime(2024, 3, 15, 8, 30)
    assert metas[0].authors == ["Ada Lovelace"]


def test_jsonld_graph_and_author_list():
    doc = parse_doc(_page(
        '{"@graph": [{"@type": "WebPage"}, {"@type": ["Article"],'
        ' "headline": "H", "author": [{"name": "A B"}, {"name": "C D"}]}]}'))
    metas = extract_jsonld(doc)
    assert len(metas) == 1
    assert metas[0].authors == ["A B", "C D"]


def test_jsonld_junk_ignored():
    doc = parse_doc(_page("{not valid json"))
    assert extract_jsonld(doc) == []
    doc = parse_doc(_page('{"@type": "Organization", "name": "X"}'))
    assert extract_jsonld(doc) == []


def test_plain_scripts_still_dropped():
    doc = parse_doc("<body><script>var x = '<p>no</p>';</script>"
                    "<p>yes</p></body>")
    assert "no" not in doc.text_content()
    assert "yes" in doc.text_content()


def test_extract_one_uses_jsonld():
    html = _page(
        '{"@type": "NewsArticle", "headline": "Quiet Launch Announced",'
        ' "datePublished": "2024-05-01T06:00:00Z",'
        ' "author": "Grace Hopper"}',
        '<div class="article-body"><p>A fairly long paragraph about the '
        "launch, with enough characters to count.</p></div>").encode()
    r = extract_one("https://x.example/news/quiet-launch-announced/9", html)
    assert r.headline == "Quiet Launch Announced"
    assert r.pubdate == dt.datetime(2024, 5, 1, 6, 0)
    assert r.authors == ["Grace Hopper"]


# --- WARC source ------------------------------------------------------------


def test_warc_roundtrip_pure(tmp_path):
    from mre import fixtures as FX
    from mre.sources.warc import pages_from_warc_bytes, write_warc_gz
    p = str(tmp_path / "f.warc.gz")
    write_warc_gz(p, list(range(30)))
    rows = pages_from_warc_bytes(p, open(p, "rb").read())
    assert len(rows) == 30
    for i, r in enumerate(rows):
        assert r["url"] == FX.url_of(i)
        assert r["html"] == FX.html_bytes_of(i)


def test_warc_spark_source_matches_golden(spark, tmp_path):
    from mre.pipeline import golden_diff, run_extract_df
    from mre.fixtures import gen_golden
    from mre.sources.warc import read_warc, write_warc_gz
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "warcs")
    os.makedirs(d)
    # two shard files, like a crawl segment
    write_warc_gz(os.path.join(d, "shard-0.warc.gz"), list(range(0, 40)))
    write_warc_gz(os.path.join(d, "shard-1.warc.gz"), list(range(40, 80)))

    pages = read_warc(spark, d)
    assert pages.count() == 80
    out = run_extract_df(pages, buckets=8).select(
        "url", "headline", "pubdate", "authors", "extracted_text")

    golden = gen_golden(80)
    gschema = pa.schema([
        pa.field("url", pa.string()), pa.field("headline", pa.string()),
        pa.field("pubdate", pa.timestamp("us")),
        pa.field("authors", pa.list_(pa.string())),
        pa.field("extracted_text", pa.string())])
    gpath = str(tmp_path / "golden.parquet")
    pq.write_table(pa.Table.from_pylist(golden, schema=gschema), gpath)
    gdf = spark.read.parquet(gpath)
    assert golden_diff(out, gdf).count() == 0


def test_warc_malformed_bytes():
    from mre.sources.warc import pages_from_warc_bytes
    assert pages_from_warc_bytes("x", b"") == []
    assert pages_from_warc_bytes("x", b"garbage" * 100) == []
    assert pages_from_warc_bytes("x", b"WARC/1.0\r\nbroken") == []


def test_warc_content_type_charset_wins_over_meta(spark, tmp_path):
    """VERDICT r2 #2: the HTTP Content-Type charset must reach E1 from the
    WARC source and OUTRANK a lying <meta charset> declaration."""
    import gzip
    import io as _io

    from mre.sources.warc import pages_from_warc_bytes, read_warc
    from mre.pipeline import run_extract_df

    # body really ISO-8859-1; meta claims utf-8 (é = 0xE9 is invalid utf-8
    # as a lone byte, so a utf-8 decode mangles it to U+FFFD)
    body_txt = ('<html><head><meta charset="utf-8">'
                '<title>Café récit</title></head>'
                '<body><h1>Café récit</h1>'
                '<div id="article"><p>Un récit de café, écrit é é é, long '
                'enough to be the main content block of this page.</p>'
                '</div></body></html>')
    body = body_txt.encode("iso-8859-1")
    http = (b"HTTP/1.1 200 OK\r\n"
            b"Content-Type: text/html; charset=ISO-8859-1\r\n"
            b"Content-Length: " + str(len(body)).encode() + b"\r\n\r\n"
            + body)
    hdr = ("WARC/1.0\r\n"
           "WARC-Type: response\r\n"
           "WARC-Target-URI: https://ct.example/cafe\r\n"
           "WARC-Date: 2024-05-01T06:00:00Z\r\n"
           f"Content-Length: {len(http)}\r\n"
           "Content-Type: application/http; msgtype=response\r\n"
           ).encode("latin-1")
    record = hdr + b"\r\n" + http + b"\r\n\r\n"
    buf = _io.BytesIO()
    with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
        gz.write(record)
    p = str(tmp_path / "ct.warc.gz")
    open(p, "wb").write(buf.getvalue())

    # pure layer: the header is captured
    rows = pages_from_warc_bytes(p, open(p, "rb").read())
    assert rows[0]["content_type"] == "text/html; charset=ISO-8859-1"

    # spark layer: header charset wins end-to-end (no U+FFFD, é intact)
    out = run_extract_df(read_warc(spark, p), buckets=2).collect()
    assert len(out) == 1
    assert out[0]["headline"] == "Café récit"
    assert "é é é" in out[0]["extracted_text"]
    assert "�" not in out[0]["extracted_text"]

    # control: without the header hint the lying meta wins and mangles
    from mre.core.extract import extract_one
    r = extract_one("https://ct.example/cafe", body)
    assert "�" in (r.extracted_text or "")
