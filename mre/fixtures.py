"""Deterministic synthetic corpus per FIXTURES.md (seed-free: every value is
a pure function of ``doc_id``), plus golden expected outputs computed from
the *template parameters* — NOT by running the extractor — so byte-level
golden comparison is a real test.

Template families F1–F13 (FIXTURES.md §3) each isolate one heuristic from
SURVEY.md §2A. doc_id % 100 → family band:

  F1  0-14  plain h1            F13 65-69 relative dateline (vs warc_ts)
  F2  15-24 classed div         F7  70-74 fuzzy text date
  F3  25-34 og:title            F8  75-84 hAtom byline
  F4  35-44 slug-date url       F9  85-94 "By X and Y"
  F5  45-49 meta pubdate        F10 95-97 charset (iso-8859-1)
  F12 50-54 JSON-LD             F11 98-99 malformed markup
  F6  55-64 time element

Size classes ((doc_id*37+11) % 100): <97 small ~4KB, 97-98 medium ~64KB
filler, 99 large ~1MB filler. Filler is link-only ``<div class="related">``
boilerplate that E14 must strip. doc_id % 100 == 53 → html truncated to its
first 150 bytes (head prefix, before <title>) → all-null golden row.
doc_id % 100 in {10,30,50,70,90} → a duplicate capture 1h later (dedup
exercise; golden has one row per url).
"""

from __future__ import annotations

import datetime as dt
import os
import re
from typing import Optional

# ---------------------------------------------------------------------------
# wordlists (fixed; indexed by doc_id — no RNG)

SITES = ["dailyherald", "metrotimes", "coastgazette", "northpost",
         "cityledger", "weeklysignal"]
SECTIONS = ["news", "politics", "business", "sport", "culture", "science",
            "world"]
HEADWORDS = [
    "Council", "Harbour", "Bridge", "Budget", "Election", "Museum",
    "Hospital", "Railway", "Festival", "Cricket", "Library", "Airport",
    "Market", "School", "River", "Castle", "Summit", "Treaty", "Verdict",
    "Inquiry", "Reform", "Deal", "Strike", "Merger", "Launch", "Review",
]
HEADVERBS = ["Approves", "Rejects", "Unveils", "Delays", "Expands",
             "Questions", "Backs", "Halts", "Revives", "Secures"]
FIRST_NAMES = ["Ada", "Alan", "Grace", "Edgar", "Joan", "Claude", "Mary",
               "Linus", "Radia", "Edsger", "Barbara", "Donald"]
LAST_NAMES = ["Lovelace", "Turing", "Hopper", "Codd", "Clarke", "Shannon",
              "Somerville", "Daly", "Perlman", "Wirth", "Liskov", "Knuth"]
ACCENT_FIRST = ["José", "Agnès", "Søren", "Zoë", "René", "Björn"]
ACCENT_LAST = ["Álvarez", "Müller", "Fernández", "Ibáñez", "Céspedes",
               "Ångström"]
NOUNS = ["transport links", "local residents", "the waterfront",
         "city planners", "the committee", "regional funding",
         "the proposal", "emergency services", "wildlife habitats",
         "public records"]
TAILS = [
    "would be reviewed before the end of the year",
    "had drawn support from across the region",
    "remained a contentious point for campaigners",
    "was expected to cost several million pounds",
    "could reshape the area for a generation",
    "has been under discussion for months",
    "will proceed despite earlier objections",
    "met with a mixed response from the public",
]

EPOCH = dt.datetime(2024, 1, 1, 0, 0, 0)

_FAMILY_BANDS = [
    (15, "F1"), (25, "F2"), (35, "F3"), (45, "F4"), (50, "F5"),
    (55, "F12"), (65, "F6"), (70, "F13"), (75, "F7"), (85, "F8"),
    (95, "F9"), (98, "F10"), (100, "F11"),
]


def family_of(doc_id: int) -> str:
    r = doc_id % 100
    for bound, fam in _FAMILY_BANDS:
        if r < bound:
            return fam
    raise AssertionError


def is_truncated(doc_id: int) -> bool:
    return doc_id % 100 == 53


def has_duplicate(doc_id: int) -> bool:
    return doc_id % 100 in (10, 30, 50, 70, 90)


def size_class(doc_id: int) -> str:
    r = (doc_id * 37 + 11) % 100
    if r < 97:
        return "small"
    return "medium" if r < 99 else "large"


# ---------------------------------------------------------------------------
# deterministic page parameters


def headline_of(doc_id: int) -> str:
    w1 = HEADWORDS[doc_id % len(HEADWORDS)]
    v = HEADVERBS[(doc_id // 3) % len(HEADVERBS)]
    w2 = HEADWORDS[(doc_id * 7 + 5) % len(HEADWORDS)]
    w3 = HEADWORDS[(doc_id * 11 + 13) % len(HEADWORDS)]
    return f"{w1} {v} {w2} {w3} Plan"


def authors_of(doc_id: int) -> list[str]:
    fam = family_of(doc_id)
    if fam == "F8":
        return [f"{FIRST_NAMES[doc_id % len(FIRST_NAMES)]} "
                f"{LAST_NAMES[(doc_id * 5 + 1) % len(LAST_NAMES)]}"]
    if fam == "F9":
        a = (f"{FIRST_NAMES[doc_id % len(FIRST_NAMES)]} "
             f"{LAST_NAMES[(doc_id * 5 + 1) % len(LAST_NAMES)]}")
        b = (f"{FIRST_NAMES[(doc_id + 4) % len(FIRST_NAMES)]} "
             f"{LAST_NAMES[(doc_id * 5 + 7) % len(LAST_NAMES)]}")
        return [a, b]
    if fam == "F10":
        return [f"{ACCENT_FIRST[doc_id % len(ACCENT_FIRST)]} "
                f"{ACCENT_LAST[(doc_id * 3 + 2) % len(ACCENT_LAST)]}"]
    if fam == "F12":
        return [f"{FIRST_NAMES[(doc_id + 7) % len(FIRST_NAMES)]} "
                f"{LAST_NAMES[(doc_id * 3 + 4) % len(LAST_NAMES)]}"]
    return []


def pub_dt_of(doc_id: int) -> Optional[dt.datetime]:
    """Expected pubdate (UTC-naive) per family; None when family has no
    date cue."""
    fam = family_of(doc_id)
    d = dt.date(2024, 1, 1) + dt.timedelta(days=doc_id % 365)
    if fam == "F4":
        return dt.datetime(d.year, d.month, d.day)  # url date → midnight
    if fam in ("F5", "F12"):
        local_h, minute = 6 + doc_id % 12, doc_id % 60
        return dt.datetime(d.year, d.month, d.day, local_h - 2, minute)
    if fam in ("F6", "F11"):
        return dt.datetime(d.year, d.month, d.day, doc_id % 24, doc_id % 60)
    if fam == "F13":
        # relative dateline resolved against the capture time
        hours = 1 + doc_id % 12
        return warc_ts_of(doc_id) - dt.timedelta(hours=hours)
    if fam == "F7":
        # dd/mm/yy text needs day ≤ 28 and an unambiguous golden under
        # dayfirst; hour written as 1..9pm
        d = d.replace(day=1 + doc_id % 28)
        return dt.datetime(d.year, d.month, d.day, 13 + doc_id % 9,
                           doc_id % 60)
    return None


_slug_rx = re.compile(r"[^a-z0-9]+")


def _slug(s: str) -> str:
    return _slug_rx.sub("-", s.lower()).strip("-")


def url_of(doc_id: int) -> str:
    site = SITES[doc_id % len(SITES)]
    section = SECTIONS[doc_id % len(SECTIONS)]
    slug = _slug(headline_of(doc_id))
    if family_of(doc_id) == "F4":
        p = pub_dt_of(doc_id)
        mid = f"{p.year}/{p.month:02d}/{p.day:02d}/{slug}"
    else:
        mid = f"{section}/{slug}"
    return f"https://{site}.example/{mid}/{doc_id}"


def paragraphs_of(doc_id: int) -> list[str]:
    n = 3 + doc_id % 6
    out = []
    for i in range(n):
        noun = NOUNS[(doc_id + i * 3) % len(NOUNS)]
        tail = TAILS[(doc_id * 7 + i) % len(TAILS)]
        noun2 = NOUNS[(doc_id + i * 5 + 2) % len(NOUNS)]
        out.append(
            f"Officials said that {noun}, together with {noun2}, {tail}."
        )
    return out


def warc_ts_of(doc_id: int) -> dt.datetime:
    return EPOCH + dt.timedelta(seconds=doc_id * 137)


def lang_of(doc_id: int) -> str:
    return ["en", "en", "en", "fr", "es", "de", "zh"][doc_id % 7]


# ---------------------------------------------------------------------------
# HTML rendering

_ORD = {1: "st", 2: "nd", 3: "rd", 21: "st", 22: "nd", 23: "rd",
        31: "st"}
_MONTH_NAMES = ["January", "February", "March", "April", "May", "June",
                "July", "August", "September", "October", "November",
                "December"]


def _ordinal(day: int) -> str:
    return f"{day}{_ORD.get(day, 'th')}"


def _filler(doc_id: int) -> str:
    sc = size_class(doc_id)
    if sc == "small":
        return ""
    n = 780 if sc == "medium" else 12600  # ≈64KB / ≈1MB
    blocks = [
        f'<div class="related"><a href="/r/{doc_id}/{i}">Related coverage '
        f'item number {i} from the archive desk</a></div>'
        for i in range(n)
    ]
    return "\n".join(blocks)


def render_html(doc_id: int) -> str:
    fam = family_of(doc_id)
    site = SITES[doc_id % len(SITES)].title()
    headline = headline_of(doc_id)
    paras = paragraphs_of(doc_id)
    pub = pub_dt_of(doc_id)
    authors = authors_of(doc_id)

    charset = "iso-8859-1" if fam == "F10" else "utf-8"
    head_meta = [
        f'<meta charset="{charset}">',
        '<meta name="viewport" content="width=device-width">',
        '<meta name="generator" content="mre-fixture-generator/1.0">',
    ]
    # en-dash is outside iso-8859-1 → plain hyphen for the charset family
    sep = " - " if fam == "F10" else " – "
    title = f"{headline}{sep}{site}"
    headline_block = f"<h1>{headline}</h1>"
    byline_block = ""
    dateline_block = ""

    if fam == "F2":
        headline_block = (
            '<h2 class="sidebar-title">More From The Sidebar</h2>'
            f'<div class="story-headline">{headline}</div>'
        )
    elif fam == "F3":
        head_meta.append(f'<meta property="og:title" content="{headline}">')
        headline_block = '<div class="kicker">Latest update</div>'
    elif fam == "F5":
        iso = (pub + dt.timedelta(hours=2)).strftime("%Y-%m-%dT%H:%M:%S+02:00")
        head_meta.append(
            f'<meta property="article:published_time" content="{iso}">')
    elif fam in ("F6", "F11"):
        iso = pub.strftime("%Y-%m-%dT%H:%M:%SZ")
        visible = (f"{_ordinal(pub.day)} {_MONTH_NAMES[pub.month - 1]} "
                   f"{pub.year}")
        dateline_block = (f'<p class="dateline"><time datetime="{iso}">'
                          f"{visible}</time></p>")
    elif fam == "F7":
        dateline_block = (
            f'<div class="dateline">Posted: {pub.day:02d}/{pub.month:02d}/'
            f"{pub.year % 100:02d} {(pub.hour - 12)}:{pub.minute:02d}pm</div>"
        )
    elif fam == "F8":
        byline_block = (
            '<span class="byline vcard">'
            f'<a rel="author" class="fn" href="/staff/{doc_id}">'
            f"{authors[0]}</a></span>"
        )
    elif fam == "F9":
        byline_block = f"<p>By {authors[0]} and {authors[1]}</p>"
    elif fam == "F10":
        head_meta.append(f'<meta name="author" content="{authors[0]}">')
    elif fam == "F13":
        hours = 1 + doc_id % 12
        dateline_block = (f'<div class="timestamp">{hours} hours ago'
                          "</div>")
    elif fam == "F12":
        iso = (pub + dt.timedelta(hours=2)).strftime(
            "%Y-%m-%dT%H:%M:%S+02:00")
        ld = ('{"@context": "https://schema.org", "@type": "NewsArticle", '
              + f'"headline": "{headline}", "datePublished": "{iso}", '
              + '"author": {"@type": "Person", "name": "'
              + authors[0] + '"}}')
        head_meta.append(
            f'<script type="application/ld+json">{ld}</script>')
        headline_block = '<div class="kicker">From the newsroom</div>'

    body_paras = "\n".join(f"<p>{p}</p>" for p in paras)

    if fam == "F11":
        # malformed: unclosed <div>, unclosed <p>s, stray </b>
        body_paras = "\n".join(f"<p>{p}" for p in paras)
        article = f"""<div class="story-wrap">
{headline_block}
{byline_block}
{dateline_block}
<div class="article-body">
{body_paras}
</div>
</b>
"""
    else:
        article = f"""<article>
{headline_block}
{byline_block}
{dateline_block}
<div class="article-body">
{body_paras}
</div>
</article>"""

    meta_html = "\n".join(head_meta)
    return f"""<!DOCTYPE html>
<html lang="{lang_of(doc_id)}">
<head>
{meta_html}
<title>{title}</title>
</head>
<body>
<nav class="main-nav"><a href="/">Home</a> <a href="/news">News</a> <a href="/sport">Sport</a></nav>
<div class="site-header"><a href="/">{site}</a></div>
{article}
{_filler(doc_id)}
<div class="related"><a href="/more">More stories</a> <a href="/top">Top stories</a></div>
<footer class="site-footer"><p class="footer-note">All rights reserved. Reuse of this material requires written permission.</p></footer>
</body>
</html>
"""


def html_bytes_of(doc_id: int) -> bytes:
    s = render_html(doc_id)
    enc = "iso-8859-1" if family_of(doc_id) == "F10" else "utf-8"
    b = s.encode(enc)
    if is_truncated(doc_id):
        b = b[:150]  # head prefix only — before <title>; parse yields nothing
    return b


# ---------------------------------------------------------------------------
# rows


def page_row(doc_id: int, dup: bool = False) -> dict:
    html = html_bytes_of(doc_id)
    txt = None
    if doc_id % 2 == 0:
        txt = " ".join(paragraphs_of(doc_id))
    ts = warc_ts_of(doc_id)
    if dup:
        ts += dt.timedelta(hours=1)
    return {
        "url": url_of(doc_id),
        "warc_ts": ts,
        "html": html,
        "text": txt,
        "lang": lang_of(doc_id),
    }


def golden_row(doc_id: int) -> dict:
    if is_truncated(doc_id):
        return {"url": url_of(doc_id), "headline": None, "pubdate": None,
                "authors": None, "extracted_text": None}
    authors = authors_of(doc_id)
    return {
        "url": url_of(doc_id),
        "headline": headline_of(doc_id),
        "pubdate": pub_dt_of(doc_id),
        "authors": authors or None,
        "extracted_text": "\n\n".join(paragraphs_of(doc_id)),
    }


def gen_pages(n: int) -> list[dict]:
    """n unique docs, plus duplicate captures for the ~5% dup band —
    emitted in doc_id order, dup immediately after its original."""
    rows = []
    for i in range(n):
        rows.append(page_row(i))
        if has_duplicate(i):
            rows.append(page_row(i, dup=True))
    return rows


def gen_golden(n: int) -> list[dict]:
    return [golden_row(i) for i in range(n)]


# ---------------------------------------------------------------------------
# parquet writing (pyarrow — no Spark needed to generate fixtures)


def write_oracle_golden(path: str, n: int = 5000) -> str:
    """Materialize the golden extraction table (doc_id-keyed, so a DuckDB
    oracle can JOIN it against any sf's ``documents`` view) at ``path``.
    Pure function of doc_id → idempotent; regenerated only when missing,
    under-sized or unreadable. Timestamps naive == UTC, matching
    EXTRACT_SCHEMA under a UTC session."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    if os.path.exists(path):
        try:
            if pq.read_metadata(path).num_rows >= n:
                return path
        except (OSError, pa.ArrowInvalid):
            pass  # truncated or corrupt cached file: regenerate it
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    schema = pa.schema([
        pa.field("doc_id", pa.int64(), nullable=False),
        pa.field("url", pa.string(), nullable=False),
        pa.field("headline", pa.string()),
        pa.field("pubdate", pa.timestamp("us")),
        pa.field("authors", pa.list_(pa.string())),
        pa.field("extracted_text", pa.string()),
    ])
    rows = [dict(golden_row(i), doc_id=i) for i in range(n)]
    tmp = path + ".tmp"
    with pq.ParquetWriter(tmp, schema) as w:
        for s in range(0, len(rows), 5000):
            w.write_table(pa.Table.from_pylist(rows[s:s + 5000],
                                               schema=schema))
    os.replace(tmp, path)
    return path


def write_fixture_parquet(out_dir: str, n: int = 200) -> tuple[str, str]:
    """Write pages.parquet + golden.parquet under ``out_dir``; returns the
    two paths. Timestamps are stored naive == UTC (sessions pin UTC)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    pages = gen_pages(n)
    golden = gen_golden(n)

    pages_schema = pa.schema([
        pa.field("url", pa.string(), nullable=False),
        pa.field("warc_ts", pa.timestamp("us"), nullable=False),
        pa.field("html", pa.binary()),
        pa.field("text", pa.string()),
        pa.field("lang", pa.string()),
    ])
    golden_schema = pa.schema([
        pa.field("url", pa.string(), nullable=False),
        pa.field("headline", pa.string()),
        pa.field("pubdate", pa.timestamp("us")),
        pa.field("authors", pa.list_(pa.string())),
        pa.field("extracted_text", pa.string()),
    ])
    pages_path = os.path.join(out_dir, "pages.parquet")
    golden_path = os.path.join(out_dir, "golden.parquet")
    chunk = 5000  # bound writer memory for large corpora (bench uses 50k+)
    with pq.ParquetWriter(pages_path, pages_schema) as w:
        for s in range(0, len(pages), chunk):
            w.write_table(pa.Table.from_pylist(pages[s:s + chunk],
                                               schema=pages_schema))
    with pq.ParquetWriter(golden_path, golden_schema) as w:
        for s in range(0, len(golden), chunk):
            w.write_table(pa.Table.from_pylist(golden[s:s + chunk],
                                               schema=golden_schema))
    return pages_path, golden_path


__all__ = [
    "family_of", "headline_of", "authors_of", "pub_dt_of", "url_of",
    "paragraphs_of", "render_html", "html_bytes_of", "page_row",
    "golden_row", "gen_pages", "gen_golden", "write_fixture_parquet",
    "write_oracle_golden",
    "is_truncated", "has_duplicate", "size_class", "warc_ts_of", "lang_of",
]
