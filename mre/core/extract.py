"""E15 — top-level extraction: E1→E14 composed (SURVEY.md §2A).

``extract_one`` never raises: any failure inside the stages yields all-null
extraction columns plus ok=0 (failure isolation at 10^12 docs —
SURVEY.md §4.3). The stage order is fixed by the reference's data
dependency [PUB:__init__.extract]: headline → pubdate → authors → text.
"""

from __future__ import annotations

import datetime as _dt
from dataclasses import dataclass
from typing import Optional

from .byline import extract_authors
from .content import extract_text
from .headline import score_headline
from .htmlparse import parse_doc
from .jsonld import extract_jsonld
from .pubdate import pick_pubdate
from .textutil import decode_html


@dataclass
class ExtractResult:
    url: str
    headline: Optional[str]
    pubdate: Optional[_dt.datetime]  # UTC-naive
    authors: Optional[list[str]]
    extracted_text: Optional[str]
    ok: bool


_FAILED = (None, None, None, None)


def extract_one(url: str, html: Optional[bytes],
                capture_ts: Optional[_dt.datetime] = None,
                content_type: Optional[str] = None) -> ExtractResult:
    """One page → (headline, pubdate, authors, extracted_text); never
    raises. ``capture_ts`` (the crawl's warc_ts) anchors relative
    datelines ("3 hours ago") — never the wall clock. ``content_type``
    (HTTP header, when the source table carries it) feeds the E1 charset
    decode order. Leaves no cyclic garbage: the parsed tree is released
    before returning, so callers may run it with cyclic GC disabled."""
    if html is None or len(html) == 0:
        return ExtractResult(url, *_FAILED, ok=False)
    doc = None
    try:
        text = decode_html(html, content_type)
        doc = parse_doc(text)
        # sanity: a usable page has a <body>-ish amount of structure
        if not doc.content:
            return ExtractResult(url, *_FAILED, ok=False)
        jsonld = extract_jsonld(doc)
        headline, _h_node = score_headline(doc, url, jsonld=jsonld)
        pubdate = pick_pubdate(doc, url, jsonld=jsonld,
                               capture_ts=capture_ts)
        authors = extract_authors(doc, jsonld=jsonld)
        body = extract_text(doc)
        if headline is None and pubdate is None and not authors \
                and body is None:
            return ExtractResult(url, *_FAILED, ok=False)
        return ExtractResult(url, headline, pubdate, authors or None, body,
                             ok=True)
    except Exception:
        # malformed page → null outputs, never a task failure
        return ExtractResult(url, *_FAILED, ok=False)
    finally:
        # on every path: the page's DOM is freed here by reference
        # counting, not by a later cyclic GC pass (SURVEY.md §7.1)
        if doc is not None:
            doc.release()


__all__ = ["extract_one", "ExtractResult"]
