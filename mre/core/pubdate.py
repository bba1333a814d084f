"""E6–E8, E11 — publication-date extraction (SURVEY.md §2A).

Cue sources in descending trust, mirroring the reference [PUB:pubdate]:
URL slug date (E6, short-circuits weaker scanning when complete) >
published-meta tags (E7) > <time>/hAtom elements (E8) > loose classed-text
dates. Candidates carry partial FuzzyDates; reconciliation (E11) merges
partials, rejects future/pre-1990 dates, and prefers agreement with the URL
date. Output is a UTC-naive datetime (midnight when no time cue).
"""

from __future__ import annotations

import datetime as _dt
import re
from dataclasses import dataclass
from typing import Optional
from urllib.parse import urlparse

from .fuzzydate import (FuzzyDate, FuzzyTime, parse_date, parse_iso_datetime,
                        parse_time, to_datetime_utc)
from .htmlparse import Node, memo_search
from .textutil import collapse_ws

# --- E6: URL slug dates -----------------------------------------------------

_MONTH_ABBR = {m: i for i, m in enumerate(
    ["jan", "feb", "mar", "apr", "may", "jun",
     "jul", "aug", "sep", "oct", "nov", "dec"], start=1)}

_URL_YMD_RX = re.compile(r"/(?P<y>20\d{2}|19\d{2})/(?P<m>\d{1,2})/(?P<d>\d{1,2})(?:/|$)")
_URL_ISO_RX = re.compile(r"/(?P<y>20\d{2}|19\d{2})-(?P<m>\d{2})-(?P<d>\d{2})(?:[/.-]|$)")
_URL_COMPACT_RX = re.compile(r"/(?P<y>20\d{2})(?P<m>[01]\d)(?P<d>[0-3]\d)(?:/|$)")
_URL_MON_RX = re.compile(
    r"/(?P<y>20\d{2}|19\d{2})/(?P<mon>jan|feb|mar|apr|may|jun|jul|aug|sep|oct|nov|dec)/(?P<d>\d{1,2})(?:/|$)",
    re.I)
_URL_YM_RX = re.compile(r"/(?P<y>20\d{2}|19\d{2})/(?P<m>[01]?\d)(?:/|$)")


def url_date(url: str) -> Optional[FuzzyDate]:
    """Date encoded in the URL path, highest-trust cue [PUB:pubdate]."""
    path = urlparse(url).path
    for rx in (_URL_YMD_RX, _URL_ISO_RX, _URL_COMPACT_RX):
        m = rx.search(path)
        if m:
            fd = FuzzyDate(int(m.group("y")), int(m.group("m")),
                           int(m.group("d")))
            if fd.date() is not None:
                return fd
    m = _URL_MON_RX.search(path)
    if m:
        fd = FuzzyDate(int(m.group("y")), _MONTH_ABBR[m.group("mon").lower()],
                       int(m.group("d")))
        if fd.date() is not None:
            return fd
    m = _URL_YM_RX.search(path)
    if m and 1 <= int(m.group("m")) <= 12:
        return FuzzyDate(int(m.group("y")), int(m.group("m")), None)
    return None


# --- E7: meta-tag dates -----------------------------------------------------

# meta name/property (lower-cased) → weight; ordered table like the
# reference's lookup [PUB:pubdate]
_META_DATE_WEIGHTS = {
    "article:published_time": 10.0,
    "og:article:published_time": 10.0,
    "originalpublicationdate": 9.0,
    "datepublished": 9.0,
    "dc.date.issued": 8.0,
    "dcterms.created": 8.0,
    "dcterms.date": 7.0,
    "sailthru.date": 7.0,
    "pubdate": 7.0,
    "publish-date": 7.0,
    "publishdate": 7.0,
    "date": 5.0,
    "article:modified_time": 3.0,
    "last-modified": 2.0,
}


@dataclass
class DateCand:
    fd: FuzzyDate
    ft: Optional[FuzzyTime]
    weight: float
    order: int
    source: str


def meta_dates(doc: Node) -> list[DateCand]:
    out: list[DateCand] = []
    order = 0
    for meta in doc.iter("meta"):
        key = (meta.get("property") or meta.get("name")
               or meta.get("itemprop") or "").lower()
        w = _META_DATE_WEIGHTS.get(key)
        if w is None:
            continue
        content = meta.get("content") or ""
        dt = parse_iso_datetime(content)
        if dt is not None:
            out.append(DateCand(
                FuzzyDate(dt.year, dt.month, dt.day),
                FuzzyTime(dt.hour, dt.minute, dt.second, 0), w, order,
                f"meta:{key}"))
        else:
            fd = parse_date(content)
            if fd is not None and not fd.empty():
                out.append(DateCand(fd, parse_time(content), w, order,
                                    f"meta:{key}"))
        order += 1
    return out


# --- E8: element dates ------------------------------------------------------

_DATE_MEMO: dict = {}
_DATE_CLASS_RX = re.compile(
    r"\bdate\b|dateline|\btime\b|timestamp|published|posted|post-date|"
    r"pub-?date|article-date|entry-date", re.I)
_HATOM_PUBLISHED_RX = re.compile(r"\b(published|updated)\b", re.I)


def elem_dates(doc: Node) -> list[DateCand]:
    out: list[DateCand] = []
    order = 0
    for node in doc.iter():
        if node.tag == "time":
            iso = node.get("datetime") or ""
            dt = parse_iso_datetime(iso)
            if dt is not None:
                out.append(DateCand(
                    FuzzyDate(dt.year, dt.month, dt.day),
                    FuzzyTime(dt.hour, dt.minute, dt.second, 0),
                    8.0, order, "time@datetime"))
                order += 1
                continue
            fd = parse_date(iso) or parse_date(
                collapse_ws(node.text_content()))
            if fd is not None and not fd.empty():
                out.append(DateCand(fd,
                                    parse_time(iso)
                                    or parse_time(node.text_content()),
                                    6.0, order, "time@text"))
                order += 1
            continue
        if node.tag == "abbr" and _HATOM_PUBLISHED_RX.search(
                " ".join(node.classes)):
            title = node.get("title") or ""
            dt = parse_iso_datetime(title)
            if dt is not None:
                out.append(DateCand(
                    FuzzyDate(dt.year, dt.month, dt.day),
                    FuzzyTime(dt.hour, dt.minute, dt.second, 0),
                    7.0, order, "hatom"))
                order += 1
            continue
        itemprop = ((node.get("itemprop") or "").lower()
                    if node.attrib else "")
        if itemprop in ("datepublished", "datecreated"):
            # microdata on a non-<time> element: content attr, then text
            src = node.get("content") or collapse_ws(node.text_content())
            dt = parse_iso_datetime(src)
            if dt is not None:
                out.append(DateCand(
                    FuzzyDate(dt.year, dt.month, dt.day),
                    FuzzyTime(dt.hour, dt.minute, dt.second, 0),
                    8.0, order, "microdata"))
                order += 1
                continue
            fd = parse_date(src)
            if fd is not None and not fd.empty():
                out.append(DateCand(fd, parse_time(src), 6.0, order,
                                    "microdata"))
                order += 1
                continue
        if memo_search(_DATE_CLASS_RX, _DATE_MEMO, node.class_id):
            txt = collapse_ws(node.text_content())
            if len(txt) > 120:  # long text blobs aren't datelines
                continue
            fd = parse_date(txt)
            if fd is not None and not fd.empty():
                out.append(DateCand(fd, parse_time(txt), 4.0, order,
                                    "classed-text"))
                order += 1
    return out


# --- E11: reconcile ---------------------------------------------------------

_MIN_DATE = _dt.date(1990, 1, 1)
# determinism (SURVEY.md §4.3): "future" is relative to a fixed horizon, not
# the wall clock; no caller passes another one (the capture timestamp only
# anchors relative datelines, ``relative_pubdate``).
_DEFAULT_HORIZON = _dt.date(2999, 12, 31)


def relative_pubdate(doc: Node,
                     capture_ts: _dt.datetime) -> Optional[_dt.datetime]:
    """Lowest-trust cue: a relative dateline ("3 hours ago") resolved
    against the crawl capture time. Deterministic — anchored to warc_ts,
    never the wall clock; first matching date-classed element wins."""
    from .fuzzydate import parse_relative
    for node in doc.iter():
        if node.tag == "time" or memo_search(_DATE_CLASS_RX, _DATE_MEMO, node.class_id):
            txt = collapse_ws(node.text_content())
            if len(txt) > 80:
                continue
            delta = parse_relative(txt)
            if delta is not None:
                return capture_ts - delta
    return None


def pick_pubdate(doc: Node, url: str,
                 jsonld=None,
                 capture_ts: Optional[_dt.datetime] = None
                 ) -> Optional[_dt.datetime]:
    """E6→E11 composed: best publication datetime for the document."""
    udate = url_date(url)

    # E6 short-circuit: a complete url date wins outright; only look at
    # other cues for the time-of-day [PUB:pubdate early-exit, behavior-visible]
    cands = meta_dates(doc)
    cands.extend(elem_dates(doc))
    for i, meta in enumerate(jsonld or []):
        if meta.date_published is not None:
            dt = meta.date_published
            cands.append(DateCand(
                FuzzyDate(dt.year, dt.month, dt.day),
                FuzzyTime(dt.hour, dt.minute, dt.second, 0),
                11.0, -len(jsonld or []) + i, "jsonld"))  # strongest cue

    def in_range(fd: FuzzyDate) -> bool:
        d = fd.date()
        return d is not None and _MIN_DATE <= d <= _DEFAULT_HORIZON

    if udate is not None and udate.complete() and in_range(udate):
        ft: Optional[FuzzyTime] = None
        for c in sorted(cands, key=lambda c: (-c.weight, c.order)):
            if c.fd.match(udate) and c.ft is not None and not c.ft.empty():
                ft = c.ft
                break
        return to_datetime_utc(udate, ft)

    if not cands:
        if udate is not None:
            merged = udate.merge(FuzzyDate(None, None, 1))  # partial → 1st
            if merged.complete() and in_range(merged):
                return to_datetime_utc(merged, None)
        if capture_ts is not None:
            return relative_pubdate(doc, capture_ts)
        return None

    best: Optional[DateCand] = None
    best_score = float("-inf")
    for c in cands:
        fd = c.fd
        if udate is not None and fd.match(udate):
            fd = fd.merge(udate)
        if not fd.complete():
            # merge with other candidates' fields (highest-weight first)
            for o in sorted(cands, key=lambda x: (-x.weight, x.order)):
                if o is c:
                    continue
                if fd.match(o.fd):
                    fd = fd.merge(o.fd)
                if fd.complete():
                    break
        if not fd.complete() or not in_range(fd):
            continue
        score = c.weight
        if udate is not None and c.fd.match(udate):
            score += 3.0
        if score > best_score:
            best_score = score
            best = DateCand(fd, c.ft, c.weight, c.order, c.source)
    if best is None:
        if capture_ts is not None:
            return relative_pubdate(doc, capture_ts)
        return None
    return to_datetime_utc(best.fd, best.ft)


__all__ = ["url_date", "meta_dates", "elem_dates", "pick_pubdate",
           "relative_pubdate", "DateCand"]
