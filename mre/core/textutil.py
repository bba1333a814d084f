"""E1 charset resolve/decode + the shared text normalizers (SURVEY.md §2A).

E1 mirrors the reference's decode order [PUB:util]: BOM → <meta charset> /
http-equiv sniff over the byte prefix → utf-8 try → latin-1 fallback, always
with errors="replace" so decoding never raises.

``collapse_ws`` is E3's whitespace rule (runs collapse to one space, the
result is stripped); element rendering itself lives in
``content._render_paragraphs``. ``slugify`` serves E5's url-slug match.
"""

from __future__ import annotations

import re
from typing import Optional


# --- E1: charset resolution ------------------------------------------------

_META_CHARSET_RX = re.compile(
    rb"""<meta[^>]+charset\s*=\s*["']?([a-zA-Z0-9_\-]+)""", re.I
)
_XML_DECL_RX = re.compile(rb"""<\?xml[^>]+encoding=["']([a-zA-Z0-9_\-]+)""", re.I)

_BOMS = (
    (b"\xef\xbb\xbf", "utf-8-sig"),
    (b"\xff\xfe\x00\x00", "utf-32-le"),
    (b"\x00\x00\xfe\xff", "utf-32-be"),
    (b"\xff\xfe", "utf-16-le"),
    (b"\xfe\xff", "utf-16-be"),
)

_CHARSET_ALIASES = {
    "iso-8859-1": "iso-8859-1",
    "latin-1": "iso-8859-1",
    "latin1": "iso-8859-1",
    "windows-1252": "cp1252",
    "cp1252": "cp1252",
    "utf8": "utf-8",
    "utf-8": "utf-8",
    "us-ascii": "ascii",
}


def sniff_charset(b: bytes) -> Optional[str]:
    """Charset declared in the first 2KB of the document, if any."""
    head = b[:2048]
    m = _META_CHARSET_RX.search(head) or _XML_DECL_RX.search(head)
    if m:
        name = m.group(1).decode("ascii", "replace").lower()
        return _CHARSET_ALIASES.get(name, name)
    return None


_CT_CHARSET_RX = re.compile(r"charset\s*=\s*[\"']?([a-zA-Z0-9_\-]+)", re.I)


def charset_from_content_type(content_type: Optional[str]) -> Optional[str]:
    """Charset from an HTTP Content-Type header value
    (e.g. ``text/html; charset=ISO-8859-1``), normalized; None if absent."""
    if not content_type:
        return None
    m = _CT_CHARSET_RX.search(content_type)
    if not m:
        return None
    name = m.group(1).lower()
    return _CHARSET_ALIASES.get(name, name)


def decode_html(b: bytes, content_type: Optional[str] = None) -> str:
    """Bytes → str; never raises. Decode order: BOM, HTTP Content-Type
    charset hint, declared (meta/xml) charset, utf-8, latin-1 (latin-1
    maps every byte, so this always succeeds).

    ``content_type`` is the transport-layer hint (HTTP header). The WARC
    source captures it as a nullable ``content_type`` side column and the
    extraction map threads it here; parquet page tables without that
    column simply pass None. BOM still outranks it (byte-level certainty
    beats a server config)."""
    if not b:
        return ""
    for bom, enc in _BOMS:
        if b.startswith(bom):
            try:
                return b.decode(enc, errors="replace")
            except LookupError:  # pragma: no cover
                break
    header = charset_from_content_type(content_type)
    if header:
        try:
            return b.decode(header, errors="replace")
        except LookupError:
            pass
    declared = sniff_charset(b)
    if declared:
        try:
            return b.decode(declared, errors="replace")
        except LookupError:
            pass
    try:
        return b.decode("utf-8")
    except UnicodeDecodeError:
        return b.decode("iso-8859-1", errors="replace")


# --- E3: whitespace normalization ------------------------------------------


def collapse_ws(s: str) -> str:
    """Whitespace runs → single space, stripped (the reference normalizes
    candidate text this way before scoring [PUB:util]). str.split is the
    C-level fast path — equivalent to the regex for all whitespace."""
    return " ".join(s.split())


_SLUG_RX = re.compile(r"[^a-z0-9]+")


def slugify(s: str) -> str:
    """Lower-case, non-alphanumeric → '-', for url-slug similarity
    (E5 headline scoring uses slug-vs-url-path comparison [PUB:headline])."""
    return _SLUG_RX.sub("-", s.lower()).strip("-")


__all__ = [
    "decode_html",
    "sniff_charset",
    "collapse_ws",
    "slugify",
]
