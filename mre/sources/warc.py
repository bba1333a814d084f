"""WARC source — read Common-Crawl-style WARC(.gz) archives into the pages
schema (P1 variant; the crawl's native format).

Pure-stdlib record parsing (gzip/zlib): a WARC file is a sequence of
records, each ``WARC/1.0`` header block + payload; .gz files are
concatenated gzip members (one per record in CC convention, but any
member split works — we parse the decompressed byte stream).

Spark integration reads whole files via the ``binaryFile`` data source and
splits records inside ``mapInPandas``. WARC files are not block-splittable
(gzip members), so file-level parallelism is the unit — exactly how
Common Crawl shards its corpus (64k ~1GB files per crawl), which keeps
1000-executor clusters busy without intra-file splitting.

``http_date``/payload parsing handles the response records the extractor
needs: url from WARC-Target-URI, capture time from WARC-Date, html from
the HTTP response body (headers stripped).
"""

from __future__ import annotations

import datetime as _dt
import gzip
import io
from typing import Iterator, Optional

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..schema import PAGES_SCHEMA

_CRLF2 = b"\r\n\r\n"


def _parse_warc_headers(block: bytes) -> dict[str, str]:
    headers: dict[str, str] = {}
    for line in block.split(b"\r\n")[1:]:  # first line: WARC/1.0
        if b":" in line:
            k, v = line.split(b":", 1)
            headers[k.strip().decode("latin-1").lower()] = \
                v.strip().decode("latin-1")
    return headers


def iter_warc_records(raw: bytes) -> Iterator[tuple[dict[str, str], bytes]]:
    """(headers, payload) per record from decompressed WARC bytes."""
    pos = 0
    n = len(raw)
    while pos < n:
        if not raw.startswith(b"WARC/", pos):
            nxt = raw.find(b"WARC/1.", pos)
            if nxt < 0:
                return
            pos = nxt
        hdr_end = raw.find(_CRLF2, pos)
        if hdr_end < 0:
            return
        headers = _parse_warc_headers(raw[pos:hdr_end])
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            return
        body_start = hdr_end + 4
        payload = raw[body_start:body_start + length]
        yield headers, payload
        pos = body_start + length
        # records are separated by two CRLFs
        while raw.startswith(b"\r\n", pos):
            pos += 2


def _http_body(payload: bytes) -> tuple[Optional[bytes], Optional[str]]:
    """Strip HTTP response headers from a response record payload.
    Returns (body, content_type) — the Content-Type header is the ONE
    real charset hint a crawl source has (VERDICT r2 #2: it feeds E1's
    decode order ahead of <meta charset> sniffing)."""
    if payload.startswith(b"HTTP/"):
        sep = payload.find(_CRLF2)
        if sep < 0:
            return None, None
        ct = None
        for line in payload[:sep].split(b"\r\n")[1:]:
            k, _, v = line.partition(b":")
            if k.strip().lower() == b"content-type":
                ct = v.strip().decode("latin-1") or None
                break
        return payload[sep + 4:], ct
    return payload, None


def _warc_ts(value: str) -> Optional[_dt.datetime]:
    try:
        return _dt.datetime.strptime(value, "%Y-%m-%dT%H:%M:%SZ")
    except ValueError:
        return None


def pages_from_warc_bytes(name: str, data: bytes) -> list[dict]:
    """One WARC(.gz) file → pages rows (response records only)."""
    if data[:2] == b"\x1f\x8b":
        data = gzip.decompress(data)  # concatenated members supported
    rows = []
    for headers, payload in iter_warc_records(data):
        if headers.get("warc-type") != "response":
            continue
        url = headers.get("warc-target-uri")
        ts = _warc_ts(headers.get("warc-date", ""))
        if not url or ts is None:
            continue
        body, ct = _http_body(payload)
        rows.append({"url": url, "warc_ts": ts, "html": body,
                     "text": None, "lang": None, "content_type": ct})
    return rows


def read_warc(spark: SparkSession, path_glob: str) -> DataFrame:
    """WARC(.gz) files → pages DataFrame (PAGES_SCHEMA plus a nullable
    ``content_type`` side column carrying the HTTP header — the pipeline
    threads it to the E1 charset decode when present). File-level
    parallelism; record splitting runs distributed inside mapInPandas."""
    from pyspark.sql.types import StringType, StructField, StructType

    files = (spark.read.format("binaryFile").load(path_glob)
             .select("path", "content"))
    schema = StructType(PAGES_SCHEMA.fields
                        + [StructField("content_type", StringType(), True)])

    def split(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in schema.fields]
        for pdf in batches:
            for _, row in pdf.iterrows():
                rows = pages_from_warc_bytes(row["path"],
                                             bytes(row["content"]))
                if rows:
                    yield pd.DataFrame(rows, columns=cols)

    return files.mapInPandas(split, schema)


# ---------------------------------------------------------------------------
# deterministic fixture WARC writer (tests/bench; no external data)


def write_warc_gz(path: str, doc_ids: list[int]) -> None:
    """Render fixture pages as a CC-style .warc.gz (one gzip member per
    record, like Common Crawl)."""
    from .. import fixtures as FX

    with open(path, "wb") as f:
        for i in doc_ids:
            html = FX.html_bytes_of(i)
            http = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
                    + b"Content-Length: " + str(len(html)).encode()
                    + _CRLF2 + html)
            ts = FX.warc_ts_of(i).strftime("%Y-%m-%dT%H:%M:%SZ")
            hdr = ("WARC/1.0\r\n"
                   "WARC-Type: response\r\n"
                   f"WARC-Target-URI: {FX.url_of(i)}\r\n"
                   f"WARC-Date: {ts}\r\n"
                   f"WARC-Record-ID: <urn:uuid:fixture-{i}>\r\n"
                   f"Content-Length: {len(http)}\r\n"
                   "Content-Type: application/http; msgtype=response\r\n"
                   ).encode("latin-1")
            record = hdr + b"\r\n" + http + b"\r\n\r\n"
            buf = io.BytesIO()
            with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
                gz.write(record)
            f.write(buf.getvalue())


__all__ = ["read_warc", "pages_from_warc_bytes", "iter_warc_records",
           "write_warc_gz"]
