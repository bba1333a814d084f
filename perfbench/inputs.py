"""Seeded benchmark inputs.

The program receives only the files written here. Fixture pages
(``mre.fixtures``) are a pure function of doc_id, so a seed only picks a
doc_id window: every window starts on a multiple of 100, which keeps the
FIXTURES.md family, size, duplicate and truncation bands exact for every
seed, and ``golden_row`` still gives the correct answer per url.

The ingest documents are not fixture pages: fixture text is built from a
ten-noun, eight-phrase word list, so every page is a near duplicate of
every other and an ingest run would accept nothing. They come from a
seeded generator over a synthetic vocabulary instead, with a fixed share
of exact and near duplicates.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

from mre import fixtures as FX

PAGES_SCHEMA = pa.schema([
    pa.field("url", pa.string(), nullable=False),
    pa.field("warc_ts", pa.timestamp("us"), nullable=False),
    pa.field("html", pa.binary()),
    pa.field("text", pa.string()),
    pa.field("lang", pa.string()),
])
DOCS_SCHEMA = pa.schema([pa.field("doc_id", pa.int64()),
                         pa.field("text", pa.string())])

# windows are 10 000 doc_ids apart, so no two of the first 1000 seeds
# share a page; doc_ids stay below 1.1e7, where warc_ts (137 s per id)
# is still a valid timestamp
WINDOW_STRIDE = 10_000


def window_start(seed: int) -> int:
    return WINDOW_STRIDE * (1 + seed % 1000)


def heavytail_ids(seed: int, n: int) -> list[int]:
    """``n`` consecutive doc_ids (n a multiple of 100): the FIXTURES.md
    mix of 97% small, 2% medium and 1% large pages."""
    start = window_start(seed)
    return list(range(start, start + n))


def small_ids(seed: int, n: int) -> list[int]:
    """The first ``n`` small-class doc_ids of the window. Only residues
    24, 51 and 78 of doc_id mod 100 are medium or large, so every family
    and the duplicate and truncation bands stay in the set."""
    out, i = [], window_start(seed)
    while len(out) < n:
        if FX.size_class(i) == "small":
            out.append(i)
        i += 1
    return out


def write_pages(ids: list[int], path: str) -> int:
    """Pages for ``ids`` (duplicate captures right after their original)
    as one parquet file; returns the row count."""
    rows = []
    for i in ids:
        rows.append(FX.page_row(i))
        if FX.has_duplicate(i):
            rows.append(FX.page_row(i, dup=True))
    with pq.ParquetWriter(path, PAGES_SCHEMA) as w:
        for s in range(0, len(rows), 500):
            w.write_table(pa.Table.from_pylist(rows[s:s + 500],
                                               schema=PAGES_SCHEMA))
    return len(rows)


def golden_by_url(ids: list[int]) -> dict:
    """url -> (headline, pubdate, authors, extracted_text) per the spec."""
    out = {}
    for i in ids:
        g = FX.golden_row(i)
        out[g["url"]] = (g["headline"], g["pubdate"], g["authors"],
                         g["extracted_text"])
    return out


# --------------------------------------------------------------------------
# ingest documents

_SYLLABLES = ["ka", "lo", "mi", "ren", "tu", "sa", "vel", "dor", "pi", "qua",
              "ne", "zo", "bri", "fa", "gul", "hi", "jem", "ost", "wy", "xe"]


def _vocab(size: int = 4000) -> list[str]:
    rng = random.Random(7)
    words = set()
    while len(words) < size:
        words.add("".join(rng.choice(_SYLLABLES)
                          for _ in range(rng.randint(2, 4))))
    return sorted(words)


def ingest_documents(seed: int, n_base: int, n_files: int,
                     per_file: int) -> tuple[list[dict], list[list[dict]]]:
    """(base docs for the index, new docs split into files).

    Of the new docs, 10% copy a base doc exactly, 10% are near copies of
    a base doc (one word in 25 replaced), 5% copy an earlier new doc, and
    the rest are fresh text."""
    rng = random.Random(seed)
    vocab = _vocab()

    def fresh() -> str:
        return " ".join(rng.choice(vocab) for _ in range(rng.randint(60, 160)))

    def near(text: str) -> str:
        toks = text.split(" ")
        for j in range(0, len(toks), 25):
            toks[j] = rng.choice(vocab)
        return " ".join(toks)

    first = 1_000_000 * (1 + seed % 1000)
    base = [{"doc_id": first + i, "text": fresh()} for i in range(n_base)]
    new, files = [], []
    next_id = first + n_base
    for _ in range(n_files):
        batch = []
        for _ in range(per_file):
            r = rng.random()
            if r < 0.10:
                text = rng.choice(base)["text"]
            elif r < 0.20:
                text = near(rng.choice(base)["text"])
            elif r < 0.25 and new:
                text = rng.choice(new)["text"]
            else:
                text = fresh()
            doc = {"doc_id": next_id, "text": text}
            next_id += 1
            batch.append(doc)
            new.append(doc)
        files.append(batch)
    return base, files


def write_docs(docs: list[dict], path: str, mtime: float | None = None) -> None:
    pq.write_table(pa.Table.from_pylist(docs, schema=DOCS_SCHEMA), path)
    if mtime is not None:
        # the file stream source orders files by modification time
        os.utime(path, (mtime, mtime))


# --------------------------------------------------------------------------
# input identity


def digest_rows(rows) -> str:
    """sha256 over the logical content of the inputs (not the parquet
    bytes, which carry the writer version)."""
    h = hashlib.sha256()
    for row in rows:
        for v in row:
            if isinstance(v, bytes):
                b = v
            elif isinstance(v, dt.datetime):
                b = v.isoformat().encode()
            else:
                b = repr(v).encode()
            h.update(len(b).to_bytes(8, "little"))
            h.update(b)
    return h.hexdigest()


def digest_parquet(*paths: str) -> str:
    """Digest of every row of the given parquet files, in file order."""
    def rows():
        for p in paths:
            t = pq.read_table(p)
            cols = [t.column(c).to_pylist() for c in t.column_names]
            yield from zip(*cols)
    return digest_rows(rows())
