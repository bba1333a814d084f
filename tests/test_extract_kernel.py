"""The extraction kernel without a Spark session: ``extract_batch_arrow``
splits every incoming Arrow batch so a chunk's html totals at most
``byte_cap`` bytes — the memory guard on worker RSS — and builds its
output columns from buffers, equal to ``pa.array`` over the same Python
values, without importing pandas."""

import datetime as dt
import os
import subprocess
import sys

import pyarrow as pa
from pyspark.sql.pandas.types import to_arrow_schema

from mre import fixtures as FX
from mre.core.extract import extract_one
from mre.pipeline import (_timestamp_array, _utf8_array, _utf8_list_array,
                          extract_batch_arrow)
from mre.schema import EXTRACT_FULL_SCHEMA

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# ~1.1-1.5 KB fixture pages and doc 51 (~84 KB); doc 24 (~1.4 MB) is
# placed mid-batch
BIG = 24
IDS = [i for i in range(10, 40) if i != BIG] + [51]
CAP = 6_000


def _batch(ids, empty=False):
    """Pages ``ids`` as one kernel input batch, plus an empty page (html
    b"", which extracts to an all-null row) when ``empty``."""
    rows = [FX.page_row(i) for i in ids]
    if empty:
        rows.append(dict(rows[-1], url="http://example.test/empty",
                         html=b""))
    return pa.RecordBatch.from_pydict({
        "url": [r["url"] for r in rows],
        "warc_ts": pa.array([r["warc_ts"] for r in rows],
                            pa.timestamp("us", tz="UTC")),
        "html": pa.array([r["html"] for r in rows], pa.binary()),
        "salt_bucket": pa.array([i % 8 for i in ids] + [0] * empty,
                                pa.int32()),
    })


def _batches():
    return [_batch(IDS[:12]), _batch(IDS[12:20] + [BIG] + IDS[20:])]


def _rows(out):
    return [{k: v for k, v in row.items() if k != "wall_us"}
            for b in out for row in b.to_pylist()]


def test_byte_cap_bounds_every_chunk():
    out = list(extract_batch_arrow(iter(_batches()), byte_cap=CAP))
    assert len(out) > len(_batches())  # the cap did split batches
    for b in out:
        total = sum(b.column("n_bytes_html").to_pylist())
        assert total <= CAP or b.num_rows == 1, (total, b.num_rows)


def test_oversize_row_passes_through_alone():
    out = list(extract_batch_arrow(iter(_batches()), byte_cap=CAP))
    big_url = FX.page_row(BIG)["url"]
    big = [b for b in out if big_url in b.column("url").to_pylist()]
    assert len(big) == 1 and big[0].num_rows == 1
    assert big[0].column("n_bytes_html")[0].as_py() > CAP


def test_capped_rows_equal_uncapped_rows():
    capped = list(extract_batch_arrow(iter(_batches()), byte_cap=CAP))
    whole = list(extract_batch_arrow(iter(_batches())))
    assert len(whole) == len(_batches())  # default cap: no split
    assert _rows(capped) == _rows(whole)
    assert [r["url"] for r in _rows(whole)] \
        == [FX.page_row(i)["url"] for i in IDS[:20] + [BIG] + IDS[20:]]


# --------------------------------------------------------------------------
# output assembly: buffers, not pa.array


def _list_assembly(batch, out_type):
    """The kernel's output for ``batch`` assembled with pa.array over
    Python lists — the reference the buffer assembly must equal — and
    how many of its pubdates are tz-aware."""
    urls = batch.column("url").to_pylist()
    htmls = batch.column("html").to_pylist()
    captures = batch.column("warc_ts").to_pylist()
    res = [extract_one(u, h, capture_ts=c, content_type=None)
           for u, h, c in zip(urls, htmls, captures)]
    n_aware = sum(r.pubdate is not None and r.pubdate.tzinfo is not None
                  for r in res)
    return pa.RecordBatch.from_arrays(
        [urls, [r.headline for r in res], [r.pubdate for r in res],
         [r.authors for r in res], [r.extracted_text for r in res],
         [1 if r.ok else 0 for r in res], [len(h) for h in htmls],
         [0] * len(urls), batch.column("salt_bucket").to_pylist()],
        schema=out_type), n_aware


def test_output_columns_equal_list_assembly():
    # doc_ids 0-299 cover every template family, F13's tz-aware relative
    # datelines (65-69, 165-169, 265-269) and the truncated all-null rows
    out_type = to_arrow_schema(EXTRACT_FULL_SCHEMA)
    batches = [_batch(range(s, min(s + 64, 300)), empty=s == 256)
               for s in range(0, 300, 64)]
    got = pa.Table.from_batches(list(extract_batch_arrow(iter(batches))))
    want, n_aware = zip(*(_list_assembly(b, out_type) for b in batches))
    want = pa.Table.from_batches(want)
    assert got.schema == out_type and got.num_rows == 301
    assert sum(n_aware) == 15
    for name in out_type.names:
        a = got.column(name).combine_chunks()
        if name == "wall_us":
            assert a.null_count == 0 and min(a.to_pylist()) >= 0
            continue
        assert a.equals(want.column(name).combine_chunks()), name


def test_timestamp_helper_converts_like_pa_array(monkeypatch):
    # pa.array converts an aware datetime to UTC unless
    # PYARROW_IGNORE_TIMEZONE is set; the helper always converts
    monkeypatch.delenv("PYARROW_IGNORE_TIMEZONE", raising=False)
    ts = pa.timestamp("us", tz="UTC")
    east = dt.timezone(dt.timedelta(hours=5, minutes=30))
    west = dt.timezone(-dt.timedelta(hours=8))
    values = [dt.datetime(1969, 12, 31, 23, 59, 59, 999999), None,
              dt.datetime(1900, 3, 1, 0, 0, 0, 1, tzinfo=west),
              dt.datetime(2020, 1, 1, 12, 0, 0, 123456),
              dt.datetime(2020, 1, 1, 12, 0, 0, 123456, tzinfo=east),
              dt.datetime(2023, 12, 31, 20, 28, 25, tzinfo=dt.timezone.utc)]
    got = _timestamp_array(ts, values)
    assert got.equals(pa.array(values, ts))
    assert got[4].as_py() == values[4].astimezone(dt.timezone.utc)
    assert _timestamp_array(ts, [None, None]).equals(
        pa.array([None, None], ts))


def test_string_helpers_equal_pa_array():
    texts = ["héllo", None, "", "日本語 — ✓", "plain", "\x00nul"]
    assert _utf8_array(texts).equals(pa.array(texts, pa.string()))
    assert _utf8_array([None] * 3).equals(pa.array([None] * 3, pa.string()))
    assert _utf8_array([]).equals(pa.array([], pa.string()))
    lt = pa.list_(pa.string())
    lists = [None, [], ["Ann Lee", "Zoë Ng"], None, ["", None, "x"]]
    assert _utf8_list_array(lt, lists).equals(pa.array(lists, lt))
    assert _utf8_list_array(lt, [None] * 9).equals(pa.array([None] * 9, lt))


_NO_PANDAS = """
import sys
import pyarrow as pa
from mre.pipeline import extract_batch_arrow
with pa.ipc.open_stream(sys.argv[1]) as reader:
    out = list(extract_batch_arrow(iter(reader), byte_cap=int(sys.argv[2])))
print(len(out), sum(b.num_rows for b in out))
assert "pandas" not in sys.modules, "the kernel imported pandas"
"""


def test_kernel_never_imports_pandas(tmp_path):
    # a fresh interpreter reads the input from an IPC stream (building it
    # there with pa.array would import pandas itself) and drains the
    # kernel: F13 tz-aware datelines, multi-author pages, the truncated
    # and the empty page, split into several chunks by the byte cap
    ids = list(range(50, 56)) + list(range(65, 70)) + list(range(85, 95))
    path = str(tmp_path / "pages.arrows")
    batch = _batch(ids, empty=True)
    with pa.ipc.new_stream(path, batch.schema) as w:
        w.write_batch(batch.slice(0, 10))
        w.write_batch(batch.slice(10))
    proc = subprocess.run(
        [sys.executable, "-c", _NO_PANDAS, path, str(CAP)],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr
    n_chunks, n_rows = map(int, proc.stdout.split())
    assert n_rows == len(ids) + 1 and n_chunks > 2
