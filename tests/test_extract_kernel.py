"""The extraction kernel's byte-cap re-chunking, without a Spark session:
``extract_batch_arrow`` splits every incoming Arrow batch so a chunk's html
totals at most ``byte_cap`` bytes — the memory guard on worker RSS."""

import pyarrow as pa

from mre import fixtures as FX
from mre.pipeline import extract_batch_arrow

# ~1.1-1.5 KB fixture pages and doc 51 (~84 KB); doc 24 (~1.4 MB) is
# placed mid-batch
BIG = 24
IDS = [i for i in range(10, 40) if i != BIG] + [51]
CAP = 6_000


def _batch(ids):
    rows = [FX.page_row(i) for i in ids]
    return pa.RecordBatch.from_pydict({
        "url": [r["url"] for r in rows],
        "warc_ts": pa.array([r["warc_ts"] for r in rows],
                            pa.timestamp("us", tz="UTC")),
        "html": pa.array([r["html"] for r in rows], pa.binary()),
        "salt_bucket": pa.array([i % 8 for i in ids], pa.int32()),
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
