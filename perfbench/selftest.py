"""Self-tests of the benchmark's own gate and input identity; no Spark.

    python3 perfbench/selftest.py

Run from the root of a checkout. Exits non-zero on the first failure.
"""

from __future__ import annotations

import datetime as dt
import os
import sys
import tempfile


def _pages_digest(seed: int, n: int = 100) -> str:
    from perfbench import inputs as I
    with tempfile.TemporaryDirectory(dir=os.getcwd()) as d:
        path = os.path.join(d, "pages.parquet")
        I.write_pages(I.heavytail_ids(seed, n), path)
        return I.digest_parquet(path)


def _golden_rows(golden: dict) -> list[dict]:
    return [{"url": u, "headline": h, "pubdate": p, "authors": a,
             "extracted_text": t} for u, (h, p, a, t) in golden.items()]


def test_gate_passes_golden_output():
    from perfbench import inputs as I
    from perfbench.checks import check_extract_rows
    golden = I.golden_by_url(I.small_ids(1, 200))
    res = check_extract_rows(_golden_rows(golden), golden)
    _expect(res.attempted == 200 and res.failed == 0, res)


def test_gate_trips_on_one_corrupted_row():
    from perfbench import inputs as I
    from perfbench.checks import check_extract_rows
    golden = I.golden_by_url(I.small_ids(1, 200))
    rows = _golden_rows(golden)
    rows[7] = dict(rows[7], headline=(rows[7]["headline"] or "") + "!")
    _expect(check_extract_rows(rows, golden).failed == 1, "headline")
    rows = _golden_rows(golden)
    i = next(i for i, r in enumerate(rows) if r["pubdate"] is not None)
    rows[i] = dict(rows[i], pubdate=rows[i]["pubdate"]
                   + dt.timedelta(seconds=1))
    _expect(check_extract_rows(rows, golden).failed == 1, "pubdate")


def test_gate_trips_on_one_dropped_row():
    from perfbench import inputs as I
    from perfbench.checks import check_extract_rows
    golden = I.golden_by_url(I.small_ids(1, 200))
    rows = _golden_rows(golden)
    del rows[42]
    _expect(check_extract_rows(rows, golden).failed == 1, "dropped")
    rows = _golden_rows(golden)
    rows.append(rows[0])
    _expect(check_extract_rows(rows, golden).failed == 1, "repeated")


def test_curation_and_ingest_gates_trip():
    from perfbench.checks import check_accepted, check_curated
    expected = {1: "train", 2: "test", 3: "train"}
    ok = [{"doc_id": d, "split": s} for d, s in expected.items()]
    _expect(check_curated(ok, expected).failed == 0, "curated ok")
    _expect(check_curated(ok[:2], expected).failed == 1, "curated drop")
    bad = [dict(ok[0], split="test")] + ok[1:]
    _expect(check_curated(bad, expected).failed == 1, "curated corrupt")
    _expect(check_accepted([1, 2, 3], {1, 2, 3}, 5).failed == 0, "acc ok")
    _expect(check_accepted([1, 2], {1, 2, 3}, 5).failed == 1, "acc drop")
    _expect(check_accepted([1, 2, 4], {1, 2, 3}, 5).failed == 2, "acc bad")


def test_same_seed_same_digest():
    _expect(_pages_digest(5) == _pages_digest(5), "pages")
    from perfbench import inputs as I
    a = I.ingest_documents(5, 50, 2, 10)
    b = I.ingest_documents(5, 50, 2, 10)
    _expect(a == b, "ingest documents")


def test_other_seed_other_digest():
    _expect(_pages_digest(5) != _pages_digest(6), "pages")
    from perfbench import inputs as I
    _expect(I.ingest_documents(5, 50, 2, 10)
            != I.ingest_documents(6, 50, 2, 10), "ingest documents")


def test_windows_keep_the_fixture_mix():
    from mre import fixtures as FX
    from perfbench import inputs as I
    for seed in (0, 1, 999, 123456):
        ids = I.heavytail_ids(seed, 300)
        sizes = [FX.size_class(i) for i in ids]
        _expect((sizes.count("small"), sizes.count("medium"),
                 sizes.count("large")) == (291, 6, 3), seed)
        small = I.small_ids(seed, 300)
        _expect({FX.family_of(i) for i in small}
                == {FX.family_of(i) for i in range(100)}, seed)
        _expect(any(FX.is_truncated(i) for i in small), seed)


def _expect(cond: bool, what) -> None:
    if not cond:
        raise AssertionError(f"self-test failed: {what}")


def main() -> int:
    sys.path.insert(0, os.getcwd())
    tests = [v for k, v in sorted(globals().items())
             if k.startswith("test_") and callable(v)]
    for t in tests:
        t()
        print(f"ok  {t.__name__}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
