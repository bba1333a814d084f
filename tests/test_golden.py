"""Golden end-to-end (single-process) test — SURVEY.md §5.2 layer 2.

Every fixture doc's ``extract_one`` output must equal the spec-computed
golden row byte-identically (string ==, exact array order, exact
timestamp). Plus property-style robustness checks (layer 5)."""

import pytest

from mre.core.extract import extract_one
from mre.fixtures import (family_of, gen_golden, golden_row, html_bytes_of,
                          is_truncated, url_of, warc_ts_of)

N = 300  # covers all families (period 100) and all size classes


@pytest.mark.parametrize("doc_id", range(N))
def test_golden_byte_identical(doc_id):
    g = golden_row(doc_id)
    r = extract_one(url_of(doc_id), html_bytes_of(doc_id),
                    capture_ts=warc_ts_of(doc_id))
    assert r.url == g["url"]
    assert r.headline == g["headline"]
    assert r.pubdate == g["pubdate"]
    assert r.authors == g["authors"]
    assert r.extracted_text == g["extracted_text"]


def test_truncated_rows_are_all_null_and_failed():
    doc_id = 53
    assert is_truncated(doc_id)
    r = extract_one(url_of(doc_id), html_bytes_of(doc_id))
    assert not r.ok
    assert (r.headline, r.pubdate, r.authors, r.extracted_text) == \
        (None, None, None, None)


def test_every_family_covered():
    fams = {family_of(i) for i in range(100)}
    assert fams == {f"F{i}" for i in range(1, 14)}


def test_never_raises_on_fuzz():
    # truncations at every byte offset of one small page + junk inputs
    full = html_bytes_of(1)
    for cut in range(0, len(full), 257):
        r = extract_one("https://x.example/a/1", full[:cut])
        assert r is not None
    for junk in (b"", b"\x00\xff" * 100, b"<<<>>>", b"<html>" * 50,
                 bytes(range(256))):
        r = extract_one("https://x.example/a/1", junk)
        assert r is not None


def test_extract_none_html():
    r = extract_one("https://x.example/a/1", None)
    assert not r.ok


def test_idempotent_over_extracted_text():
    # re-extracting a page built from the extracted text keeps the text
    r1 = extract_one(url_of(0), html_bytes_of(0))
    html2 = ("<html><head><title>t</title></head><body>"
             '<div class="article-body">'
             + "".join(f"<p>{p}</p>" for p in r1.extracted_text.split("\n\n"))
             + "</div></body></html>").encode()
    r2 = extract_one(url_of(0), html2)
    assert r2.extracted_text == r1.extracted_text


def test_golden_gen_consistency():
    assert gen_golden(10) == [golden_row(i) for i in range(10)]


def test_oracle_golden_regenerates_truncated_file(tmp_path):
    # a crash mid-copy leaves a truncated cache file: it is rebuilt, not
    # raised and not trusted
    import pyarrow.parquet as pq
    from mre.fixtures import write_oracle_golden
    path = str(tmp_path / "golden.parquet")
    write_oracle_golden(path, n=10)
    with open(path, "rb") as f:
        whole = f.read()
    with open(path, "wb") as f:
        f.write(whole[:len(whole) // 2])
    assert write_oracle_golden(path, n=10) == path
    got = pq.read_table(path).to_pylist()
    assert [r["doc_id"] for r in got] == list(range(10))
    assert got[3]["headline"] == golden_row(3)["headline"]
