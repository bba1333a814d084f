"""Correctness gate: every output a timed iteration produces is checked
here, outside the timed region. A row counts as failed when it is wrong,
missing, unexpected or repeated."""

from __future__ import annotations

import contextlib
import os
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq


@dataclass
class CheckResult:
    attempted: int
    failed: int

    def __add__(self, other: "CheckResult") -> "CheckResult":
        return CheckResult(self.attempted + other.attempted,
                           self.failed + other.failed)


def _authors(v):
    return None if v is None else list(v)


def check_extract_rows(rows, golden: dict) -> CheckResult:
    """``rows``: extraction output rows (url, headline, pubdate, authors,
    extracted_text, ...); ``golden``: url -> expected tuple. One row per
    url must match the golden tuple exactly."""
    seen: set = set()
    failed = 0
    for r in rows:
        url = r["url"]
        got = (r["headline"], r["pubdate"], _authors(r["authors"]),
               r["extracted_text"])
        want = golden.get(url)
        if url in seen or want is None or got != want:
            failed += 1
        seen.add(url)
    failed += sum(1 for u in golden if u not in seen)
    return CheckResult(len(golden), failed)


def check_curated(rows, expected: dict) -> CheckResult:
    """``rows``: (doc_id, split) of the curated table; ``expected``:
    doc_id -> split from the oracle."""
    got: dict = {}
    failed = 0
    for r in rows:
        d = r["doc_id"]
        if d in got or expected.get(d) != r["split"]:
            failed += 1
        got[d] = r["split"]
    failed += sum(1 for d in expected if d not in got)
    return CheckResult(max(len(expected), 1), failed)


def check_accepted(accepted: list, expected: set, n_docs: int) -> CheckResult:
    """Every input doc is one accept/reject decision; a doc accepted
    twice, accepted wrongly or wrongly rejected fails."""
    got = set(accepted)
    failed = (len(accepted) - len(got)) + len(got ^ expected)
    return CheckResult(n_docs, failed)


# --------------------------------------------------------------------------
# curation oracle


@contextlib.contextmanager
def _goldens_at(minhash_path: str, coverage_path: str):
    """Point ``oracle_sql()``'s golden materializers at this corpus's
    files. It otherwise materializes goldens for the test-data corpora;
    only the curation query is used here, and it reads only the MinHash
    pair golden and its coverage list."""
    import mre.fixtures as FX
    import mre.oracle_replay as R
    saved = (R.write_dedup_goldens, R.write_lineage_golden,
             FX.write_oracle_golden)
    paths = {q: minhash_path for q in ("minhash_near_dups",
                                       "simhash_near_dups",
                                       "winnow_dup_pairs",
                                       "winnow_dup_pairs_guarded")}
    R.write_dedup_goldens = lambda *a, **k: dict(paths,
                                                 coverage=coverage_path)
    R.write_lineage_golden = lambda *a, **k: coverage_path
    FX.write_oracle_golden = lambda *a, **k: coverage_path
    try:
        yield
    finally:
        (R.write_dedup_goldens, R.write_lineage_golden,
         FX.write_oracle_golden) = saved


def golden_documents(golden: dict) -> pa.Table:
    """The documents ``extracted_to_documents`` makes from correct
    extraction output: doc_id = xxhash64(url), text = extracted text or
    ''. Computed from the golden, not from the program's output."""
    from mre.oracle_replay import xxh64_str
    urls = sorted(golden)
    return pa.table({
        "doc_id": pa.array([xxh64_str(u) for u in urls], pa.int64()),
        "text": pa.array([golden[u][3] or "" for u in urls], pa.string()),
        "lang": pa.array([""] * len(urls), pa.string()),
    })


def curation_expected(golden: dict, out_dir: str, evals_path: str) -> dict:
    """doc_id -> split that ``run_corpus`` must produce for pages whose
    correct extraction is ``golden``, with the every-97th-doc eval set
    the oracle SQL assumes (written to ``evals_path`` for the job).

    The MinHash candidate stage comes from ``mre.oracle_replay`` (an
    independent XXH64 + MinHash replay); every other stage is the
    ``curation_pipeline`` SQL of ``__spark_entry__.oracle_sql`` run in
    DuckDB."""
    import duckdb

    import __spark_entry__ as entry
    from mre.oracle_replay import minhash_pairs_expected

    os.makedirs(out_dir, exist_ok=True)
    docs = golden_documents(golden)
    ids, texts = docs["doc_id"].to_pylist(), docs["text"].to_pylist()
    pq.write_table(pa.table({
        "eval_id": pa.array([d for d in ids if d % 97 == 0], pa.int64()),
        "text": pa.array([t for d, t in zip(ids, texts) if d % 97 == 0],
                         pa.string()),
    }), evals_path)

    key = sum(len(t) for t in texts)
    pairs = minhash_pairs_expected(dict(zip(ids, texts)), threshold=0.2)
    mh = os.path.join(out_dir, "minhash_near_dups.parquet")
    cov = os.path.join(out_dir, "coverage.parquet")
    pq.write_table(pa.table({
        "corpus_key": pa.array([key] * len(pairs), pa.int64()),
        "doc_a": pa.array([a for a, _, _ in pairs], pa.int64()),
        "doc_b": pa.array([b for _, b, _ in pairs], pa.int64()),
        "est_jaccard": pa.array([e for _, _, e in pairs], pa.float64()),
    }), mh)
    pq.write_table(pa.table({"corpus_key": pa.array([key], pa.int64())}),
                   cov)
    with _goldens_at(mh, cov):
        sql = entry.oracle_sql()["curation_pipeline"]
    con = duckdb.connect()
    try:
        con.register("documents", docs)
        rows = con.execute(sql).fetchall()
    finally:
        con.close()
    return {d: split for d, _lang, split in rows}
