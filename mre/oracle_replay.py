"""Independent replays of the hash-dependent operators, for exact
driver oracles.

The MinHash near-dup pairs and the extraction lineage rollup are
deterministic given their fixed parameters, but not expressible in DuckDB
SQL (no xxhash64, no Spark murmur3). This module recomputes their
EXPECTED outputs from first principles — a from-scratch XXH64 (public
algorithm, Collet's spec), Spark's murmur3 variant and a direct replay of
MinHash-LSH over the raw text — with no Spark involvement,
and materializes them as per-corpus golden parquet files that
``oracle_sql()`` SELECTs. Golden rows are keyed by ``corpus_key =
sum(length(text))`` so one parquet serves every scale factor's
``documents`` view (the sf tables differ in content, not just size).

Replayed Spark semantics, verified by tests/test_oracle_replay.py:
* ``trim`` strips ASCII spaces only; ``lower`` on ASCII text.
* ``split(_, '\\s+')`` uses Java's \\s = [ \\t\\n\\x0b\\f\\r].
* ``xxhash64(string)`` = XXH64(utf8 bytes, seed=42), signed 64-bit.
* ``round(x, 4)`` = HALF_UP decimal rounding (java.math.BigDecimal).
"""

from __future__ import annotations

import os
import re
from decimal import ROUND_HALF_UP, Decimal

_MASK64 = (1 << 64) - 1

# XXH64 primes (Yann Collet's published xxHash spec)
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _MASK64


def _round_acc(acc: int, lane: int) -> int:
    acc = (acc + lane * _P2) & _MASK64
    return (_rotl(acc, 31) * _P1) & _MASK64


def _merge_acc(h: int, acc: int) -> int:
    h ^= _round_acc(0, acc)
    return (h * _P1 + _P4) & _MASK64


def xxh64(data: bytes, seed: int = 42) -> int:
    """XXH64 over ``data`` — returns Spark-compatible SIGNED int64
    (Spark's ``xxhash64`` default seed is 42)."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _MASK64
        v2 = (seed + _P2) & _MASK64
        v3 = seed & _MASK64
        v4 = (seed - _P1) & _MASK64
        while i + 32 <= n:
            v1 = _round_acc(v1, int.from_bytes(data[i:i + 8], "little"))
            v2 = _round_acc(v2, int.from_bytes(data[i + 8:i + 16], "little"))
            v3 = _round_acc(v3, int.from_bytes(data[i + 16:i + 24], "little"))
            v4 = _round_acc(v4, int.from_bytes(data[i + 24:i + 32], "little"))
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12)
             + _rotl(v4, 18)) & _MASK64
        h = _merge_acc(h, v1)
        h = _merge_acc(h, v2)
        h = _merge_acc(h, v3)
        h = _merge_acc(h, v4)
    else:
        h = (seed + _P5) & _MASK64
    h = (h + n) & _MASK64
    while i + 8 <= n:
        h ^= _round_acc(0, int.from_bytes(data[i:i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _MASK64
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i:i + 4], "little") * _P1) & _MASK64
        h = (_rotl(h, 23) * _P2 + _P3) & _MASK64
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _MASK64
        h = (_rotl(h, 11) * _P1) & _MASK64
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _MASK64
    h ^= h >> 29
    h = (h * _P3) & _MASK64
    h ^= h >> 32
    return h - (1 << 64) if h >= (1 << 63) else h


def xxh64_str(s: str) -> int:
    return xxh64(s.encode("utf-8"))


# --------------------------------------------------------------------------
# Spark's Murmur3_x86_32 (F.hash default seed 42). Tail handling follows
# Spark's hashUnsafeBytes: each remaining byte gets a FULL mixK1+mixH1
# round with the byte sign-extended — this deliberately differs from
# canonical murmur3's tail, so a stock murmur3 library would NOT match.

_MASK32 = (1 << 32) - 1


def _mix_k1(k1: int) -> int:
    k1 = (k1 * 0xCC9E2D51) & _MASK32
    k1 = ((k1 << 15) | (k1 >> 17)) & _MASK32
    return (k1 * 0x1B873593) & _MASK32


def _mix_h1(h1: int, k1: int) -> int:
    h1 ^= k1
    h1 = ((h1 << 13) | (h1 >> 19)) & _MASK32
    return (h1 * 5 + 0xE6546B64) & _MASK32


def murmur3_32(data: bytes, seed: int = 42) -> int:
    h1 = seed & _MASK32
    aligned = len(data) - len(data) % 4
    for i in range(0, aligned, 4):
        h1 = _mix_h1(h1, _mix_k1(
            int.from_bytes(data[i:i + 4], "little")))
    for i in range(aligned, len(data)):
        b = data[i]
        if b >= 128:
            b -= 256  # sign-extended byte, masked back to 32 bits
        h1 = _mix_h1(h1, _mix_k1(b & _MASK32))
    h1 ^= len(data)
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & _MASK32
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & _MASK32
    h1 ^= h1 >> 16
    return h1 - (1 << 32) if h1 >= (1 << 31) else h1


def spark_pmod_bucket(s: str, buckets: int) -> int:
    """pmod(hash(s), buckets) — with_salt_bucket's bucket function."""
    return murmur3_32(s.encode("utf-8")) % buckets


# Java's \s (non-UNICODE_CHARACTER_CLASS) — what Spark's split uses
_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def _norm(text: str) -> str:
    """lower(trim(text)) — Spark trim strips ASCII spaces only."""
    return text.strip(" ").lower()


def _tokens(text: str) -> list[str]:
    """split(lower(trim(text)), '\\s+') replica."""
    return _JAVA_WS.split(_norm(text))


def _round_half_up(x: float, digits: int = 4) -> float:
    """Spark round() = BigDecimal HALF_UP on the exact binary double."""
    q = Decimal(1).scaleb(-digits)
    return float(Decimal(x).quantize(q, rounding=ROUND_HALF_UP))


# --------------------------------------------------------------------------
# MinHash replay (mirrors mre.textops.minhash_* parameters and spec)

from mre.textops import MERSENNE31, _minhash_params  # noqa: E402


def _minhash_sig(text: str, k: int, n: int,
                 hash_memo: dict) -> list[int] | None:
    toks = _tokens(text)
    if len(toks) < n:
        return None
    sh = {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}
    hs = []
    for s in sh:
        h = hash_memo.get(s)
        if h is None:
            h = xxh64_str(s) % MERSENNE31
            hash_memo[s] = h
        hs.append(h)
    return [min((a * h + b) % MERSENNE31 for h in hs)
            for a, b in _minhash_params(k)]


def minhash_pairs_expected(texts: dict[int, str], k: int = 32, n: int = 3,
                           bands: int = 8,
                           threshold: float = 0.5) -> list[tuple]:
    """(doc_a, doc_b, est_jaccard) — candidates agree on ≥1 band SLICE
    (band_hash equality in the Spark plan ⇔ slice equality), verified by
    fraction of equal signature positions."""
    memo: dict = {}
    sigs = {d: s for d, t in texts.items()
            if (s := _minhash_sig(t, k, n, memo)) is not None}
    r = k // bands
    buckets: dict = {}
    for d, sig in sigs.items():
        for b in range(bands):
            buckets.setdefault((b, tuple(sig[b * r:(b + 1) * r])),
                               []).append(d)
    cands = set()
    for ds in buckets.values():
        ds.sort()
        for i in range(len(ds)):
            for j in range(i + 1, len(ds)):
                cands.add((ds[i], ds[j]))
    out = []
    for a, b in sorted(cands):
        sa, sb = sigs[a], sigs[b]
        est = _round_half_up(
            sum(1 for x, y in zip(sa, sb) if x == y) / k)
        if est >= threshold:
            out.append((a, b, est))
    return out


# --------------------------------------------------------------------------
# Lineage rollup replay (P7/P8 driver check). The flagship's pages are a
# pure function of the sf's doc_id set (0..n-1), so the expected lineage
# table is a pure function of n: bucket = pmod(murmur3(url), B) (identical
# to with_salt_bucket AND to HashPartitioning, hence partition_id ==
# salt_bucket), ok = 0 only for the truncated-html fixture band, and
# bytes_html sums the rendered page sizes.


def lineage_expected(n: int, buckets: int = 32,
                     run_id: str = "driver_check") -> list[dict]:
    from mre import fixtures as FX
    agg: dict[int, list[int]] = {}
    for i in range(n):
        b = spark_pmod_bucket(FX.url_of(i), buckets)
        ok = 0 if FX.is_truncated(i) else 1
        nb = len(FX.html_bytes_of(i))
        row = agg.setdefault(b, [0, 0, 0, 0])
        row[0] += 1
        row[1] += ok
        row[2] += 1 - ok
        row[3] += nb
    return [{"run_id": run_id, "partition_id": b, "salt_bucket": b,
             "n_rows": v[0], "n_ok": v[1], "n_failed": v[2],
             "bytes_html": v[3]}
            for b, v in sorted(agg.items())]


def write_lineage_golden(path: str,
                         ns: tuple[int, ...] | None = None) -> str:
    """Golden lineage parquet keyed by n_corpus (= count of documents).
    ``ns`` defaults to the document counts of every discovered sf dir
    (the replay is a cheap O(n) pass, so no size cap here — ADVICE r2:
    derive coverage from the layout, don't hardcode it)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    if ns is None:
        ns = tuple(sorted({
            pq.ParquetFile(os.path.join(d, "documents.parquet"))
            .metadata.num_rows
            for d in testdata_sf_dirs(max_docs=1 << 40)}))
    if os.path.exists(path):
        try:
            got = set(pq.read_table(path, columns=["n_corpus"])
                      ["n_corpus"].to_pylist())
            if set(ns) <= got:
                return path
        except (OSError, pa.ArrowInvalid):
            pass  # truncated or corrupt cached file: regenerate it
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    rows = []
    for n in ns:
        for r in lineage_expected(n):
            rows.append(dict(r, n_corpus=n))
    schema = pa.schema([
        pa.field("n_corpus", pa.int64()),
        pa.field("run_id", pa.string()),
        pa.field("partition_id", pa.int64()),
        pa.field("salt_bucket", pa.int64()),
        pa.field("n_rows", pa.int64()),
        pa.field("n_ok", pa.int64()),
        pa.field("n_failed", pa.int64()),
        pa.field("bytes_html", pa.int64()),
    ])
    tmp = path + ".tmp"
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), tmp)
    os.replace(tmp, path)
    return path


# --------------------------------------------------------------------------
# golden parquet materialization (one file per query, corpus_key-keyed)

def testdata_sf_dirs(root: str = "/root/testdata",
                     max_docs: int = 2000) -> tuple[str, ...]:
    """Discover documents corpora from the testdata layout at call time
    (ADVICE r2: never hardcode sf dirs). Corpora above ``max_docs`` are
    skipped by default — the MinHash replay is pure Python and grows
    with the corpus — but the corpus named by ``$MRE_ORACLE_SF``
    is ALWAYS included, so running the oracle harness at a bigger sf just
    needs that env var (plus a one-time golden materialization)."""
    import glob

    import pyarrow.parquet as pq

    out = []
    for d in sorted(glob.glob(os.path.join(root, "sf*"))):
        p = os.path.join(d, "documents.parquet")
        if os.path.exists(p) \
                and pq.ParquetFile(p).metadata.num_rows <= max_docs:
            out.append(os.path.abspath(d))
    forced = os.environ.get("MRE_ORACLE_SF")
    if forced:
        fa = os.path.abspath(forced)
        if os.path.exists(os.path.join(fa, "documents.parquet")) \
                and fa not in out:
            out.append(fa)
    return tuple(out)


def _read_texts(sf_dir: str) -> tuple[int, dict[int, str]]:
    import pyarrow.parquet as pq
    t = pq.read_table(os.path.join(sf_dir, "documents.parquet"),
                      columns=["doc_id", "text"])
    texts = dict(zip(t["doc_id"].to_pylist(), t["text"].to_pylist()))
    corpus_key = sum(len(v) for v in texts.values() if v is not None)
    return corpus_key, texts


def write_dedup_goldens(out_dir: str,
                        sf_dirs: tuple[str, ...] | None = None) -> dict:
    """Materialize the golden pair tables under ``out_dir``; skipped
    when already present with every corpus_key covered. Returns
    {query_name: parquet_path} plus a ``"coverage"`` entry — a parquet
    listing every corpus_key the goldens were computed for, so oracle SQL
    can fail LOUDLY on an uncovered corpus instead of matching empty
    (a corpus may legitimately have zero pairs, so absence of rows in the
    golden itself is not evidence of non-coverage)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    if sf_dirs is None:
        sf_dirs = testdata_sf_dirs()
    os.makedirs(out_dir, exist_ok=True)
    cov_path = os.path.join(out_dir, "coverage.parquet")
    specs = {
        "minhash_near_dups": (
            lambda texts: minhash_pairs_expected(texts, threshold=0.2),
            "est_jaccard", pa.float64()),
    }
    paths = {q: os.path.join(out_dir, f"{q}_golden.parquet") for q in specs}
    if os.path.exists(cov_path) \
            and all(os.path.exists(p) for p in paths.values()):
        try:
            keys = [_read_texts(d)[0] for d in sf_dirs]
            got = set(pq.read_table(cov_path, columns=["corpus_key"])
                      ["corpus_key"].to_pylist())
            if set(keys) <= got:
                return dict(paths, coverage=cov_path)
        except (OSError, pa.ArrowInvalid):
            pass  # truncated or corrupt cached file: regenerate it
    corpora = [_read_texts(d) for d in sf_dirs]
    for q, (fn, val_col, val_type) in specs.items():
        schema = pa.schema([
            pa.field("corpus_key", pa.int64()),
            pa.field("doc_a", pa.int64()),
            pa.field("doc_b", pa.int64()),
            pa.field(val_col, val_type),
        ])
        rows = []
        for key, texts in corpora:
            for a, b, v in fn(texts):
                rows.append({"corpus_key": key, "doc_a": a, "doc_b": b,
                             val_col: v})
        tmp = paths[q] + ".tmp"
        pq.write_table(pa.Table.from_pylist(rows, schema=schema), tmp)
        os.replace(tmp, paths[q])
    cov = pa.Table.from_pylist(
        [{"corpus_key": key} for key, _ in corpora],
        schema=pa.schema([pa.field("corpus_key", pa.int64())]))
    tmp = cov_path + ".tmp"
    pq.write_table(cov, tmp)
    os.replace(tmp, cov_path)
    return dict(paths, coverage=cov_path)


__all__ = ["xxh64", "xxh64_str", "murmur3_32", "spark_pmod_bucket",
           "minhash_pairs_expected", "write_dedup_goldens",
           "lineage_expected", "write_lineage_golden", "testdata_sf_dirs"]
