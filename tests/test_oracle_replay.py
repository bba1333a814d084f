"""Unit tests for mre.oracle_replay — the independent (no-Spark) replays
that back the MinHash driver oracles. The full
differential against the live Spark queries runs in test_entry_oracle.py;
these pin the building blocks."""

import pyarrow as pa
import pyarrow.parquet as pq

from mre.oracle_replay import (_round_half_up, _tokens, lineage_expected,
                               minhash_pairs_expected, write_dedup_goldens,
                               write_lineage_golden, xxh64, xxh64_str)

# Vectors verified against Spark's xxhash64() (seed 42) in-session.
XXH64_SPARK_VECTORS = {
    "": -7444071767201028348,
    "abc": 1423657621850124518,
    "hello world": 7620854247404556961,
    "x" * 100: 365730103971579591,
}


def test_xxh64_spark_vectors():
    for s, expect in XXH64_SPARK_VECTORS.items():
        assert xxh64_str(s) == expect


def test_xxh64_seed_sensitivity():
    assert xxh64(b"abc", seed=0) == 4952883123889572249
    assert xxh64(b"abc", seed=0) != xxh64(b"abc", seed=42)


def test_tokens_java_ws_and_space_trim():
    # Spark trim strips ASCII spaces only; \x0b is Java \s
    assert _tokens("  A b\x0bC  ") == ["a", "b", "c"]
    # leading/trailing tabs survive trim, so split yields empty edge tokens
    assert _tokens("\ta b\t") == ["", "a", "b", ""]


def test_round_half_up_vs_bankers():
    # 5/32 = 0.15625 exactly; HALF_UP -> 0.1563 (banker's would give .1562)
    assert _round_half_up(5 / 32) == 0.1563
    assert _round_half_up(0.5, 0) == 1.0


def test_identical_docs_pair_everywhere():
    texts = {1: "alpha beta gamma delta epsilon zeta",
             2: "alpha beta gamma delta epsilon zeta",
             3: "completely different words here now okay"}
    mh = minhash_pairs_expected(texts, threshold=0.2)
    assert (1, 2, 1.0) in mh


def test_disjoint_docs_never_pair():
    texts = {1: "aaa bbb ccc ddd eee fff",
             2: "ggg hhh iii jjj kkk lll"}
    assert minhash_pairs_expected(texts, threshold=0.2) == []


def _truncate(path):
    # a crash mid-copy leaves a truncated cache file
    with open(path, "rb") as f:
        whole = f.read()
    with open(path, "wb") as f:
        f.write(whole[:len(whole) // 2])


def test_lineage_golden_regenerates_truncated_file(tmp_path):
    path = str(tmp_path / "lineage_golden.parquet")
    write_lineage_golden(path, ns=(10,))
    _truncate(path)
    assert write_lineage_golden(path, ns=(10,)) == path
    got = pq.read_table(path).to_pylist()
    assert [dict(r, n_corpus=10) for r in lineage_expected(10)] == got


def test_dedup_goldens_regenerate_truncated_coverage(tmp_path):
    sf = tmp_path / "sf_tiny"
    sf.mkdir()
    pq.write_table(pa.table({
        "doc_id": pa.array([1, 2, 3], pa.int64()),
        "text": ["alpha beta gamma delta epsilon zeta",
                 "alpha beta gamma delta epsilon zeta",
                 "completely different words here now okay"]}),
        str(sf / "documents.parquet"))
    out = str(tmp_path / "goldens")
    paths = write_dedup_goldens(out, sf_dirs=(str(sf),))
    _truncate(paths["coverage"])
    assert write_dedup_goldens(out, sf_dirs=(str(sf),)) == paths
    key = sum(len(t) for t in pq.read_table(
        str(sf / "documents.parquet"))["text"].to_pylist())
    assert pq.read_table(paths["coverage"])["corpus_key"].to_pylist() \
        == [key]
    pairs = pq.read_table(paths["minhash_near_dups"]).to_pylist()
    assert {(r["doc_a"], r["doc_b"]) for r in pairs} == {(1, 2)}
