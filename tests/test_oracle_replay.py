"""Unit tests for mre.oracle_replay — the independent (no-Spark) replays
that back the MinHash driver oracles. The full
differential against the live Spark queries runs in test_entry_oracle.py;
these pin the building blocks."""

from mre.oracle_replay import (_round_half_up, _tokens,
                               minhash_pairs_expected, xxh64, xxh64_str)

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
