"""BPE subword token accounting (mre/bpe.py, VERDICT r6 #4).

The spec under test is the SINGLE-PASS merge semantics documented in the
module: symbolize → ranked (count DESC, pair ASC) merges, each applied as
one left-to-right non-overlapping replace — identical in Python
``str.replace``, Spark ``replace`` and SQL ``replace``."""

import duckdb
import pytest
from pyspark.sql import functions as F

from mre.bpe import (bpe_learn, bpe_merges_df,
                     bpe_tokenize, tokenize_word, _learn_from_vocab)


# ------------------------------------------------------------------ local


def test_learn_hand_vocab():
    # freqs: 'low' x5, 'lower' x2, 'newest' x6, 'widest' x3 — the classic
    # BPE walkthrough vocabulary
    vocab = [("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)]
    merges = _learn_from_vocab(vocab, 4)
    # pair counts round 1: (e,s)=9, (s,t)=9, (t,</w>)=9 … tie broken
    # pair-lexicographically: (e,s) first
    assert [m[:2] for m in merges[:3]] == [("e", "s"), ("es", "t"),
                                           ("est", "</w>")]
    assert merges[0][2] == 9


def test_single_pass_run_semantics():
    # 'aaaa' under merge (a,a): ONE non-overlapping pass → 'aa a a',
    # not classic BPE's 'aa aa' — the documented spec
    assert tokenize_word("aaaa", [("a", "a")]) == ["aa", "a", "a", "</w>"]
    # the pair re-learned at a later rank finishes the job
    assert tokenize_word("aaaa", [("a", "a"), ("a", "a")]) == \
        ["aa", "aa", "</w>"]


def test_learn_recounts_after_merge():
    # after merging the run pair, the three leftover pairs tie at count
    # 1 and the '<' of '</w>' sorts first ('<' 0x3C < 'a' 0x61) — the
    # (count DESC, pair ASC) tie-break is what makes this deterministic
    merges = _learn_from_vocab([("aaaa", 10)], 3)
    assert [m[:2] for m in merges] == [("a", "a"), ("a", "</w>"),
                                       ("a", "a</w>")]
    assert tokenize_word("aaaa", merges) == ["aa", "aa</w>"]


def test_incremental_equals_naive():
    # the inverted-index learner must equal a naive full recount
    vocab = [("banana", 7), ("bandana", 3), ("cabana", 5), ("nab", 2)]

    def naive(vocab, M):
        from collections import Counter
        from mre.bpe import _symbolize
        seqs = [(_symbolize(w), c) for w, c in vocab]
        out = []
        for _ in range(M):
            pc = Counter()
            for seq, freq in seqs:
                syms = [s for s in seq.split(" ") if s]
                for a, b in zip(syms, syms[1:]):
                    pc[(a, b)] += freq
            if not pc:
                break
            (l, r), cnt = sorted(pc.items(),
                                 key=lambda kv: (-kv[1], kv[0]))[0]
            out.append((l, r, cnt))
            seqs = [(s.replace(f" {l} {r} ", f" {l}{r} "), c)
                    for s, c in seqs]
        return out

    assert _learn_from_vocab(vocab, 8) == naive(vocab, 8)


# ------------------------------------------------------------------ spark


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [(i, f"the cat sat on the mat {i} banana aaaa the threadbare")
            for i in range(60)]
    rows += [(100 + i, "lower newest widest low " * (i + 1))
             for i in range(5)]
    rows.append((200, None))
    rows.append((201, "   "))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_learn_spark_equals_local(spark, corpus):
    merges = bpe_learn(corpus, num_merges=10, vocab_top=50)
    # local twin over the same word counts
    from collections import Counter
    wc = Counter()
    for r in corpus.collect():
        if r["text"]:
            wc.update(w for w in r["text"].split() if w)
    top = sorted(wc.items(), key=lambda kv: (-kv[1], kv[0]))[:50]
    assert merges == _learn_from_vocab(top, 10)


def test_text_cap(spark, corpus):
    capped = bpe_tokenize(corpus, [("t", "h")], text_cap=7,
                          with_tokens=True)
    r = {x["doc_id"]: x for x in capped.collect()}
    # first 7 chars of 'the cat …' == 'the cat'.. substring(1,7)='the cat'
    assert r[0]["bpe_tokens"] == "th e </w> c a t </w>"
    assert r[0]["n_words"] == 2


def test_merges_df_roundtrip(spark):
    merges = [("a", "b", 9), ("ab", "</w>", 4)]
    df = bpe_merges_df(spark, merges)
    back = [(r["left"], r["right"], r["cnt"])
            for r in df.orderBy("rank").collect()]
    assert back == merges


def test_duckdb_replace_twin(spark):
    """The cross-engine contract the oracle rests on: Python str.replace,
    Spark replace and DuckDB replace agree on the padded-sequence
    rewrite, including overlap edges."""
    seqs = [" a a a a </w> ", " b a n a n a </w> ", " x </w> "]
    pat, rep = " a a ", " aa "
    for s in seqs:
        py = s.replace(pat, rep)
        dk = duckdb.sql(
            "SELECT replace(?, ?, ?)", params=[s, pat, rep]).fetchone()[0]
        sp = spark.range(1).select(
            F.replace(F.lit(s), F.lit(pat), F.lit(rep))).first()[0]
        assert py == dk == sp
