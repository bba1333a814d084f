"""Subword (BPE) token accounting for training-data budgets.

Corpus budgets are set in TOKENIZER tokens, not whitespace words — a
curation pipeline needs per-doc subword counts under the tokenizer it
will actually train with (VERDICT r6 #4). This module is
a deterministic, dependency-free byte-pair-encoding stack:

* :func:`bpe_learn` — learn a ranked merge table from the corpus.
  Distributed where the data is big (one word-count aggregation over the
  corpus, map-side combined), driver-side where it is provably small (the
  merge loop runs over the top-``vocab_top`` words only — a bounded
  ``orderBy().limit()`` collect, never corpus-shaped). This mirrors how
  production tokenizers are built: train on a capped vocabulary/sample,
  apply at full scale.
* :func:`bpe_tokenize` — corpus-scale application: an Arrow-batched
  pandas UDF with a per-batch word memo (chained column expressions stop
  scaling past a few dozen merges). ``run_curate``'s token accounting
  runs it, and the registry's DuckDB oracle replays it in SQL.

SINGLE-PASS MERGE SEMANTICS (the spec, chosen for cross-engine
exactness): a word is symbolized as ``' c1 c2 … cn </w> '`` (space-
delimited codepoints plus an end-of-word marker, padded both ends); each
learning iteration counts adjacent symbol pairs over the vocabulary
(every adjacent position counts, weighted by word frequency), picks the
(count DESC, left ASC, right ASC) argmax, and rewrites every vocabulary
entry with ONE left-to-right non-overlapping ``replace`` of
``' l r '`` → ``' lr '``. Application replays the learned merges in rank
order with the same single replace each. Python ``str.replace`` and
ANSI-SQL ``replace`` share these exact semantics, so the UDF and the
DuckDB replay agree byte-for-byte — including on runs of
identical symbols (``'a a a a'`` under merge ``(a, a)`` becomes
``'aa a a'`` in one pass, not classic BPE's ``'aa aa'``; a pair that
reappears is simply re-learnable at a later rank, which the learner does
in practice). Classic re-scan BPE differs only on such runs; the
single-pass variant is what keeps the whole stack exactly replayable in
SQL (the driver oracle runs the full learn + apply as an unrolled CTE
chain).

Whitespace: words are split on Java/RE2 ``\\s+`` (ASCII whitespace);
the driver-side learner splits on the same explicit ASCII class so all
three engines segment identically.
"""

from __future__ import annotations

import re
from typing import Optional, Sequence, Tuple

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

Merge = Tuple[str, str, int]  # (left, right, pair_count_at_selection)

_WS_SPLIT = r"\s+"
# Java \s == [ \t\n\x0B\f\r]; RE2 \s == [ \t\n\f\r]. The learner uses the
# intersection-exact Java class so Python segmentation matches Spark's.
_PY_WS = re.compile(r"[ \t\n\x0B\f\r]+")
EOW = "</w>"


def _words_col(text_col: Column, text_cap: Optional[int]) -> Column:
    """Non-empty whitespace-split words of (optionally capped) text."""
    if text_cap is not None:
        text_col = F.substring(text_col, 1, text_cap)
    return F.filter(F.split(text_col, _WS_SPLIT), lambda w: w != "")


def _symbolize(word: str) -> str:
    return " " + " ".join(list(word) + [EOW]) + " "


def _learn_from_vocab(vocab: Sequence[Tuple[str, int]],
                      num_merges: int) -> list[Merge]:
    """The driver-side merge loop over a BOUNDED (word, freq) vocabulary.

    Keeps an inverted pair → word-ids index so each iteration only
    recounts the words the chosen merge actually rewrote (the standard
    incremental trick); semantics are identical to the naive full
    recount."""
    from collections import Counter, defaultdict

    seqs = [_symbolize(w) for w, _ in vocab]
    freqs = [c for _, c in vocab]

    def pair_counts_of(seq: str) -> Counter:
        syms = [s for s in seq.split(" ") if s]
        c: Counter = Counter()
        for a, b in zip(syms, syms[1:]):
            c[(a, b)] += 1
        return c

    totals: Counter = Counter()
    where: defaultdict = defaultdict(set)
    per_word: list[Counter] = []
    for i, seq in enumerate(seqs):
        pc = pair_counts_of(seq)
        per_word.append(pc)
        for p, k in pc.items():
            totals[p] += k * freqs[i]
            where[p].add(i)

    merges: list[Merge] = []
    for _ in range(num_merges):
        best = None
        for p, cnt in totals.items():
            if cnt <= 0:
                continue
            key = (-cnt, p[0], p[1])
            if best is None or key < best[0]:
                best = (key, p, cnt)
        if best is None:
            break
        _, (l, r), cnt = best
        merges.append((l, r, cnt))
        pat, rep = f" {l} {r} ", f" {l}{r} "
        for i in sorted(where[(l, r)]):
            new_seq = seqs[i].replace(pat, rep)
            if new_seq == seqs[i]:
                continue
            new_pc = pair_counts_of(new_seq)
            old_pc = per_word[i]
            for p in set(old_pc) | set(new_pc):
                d = new_pc.get(p, 0) - old_pc.get(p, 0)
                if d:
                    totals[p] += d * freqs[i]
                if new_pc.get(p, 0):
                    where[p].add(i)
                else:
                    where[p].discard(i)
            seqs[i], per_word[i] = new_seq, new_pc
    return merges


def bpe_learn(docs: DataFrame, *, num_merges: int = 200,
              vocab_top: int = 5000, text_cap: Optional[int] = None,
              text_col: str = "text") -> list[Merge]:
    """Learn ``num_merges`` ranked merges from ``docs``.

    One distributed aggregation — explode words, count, keep the
    ``vocab_top`` most frequent (count DESC, word ASC: a total order, so
    the cap boundary is deterministic) — then the merge loop runs on the
    driver over that bounded vocabulary. The collect is ≤ ``vocab_top``
    rows by construction, never corpus-shaped. ``text_cap`` optionally
    restricts each doc to its first N characters (cheap learning pass on
    long docs; production tokenizers subsample the same way)."""
    vocab_rows = (docs
                  .select(F.explode(_words_col(F.col(text_col),
                                               text_cap)).alias("word"))
                  .groupBy("word").agg(F.count("*").alias("freq"))
                  .orderBy(F.desc("freq"), F.asc("word"))
                  .limit(vocab_top)
                  .collect())
    return _learn_from_vocab([(r["word"], r["freq"]) for r in vocab_rows],
                             num_merges)


def bpe_merges_df(spark: SparkSession, merges: Sequence[Merge]) -> DataFrame:
    """The merge table as data — (rank, left, right, cnt) — for
    persisting next to a corpus so application is reproducible."""
    return spark.createDataFrame(
        [(i + 1, l, r, c) for i, (l, r, c) in enumerate(merges)],
        "rank int, left string, right string, cnt long")


def tokenize_word(word: str, merges: Sequence[Merge]) -> list[str]:
    """One word's subword tokens under ``merges``: symbolize, then the
    ranked single-pass replace chain (the spec above)."""
    s = _symbolize(word)
    for l, r, *_ in merges:
        s = s.replace(f" {l} {r} ", f" {l}{r} ")
    return s.split()


def bpe_tokenize(docs: DataFrame, merges: Sequence[Merge], *,
                 text_col: str = "text", text_cap: Optional[int] = None,
                 with_tokens: bool = False) -> DataFrame:
    """Per-doc subword token accounting at corpus scale.

    Adds ``n_words`` (JVM-side) and ``n_bpe_tokens`` — plus the
    space-joined token string as ``bpe_tokens`` when ``with_tokens`` —
    via an Arrow-batched pandas UDF with a per-batch word → tokenization
    memo (word frequency follows a Zipf law, so the memo hit rate makes
    the replace chain amortized-cheap). Stateless projection: no
    shuffle, safe at any scale."""
    mg = [(l, r) for l, r, *_ in merges]

    @pandas_udf("n_bpe_tokens long, bpe_tokens string")
    def _tok(texts: pd.Series) -> pd.DataFrame:
        memo: dict[str, list[str]] = {}

        def one(t):
            if t is None:
                return (0, None)
            if text_cap is not None:
                t = t[:text_cap]
            out = []
            for w in _PY_WS.split(t):
                if not w:
                    continue
                hit = memo.get(w)
                if hit is None:
                    hit = memo[w] = tokenize_word(w, mg)
                out.append(hit)
            n = sum(len(x) for x in out)
            if not with_tokens:
                return (n, None)
            return (n, " ".join(" ".join(x) for x in out))

        rows = [one(t) for t in texts]
        return pd.DataFrame(rows, columns=["n_bpe_tokens", "bpe_tokens"])

    # select the struct ONCE, then expand — two field references on the
    # UDF expression could evaluate the Python UDF twice
    staged = docs.select(
        "doc_id",
        F.size(_words_col(F.col(text_col), text_cap)).alias("n_words"),
        _tok(F.col(text_col)).alias("_bpe"))
    return staged.select(
        "doc_id", "n_words",
        F.col("_bpe.n_bpe_tokens").alias("n_bpe_tokens"),
        *([F.col("_bpe.bpe_tokens").alias("bpe_tokens")] if with_tokens
          else []))
