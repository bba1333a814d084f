"""Training-data pipeline operators over document/embedding tables.

These are the corpus-preparation ops the curation pipeline
(``mre.curate``) composes around the extractor: fingerprints and
MinHash-LSH near-dup with exact n-gram Jaccard confirmation, connected
components, benchmark decontamination, the Gopher/C4/URL/PII quality
rules, unigram-LM and Naive Bayes scoring, SemDeDup over embeddings,
DSIR selection, budgeted mixture sampling and the hash split.

Everything stays JVM-side (built-in functions, higher-order array
expressions) except SemDeDup's per-cell cosine confirmation, a
mapInPandas over bounded cell blocks.

Scale design:
* fingerprints: md5 of the normalized text; exact dedup is one
  hash-groupBy on the digest.
* MinHash-LSH: signatures are per-row (no shuffle); banding explodes to
  b rows/doc and joins on (band, band_hash) — the classic sub-quadratic
  near-dup path; the exact-Jaccard verifier runs only on candidate pairs.
* arithmetic stays in [0, 2^62) — Spark 4 ANSI mode would throw on long
  overflow, so MinHash uses mod-2^31-1 linear hashes.
"""
from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# --------------------------------------------------------------------------
# shared text helpers

_WS_SPLIT = r"\s+"

MERSENNE31 = 2147483647  # minhash modulus (fits ANSI-safe long arithmetic)

# deterministic minhash params: a_i odd, b_i arbitrary, both < 2^31-1
_KNUTH = 2654435761


def _minhash_params(k: int) -> list[tuple[int, int]]:
    return [(((2 * i + 1) * _KNUTH) % MERSENNE31 or 1,
             ((i + 1) * 40503 * 65537) % MERSENNE31) for i in range(k)]


def tokens_col(text_col: str = "text"):
    return F.split(F.lower(F.trim(F.col(text_col))), _WS_SPLIT)


# --------------------------------------------------------------------------
# cache ownership (ADVICE r4: helpers persist intermediates that feed
# multiple join branches of ONE returned plan; Spark has no
# unpersist-after-first-action hook, so the frames are registered here
# and released deterministically by the caller once the result is
# materialized — otherwise a long-lived session composing several ops
# accumulates cached corpora until LRU eviction)

_LIVE_CACHES: list = []


def _register_cache(df: DataFrame) -> DataFrame:
    _LIVE_CACHES.append(df)
    return df


def _release_local_checkpoint(df: DataFrame) -> None:
    """Unpersist the RDD behind a ``localCheckpoint``-ed DataFrame.
    ONLY call once nothing will materialize the frame again: a locally
    checkpointed RDD has no lineage and CANNOT be recomputed."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass  # plan shape changed / session gone — leak, don't crash


class _CkptHandle:
    """Registry entry for a checkpoint that the RETURNED plan of an
    operator still references (e.g. dup_clusters' final label frame):
    releasable only by the caller, after the result is materialized."""

    def __init__(self, df: DataFrame):
        self._df = df

    def unpersist(self, blocking: bool = False) -> None:
        _release_local_checkpoint(self._df)


def cache_mark() -> int:
    """Marker for scoped release: a composed job records the mark on
    entry and passes it to ``release_caches(since=mark)`` on exit, so it
    only releases the frames IT registered — never checkpoints owned by
    other still-live plans in the same session (run_curate does this)."""
    return len(_LIVE_CACHES)


def release_caches(since: int = 0) -> int:
    """Unpersist the intermediate frames textops/curate helpers
    registered at position ≥ ``since`` (default: all of them); returns
    how many were released.

    Call it after MATERIALIZING the composed result. For plain persisted
    frames this is always safe (persist is a hint; a released plan
    recomputes on its next action), but plans that embed a
    ``localCheckpoint`` (``dup_clusters`` output, and anything composed
    on top of it such as ``near_dup_loser_ids``) must NOT be materialized
    again after release — checkpointed RDDs have no lineage to recompute.
    When several such plans are live in one session, release with a
    ``cache_mark()`` scope instead of the default full sweep."""
    victims = _LIVE_CACHES[since:]
    del _LIVE_CACHES[since:]
    for df in victims:
        try:
            df.unpersist()
        except Exception:
            pass  # session already stopped — nothing to release
    return len(victims)


# --------------------------------------------------------------------------
# unigram LM perplexity filtering (CCNet-family, Wenzek et al. 2020 —
# self-trained from the corpus; no external model files exist in this
# environment). All cross-engine arithmetic is INTEGER: the single float
# op (ln) is floored to micro-nats immediately per vocab entry, so
# per-doc sums/means are exact, order-independent, and engine-portable
# (verified: 1608-pair Spark-vs-DuckDB floor(-ln(c/t)*1e6) sweep, zero
# mismatches — and the fixture corpora are deterministic, so a local
# match at both SFs is permanent).


def _nll_micro_expr(cnt, total):
    """floor(-ln(cnt/total) * 1e6) as a LONG column — nats × 1e6.

    The exact op sequence (double divide → ln → negate → scale → floor)
    is mirrored verbatim in the DuckDB oracle; both engines execute the
    same IEEE ops except ln itself (≤1 ulp apart in practice)."""
    p = cnt.cast("double") / total.cast("double")
    return F.floor(-F.log(p) * F.lit(1e6)).cast("long")


def lm_learn(docs: DataFrame, vocab_top: int = 256,
             text_col: str = "text",
             counts: DataFrame | None = None) -> tuple[DataFrame, int]:
    """Learn a unigram LM over whitespace tokens: one distributed
    token-count aggregation (map-side combinable — the only shuffle),
    keep the ``vocab_top`` most frequent under the TOTAL order
    (count desc, token asc), and attach ``nll_micro``. Returns
    ``(vocab_df(tok, cnt, nll_micro), total_tokens)`` — ``total`` counts
    every token occurrence (in- and out-of-vocab) so probabilities are
    honest; OOV tokens score as count 1 (``lm_oov_micro``).

    Scale shape: the corpus shuffles token COUNTS only (partial aggs),
    the vocab is bounded (``vocab_top`` rows) and the total is one
    scalar — both driver-safe.

    ``counts`` (round 8): a precomputed (tok, cnt) frame with the same
    tokenization (``tokens_col``, empty tokens dropped) — lets a caller
    that also trains the NB gate share ONE token-count aggregation
    (nb_train's per-class counts sum to exactly this frame) instead of
    exploding the corpus twice."""
    if counts is None:
        toks = (docs.select(F.explode(tokens_col(text_col)).alias("tok"))
                .filter(F.col("tok") != ""))
        counts = toks.groupBy("tok").agg(F.count("*").alias("cnt"))
    total = int(counts.agg(F.sum("cnt")).first()[0] or 0)
    vocab = (counts.orderBy(F.col("cnt").desc(), F.col("tok"))
             .limit(int(vocab_top))
             .withColumn("nll_micro",
                         _nll_micro_expr(F.col("cnt"), F.lit(total))))
    return vocab, total


def lm_oov_micro(total: int):
    """The out-of-vocabulary penalty column: same formula as a vocab
    entry with count 1 — floor(-ln(1/total) * 1e6)."""
    return _nll_micro_expr(F.lit(1), F.lit(int(total)))


def lm_score(docs: DataFrame, vocab_rows: list, total: int,
             text_col: str = "text") -> DataFrame:
    """Per-doc mean negative log-likelihood in MICRO-NATS under the
    unigram LM — the CCNet perplexity-filter statistic (perplexity is
    exp(nll_mean/1e6); the integer mean is kept so the score is exact
    and portable; it orders docs identically).

    ``vocab_rows`` is the BOUNDED learned vocab (list of
    ``(tok, nll_micro)`` — collect it from ``lm_learn``'s frame): the
    lookup becomes a MAP
    literal inside ``F.aggregate`` over the token array, so scoring is a
    pure projection — ZERO shuffle, rides any corpus scan. Docs with no
    tokens score NULL (no evidence).

    Columns: doc_id, lm_n_tokens, nll_micro_sum,
    nll_micro_mean = nll_micro_sum DIV lm_n_tokens."""
    total = int(total)
    lut = F.create_map(
        *[F.lit(v) for tok, nll in vocab_rows for v in (tok, int(nll))])
    oov = lm_oov_micro(total)
    toks = F.filter(tokens_col(text_col), lambda t: t != "")
    n = F.size(toks)
    ssum = F.aggregate(
        toks, F.lit(0).cast("long"),
        lambda acc, t: acc + F.coalesce(
            F.element_at(lut, t).cast("long"), oov))
    return docs.select(
        "doc_id",
        n.cast("long").alias("lm_n_tokens"),
        F.when(n > 0, ssum).alias("nll_micro_sum"),
    ).withColumn(
        # integer division — positive operands, identical in every engine
        "nll_micro_mean", F.expr("nll_micro_sum DIV lm_n_tokens"))


def lm_vocab_rows(vocab: DataFrame) -> list:
    """Bounded collect of the learned vocab for ``lm_score``'s map
    literal (vocab_top rows — driver-safe by construction)."""
    return [(r["tok"], int(r["nll_micro"]))
            for r in vocab.select("tok", "nll_micro").collect()]


def nb_train(docs: DataFrame, label_col: str = "label",
             vocab_top: int = 256,
             text_col: str = "text",
             counts: DataFrame | None = None) -> tuple[list, dict]:
    """Train a binary multinomial Naive Bayes text classifier on the
    corpus itself — the SQL-replayable analogue of the fastText-style
    classifiers CCNet/RefinedWeb gate corpora with (their SGD training
    is float-order-dependent; NB's closed-form counts are not). Labels
    come from ``label_col`` (0/1 — e.g. a heuristic rule or a metadata
    bit, the self-training device).

    Add-one smoothing over a bounded shared vocab: the ``vocab_top``
    most frequent tokens under the (total count desc, token asc) total
    order; per class c, nll_c(tok) = floor(-ln((cnt_{tok,c}+1) /
    (total_c + V + 1))·1e6) micro-nats, with the +1 slot pricing OOV
    (count 0). Floors make every downstream sum an exact integer —
    order-independent and engine-portable, the ``lm_learn`` device.

    Returns ``(rows, meta)``: ``rows`` = bounded
    [(tok, delta_micro)] where delta = nll1 − nll0 (the only number
    scoring needs), ``meta`` = {prior_delta_micro, oov_delta_micro,
    v, total0, total1, n0, n1}. Raises if either class is empty.

    Scale shape: ONE (tok)-keyed count shuffle carrying two partial
    sums; totals/priors are scalar aggregates; the vocab is bounded.

    ``counts`` (round 8): a precomputed (tok, c0, c1) frame with the
    same tokenization and label semantics — lets a caller that also
    trains the unigram LM share one aggregation (see ``lm_learn``)."""
    lab = F.col(label_col).cast("int")
    if counts is None:
        toks = (docs.select(lab.alias("_y"),
                            F.explode(tokens_col(text_col)).alias("tok"))
                .filter(F.col("tok") != ""))
        counts = toks.groupBy("tok").agg(
            F.sum(F.when(F.col("_y") == 0, 1).otherwise(0)).alias("c0"),
            F.sum(F.when(F.col("_y") == 1, 1).otherwise(0)).alias("c1"))
    tot = counts.agg(F.sum("c0"), F.sum("c1")).first()
    total0, total1 = int(tot[0] or 0), int(tot[1] or 0)
    nd = docs.agg(F.sum(F.when(lab == 0, 1).otherwise(0)),
                  F.sum(F.when(lab == 1, 1).otherwise(0))).first()
    n0, n1 = int(nd[0] or 0), int(nd[1] or 0)
    if n0 == 0 or n1 == 0:
        raise ValueError(f"nb_train needs both classes present; "
                         f"got n0={n0}, n1={n1}")
    vocab = (counts.orderBy((F.col("c0") + F.col("c1")).desc(), "tok")
             .limit(int(vocab_top)))
    vrows = [(r["tok"], int(r["c0"]), int(r["c1"]))
             for r in vocab.collect()]   # bounded: ≤ vocab_top
    v = len(vrows)
    d0, d1 = total0 + v + 1, total1 + v + 1

    def _nll(cnt, den):
        return math.floor(-math.log(cnt / den) * 1e6)

    rows = [(t, _nll(c1 + 1, d1) - _nll(c0 + 1, d0))
            for t, c0, c1 in vrows]
    meta = {
        "prior_delta_micro": _nll(n1, n0 + n1) - _nll(n0, n0 + n1),
        "oov_delta_micro": _nll(1, d1) - _nll(1, d0),
        "v": v, "total0": total0, "total1": total1, "n0": n0, "n1": n1,
    }
    return rows, meta


def nb_score(docs: DataFrame, rows: list, meta: dict,
             text_col: str = "text") -> DataFrame:
    """Score docs under a trained ``nb_train`` model: margin_micro =
    prior_delta + Σ_tok delta(tok) (OOV tokens price at the smoothing
    slot), all exact integer micro-nats; ``nb_pred`` = 1 when the
    margin is ≤ 0 (class 1 at least as likely; a zero margin
    deterministically predicts 1). The bounded model rides as a map
    literal folded over the token array — a PURE PROJECTION, zero
    shuffle, zero UDF, the ``lm_score`` device. Docs with no tokens
    score the bare prior."""
    lut = F.create_map(
        *[F.lit(v) for tok, d in rows for v in (tok, int(d))])
    oov = F.lit(int(meta["oov_delta_micro"])).cast("long")
    toks = F.filter(tokens_col(text_col), lambda t: t != "")
    ssum = F.aggregate(
        toks, F.lit(int(meta["prior_delta_micro"])).cast("long"),
        lambda acc, t: acc + F.coalesce(
            F.element_at(lut, t).cast("long"), oov))
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("nb_n_tokens"),
        ssum.alias("margin_micro"),
    ).withColumn("nb_pred", (F.col("margin_micro") <= 0).cast("int"))


# --------------------------------------------------------------------------
# language-ID (marker-word heuristic; mirrored 1:1 in the DuckDB oracle)

LANG_MARKERS = {
    "en": ("the", "and", "of", "is", "a"),
    "fr": ("le", "la", "les", "et", "des"),
    "es": ("el", "los", "las", "una", "y"),
    "de": ("der", "die", "und", "das", "nicht"),
}


def lang_scores_exprs() -> dict[str, "F.Column"]:
    out = {}
    for lang, words in LANG_MARKERS.items():
        pat = r"\b(" + "|".join(words) + r")\b"
        out[lang] = F.size(F.regexp_extract_all(
            F.lower(F.col("text")), F.lit(pat), 0))
    out["zh"] = F.size(F.regexp_extract_all(
        F.col("text"), F.lit(r"[一-鿿]"), 0))
    return out


def lang_pred_expr() -> "F.Column":
    """The language prediction as ONE column expression — usable inside
    any projection (e.g. the extract→curate adapter) with zero shuffle.
    Predicted language = first language (fixed order en,fr,es,de,zh)
    whose marker score equals the max; 'und' when all scores are 0."""
    scores = lang_scores_exprs()
    order = ["en", "fr", "es", "de", "zh"]
    mx = F.greatest(*[scores[l] for l in order])
    pred = F.when(mx == 0, F.lit("und"))
    for lang in order:
        pred = pred.when(scores[lang] == mx, F.lit(lang))
    return pred


# --------------------------------------------------------------------------
# content fingerprint (the exact-dedup key)


def fingerprint(docs: DataFrame) -> DataFrame:
    """Content fingerprint: md5 of lower/trimmed text (md5 exists in both
    Spark and DuckDB, so the oracle is exact)."""
    return docs.select(
        "doc_id",
        F.md5(F.lower(F.trim(F.col("text")))).alias("fingerprint"))


# --------------------------------------------------------------------------
# n-gram shingles + exact Jaccard over candidate pairs


def shingles(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, shingle) pairs — distinct word n-grams per doc.
    Defined as the explode of ``doc_shingle_sets`` so the n-gram
    construction lives in exactly ONE expression (a tokenization tweak
    can't desynchronize the inverted-index and set-based paths)."""
    return doc_shingle_sets(docs, n).select(
        "doc_id", F.explode("sh_set").alias("shingle"))


def doc_shingle_sets(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, sh_set) — each doc's distinct word n-grams as ONE array
    column. A pure projection: no explode, no shuffle, one corpus scan.
    String shingles (not hashes) so an exact SQL oracle can replicate the
    set algebra verbatim."""
    joined = " || ' ' || ".join(f"toks[i + {j}]" for j in range(n))
    # the transform is guarded by IF so the expression is TOTAL: Catalyst
    # may evaluate it on rows the size filter excludes (inferred
    # generate-filters get pushed below joins, and whole-stage codegen's
    # subexpression elimination evaluates common subexprs before the
    # AND short-circuits) — unguarded, size(toks) < n makes
    # sequence(0, negative) run DESCENDING and toks[i+j] throws under
    # ANSI mode. Conditional branches are exempt from eager subexpr
    # evaluation, so IF is the structural fix, not a band-aid.
    return (docs
            .withColumn("toks", tokens_col())
            .filter(F.size("toks") >= n)
            .select("doc_id", F.expr(
                f"if(size(toks) >= {n}, "
                f"array_distinct(transform(sequence(0, size(toks) - {n}),"
                f" i -> {joined})), array())").alias("sh_set")))


def jaccard_on_candidates(pairs: DataFrame, docs: DataFrame,
                          n: int = 3) -> DataFrame:
    """Exact n-gram Jaccard restricted to a candidate-pair frame — the
    scale path for exact verification (VERDICT r2 #1). ``pairs`` is
    (doc_a, doc_b), e.g. ``minhash_candidates`` output.

    Unlike a corpus-wide inverted-index self-join on shingles (whose
    output is Σ df(shingle)² — one viral boilerplate shingle shared by k
    docs yields k²/2 join rows), this costs O(|pairs|) plus two hash
    joins: per-doc shingle SETS are a pure projection, pruned to docs that
    appear in a candidate pair (left-semi), and each pair's intersection
    is computed with array_intersect on its own two rows. No shape here
    grows faster than the candidate list itself at 10^12 docs.

    Precondition: every doc referenced by ``pairs`` has ≥ n tokens (true
    by construction for MinHash/LSH candidates, which require a
    signature). Pairs with no shared shingles come back with jaccard 0.0,
    not dropped."""
    from pyspark import StorageLevel
    ids = (pairs.select(F.col("doc_a").alias("doc_id"))
           .union(pairs.select(F.col("doc_b").alias("doc_id")))
           .distinct())
    # persisted: the pruned set frame feeds both join sides
    sets = _register_cache(
        doc_shingle_sets(docs, n)
        .join(ids, "doc_id", "left_semi")
        .persist(StorageLevel.MEMORY_AND_DISK))
    sa = sets.select(F.col("doc_id").alias("doc_a"),
                     F.col("sh_set").alias("sh_a"))
    sb = sets.select(F.col("doc_id").alias("doc_b"),
                     F.col("sh_set").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    return (pairs.join(sa, "doc_a").join(sb, "doc_b")
            .withColumn("jaccard", F.round(
                inter / (F.size("sh_a") + F.size("sh_b") - inter), 4))
            .select("doc_a", "doc_b", "jaccard"))


# --------------------------------------------------------------------------
# MinHash + LSH near-dup (sub-quadratic scale path)


def minhash_signatures(docs: DataFrame, k: int = 32,
                       n: int = 3) -> DataFrame:
    """k-element MinHash signature per doc, fully JVM-side.

    h_i(s) = (a_i * (xxhash64(s) mod P) + b_i) mod P with P = 2^31-1;
    products stay < 2^62 so ANSI-mode long arithmetic never overflows."""
    joined = " || ' ' || ".join(f"toks[i + {j}]" for j in range(n))
    params = _minhash_params(k)
    mins = ", ".join(
        f"array_min(transform(sh, h -> pmod({a}L * h + {b}L, {MERSENNE31}L)))"
        for a, b in params)
    return (docs
            .withColumn("toks", tokens_col())
            .filter(F.size("toks") >= n)
            # IF-guarded like doc_shingle_sets: the transform must be
            # total — Catalyst can evaluate it on filtered-out rows (see
            # doc_shingle_sets), where sequence(0, negative) + toks[i+j]
            # would throw under ANSI mode
            .withColumn("sh", F.expr(
                f"if(size(toks) >= {n}, "
                f"transform(array_distinct(transform("
                f"sequence(0, size(toks) - {n}), i -> {joined})),"
                f" s -> pmod(xxhash64(s), {MERSENNE31}L)), array())"))
            .select("doc_id", F.expr(f"array({mins})").alias("sig")))


# estimated Jaccard from two signature columns (sig_a, sig_b): fraction
# of equal positions, on the 4-decimal grid. ONE definition — used by the
# within-corpus verifier (minhash_near_dups) AND the cross-corpus
# incremental path (mre.curate.dedup_increment), so the two verification
# paths can never desynchronize their threshold semantics.
EST_JACCARD_SQL = ("round(size(filter(zip_with(sig_a, sig_b,"
                   " (x, y) -> int(x = y)), v -> v = 1))"
                   " / size(sig_a), 4)")


def minhash_bands(sigs: DataFrame, bands: int = 8) -> DataFrame:
    """(doc_id, band_idx, band_hash) LSH banding rows for a signature
    frame — the shared building block of the self-join candidate
    generator (``minhash_candidates``) and the cross-corpus incremental
    path (``mre.curate.dedup_increment``, where a new batch's bands
    equi-join an existing index's bands)."""
    return sigs.select(
        "doc_id",
        F.posexplode(F.expr(
            f"transform(sequence(0, {bands - 1}),"
            f" b -> hash(slice(sig, b * (size(sig) div {bands}) + 1,"
            f" size(sig) div {bands})))")).alias("band_idx", "band_hash"))


def minhash_candidates(sigs: DataFrame, bands: int = 8,
                       max_bucket: int | None = None) -> DataFrame:
    """LSH banding: docs agreeing on any band are candidate near-dups.
    Join key is (band_idx, hash(band slice)) → pure equi-join shuffle.

    ``max_bucket`` guards the self-join's quadratic worst case at corpus
    scale: a bucket of b docs emits b² pairs, and one viral boilerplate
    cluster (b in the millions at 10^12 docs) would dominate the whole
    job. Buckets past the cap are whole near-identical clusters anyway —
    route them to exact dedup, which is linear. Default None = no pruning
    (small-sf behavior and the driver oracle are unchanged)."""
    banded = minhash_bands(sigs, bands)
    if max_bucket is not None:
        sizes = (banded.groupBy("band_idx", "band_hash")
                 .agg(F.count("*").alias("_bsz"))
                 .filter(F.col("_bsz") <= max_bucket)
                 .drop("_bsz"))
        banded = banded.join(sizes, ["band_idx", "band_hash"])
    a, b = banded.alias("a"), banded.alias("b")
    return (a.join(b, (F.col("a.band_idx") == F.col("b.band_idx"))
                   & (F.col("a.band_hash") == F.col("b.band_hash"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"))
            .distinct())


def minhash_near_dups(docs: DataFrame, k: int = 32, n: int = 3,
                      bands: int = 8, threshold: float = 0.5,
                      max_bucket: int | None = None) -> DataFrame:
    """Candidates via banding, verified by signature agreement (estimated
    Jaccard = fraction of equal signature positions). ``max_bucket`` is
    the hot-bucket guard (see minhash_candidates) — exposed here so the
    user-facing op carries the corpus-scale knob, not just the internals.

    The signature frame feeds four plan branches (both band-join sides +
    both verifier joins); without a persist Spark recomputes the 32-hash
    transform and rescans the corpus 4×. MEMORY_AND_DISK keeps it to one
    scan and spills per-executor at scale (sig row ≈ doc_id + k longs)."""
    from pyspark import StorageLevel
    sigs = _register_cache(minhash_signatures(docs, k, n).persist(
        StorageLevel.MEMORY_AND_DISK))
    cands = minhash_candidates(sigs, bands, max_bucket=max_bucket)
    sa = sigs.select(F.col("doc_id").alias("doc_a"),
                     F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("doc_b"),
                     F.col("sig").alias("sig_b"))
    return (cands.join(sa, "doc_a").join(sb, "doc_b")
            .withColumn("est_jaccard", F.expr(EST_JACCARD_SQL))
            .filter(F.col("est_jaccard") >= threshold)
            .select("doc_a", "doc_b", "est_jaccard"))


def benchmark_contamination(docs: DataFrame, evals: DataFrame,
                            n: int = 5) -> DataFrame:
    """Decontamination scan (the step every training corpus runs against
    its eval benchmarks): which corpus docs share ≥1 word n-gram with a
    benchmark text, and how many. ``evals`` is a small (eval_id, text)
    frame. Returns (doc_id, eval_id, n_shared).

    Scale shape: the eval side is tiny → explicit broadcast, so the
    corpus-side n-gram explode feeds a broadcast hash join with NO corpus
    shuffle; only matching (doc, eval) gram rows reach the final groupBy.
    Cost is one linear corpus scan regardless of corpus size."""
    corpus = shingles(docs, n)
    ev = (shingles(evals.select(F.col("eval_id").alias("doc_id"), "text"),
                   n)
          .select(F.col("doc_id").alias("eval_id"),
                  F.col("shingle").alias("ev_shingle")))
    return (corpus.join(F.broadcast(ev),
                        corpus.shingle == ev.ev_shingle)
            .groupBy("doc_id", "eval_id")
            .agg(F.count("*").alias("n_shared")))


def dup_clusters(pairs: DataFrame, max_iter: int = 30,
                 driver_edge_cap: int = 500_000) -> DataFrame:
    """Connected components over a near-dup pair frame: (doc_id,
    cluster_id) with cluster_id = min doc_id in the component — the final
    step of every dedup family (pairs → groups → keep one per group).

    DataFrame-only min-label propagation with POINTER JUMPING: each round
    a node adopts min(own label, neighbors' labels, its label's label).
    The label-of-label hop roughly squares reach per round, so rounds are
    O(log diameter); at corpus scale each round is one equi-join plus one
    partially-aggregated groupBy over (doc_id, long) rows — tiny shuffles
    independent of document bytes, the standard DataFrame-only CC shape.
    Convergence is an exact changed-row count (one action per round, as
    any iterative algorithm on Spark needs). Only docs appearing in
    ``pairs`` are returned; absent docs are singletons by definition.

    Lineage is TRUNCATED with ``localCheckpoint`` at the start and after
    every round — without it each round's logical plan nests the whole
    upstream pipeline (e.g. MinHash) plus all prior rounds, and Catalyst
    re-optimization comes to dominate wall time (measured 27s → ~4s on a
    261-pair graph). On a real cluster swap in reliable ``checkpoint()``
    if executor loss during the loop must be survivable.

    Cache hygiene (ADVICE r4): each round's superseded label checkpoint
    is unpersisted as soon as the next round is materialized (its reader
    — the changed-row count — has already run), and the edge frame once
    the loop ends; only the FINAL label checkpoint stays (the returned
    plan reads it) and is registered for ``release_caches()``.

    SMALL-GRAPH FAST PATH (round 8): when the deduped undirected edge
    frame holds ≤ ``driver_edge_cap`` rows (a constant bound — ~8 MB of
    long pairs at the default; NOT corpus-scaled), the component labels
    are computed on the driver with vectorized numpy min-label
    propagation + pointer jumping over index-remapped edges, and
    returned as one local frame. Every benched call site (MinHash pair
    graphs, within-batch ingest dedup, the composed curation pipeline)
    feeds pair frames orders of magnitude under the cap, and each
    distributed round costs 2 driver-coordinated jobs
    (localCheckpoint + changed-count) — measured ~1.5-2.5 s of pure
    job-scheduling overhead per call at sf0.1 for graphs of a few dozen
    edges. Above the cap the pointer-jumping loop below is unchanged
    (the corpus-scale path). Same labels either way: min doc_id per
    component, exact."""
    e = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    edges = (e.union(e.select(F.col("b").alias("a"),
                              F.col("a").alias("b")))
             .distinct().localCheckpoint(eager=True))
    n_edges = edges.count()   # reads the just-materialized checkpoint
    if n_edges <= driver_edge_cap:
        rows = edges.collect()   # bounded by the cap, never corpus-shaped
        _release_local_checkpoint(edges)
        spark = pairs.sparkSession
        if not rows:
            return spark.createDataFrame([], "doc_id long, cluster_id long")
        ea = np.fromiter((r["a"] for r in rows), np.int64, count=len(rows))
        eb = np.fromiter((r["b"] for r in rows), np.int64, count=len(rows))
        nodes = np.unique(np.concatenate([ea, eb]))
        ia = np.searchsorted(nodes, ea)
        ib = np.searchsorted(nodes, eb)
        # min-label propagation + pointer jumping on index labels; the
        # node array is sorted, so min index == min doc_id
        labels = np.arange(len(nodes), dtype=np.int64)
        while True:
            nxt = labels.copy()
            np.minimum.at(nxt, ia, labels[ib])  # edges are doubled
            nxt = np.minimum(nxt, nxt[nxt])     # label-of-label hop
            if np.array_equal(nxt, labels):
                break
            labels = nxt
        return spark.createDataFrame(
            pd.DataFrame({"doc_id": nodes, "cluster_id": nodes[labels]}))
    labels = (edges.select(F.col("a").alias("node")).distinct()
              .withColumn("label", F.col("node"))
              .localCheckpoint(eager=True))
    for _ in range(max_iter):
        nb = (edges.join(labels.select(F.col("node").alias("b"), "label"),
                         "b")
              .groupBy(F.col("a").alias("node"))
              .agg(F.min("label").alias("nb_min")))
        jump = labels.select(F.col("node").alias("label"),
                             F.col("label").alias("lbl_of_lbl"))
        new = (labels.join(nb, "node", "left").join(jump, "label", "left")
               .select("node", F.least(
                   F.col("label"),
                   F.coalesce("nb_min", F.col("label")),
                   F.coalesce("lbl_of_lbl", F.col("label"))).alias("label"))
               .localCheckpoint(eager=True))
        changed = (new.join(labels.withColumnRenamed("label", "old"),
                            "node")
                   .filter(F.col("label") != F.col("old")).count())
        _release_local_checkpoint(labels)
        labels = new
        if changed == 0:
            break
    _release_local_checkpoint(edges)
    _register_cache(_CkptHandle(labels))
    return labels.select(F.col("node").alias("doc_id"),
                         F.col("label").alias("cluster_id"))


# --------------------------------------------------------------------------
# Gopher-style document quality rules (pure built-ins; SQL-oracle-able)

_GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality(docs: DataFrame) -> DataFrame:
    """Gopher/Dolma-family quality filter rules over raw text, JVM-side:
    word-count window, mean-word-length window, symbol-to-word ratio,
    alpha-word fraction, stopword floor; ``keep`` = all rules pass."""
    toks = tokens_col()
    n_words = F.size(toks)
    n1 = F.greatest(n_words, F.lit(1))
    n_chars_ns = F.length(F.regexp_replace(
        F.lower(F.trim(F.col("text"))), _WS_SPLIT, ""))
    mean_wl = n_chars_ns / n1
    n_sym = F.size(F.regexp_extract_all(
        F.col("text"), F.lit(r"[#…•=+*^~|<>{}\\]"), 0))
    n_alpha_words = F.size(F.filter(
        toks, lambda t: t.rlike("[a-z]")))
    n_stop = F.size(F.filter(
        toks, lambda t: t.isin(*_GOPHER_STOPWORDS)))
    rule_wc = (n_words >= 50) & (n_words <= 100000)
    rule_mwl = (mean_wl >= 3.0) & (mean_wl <= 10.0)
    rule_sym = (n_sym / n1) <= 0.1
    rule_alpha = (n_alpha_words / n1) >= 0.8
    rule_stop = n_stop >= 2
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        F.round(mean_wl, 4).alias("mean_word_len"),
        rule_wc.cast("int").alias("pass_word_count"),
        rule_mwl.cast("int").alias("pass_mean_word_len"),
        rule_sym.cast("int").alias("pass_symbol_ratio"),
        rule_alpha.cast("int").alias("pass_alpha_fraction"),
        rule_stop.cast("int").alias("pass_stopwords"),
        (rule_wc & rule_mwl & rule_sym & rule_alpha & rule_stop)
        .cast("int").alias("keep"),
    )


def gopher_repetition(docs: DataFrame, n: int = 2,
                      top_frac_bp_cut: int = 1800) -> DataFrame:
    """Gopher/Dolma repetition rules: the fraction of all word n-gram
    OCCURRENCES (non-distinct) taken by the single most frequent n-gram
    — boilerplate-loop and keyword-stuffed pages score high. Kept on the
    integer basis-point grid (SURVEY §7.1 rule 5). ``pass_repetition``
    uses the Gopher-family ~0.18 top-bigram cut.

    Scale shape: explode (non-distinct n-grams) → per-(doc, gram) count
    with map-side partial aggregation → per-doc max/sum. Both shuffles
    are keyed by doc_id(+gram hash) and carry counts, not text — linear
    in corpus size. Docs with < n tokens get top_ngram_bp = 0 (pass).

    Documented scale trade-off (ADVICE r4): grams are grouped by
    xxhash64(gram), not the gram string, so a 64-bit collision between
    two distinct n-grams WITHIN one doc merges their counts and can
    inflate top_ngram_bp past the cut — diverging from a string-keyed
    oracle. P(collision) ≈ m²/2^65 per doc (m = grams/doc; ~5e-14 at
    m=10^3), i.e. expected ~0.05 misclassified docs per 10^12; group on
    the gram string instead when running at verification scale."""
    joined = " || ' ' || ".join(f"toks[i + {j}]" for j in range(n))
    grams = (docs
             .withColumn("toks", tokens_col())
             .filter(F.size("toks") >= n)
             # IF-guarded totality, same rule as doc_shingle_sets
             .select("doc_id", F.explode(F.expr(
                 f"if(size(toks) >= {n}, "
                 f"transform(sequence(0, size(toks) - {n}),"
                 f" i -> {joined}), array())")).alias("gram")))
    per_gram = (grams.groupBy("doc_id", F.xxhash64("gram").alias("g"))
                .agg(F.count("*").alias("c")))
    per_doc = (per_gram.groupBy("doc_id")
               .agg(F.max("c").alias("top_c"),
                    F.sum("c").alias("total_c")))
    out = docs.select("doc_id").join(per_doc, "doc_id", "left")
    top_bp = F.expr("coalesce(top_c * 10000 div total_c, 0)")
    return out.select(
        "doc_id",
        F.coalesce("total_c", F.lit(0)).alias("n_ngrams"),
        top_bp.alias("top_ngram_bp"),
        (top_bp <= top_frac_bp_cut).cast("int").alias("pass_repetition"))


_SECTION_TRIM_RE = r"^\s+|\s+$"


def _dup_section_stats(docs: DataFrame, split_re: str,
                       prefix: str) -> DataFrame:
    """Within-doc duplicate-section occurrence and character fractions
    for one section granularity (lines or paragraphs): split on
    ``split_re``, trim each section, drop empties, and measure what
    share of section OCCURRENCES (and of their characters) belong to a
    section text that appears more than once in the doc. Fractions are
    kept on the integer basis-point grid (SURVEY §7.1 rule 5).

    Scale shape: explode → per-(doc, section) count keyed on
    xxhash64(section) (the shuffle carries a fixed-width digest + the
    section length, never the text — same device and same documented
    64-bit collision trade-off as ``gopher_repetition``) → per-doc sums.
    Both shuffles are doc_id(+hash)-keyed with map-side combine."""
    secs_arr = F.filter(
        F.transform(F.split(F.col("text"), split_re),
                    lambda x: F.regexp_replace(x, _SECTION_TRIM_RE, "")),
        lambda x: x != "")
    per_sec = (docs.select("doc_id", F.explode(secs_arr).alias("sec"))
               .select("doc_id", F.xxhash64("sec").alias("s"),
                       F.length("sec").alias("l"))
               .groupBy("doc_id", "s")
               .agg(F.count("*").alias("c"), F.max("l").alias("l")))
    dup_c = F.when(F.col("c") > 1, F.col("c")).otherwise(F.lit(0))
    dup_ch = F.when(F.col("c") > 1,
                    F.col("c") * F.col("l")).otherwise(F.lit(0))
    agg = (per_sec.groupBy("doc_id")
           .agg(F.sum("c").alias("n"),
                F.sum(F.col("c") * F.col("l")).alias("nch"),
                F.sum(dup_c).alias("dup"),
                F.sum(dup_ch).alias("dupch")))
    return (docs.select("doc_id").join(agg, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("n", F.lit(0)).alias(f"n_{prefix}s"),
                F.expr("coalesce(dup * 10000 div n, 0)")
                .alias(f"dup_{prefix}_bp"),
                F.expr("coalesce(dupch * 10000 div nch, 0)")
                .alias(f"dup_{prefix}_char_bp")))


def gopher_dup_sections(docs: DataFrame, line_bp_cut: int = 3000,
                        char_bp_cut: int = 2000) -> DataFrame:
    """Gopher duplicate-line / duplicate-paragraph repetition rules
    (Rae et al. 2021, Table A1 — the half of the Gopher repetition
    battery ``gopher_repetition``'s top-n-gram occupancy does not
    cover): the fraction of line (paragraph) occurrences that belong to
    a line (paragraph) appearing more than once WITHIN the doc, plus
    the character-weighted variants; ``pass_dup_sections`` applies the
    published cuts (duplicate fraction ≤ 0.30, duplicate character
    fraction ≤ 0.20, both granularities — here 3000/2000 basis points).
    Lines split on ``\\n``, paragraphs on ``\\n{2,}``; sections are
    whitespace-trimmed and empties dropped, so docs without newline
    structure have one line = one paragraph and trivially pass.

    Four doc_id-keyed count shuffles total (two granularities × two
    phases), each map-side combinable; section text never shuffles."""
    lines = _dup_section_stats(docs, r"\n", "line")
    paras = _dup_section_stats(docs, r"\n{2,}", "para")
    out = lines.join(paras, "doc_id")
    ok = ((F.col("dup_line_bp") <= line_bp_cut)
          & (F.col("dup_line_char_bp") <= char_bp_cut)
          & (F.col("dup_para_bp") <= line_bp_cut)
          & (F.col("dup_para_char_bp") <= char_bp_cut))
    return out.withColumn("pass_dup_sections", ok.cast("int"))


# Gopher Table A1 n-gram repetition cuts in basis points: for the TOP
# n-gram (n=2,3,4) the max char-fraction any single n-gram's occurrences
# may occupy; for DUPLICATE n-grams (n=5..10) the max char-fraction of
# occurrences belonging to any n-gram seen more than once in the doc.
GOPHER_TOP_NGRAM_BP = {2: 2000, 3: 1800, 4: 1600}
GOPHER_DUP_NGRAM_BP = {5: 1500, 6: 1400, 7: 1300, 8: 1200, 9: 1100,
                       10: 1000}


def gopher_ngram_battery(docs: DataFrame) -> DataFrame:
    """The full Gopher n-gram repetition battery (Rae et al. 2021,
    Table A1): for n=2,3,4 the character fraction occupied by the single
    most frequent word n-gram's occurrences, for n=5..10 the character
    fraction of occurrences belonging to ANY n-gram appearing more than
    once within the doc — nine rules, each with its published cut
    (``GOPHER_TOP_NGRAM_BP`` / ``GOPHER_DUP_NGRAM_BP``). Occurrence
    counting is the order-independent variant (every occurrence of a
    duplicated n-gram contributes its characters; overlapping coverage
    is NOT positionally de-duplicated — the greedy left-to-right scan
    some implementations use is sequential and engine-specific, this
    definition is exactly replayable in any SQL engine). Characters of
    an n-gram = length of the space-joined gram; the per-doc basis is
    the space-joined token string, so bp values are exact integers on
    the basis-point grid (SURVEY §7.1 rule 5).

    Output: one row per (doc_id, n) — ``n``, ``char_bp``,
    ``pass_rule`` — plus the battery verdict repeated per row
    (``pass_ngram_battery``: all nine rules pass). Docs shorter than
    n+? tokens have no n-grams at that n → char_bp 0, rule passes.

    Scale shape: ONE corpus scan; the doc first fans out to the nine
    (doc, n) rows (a 9× explode of (doc_id, tokens)) and the gram
    stream for each row is built by ONE compact expression with ``n``
    as a COLUMN — not nine unrolled per-n expression copies, which
    defeat Catalyst subexpression elimination and measured >100×
    slower (56 s vs 0.5 s at sf0.1 under the production session
    config) — each gram string materialized once and shuffled as
    (xxhash64(gram), len) fixed-width digests, never gram text (the
    same documented 64-bit collision trade-off as
    ``gopher_repetition``); then two (doc_id, n)-keyed count shuffles
    with map-side combine — no corpus self-join, no window over the
    corpus. (A zero-shuffle array_sort + O(g) run-length ``aggregate``
    fold per row was measured too: interpreted lambda folds lose to
    the JVM hash aggregate by ~40% — the shuffle is the fast path.)"""
    toks = tokens_col()
    tk = F.col("tk")
    base = docs.select("doc_id", toks.alias("tk"),
                       F.length(F.array_join(toks, " ")).alias("basis"))
    # dense (doc_id, n) frame — every doc gets all nine rules, including
    # docs too short to have any n-gram at a given n (char_bp 0, pass)
    dense = base.select(
        "doc_id", "tk", "basis",
        F.explode(F.sequence(F.lit(2), F.lit(10))).alias("n"))
    n = F.col("n")
    sz = F.size(tk)
    gram_strs = F.when(
        sz >= n,
        F.transform(F.sequence(F.lit(1), sz - n + 1),
                    lambda i: F.array_join(F.slice(tk, i, n), " "))
    ).otherwise(F.array().cast("array<string>"))
    gstructs = F.transform(
        gram_strs, lambda g: F.struct(F.xxhash64(g).alias("h"),
                                      F.length(g).alias("l")))
    per_gram = (dense.select("doc_id", "n", F.explode(gstructs).alias("g"))
                .select("doc_id", "n", "g.h", "g.l")
                .groupBy("doc_id", "n", "h")
                .agg(F.count("*").alias("c"), F.max("l").alias("l")))
    top_chars = F.max(F.when(
        F.col("n") <= 4, F.struct(F.col("c"), F.col("l"))))
    dup_chars = F.sum(F.when(
        (F.col("n") >= 5) & (F.col("c") > 1),
        F.col("c") * F.col("l")).otherwise(F.lit(0)))
    per_n = (per_gram.groupBy("doc_id", "n")
             .agg(top_chars.alias("top"), dup_chars.alias("dupch")))
    joined = dense.drop("tk").join(per_n, ["doc_id", "n"], "left")
    chars = F.when(F.col("n") <= 4,
                   F.coalesce(F.col("top.c") * F.col("top.l"),
                              F.lit(0))).otherwise(
                       F.coalesce(F.col("dupch"), F.lit(0)))
    cut = F.element_at(
        F.create_map(*[F.lit(x) for n in range(2, 11)
                       for x in (n, {**GOPHER_TOP_NGRAM_BP,
                                     **GOPHER_DUP_NGRAM_BP}[n])]),
        F.col("n"))
    scored = joined.select(
        "doc_id", "n", "basis", chars.alias("ch"), cut.alias("cut"))
    # integer basis-point division (div) — exact on both engines
    scored = scored.select(
        "doc_id", "n",
        F.when(F.col("basis") > 0, F.expr("ch * 10000 div basis"))
        .otherwise(F.lit(0)).cast("long").alias("char_bp"),
        "cut")
    scored = scored.withColumn(
        "pass_rule", (F.col("char_bp") <= F.col("cut")).cast("int"))
    from pyspark.sql import Window
    # per-doc verdict as a window min over the nine rows — one Exchange
    # instead of a groupBy + join-back (two more)
    return scored.withColumn(
        "pass_ngram_battery",
        F.min("pass_rule").over(Window.partitionBy("doc_id"))
    ).drop("cut")


# Unicode bullets match as a bare leading character; ASCII '-'/'*' only
# count as bullets with a following space ("- item"), so negative
# numbers and emphasis markers don't trip the rule.
_BULLET_CHARS = ("•", "‣", "▪", "◦", "●", "·")


def gopher_line_rules(docs: DataFrame, bullet_bp_cut: int = 9000,
                      ellipsis_bp_cut: int = 3000) -> DataFrame:
    """Gopher line-format rules (Rae et al. 2021, Table A1): drop docs
    where more than 90% of lines start with a bullet point or more than
    30% end with an ellipsis. Lines are ``\\n``-split, trimmed, empties
    dropped (the same section semantics as ``gopher_dup_sections``);
    bullets are the unicode bullet characters bare or ASCII ``- ``/
    ``* ``; an ellipsis ending is ``...`` or the single-char ``…``.
    Fractions land on the integer basis-point grid; docs without
    newline structure have one line and the rules read that line as-is.

    Pure higher-order array column expressions — ZERO shuffle, zero
    UDF; rides any corpus scan at any scale."""
    lines = F.filter(
        F.transform(F.split(F.col("text"), r"\n"),
                    lambda x: F.regexp_replace(x, _SECTION_TRIM_RE, "")),
        lambda x: x != "")
    is_bullet = lambda x: (F.substring(x, 1, 1).isin(*_BULLET_CHARS)
                           | x.startswith("- ") | x.startswith("* "))
    is_ellipsis = lambda x: x.endswith("...") | x.endswith("…")
    out = docs.select(
        "doc_id",
        F.size(lines).alias("n_lines"),
        F.size(F.filter(lines, is_bullet)).alias("nb"),
        F.size(F.filter(lines, is_ellipsis)).alias("ne"))
    out = out.select(
        "doc_id", "n_lines",
        F.when(F.col("n_lines") > 0, F.expr("nb * 10000 div n_lines"))
        .otherwise(F.lit(0)).cast("long").alias("bullet_bp"),
        F.when(F.col("n_lines") > 0, F.expr("ne * 10000 div n_lines"))
        .otherwise(F.lit(0)).cast("long").alias("ellipsis_bp"))
    ok = ((F.col("bullet_bp") <= bullet_bp_cut)
          & (F.col("ellipsis_bp") <= ellipsis_bp_cut))
    return out.withColumn("pass_line_rules", ok.cast("int"))


# --------------------------------------------------------------------------
# SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
# web-scale through semantic deduplication" — public method): k-means
# over the embedding space bounds the quadratic, then near-duplicate
# pairs are confirmed only WITHIN a cluster. The clustering is Lloyd's
# with a deterministic seed (the k lowest vec_ids) and per-component
# centroid rounding, so both engines iterate over IDENTICAL centroids
# and the whole chain replays in SQL.

KMEANS_DECIMALS = 6


def _cell_assign_udf(centroids: list[list[float]]):
    """Vectorized (Arrow-batched) max-cosine cell assignment against a
    bounded centroid list — one numpy matmul per batch instead of
    k·dim interpreted lambda steps per row (measured ~6× on the
    registry's embedding row). Ranking by
    dot(e, c/||c||) equals ranking by cosine (the row norm is constant
    within the row), and np.argmax takes the FIRST max — the same
    tie-break as the SQL replay's row_number ORDER BY sim DESC,
    cell ASC."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    cn = np.array(centroids, dtype=np.float64)
    cn = (cn / np.linalg.norm(cn, axis=1, keepdims=True)).T  # dim×k

    @pandas_udf("int")
    def _cell(emb: pd.Series) -> pd.Series:
        m = np.array([np.asarray(e, dtype=np.float64) for e in emb])
        if len(m) == 0:
            return pd.Series([], dtype="int32")
        return pd.Series((m @ cn).argmax(axis=1) + 1, dtype="int32")

    return _cell


def kmeans_cells(embeddings: DataFrame, k: int = 8, iters: int = 3,
                 id_col: str = "vec_id",
                 emb_col: str = "embedding",
                 driver_vec_cap: int = 65536
                 ) -> tuple[DataFrame, list[list[float]]]:
    """Deterministic Lloyd's k-means over an embedding column.

    * init: the embeddings of the ``k`` lowest ids (a bounded sorted-
      limit collect), exact float values — both engines read the same
      parquet floats, so the seed is byte-identical.
    * each of ``iters`` rounds: assign every vector to its max-cosine
      centroid (FIRST max on ties — np.argmax in the Arrow-batched
      assignment UDF, == ``row_number ORDER BY sim DESC, cell`` in
      SQL), then recompute
      centroids as the per-component mean ROUNDED to
      ``KMEANS_DECIMALS`` decimals — the rounding is what makes the
      next round's centroids identical across engines (summation-order
      noise is ~1e-13, nine orders below the grid step; the
      SURVEY §7.1 grid rule). An emptied cell keeps its
      previous centroid.
    * returns (assignment frame with a ``cell`` column under the FINAL
      centroids, the centroid list).

    Scale shape: per round, ONE corpus scan + a (k·dim)-group partial
    aggregation (map-side combinable; k·dim rows cross the wire) + a
    bounded k·dim driver collect — the assignment column is a
    vectorized batch matmul against the closure-captured centroids
    (``_cell_assign_udf``), riding the scan. No corpus shuffle
    anywhere.

    SMALL-CORPUS FAST PATH (round 8): when the table holds ≤
    ``driver_vec_cap`` vectors (a constant bound — ≤ ~32 MB of doubles
    at the default for dim 64; never corpus-scaled), the Lloyd loop
    runs on the driver over one bounded collect instead of
    ``1 + iters`` sequential driver-synchronized jobs (each ~0.4 s of
    scheduling at bench scale). The arithmetic is the SAME: assignment
    is the identical float64 ``m @ (c/||c||).T`` argmax the Arrow UDF
    computes, and the per-component mean is rounded with an exact
    replica of Spark's HALF_UP double rounding
    (``BigDecimal.valueOf(x).setScale(6, HALF_UP)`` ==
    ``Decimal(repr(x)).quantize(1e-6, ROUND_HALF_UP)`` — both start
    from the shortest round-trip decimal form). Sum order may differ
    from a distributed run by ~1e-13 ulps, nine orders below the
    rounding grid — the same tolerance class the distributed path
    already accepts across partitionings (and the SQL oracle across
    engines). The returned assignment column is the unchanged lazy
    UDF projection under the final centroids."""
    k, iters = int(k), int(iters)
    probe = (embeddings.select(id_col, emb_col)
             .limit(int(driver_vec_cap) + 1).collect())
    if len(probe) <= driver_vec_cap:
        rows = sorted(probe, key=lambda r: r[id_col])
        m = np.array([[float(x) for x in r[emb_col]] for r in rows],
                     dtype=np.float64)
        cents = [list(map(float, m[i])) for i in range(min(k, len(m)))]
        k = len(cents)
        from decimal import ROUND_HALF_UP, Decimal
        q = Decimal("0.000001")

        def _round6(x: float) -> float:
            # + 0.0 folds -0.0 to +0.0, like BigDecimal (sign-less zero)
            return float(Decimal(repr(float(x)))
                         .quantize(q, rounding=ROUND_HALF_UP)) + 0.0

        for _ in range(iters):
            cn = np.array(cents, dtype=np.float64)
            cn = (cn / np.linalg.norm(cn, axis=1, keepdims=True)).T
            assign = (m @ cn).argmax(axis=1)      # first max, like SQL
            cents = [
                [_round6(v) for v in m[assign == c].mean(axis=0)]
                if np.any(assign == c) else cents[c]   # emptied: keep
                for c in range(k)]
        return (embeddings.withColumn(
            "cell", _cell_assign_udf(cents)(F.col(emb_col))), cents)
    # above the cap the probe rows are arbitrary — re-collect the seed
    # (the k globally-lowest ids) the distributed way
    seed = (embeddings.select(id_col, emb_col)
            .orderBy(id_col).limit(k).collect())
    cents = [[float(x) for x in r[emb_col]] for r in seed]
    if len(cents) < k:
        k = len(cents)

    def _assign(df):
        return df.withColumn("cell",
                             _cell_assign_udf(cents)(F.col(emb_col)))

    for _ in range(iters):
        stats = (_assign(embeddings)
                 .select("cell", F.posexplode(emb_col)
                         .alias("pos", "val"))
                 .groupBy("cell", "pos")
                 .agg(F.round(F.avg(F.col("val").cast("double")),
                              KMEANS_DECIMALS).alias("v"))
                 .collect())
        by_cell: dict[int, dict[int, float]] = {}
        for r in stats:
            by_cell.setdefault(int(r["cell"]), {})[int(r["pos"])] = \
                float(r["v"])
        cents = [
            [by_cell[c + 1][p] for p in sorted(by_cell[c + 1])]
            if (c + 1) in by_cell else cents[c]   # emptied cell: keep
            for c in range(k)]
    return _assign(embeddings), cents


def _cell_cosine_pairs(cells: DataFrame, threshold: float,
                       block_rows: int = 4096) -> DataFrame:
    """Within-cell near-dup pairs (vec_a < vec_b, round(cos,4) ≥ t) via
    a distributed block matmul keyed by (cell, hash-block): block pairs
    join on cell equality, so the quadratic never leaves a cluster, and
    each block pair is one normalized matrix product. The block count
    comes from a cheap count so rows-per-block stays bounded at any
    corpus size."""
    import pandas as pd

    n_blocks = max(1, -(-cells.count() // block_rows))
    blocked = (cells
               .groupBy("cell",
                        F.pmod(F.hash("vec_id"), F.lit(n_blocks))
                        .alias("blk"))
               .agg(F.collect_list(F.struct("vec_id", "embedding"))
                    .alias("rows")))
    a, b = blocked.alias("a"), blocked.alias("b")
    pairs = a.join(b, (F.col("a.cell") == F.col("b.cell"))
                   & (F.col("a.blk") <= F.col("b.blk"))).select(
        F.col("a.cell").alias("cell"),
        F.col("a.blk").alias("blk_a"), F.col("a.rows").alias("rows_a"),
        F.col("b.blk").alias("blk_b"), F.col("b.rows").alias("rows_b"))

    def _block(batches):
        for pdf in batches:
            out_c, out_a, out_b, out_s = [], [], [], []
            for cell, blk_a, rows_a, blk_b, rows_b in zip(
                    pdf["cell"], pdf["blk_a"], pdf["rows_a"],
                    pdf["blk_b"], pdf["rows_b"]):
                ids_a = np.fromiter((r["vec_id"] for r in rows_a),
                                    dtype=np.int64, count=len(rows_a))
                ids_b = np.fromiter((r["vec_id"] for r in rows_b),
                                    dtype=np.int64, count=len(rows_b))
                ma = np.array([r["embedding"] for r in rows_a],
                              dtype=np.float64)
                mb = np.array([r["embedding"] for r in rows_b],
                              dtype=np.float64)
                ma /= np.linalg.norm(ma, axis=1, keepdims=True)
                mb /= np.linalg.norm(mb, axis=1, keepdims=True)
                cos = np.round(ma @ mb.T, 4)
                if blk_a == blk_b:
                    ia, ib = np.nonzero(
                        (cos >= threshold)
                        & (ids_a[:, None] < ids_b[None, :]))
                    va, vb = ids_a[ia], ids_b[ib]
                else:
                    ia, ib = np.nonzero(cos >= threshold)
                    va = np.minimum(ids_a[ia], ids_b[ib])
                    vb = np.maximum(ids_a[ia], ids_b[ib])
                out_c.append(np.full(len(va), cell, dtype=np.int32))
                out_a.append(va)
                out_b.append(vb)
                out_s.append(cos[ia, ib])
            yield pd.DataFrame({
                "cell": np.concatenate(out_c) if out_c else [],
                "vec_a": np.concatenate(out_a) if out_a else [],
                "vec_b": np.concatenate(out_b) if out_b else [],
                "cosine": np.concatenate(out_s) if out_s else []})

    return pairs.mapInPandas(
        _block, "cell int, vec_a long, vec_b long, cosine double")


def semdedup_losers(embeddings: DataFrame, k: int = 8, iters: int = 3,
                    threshold: float = 0.3,
                    block_rows: int = 4096) -> DataFrame:
    """SemDeDup: cluster the embedding space (``kmeans_cells``), confirm
    cosine near-dups only within a cluster, and mark every vector that
    has an in-threshold LOWER-id neighbour in its cell as a DROP —
    greedy keep-by-id, one representative survives any pairwise-similar
    set. Returns one row per dropped vector:
    (cell, vec_id, witness = min such lower neighbour,
     cosine = round(cos(witness, vec),4)).

    100 TB shape: the corpus never self-joins — k bounds each cell and
    the hash blocks bound each matmul tile; clustering itself is
    iters·(scan + k·dim-row shuffle)."""
    cells, _ = kmeans_cells(embeddings, k=k, iters=iters)
    pairs = _cell_cosine_pairs(cells, threshold, block_rows=block_rows)
    return (pairs.groupBy("cell", F.col("vec_b").alias("vec_id"))
            .agg(F.min("vec_a").alias("witness"),
                 F.min_by("cosine", "vec_a").alias("cosine")))


def hash_bucket_16(col) -> "F.Column":
    """Deterministic uniform bucket in [0, 65536) from md5's first 4 hex
    chars — md5 hex is identical in every engine, so samples/splits are
    reproducible across Spark, DuckDB, or anything else (unlike
    rand(seed), which is engine- and partitioning-dependent)."""
    return F.conv(F.substring(F.md5(col), 1, 4), 16, 10).cast("int")


def hash_split(df: DataFrame, key_col: str,
               train_frac: float = 0.9) -> DataFrame:
    """Deterministic train/test assignment by content hash; adds ``split``.
    Same key always lands in the same split — dedup-safe (a duplicated
    document can never leak across the boundary)."""
    thr = int(train_frac * 65536)
    return df.withColumn(
        "split",
        F.when(hash_bucket_16(F.col(key_col)) < thr,
               F.lit("train")).otherwise(F.lit("test")))


def remove_dup_passages(docs: DataFrame, min_len: int = 20,
                        max_df: int = 1) -> DataFrame:
    """Passage-removal dedup (VERDICT r4 #2): REWRITE each doc's text
    with over-frequent passages stripped, instead of dropping whole
    documents — the corpus-prep step for boilerplate/license headers
    that shouldn't cost the document.

    A passage is a ``'. '``-delimited span; spans of ≥ ``min_len`` chars appearing in
    more than ``max_df`` DISTINCT docs are removed everywhere, shorter
    spans are never touched (greetings/connectives are legitimately
    common). Returns (doc_id, text, n_parts, n_removed, bytes_removed);
    ``text`` is the rewrite (kept spans re-joined with '. ' in original
    order), ``bytes_removed`` = original length − rewritten length.

    Scale shape: the exploded span frame is computed ONCE (persisted —
    it feeds both the df count and the rebuild); the df count groups on
    md5(span) — one digest-keyed shuffle with map-side combine; the join
    back carries a constant marker on dup digests only (small,
    broadcast-eligible, so one viral passage cannot skew the join);
    the rebuild is ONE doc_id-keyed shuffle moving the corpus text once
    (inherent to rewriting) with a per-doc collect_list bounded by that
    doc's own size. Everything is pure built-ins — SQL-oracle-able."""
    from pyspark import StorageLevel
    # the exploded frame feeds BOTH the df-count branch and the rebuild
    # join — persisted (and registered for release_caches) so the
    # scan + split + explode + md5 work runs once, per module convention
    parts = _register_cache(
        (docs
         .select("doc_id", F.length("text").alias("_len0"),
                 F.posexplode(F.split("text", r"\. "))
                 .alias("pos", "part"))
         .withColumn("pk", F.md5("part")))
        .persist(StorageLevel.MEMORY_AND_DISK))
    dup = (parts.filter(F.length("part") >= min_len)
           .groupBy("pk")
           .agg(F.countDistinct("doc_id").alias("_df"))
           .filter(F.col("_df") > max_df)
           .select("pk", F.lit(1).alias("_dup")))
    rebuilt = (parts.join(dup, "pk", "left")
               .groupBy("doc_id")
               .agg(F.max("_len0").alias("_len0"),
                    F.count("*").alias("n_parts"),
                    F.sum(F.coalesce(F.col("_dup"), F.lit(0)))
                    .cast("long").alias("n_removed"),
                    F.array_join(
                        F.transform(
                            F.array_sort(F.collect_list(
                                F.when(F.col("_dup").isNull(),
                                       F.struct("pos", "part")))),
                            lambda x: x["part"]),
                        ". ").alias("text")))
    return rebuilt.select(
        "doc_id", "text", "n_parts", "n_removed",
        (F.col("_len0") - F.length("text")).cast("long")
        .alias("bytes_removed"))


def remove_dup_windows(docs: DataFrame, w: int = 8,
                       max_df: int = 1) -> DataFrame:
    """Substring-level dedup REWRITE (VERDICT r5 #7, the Lee-et-al
    suffix-array family re-expressed for DataFrames): strip every
    fixed-width token window that recurs across the corpus, at
    sub-passage granularity — the corpus-prep step between
    ``remove_dup_passages`` ('. '-span granularity, misses
    non-sentence boilerplate like code/tables/minified text) and
    document-level dedup.

    A window is ``w`` consecutive space-separated tokens; windows whose
    md5 appears in more than ``max_df`` DISTINCT docs are flagged, and
    every token covered by ANY flagged window is removed (overlapping
    flags merge into runs, approximating maximal duplicated substrings
    without a suffix array). Returns (doc_id, text, n_windows,
    n_flagged, bytes_removed); split-on-' '/rejoin-with-' ' is an EXACT
    inverse (trailing/consecutive separators preserved as empty
    tokens), so untouched docs come back byte-identical.

    Scale shape: the exploded window frame is computed ONCE (persisted —
    it feeds the df count and the flagged-starts rebuild); the df count
    groups on md5(window) — one digest-keyed shuffle with map-side
    combine; the join back is a semi-join against the (small) flagged
    digest set; the rebuild is one doc_id-keyed groupBy whose
    collect_list holds only that doc's OWN flagged starts. The kept-
    token scan is O(tokens × flagged-starts) per doc — bounded by the
    doc's own size, never corpus-shaped. Pure built-ins throughout, so
    the DuckDB oracle replays it exactly (md5 over the identical joined
    window string)."""
    from pyspark import StorageLevel
    toks = docs.select("doc_id", F.length("text").alias("_len0"),
                       F.split("text", " ", -1).alias("toks"))
    # IF-guard keeps the generator input TOTAL (SURVEY §7.4 rule 20:
    # Catalyst can evaluate it on rows the size filter excludes, where
    # sequence(0, negative) runs descending and indexes throw)
    wins = _register_cache(
        toks.filter(F.size("toks") >= w)
        .select("doc_id", F.posexplode(F.expr(
            f"if(size(toks) >= {w}, "
            f"transform(sequence(0, size(toks) - {w}), "
            f"i -> md5(concat_ws(' ', slice(toks, i + 1, {w})))), "
            f"array())")).alias("pos", "wk"))
        .persist(StorageLevel.MEMORY_AND_DISK))
    dup = (wins.groupBy("wk")
           .agg(F.countDistinct("doc_id").alias("_df"))
           .filter(F.col("_df") > max_df).select("wk"))
    starts = (wins.join(dup, "wk", "left_semi")
              .groupBy("doc_id")
              .agg(F.sort_array(F.collect_list("pos")).alias("starts")))
    rebuilt = (toks.join(starts, "doc_id", "left")
               .withColumn("starts", F.coalesce(
                   "starts", F.expr("cast(array() as array<int>)")))
               .select(
                   "doc_id",
                   F.expr(
                       f"array_join(filter(transform("
                       f"sequence(0, size(toks) - 1), "
                       f"t -> if(exists(starts, "
                       f"s -> s <= t and t < s + {w}), "
                       f"null, element_at(toks, t + 1))), "
                       f"x -> x is not null), ' ')").alias("text"),
                   F.greatest(F.size("toks") - F.lit(w - 1), F.lit(0))
                   .cast("long").alias("n_windows"),
                   F.size("starts").cast("long").alias("n_flagged"),
                   F.col("_len0")))
    return rebuilt.select(
        "doc_id", "text", "n_windows", "n_flagged",
        (F.col("_len0") - F.length("text")).cast("long")
        .alias("bytes_removed"))


# --------------------------------------------------------------------------
# PII scrubbing (VERDICT r4 #4) — pure column expressions, RE2-safe
# patterns (no backrefs/lookaround) so the DuckDB oracle replays them
# verbatim; Spark regexp_replace is global, DuckDB needs the 'g' flag.

PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IP = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
# Three alternations, longest-prefix first (alternation is ordered and
# identical in Java regex and RE2): (a) country-code form
# "+1 (555) 123-4567" / "1-555-123-4567", (b) parenthesized US form
# "(555) 123-4567" (VERDICT r5 #6), (c) the bare 10-digit form.
PII_PHONE = (r"\+?\d{1,2}[-. ]\(?\d{3}\)?[-. ]?\d{3}[-. ]\d{4}\b"
             r"|\(\d{3}\)[-. ]?\d{3}[-. ]\d{4}\b"
             r"|\+?\d{3}[-. ]\d{3}[-. ]\d{4}\b")


def pii_scrub(docs: DataFrame) -> DataFrame:
    """Gopher/Dolma-family PII pass: per-doc counts of email / IPv4 /
    phone-shaped literals plus a redacted ``text`` with each match
    replaced by its tag. Counts are measured on the ORIGINAL text per
    pattern; redaction applies email → IP → phone in that order (the
    replacement tags contain no digits, so later patterns can't match
    inside earlier redactions). A pure projection — no shuffle, no UDF;
    at 10^12 docs this is a free rider on any corpus scan."""
    t = F.col("text")
    red = F.regexp_replace(t, PII_EMAIL, "<EMAIL>")
    red = F.regexp_replace(red, PII_IP, "<IP>")
    red = F.regexp_replace(red, PII_PHONE, "<PHONE>")
    n_emails = F.size(F.regexp_extract_all(t, F.lit(PII_EMAIL), 0))
    n_ips = F.size(F.regexp_extract_all(t, F.lit(PII_IP), 0))
    n_phones = F.size(F.regexp_extract_all(t, F.lit(PII_PHONE), 0))
    return docs.select(
        "doc_id",
        n_emails.cast("long").alias("n_emails"),
        n_phones.cast("long").alias("n_phones"),
        n_ips.cast("long").alias("n_ips"),
        (n_emails + n_phones + n_ips).cast("long").alias("n_pii"),
        red.alias("text"))


# C4 line-keep rules (Raffel et al. 2020 §2.2, the public C4 cleaning
# recipe): a line survives iff it ends in a terminal punctuation mark,
# carries at least C4_MIN_WORDS whitespace words, and does not mention
# javascript; a PAGE is dropped outright when it contains a curly brace
# or the phrase "lorem ipsum" (policy/code boilerplate markers). The
# regex is shared by the Spark expressions and the DuckDB oracle.
C4_TERMINAL_RE = r'[.!?"]$'
C4_MIN_WORDS = 5
C4_MIN_LINES = 3


def c4_line_clean(docs: DataFrame, *, min_words: int = C4_MIN_WORDS,
                  min_lines: int = C4_MIN_LINES,
                  text_col: str = "text") -> DataFrame:
    """C4-style line-level cleaning (Raffel et al. 2020 §2.2 — the
    public recipe behind the C4 corpus), the standard first scrub a
    web-extracted page gets before quality scoring:

    * keep a LINE iff it ends in terminal punctuation (``.!?"``), has
      ≥ ``min_words`` space-separated words, and does not contain
      "javascript" (case-insensitive);
    * flag the PAGE as dropped (``keep = 0``) when the original text
      contains a curly brace or the phrase "lorem ipsum", or when fewer
      than ``min_lines`` lines survive.

    Returns (doc_id, n_lines, n_kept, bytes_removed, keep, text) where
    ``text`` is the surviving lines re-joined with ``\\n`` — emitted for
    EVERY doc (dropping is the caller's decision, like
    ``gopher_quality``). Pure column expressions over higher-order
    array functions — zero shuffle, zero UDF; at 10^12 docs this rides
    any corpus scan for free. Word counting splits on single spaces
    (the tokenizer every other textop uses); lines with repeated
    whitespace count empty tokens on BOTH engines identically."""
    t = F.col(text_col)
    lines = F.split(t, "\n")
    kept = F.filter(
        lines,
        lambda l: l.rlike(C4_TERMINAL_RE)
        & (F.size(F.split(l, " ")) >= min_words)
        & ~F.lower(l).contains("javascript"))
    rebuilt = F.array_join(kept, "\n")
    page_drop = (t.contains("{") | t.contains("}")
                 | F.lower(t).contains("lorem ipsum"))
    return docs.select(
        "doc_id",
        F.size(lines).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept"),
        (F.length(t) - F.length(rebuilt)).cast("long")
        .alias("bytes_removed"),
        ((F.size(kept) >= min_lines) & ~page_drop).cast("long")
        .alias("keep"),
        rebuilt.alias(text_col))


# URL spam markers in two tiers (the RefinedWeb-family soft-scoring
# device, deterministic simplification): one hard hit — or enough soft
# hits to reach the cutoff — drops the URL. Occurrences count, not
# presence, so 'casino-casino-casino' scores 3x.
URL_SPAM_HARD = ("porn", "xxx", "viagra", "warez")
URL_SPAM_SOFT = ("casino", "lottery", "betting", "pills", "torrent",
                 "bonus-code", "free-money")
URL_SPAM_CUTOFF = 100
URL_HOST_DIGIT_BP_CUT = 5000
URL_MAX_LEN = 2048


def url_filter(df: DataFrame, *, url_col: str = "url",
               cutoff: int = URL_SPAM_CUTOFF,
               host_digit_bp_cut: int = URL_HOST_DIGIT_BP_CUT,
               max_len: int = URL_MAX_LEN) -> DataFrame:
    """URL-level quality filter (RefinedWeb-family, Penedo et al. 2023
    §3.1: URL scoring against a word blocklist plus structural rules —
    the first gate a crawl pipeline applies, before any content is
    fetched or parsed). Three deterministic rules over the lowercased
    URL:

    * ``spam_score`` — occurrence-weighted blocklist score: hard
      markers (``URL_SPAM_HARD``) weigh 100, soft markers
      (``URL_SPAM_SOFT``) 40; drop at ``cutoff`` (default 100: one
      hard hit, or three soft hits).
    * ``host_digit_bp`` — digit share of the hostname in basis points
      (throwaway autogenerated hosts are digit-heavy); drop above
      ``host_digit_bp_cut``.
    * URL length > ``max_len`` drops (tracking-blob URLs).

    Adds ``spam_score``, ``host_digit_bp``, ``keep_url`` to the input
    rows. Pure column expressions (regexp counts) — ZERO shuffle, zero
    UDF, rides any scan; exactly replayable in SQL."""
    u = F.lower(F.col(url_col))
    score = F.lit(0)
    for m in URL_SPAM_HARD:
        score = score + F.size(F.regexp_extract_all(u, F.lit(m), 0)) * 100
    for m in URL_SPAM_SOFT:
        score = score + F.size(F.regexp_extract_all(u, F.lit(m), 0)) * 40
    host = F.regexp_extract(u, r"^[a-z][a-z0-9+.-]*://(?:www\.)?"
                               r"([^/:?#]+)", 1)
    n_dig = F.length(F.regexp_replace(host, r"[^0-9]", ""))
    out = (df.withColumn("spam_score", score.cast("long"))
           .withColumn("_h", host).withColumn("_hd", n_dig))
    out = (out.withColumn(
        "host_digit_bp",
        F.when(F.length("_h") > 0, F.expr("_hd * 10000 div length(_h)"))
        .otherwise(F.lit(0)).cast("long")).drop("_h", "_hd"))
    keep = ((F.col("spam_score") < cutoff)
            & (F.col("host_digit_bp") <= host_digit_bp_cut)
            & (F.length(F.col(url_col)) <= max_len))
    return out.withColumn("keep_url", keep.cast("int"))


def _hash_order_cumsum(df: DataFrame, source_col: str, text_col: str,
                       bucket_hex_digits: int = 1) -> DataFrame:
    """Exact two-phase per-source running token total in deterministic
    content-hash order (md5 of ``text_col``, doc_id tiebreak). Adds
    ``tok_cnt`` and ``_lc``/``_off`` (local cum + bucket offset; the
    caller combines and drops them with ``_h``/``_b``). Phase 1 cumsums
    per (source, first-``bucket_hex_digits``-of-hash bucket) —
    16^digits-way parallel per source (1 → 16 buckets; raise to 2–3 at
    10^9-docs-per-source scale so no bucket sorts more than the
    executor budget); phase 2 window-offsets the per-source bucket
    totals (computed with a map-side-combinable partial agg, tiny
    frame) and broadcast-joins them back. (bucket, rest-of-hash) order
    == global hash order FOR ANY prefix length, so the result equals
    the one-window plan — and is identical across
    ``bucket_hex_digits`` values (asserted by test)."""
    from pyspark.sql import Window
    base = df.withColumn("_h", F.md5(F.col(text_col))).withColumn(
        "_b", F.substring(F.col("_h"), 1, int(bucket_hex_digits))
    ).withColumn(
        "tok_cnt", F.size(tokens_col(text_col)).cast("long"))
    w1 = Window.partitionBy(source_col, "_b").orderBy("_h", "doc_id")
    local = base.withColumn("_lc", F.sum("tok_cnt").over(w1))
    # bucket totals via a map-side-combinable partial agg over `base`,
    # NOT max(_lc) over `local`: referencing the window output twice
    # would re-run the phase-1 Exchange + corpus SORT a second time
    # (Spark assigns the duplicated subtree fresh expression ids, so
    # ReuseExchange never fires). This branch re-scans and re-hashes —
    # cheap, no sort — and shuffles 16 counted rows per source.
    tot = (base.groupBy(source_col, "_b")
           .agg(F.sum("tok_cnt").alias("_t")))
    w2 = (Window.partitionBy(source_col).orderBy("_b")
          .rowsBetween(Window.unboundedPreceding, -1))
    off = tot.select(source_col, "_b",
                     F.coalesce(F.sum("_t").over(w2),
                                F.lit(0)).alias("_off"))
    return local.join(F.broadcast(off), [source_col, "_b"])


def mixture_weights_bp(df: DataFrame, alpha_bp: int = 5000, *,
                       source_col: str = "source") -> DataFrame:
    """Temperature-scaled mixture shares (the UniMax / multilingual-
    sampling device): share_s ∝ n_s^(alpha_bp/10000) — alpha 10000
    reproduces natural proportions, 0 gives uniform, the usual 3000 to
    7000 range upweights small sources. The single float op
    (pow) is floored to micro-units immediately (the micro-nat device:
    both engines run one libm call on identical integers, then every
    downstream op is integer), and shares come back in BASIS POINTS:
    bp_s = w_micro_s · 10000 DIV Σ w_micro (floored, so Σbp ≤ 10000 —
    the remainder is deliberately unassigned rather than
    engine-dependently distributed). One count aggregation; the
    per-source frame is bounded by the source count.

    Columns: source, n_docs, w_micro, weight_bp — feed
    ``{s: weight_bp}`` straight into ``budget_sample(weights_bp=…)``."""
    alpha = int(alpha_bp) / 10000.0
    cnt = df.groupBy(source_col).agg(F.count("*").alias("n_docs"))
    w = F.floor(F.pow(F.col("n_docs").cast("double"), F.lit(alpha))
                * F.lit(1e6)).cast("long")
    cnt = cnt.withColumn("w_micro", w)
    total = int(cnt.agg(F.sum("w_micro")).first()[0] or 0)
    return cnt.withColumn(
        "weight_bp",
        F.expr(f"(w_micro * 10000) DIV {max(total, 1)}").cast("long"))


def budget_sample(df: DataFrame, token_budget: int, *,
                  weights_bp: dict[str, int] | None = None,
                  source_col: str = "source",
                  text_col: str = "text",
                  bucket_hex_digits: int = 1) -> DataFrame:
    """Token-budget mixture sampler — the corpus-assembly step that
    fills a training-token budget from each source: docs are taken in
    deterministic content-hash order (md5 of ``text_col``, doc_id
    tiebreak — a stable unbiased shuffle both engines replay) and a
    source's docs are kept while its running whitespace-token total
    stays ≤ its budget. ``weights_bp`` maps source → mixture share in
    basis points (budget_src = token_budget·bp // 10000); sources not
    in the map — or all sources when None — get ``token_budget``
    whole, i.e. a flat per-source cap. Adds ``tok_cnt`` and
    ``cum_tokens`` (running total INCLUDING the doc) to the kept rows.

    Scale shape (the reason this is not one window): a prefix sum
    ordered per source would sort a 10^9-doc source in ONE task. The
    hash's first hex digit gives 16 ordered buckets, so phase 1 runs
    the cumsum per (source, bucket) — 16-way parallel per source —
    phase 2 turns the per-bucket totals (16 rows/source, computed from
    phase 1's own partitioning with NO extra Exchange) into bucket
    offsets with a window over that tiny frame, and a broadcast join
    adds offset + local cum. Exact: (bucket, rest-of-hash) ordering ==
    global hash ordering, so the result is identical to the one-window
    plan at any scale (``_hash_order_cumsum``; ``bucket_hex_digits``
    widens the bucket fan-out at extreme per-source cardinalities)."""
    out = _hash_order_cumsum(df, source_col, text_col,
                             bucket_hex_digits)
    if weights_bp:
        bmap = F.create_map(*[F.lit(x) for s, bp in
                              sorted(weights_bp.items())
                              for x in (s, token_budget * bp // 10000)])
        budget = F.coalesce(F.element_at(bmap, F.col(source_col)),
                            F.lit(token_budget)).cast("long")
    else:
        budget = F.lit(token_budget).cast("long")
    cum = (F.col("_off") + F.col("_lc")).cast("long")
    return (out.withColumn("cum_tokens", cum)
            .filter(F.col("cum_tokens") <= budget)
            .drop("_h", "_b", "_lc", "_off"))


# --------------------------------------------------------------------------
# DSIR data selection (Xie et al. 2023, "Data Selection for Language
# Models via Importance Resampling", NeurIPS — public method). The
# target distribution (e.g. Wikipedia-like text; here any caller-chosen
# predicate over the corpus) and the raw distribution are modelled as
# bag-of-hashed-ngram generative models; a document's importance weight
# is sum over its features of log(p_target(f) / p_raw(f)), and the
# selected subset is the top-k by weight. All cross-engine arithmetic
# is INTEGER via the micro-nat device shared with the unigram LM
# (_nll_micro_expr): each bucket's log-ratio is a difference of two
# floored micro-nat NLLs, so per-doc sums are exact, order-independent
# and engine-portable.

DSIR_BUCKETS = 256


def _with_dsir_features(df: DataFrame, text_col: str) -> DataFrame:
    """df + ``_ft`` feature array via a TWO-STEP build: the token
    array lands in a named ``_tk`` column first, and the bigram/concat
    expressions reference the COLUMN — CollapseProject keeps the
    projections separate for a multiply-referenced non-cheap
    expression, so the tokenizer runs once per row instead of ~4×
    (measured 3.2× on the sf0.1 scoring scan; a single-expression
    form re-evaluates the split per reference)."""
    tk = F.col("_tk")
    # bigrams zip the tokens with their 1-shifted slice (element_at inside
    # a transform lambda would re-tokenize per element); zip_with pads
    # the shorter side with null and the filter drops that pair
    shifted = F.slice(tk, 2, F.greatest(F.size(tk) - 1, F.lit(0)))
    bigrams = F.filter(
        F.zip_with(tk, shifted,
                   lambda a, b: F.concat(a, F.lit(" "), b)),
        lambda x: x.isNotNull())
    return (df.withColumn("_tk",
                          F.filter(tokens_col(text_col),
                                   lambda t: t != ""))
            .withColumn("_ft", F.concat(tk, bigrams))
            .drop("_tk"))


def _dsir_bucket_col(feat_col, n_buckets: int):
    """Engine-stable feature bucket: md5 first-4-hex-chars (the
    ``hash_bucket_16`` device) mod ``n_buckets``."""
    return (F.conv(F.substring(F.md5(feat_col), 1, 4), 16, 10)
            .cast("int") % n_buckets)


def dsir_bucket_lr(docs: DataFrame, target_pred,
                   n_buckets: int = DSIR_BUCKETS,
                   text_col: str = "text") -> DataFrame:
    """Learn the DSIR bucket log-ratio table: one distributed
    feature-count aggregation (map-side combinable — the corpus
    shuffles COUNTS only, never features per doc), densified to all
    ``n_buckets`` rows so the scoring map literal is total.

    Columns: bucket, cnt_raw, cnt_tgt, lr_micro where
    lr_micro = floor(-ln((cnt_raw+1)/(tot_raw+B))*1e6)
             - floor(-ln((cnt_tgt+1)/(tot_tgt+B))*1e6)
    (add-1 smoothing; positive when the feature is relatively more
    likely under the target). The ≤B-row count frame is collected ONCE
    and the totals + log-ratios are computed on the driver (round 8 —
    the ``nb_train`` device: same double divide → ln → scale → floor op
    sequence via Python libm, ≤1 ulp from any engine's ln, the accepted
    micro-nat equivalence class); the round-7 form ran a scalar-agg
    job, a densify join and a localCheckpoint for the same ≤B rows."""
    import math
    fx = (_with_dsir_features(docs, text_col)
          .select(target_pred.alias("_is_t"),
                  F.explode("_ft").alias("f")))
    cnts = (fx.groupBy(_dsir_bucket_col(F.col("f"), n_buckets)
                       .alias("bucket"))
            .agg(F.count("*").alias("cnt_raw"),
                 F.sum(F.when(F.col("_is_t"), 1).otherwise(0))
                 .alias("cnt_tgt")))
    by = {int(r["bucket"]): (int(r["cnt_raw"]), int(r["cnt_tgt"]))
          for r in cnts.collect()}   # bounded: ≤ n_buckets rows
    tot_raw = sum(c for c, _ in by.values())
    tot_tgt = sum(t for _, t in by.values())

    def _nll(c, t):
        return math.floor(-math.log(c / t) * 1e6)

    rows = []
    for b in range(int(n_buckets)):
        craw, ctgt = by.get(b, (0, 0))
        rows.append((b, craw, ctgt,
                     _nll(craw + 1, tot_raw + n_buckets)
                     - _nll(ctgt + 1, tot_tgt + n_buckets)))
    return docs.sparkSession.createDataFrame(
        rows, "bucket int, cnt_raw long, cnt_tgt long, lr_micro long")


def dsir_weights(docs: DataFrame, target_pred,
                 n_buckets: int = DSIR_BUCKETS,
                 text_col: str = "text",
                 lr_rows: list | None = None) -> DataFrame:
    """Per-document DSIR importance weight in micro-nats.

    ``lr_rows`` is the bounded learned table (list of (bucket,
    lr_micro); collect it from ``dsir_bucket_lr`` — same device as the
    LM vocab rows): the lookup becomes a MAP literal inside a fold over
    the feature array, so scoring is a pure projection — zero shuffle,
    rides any corpus scan. Docs with no features weigh 0.

    Adds: dsir_n_feats, dsir_weight_micro."""
    if lr_rows is None:
        lr_rows = [(int(r["bucket"]), int(r["lr_micro"]))
                   for r in dsir_bucket_lr(
                       docs, target_pred, n_buckets, text_col)
                   .select("bucket", "lr_micro").collect()]
    # O(1) lookup: the table is densified to all n_buckets rows, so it
    # rides as an ARRAY literal indexed by bucket — element_at on a map
    # literal is a LINEAR key scan per feature (measured: the 256-entry
    # map cost ~2× the whole scoring fold at sf0.1, r8). A bucket absent
    # from a caller-supplied lr_rows yields a null element — the same
    # null-poisoning semantics the map lookup had.
    by_bucket = dict(lr_rows)
    lut = F.array(*[
        (F.lit(int(by_bucket[b])) if b in by_bucket
         else F.lit(None).cast("long"))
        for b in range(n_buckets)])
    return (_with_dsir_features(docs, text_col)
            .withColumn("dsir_n_feats", F.size("_ft").cast("long"))
            .withColumn(
                "dsir_weight_micro",
                F.aggregate(
                    F.col("_ft"), F.lit(0).cast("long"),
                    lambda acc, f: acc + F.element_at(
                        lut, _dsir_bucket_col(f, n_buckets) + 1)
                    .cast("long")))
            .drop("_ft"))


def topk_by_weight(df: DataFrame, k: int,
                   weight_col: str = "dsir_weight_micro",
                   id_col: str = "doc_id") -> DataFrame:
    """Exact global top-k by (weight desc, id asc) WITHOUT a corpus
    sort — the scale-shaped selection step. A histogram aggregation
    (one shuffle of per-weight counts) finds the threshold weight w*
    and how many rows sit strictly above it; rows above w* pass
    unsorted, and only the TIE SET at w* is ranked by id (a window
    over the tie rows alone — integer micro-nat weights make large tie
    sets degenerate-corpus territory; if one ever matters, sub-bucket
    the tie ranking with the ``_hash_order_cumsum`` prefix device).
    Result equals row_number() OVER (ORDER BY weight DESC, id) <= k
    exactly — the form the SQL oracle replays.

    The (w*, count-above) pair is ONE ROW, so it is collected and
    re-enters the plan as literals: leaving it as a frame would
    duplicate the whole histogram subtree (and the corpus-scoring scan
    feeding it) into every branch that references it — Spark gives
    duplicated subtrees fresh expression ids, so ReuseExchange never
    fires (the SURVEY §7.7 rule-43 lesson). With literals the select
    is one survivor filter + a row_number over the per-weight tie
    groups of the survivors alone (≈k rows)."""
    from pyspark.sql import Window
    k = int(k)
    if k <= 0:
        return df.limit(0)
    hist = df.groupBy(weight_col).agg(F.count("*").alias("_n"))
    wsp = Window.orderBy(F.desc(weight_col)) \
        .rowsBetween(Window.unboundedPreceding, -1)
    thr = (hist
           .withColumn("_cb", F.coalesce(F.sum("_n").over(wsp),
                                         F.lit(0)))
           .filter(F.col("_cb") < k)
           .agg(F.min(weight_col).alias("_w_star"),
                F.max("_cb").alias("_c_gt"))
           .first())
    if thr is None or thr["_w_star"] is None:
        return df.limit(0)  # empty input
    w_star, c_gt = thr["_w_star"], int(thr["_c_gt"])
    surv = df.filter(F.col(weight_col) >= w_star)
    # ranking within each weight group; only the w* group's rank is
    # consulted, rows strictly above pass outright
    tw = Window.partitionBy(weight_col).orderBy(id_col)
    return (surv.withColumn("_rn", F.row_number().over(tw))
            .filter((F.col(weight_col) > w_star)
                    | (F.col("_rn") <= k - c_gt))
            .drop("_rn"))


def dsir_topk(docs: DataFrame, target_pred, k: int,
              n_buckets: int = DSIR_BUCKETS,
              text_col: str = "text") -> DataFrame:
    """DSIR selection: learn bucket log-ratios, score every doc as a
    pure projection, keep the exact top-k by (weight desc, doc_id asc).
    Two corpus scans (learn + score-and-select), one count shuffle and
    one histogram shuffle — no corpus sort, no per-feature join."""
    return topk_by_weight(
        dsir_weights(docs, target_pred, n_buckets, text_col), k)


__all__ = [
    "release_caches", "cache_mark",
    "dsir_bucket_lr", "dsir_weights",
    "dsir_topk", "topk_by_weight", "DSIR_BUCKETS",
    "c4_line_clean", "url_filter", "budget_sample", "mixture_weights_bp",
    "URL_SPAM_HARD", "URL_SPAM_SOFT",
    "C4_TERMINAL_RE", "C4_MIN_WORDS", "C4_MIN_LINES",
    "hash_bucket_16", "hash_split",
    "remove_dup_passages", "remove_dup_windows",
    "pii_scrub",
    "PII_EMAIL", "PII_IP", "PII_PHONE",
    "lang_pred_expr",
    "lm_learn", "lm_score", "lm_vocab_rows", "lm_oov_micro",
    "nb_train", "nb_score",
    "fingerprint",
    "shingles", "minhash_signatures", "minhash_candidates",
    "minhash_bands", "EST_JACCARD_SQL",
    "minhash_near_dups",
    "kmeans_cells", "semdedup_losers", "KMEANS_DECIMALS",
    "gopher_quality",
    "gopher_repetition", "gopher_dup_sections", "gopher_ngram_battery",
    "gopher_line_rules", "GOPHER_TOP_NGRAM_BP", "GOPHER_DUP_NGRAM_BP",
    "LANG_MARKERS",
    "MERSENNE31",
]
