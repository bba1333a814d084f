"""Training-data pipeline operators over document tables.

These are the corpus-preparation ops the curation pipeline
(``mre.curate``) composes around the extractor: the Gopher quality
rules, fingerprints and MinHash-LSH near-dup with exact
n-gram Jaccard confirmation, connected components, benchmark
decontamination, the language-ID column and the hash split.

Everything stays JVM-side (built-in functions, higher-order array
expressions); only small connected-component graphs are labelled on
the driver (see ``dup_clusters``).

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

import numpy as np
import pandas as pd
from py4j.protocol import Py4JError
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
    except Py4JError:
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
        except Py4JError:
            pass  # session already stopped — nothing to release
    return len(victims)


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


__all__ = [
    "release_caches", "cache_mark",
    "hash_bucket_16", "hash_split",
    "lang_pred_expr",
    "fingerprint",
    "shingles", "minhash_signatures", "minhash_candidates",
    "minhash_bands", "EST_JACCARD_SQL",
    "minhash_near_dups",
    "gopher_quality",
    "LANG_MARKERS",
    "MERSENNE31",
]
