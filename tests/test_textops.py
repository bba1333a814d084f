"""Property-level tests for the curation operators in mre.textops: the
near-dup family (MinHash-LSH, exact Jaccard on candidates, clustering)
and the language-ID column."""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs_with_dups(spark):
    """documents table + injected near-duplicates: doc_id+10000 is doc_id's
    text with the last 3 words dropped (high Jaccard), doc_id+20000 is an
    exact copy."""
    base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .select("doc_id", "text").limit(50)
    near = base.select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.expr("array_join(slice(split(text, ' '), 1,"
               " greatest(size(split(text, ' ')) - 3, 1)), ' ')")
        .alias("text"))
    exact = base.select((F.col("doc_id") + 20000).alias("doc_id"), "text")
    return base.unionByName(near).unionByName(exact)


def _exact_jaccard(docs, n=3, threshold=0.0):
    """Reference exact word n-gram Jaccard over every doc pair, in pure
    Python on oracle_replay's Spark-faithful tokenizer and HALF_UP
    rounding: {(doc_a, doc_b): round(J, 4)} for pairs sharing at least
    one shingle with J >= threshold."""
    from mre.oracle_replay import _round_half_up, _tokens
    sets = {}
    for r in docs.collect():
        t = _tokens(r["text"])
        if len(t) >= n:
            sets[r["doc_id"]] = {" ".join(t[i:i + n])
                                 for i in range(len(t) - n + 1)}
    ids = sorted(sets)
    out = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            inter = len(sets[a] & sets[b])
            if inter:
                j = _round_half_up(
                    inter / (len(sets[a]) + len(sets[b]) - inter))
                if j >= threshold:
                    out[(a, b)] = j
    return out


def test_exact_dedup_finds_exact_copies(spark, docs_with_dups):
    from mre.curate import exact_keeper_ids
    keepers = {r["doc_id"]
               for r in exact_keeper_ids(docs_with_dups).collect()}
    base = {r["doc_id"]
            for r in docs_with_dups.filter("doc_id < 10000").collect()}
    # each base doc + its +20000 copy collapse to one keeper
    assert len(keepers) == docs_with_dups.count() - 50
    # keeper is always the min doc_id (the base one)
    assert base <= keepers
    assert not keepers & {i + 20000 for i in base}


def test_minhash_finds_planted_near_dups(spark, docs_with_dups):
    from mre.textops import minhash_near_dups
    pairs = minhash_near_dups(docs_with_dups, k=32, bands=8, threshold=0.5)
    found = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
    # exact copies must always collide (signature identical)
    exact_pairs = {(i, i + 20000) for i in
                   [r["doc_id"] for r in docs_with_dups
                    .filter("doc_id < 10000").collect()]}
    assert exact_pairs <= found
    # most of the planted near-dups (3 words dropped) should be found
    near_hits = [p for p in found if p[1] - p[0] == 10000]
    assert len(near_hits) >= 40


def test_minhash_est_vs_exact_jaccard(spark, docs_with_dups):
    from mre.textops import minhash_near_dups
    est = {(r["doc_a"], r["doc_b"]): r["est_jaccard"]
           for r in minhash_near_dups(docs_with_dups, threshold=0.3)
           .collect()}
    exact = _exact_jaccard(docs_with_dups, threshold=0.3)
    common = set(est) & set(exact)
    assert common, "estimator and exact sets should overlap"
    # MinHash is an unbiased estimator; mean abs error should be modest
    errs = [abs(est[p] - exact[p]) for p in common]
    assert sum(errs) / len(errs) < 0.2


def test_lang_id_priority_tiebreak(spark):
    from mre.textops import lang_pred_expr
    pdf = spark.createDataFrame(
        [(1, "the cat and the dog"),     # en markers
         (2, "le chat et la porte"),     # fr markers
         (3, "qwzx bnmp vvvv"),          # nothing → und
         (4, "der hund und die katze")],  # de markers
        ["doc_id", "text"])
    out = {r["doc_id"]: r["pred_lang"] for r in
           pdf.select("doc_id", lang_pred_expr().alias("pred_lang"))
           .collect()}
    assert out == {1: "en", 2: "fr", 3: "und", 4: "de"}


def test_minhash_bucket_cap_prunes_hot_buckets(spark):
    """max_bucket routes giant near-identical clusters away from the
    quadratic band self-join (they belong to exact dedup instead)."""
    from mre.textops import minhash_candidates, minhash_signatures

    rows = [(i, "the same viral boilerplate text repeated everywhere "
             "for this entire cluster of documents")
            for i in range(12)]
    rows += [(100, "a unique document about gardening and soil quality"),
             (101, "a unique document about gardening and soil quality")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    sigs = minhash_signatures(docs)
    uncapped = minhash_candidates(sigs).count()
    capped = minhash_candidates(sigs, max_bucket=5).count()
    assert uncapped >= 66 + 1  # 12-cluster pairs + the gardening pair
    assert capped == 1        # only the small bucket survives the cap


def test_jaccard_on_candidates_matches_corpus_wide(spark, docs_with_dups):
    """The candidate-restricted exact Jaccard must equal the corpus-wide
    all-pairs reference on every pair it is given, and must keep
    zero-overlap candidate pairs at 0.0 instead of dropping them."""
    from mre.textops import jaccard_on_candidates, minhash_near_dups

    cands = minhash_near_dups(docs_with_dups, threshold=0.3) \
        .select("doc_a", "doc_b")
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"]
           for r in jaccard_on_candidates(cands, docs_with_dups).collect()}
    assert set(got) == {(r["doc_a"], r["doc_b"]) for r in cands.collect()}
    ref = _exact_jaccard(docs_with_dups)
    for pair, j in got.items():
        # pairs sharing no shingle don't appear in the reference
        assert j == ref.get(pair, 0.0)


def test_jaccard_on_candidates_zero_overlap_pair(spark):
    from mre.textops import jaccard_on_candidates

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "epsilon zeta eta theta"),
         (3, "alpha beta gamma nine")],
        ["doc_id", "text"])
    pairs = spark.createDataFrame([(1, 2), (1, 3)], ["doc_a", "doc_b"])
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"]
           for r in jaccard_on_candidates(pairs, docs).collect()}
    assert got[(1, 2)] == 0.0            # kept, not dropped
    assert got[(1, 3)] == 0.3333         # 1 shared 3-gram of 3 total


def test_dup_clusters_chain_and_islands(spark):
    """Min-label propagation must label whole components (including a
    5-node chain, the worst case for per-round reach) with the min id."""
    from mre.textops import dup_clusters

    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)],
        ["doc_a", "doc_b"])
    got = {r["doc_id"]: r["cluster_id"] for r in dup_clusters(pairs).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 0,
                   10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_dup_clusters_star_graph_hot_label(spark):
    """Hot-label skew (VERDICT r3 #5): a star graph — one hub in 10^5
    pairs — is the worst case for the labels-join side (every spoke's
    neighbor-min row hits the hub's label). The loop must converge in
    O(1) rounds for diameter 2 and inside a generous wall-time bound.

    max_iter=4 doubles as the round-count assertion: labels are only
    correct if propagation completed within the allowed rounds (the hub
    spreads its label to all spokes in round 1; round 2 observes zero
    changes and breaks)."""
    import time

    from mre.textops import dup_clusters

    n = 100_000
    pairs = spark.range(1, n + 1).select(
        F.lit(0).alias("doc_a"), F.col("id").alias("doc_b"))
    t0 = time.monotonic()
    out = dup_clusters(pairs, max_iter=4, driver_edge_cap=0)
    rows = out.collect()
    wall = time.monotonic() - t0
    assert len(rows) == n + 1
    assert all(r["cluster_id"] == 0 for r in rows)
    # generous bound for a noisy shared VM — catches an accidental
    # quadratic (label fan-out materializing spoke² rows), not jitter
    assert wall < 120, f"star-graph CC took {wall:.1f}s"


def test_dup_clusters_long_path_pointer_jumping(spark):
    """A 64-node path has diameter 63: plain min-label propagation needs
    ~63 rounds, pointer jumping O(log n). max_iter=10 only passes if the
    label-of-label hop is actually compounding reach."""
    from mre.textops import dup_clusters

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], ["doc_a", "doc_b"])
    got = {r["doc_id"]: r["cluster_id"]
           for r in dup_clusters(pairs, max_iter=10,
                                 driver_edge_cap=0).collect()}
    assert got == {i: 0 for i in range(64)}


def test_dup_clusters_driver_path_matches_distributed(spark):
    """The round-8 small-graph fast path (numpy min-label propagation on
    the driver, below driver_edge_cap) must produce exactly the labels
    the distributed pointer-jumping loop does — chains, islands, a star
    and a cycle in one graph."""
    from mre.textops import dup_clusters

    edges = ([(i, i + 1) for i in range(0, 20)]           # chain
             + [(100, 100 + i) for i in range(1, 30)]     # star
             + [(200, 201), (201, 202), (202, 200)]       # cycle
             + [(300, 301)])                              # island
    pairs = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    fast = {(r["doc_id"], r["cluster_id"])
            for r in dup_clusters(pairs).collect()}
    slow = {(r["doc_id"], r["cluster_id"])
            for r in dup_clusters(pairs, driver_edge_cap=0).collect()}
    assert fast == slow
    assert (5, 0) in fast and (129, 100) in fast and (202, 200) in fast


def test_near_dup_family_hot_bucket_guards(spark):
    """max_bucket is reachable from the user-facing MinHash near-dup op
    and prunes a hot cluster while the true pair survives."""
    from mre.textops import minhash_near_dups

    viral = ("the exact same viral boilerplate body repeated verbatim "
             "across this entire cluster of documents forever and ever")
    rows = [(i, viral) for i in range(12)]
    rows += [(100, "green tea brewing methods compared carefully today"),
             (101, "green tea brewing methods compared carefully today")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    assert minhash_near_dups(docs, threshold=0.9).count() >= 66
    mh = {(r["doc_a"], r["doc_b"]) for r in
          minhash_near_dups(docs, threshold=0.9, max_bucket=5).collect()}
    assert mh == {(100, 101)}


def test_url_filter(spark):
    """RefinedWeb-family URL filter (round 7): occurrence-weighted
    blocklist score (hard=100/soft=40), hostname digit fraction, and
    length cut — hand URLs replayed by hand."""
    from mre.textops import url_filter
    docs = spark.createDataFrame([
        (1, "https://example.com/articles/cooking"),
        (2, "https://example.com/casino-night-charity"),      # 1 soft
        (3, "https://best-casino.com/casino/casino-bonus-code"),  # 3+1 soft
        (4, "https://example.com/xxx-content"),               # 1 hard
        (5, "http://host12345678901.com/page"),               # digit host
        (6, "https://example.com/" + "a" * 2100),             # too long
        (7, "not a url at all"),
    ], "doc_id long, url string")
    got = {r["doc_id"]: r.asDict() for r in url_filter(docs).collect()}
    assert got[1]["spam_score"] == 0 and got[1]["keep_url"] == 1
    assert got[2]["spam_score"] == 40 and got[2]["keep_url"] == 1
    # 'casino' x3 + 'bonus-code' x1 = 160
    assert got[3]["spam_score"] == 160 and got[3]["keep_url"] == 0
    assert got[4]["spam_score"] == 100 and got[4]["keep_url"] == 0
    # host 'host12345678901.com': 11 digits of 19 chars
    assert got[5]["host_digit_bp"] == 11 * 10000 // 19
    assert got[5]["keep_url"] == 0
    assert got[6]["keep_url"] == 0
    # no scheme -> empty host -> digit rule vacuous
    assert got[7]["host_digit_bp"] == 0 and got[7]["keep_url"] == 1
