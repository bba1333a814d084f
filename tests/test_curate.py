"""Tests for the composed curation pipeline (mre.curate): per-stage
semantics on a corpus with planted quality failures / exact dups /
near-dups / contamination, and the stage-lineage resume protocol."""

import pytest
from pyspark.sql import functions as F

from mre.curate import read_curated, run_curate

# the stages a default run_curate commits, one lineage row each
CURATE_STAGES = ("quality", "exact_dedup", "near_dup", "decontaminate",
                 "split")

_BASE = ("the quick brown fox jumps over the lazy dog and that was "
         "fine to have with all of the other animals in the yard ")


def _variant(i: int) -> str:
    """A quality-passing text whose token stream is ~1/3 doc-specific, so
    distinct variants share almost no word 3-grams (not near-dups)."""
    words = (_BASE * 3).split()
    return " ".join(w if k % 3 else f"{w}{i}" for k, w in enumerate(words))


EVAL_TEXT = "zebra quagga xylophone quince zygote flurble"


def _docs_rows():
    rows = [(i, _variant(i) + f" unique tail number {i} ends here",
             "en", "srcA", 0) for i in range(20)]
    # exact dup pair: identical text → keeper 100, loser 101
    dup = _variant(100) + " duplicated content block"
    rows += [(100, dup, "en", "srcB", 0), (101, dup, "en", "srcB", 0)]
    # near-dup pair: one mid-token differs → high 3-gram jaccard
    near = _variant(110) + " shared tail marker alpha beta gamma delta"
    rows += [(110, near, "en", "srcB", 0),
             (111, near.replace("alpha", "omega"), "en", "srcB", 0)]
    # quality failure: far below the 50-word Gopher floor
    rows += [(120, "too short", "en", "srcC", 0)]
    # contaminated: quality-passing text carrying an eval 5-gram
    rows += [(130, _variant(130) + " " + EVAL_TEXT + " end of doc here",
              "en", "srcC", 0)]
    return rows


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        _docs_rows(),
        "doc_id long, text string, lang string, source string, "
        "n_chars long")


@pytest.fixture(scope="module")
def evals(spark):
    return spark.createDataFrame([(0, EVAL_TEXT)],
                                 "eval_id long, text string")


def _curated(spark, tmp_path, docs, evals, tag="c", **knobs):
    """A fresh ``run_curate`` of ``docs`` into ``tmp_path/tag``, read
    back with ``read_curated``; ``evals`` None skips decontamination."""
    ev = None
    if evals is not None:
        ev = str(tmp_path / f"{tag}_evals")
        evals.write.parquet(ev)
    dst = str(tmp_path / tag)
    run_curate(spark, docs, dst, str(tmp_path / f"{tag}_lineage"),
               run_id=tag, evals_src=ev, **knobs)
    return read_curated(spark, dst)


def test_run_curate_stage_semantics(spark, docs, evals, tmp_path,
                                    monkeypatch):
    import mre.curate as C
    reads = []
    real_read = C.read_if_present

    def counting_read(spark_, path):
        reads.append(path)
        return real_read(spark_, path)

    monkeypatch.setattr(C, "read_if_present", counting_read)
    curated = _curated(spark, tmp_path, docs, evals)
    # the run's lineage is read once, not once more per stage
    assert reads.count(str(tmp_path / "c_lineage")) == 1
    out = curated.collect()
    ids = {r["doc_id"] for r in out}
    # quality failure removed
    assert 120 not in ids
    # exact-dup loser removed, keeper (min doc_id) kept
    assert 100 in ids and 101 not in ids
    # near-dup loser removed, cluster-min kept
    assert 110 in ids and 111 not in ids
    # contaminated doc removed (shares a 5-gram with the eval set)
    assert 130 not in ids
    # the 20 distinct variants all survive
    assert set(range(20)) <= ids
    assert ids == set(range(20)) | {100, 110}
    # every survivor got a deterministic split; text column dropped
    assert all(r["split"] in ("train", "test") for r in out)
    cols = {c for c in curated.columns}
    assert "text" not in cols and "split" in cols


def test_run_curate_no_evals_skips_decontamination(spark, docs, tmp_path):
    ids = {r["doc_id"] for r in
           _curated(spark, tmp_path, docs, None).collect()}
    assert 130 in ids  # nothing to decontaminate against
    assert ids == set(range(20)) | {100, 110, 130}


def test_curate_output_is_leakage_free(spark, docs, evals, tmp_path):
    """The guarantee the pipeline exists to provide: after keep-one-per-
    cluster, NO confirmed near-dup pair (exact jaccard ≥ threshold) has
    both members surviving — so none can cross the train/test split."""
    from mre.textops import jaccard_on_candidates, minhash_near_dups

    out = _curated(spark, tmp_path, docs, evals)
    survivors = out.select("doc_id")
    cands = minhash_near_dups(docs, threshold=0.2).select("doc_a", "doc_b")
    confirmed = (jaccard_on_candidates(cands, docs)
                 .filter(F.col("jaccard") >= 0.5)
                 .select("doc_a", "doc_b"))
    both_alive = (confirmed
                  .join(survivors.withColumnRenamed("doc_id", "doc_a"),
                        "doc_a", "left_semi")
                  .join(survivors.withColumnRenamed("doc_id", "doc_b"),
                        "doc_b", "left_semi"))
    assert both_alive.count() == 0


def test_run_curate_resume_is_idempotent(spark, docs, evals, tmp_path):
    src = str(tmp_path / "docs")
    ev = str(tmp_path / "evals")
    dst = str(tmp_path / "curated")
    lin = str(tmp_path / "lineage")
    docs.write.parquet(src)
    evals.write.parquet(ev)

    run_curate(spark, src, dst, lin, run_id="c1", evals_src=ev)
    final1 = read_curated(spark, dst).orderBy("doc_id").toPandas()
    linpdf = spark.read.parquet(lin).toPandas()
    assert set(linpdf["stage"]) == set(CURATE_STAGES)
    assert len(linpdf) == len(CURATE_STAGES)
    assert (linpdf["run_id"] == "c1").all()
    # stage attrition recorded: n_out <= n_in everywhere, and the final
    # output row count equals the split stage's n_out
    assert (linpdf["n_out"] <= linpdf["n_in"]).all()
    split_row = linpdf[linpdf["stage"] == "split"].iloc[0]
    assert split_row["n_out"] == len(final1)
    assert set(final1["doc_id"]) == set(range(20)) | {100, 110}

    # same run_id again: every stage committed → nothing recomputed,
    # outputs unchanged, NO new lineage rows
    run_curate(spark, src, dst, lin, run_id="c1", evals_src=ev)
    final2 = read_curated(spark, dst).orderBy("doc_id").toPandas()
    assert spark.read.parquet(lin).count() == len(CURATE_STAGES)
    assert final2["doc_id"].tolist() == final1["doc_id"].tolist()
    assert final2["split"].tolist() == final1["split"].tolist()

    # partial-progress resume: keep only the first two stages' lineage →
    # exactly the later three recompute, final output identical
    keep = spark.read.parquet(lin).filter(
        F.col("stage").isin("quality", "exact_dedup"))
    lin2 = str(tmp_path / "lineage2")
    keep.write.parquet(lin2)
    run_curate(spark, src, dst, lin2, run_id="c1", evals_src=ev)
    lin2pdf = spark.read.parquet(lin2).toPandas()
    assert len(lin2pdf) == len(CURATE_STAGES)  # 2 kept + 3 recomputed
    assert sorted(lin2pdf["stage"]) == sorted(CURATE_STAGES)
    final3 = read_curated(spark, dst).orderBy("doc_id").toPandas()
    assert final3["doc_id"].tolist() == final1["doc_id"].tolist()
    assert final3["split"].tolist() == final1["split"].tolist()


def test_run_curate_crash_mid_stage_recovers(spark, docs, evals, tmp_path):
    """Write-then-commit, both failure halves: (a) stage output written
    but lineage row missing (crash between write and commit) → the stage
    recomputes and commits, output unchanged; (b) lineage row present
    but output deleted (sink lost) → resume re-runs the stage instead of
    failing on the missing table."""
    import shutil

    src = str(tmp_path / "docs")
    ev = str(tmp_path / "evals")
    dst = str(tmp_path / "curated")
    lin = str(tmp_path / "lineage")
    docs.write.parquet(src)
    evals.write.parquet(ev)
    run_curate(spark, src, dst, lin, run_id="c1", evals_src=ev)
    final1 = read_curated(spark, dst).orderBy("doc_id").toPandas()

    # (a) crash between write and commit of stage 'near_dup': its output
    # exists (from the completed run) but its lineage row is gone
    keep = spark.read.parquet(lin).filter(F.col("stage") != "near_dup")
    lin2 = str(tmp_path / "lineage_a")
    keep.write.parquet(lin2)
    run_curate(spark, src, dst, lin2, run_id="c1", evals_src=ev)
    pdf = spark.read.parquet(lin2).toPandas()
    assert sorted(pdf["stage"]) == sorted(CURATE_STAGES)
    final2 = read_curated(spark, dst).orderBy("doc_id").toPandas()
    assert final2["doc_id"].tolist() == final1["doc_id"].tolist()

    # (b) lineage says 'split' is done but its output is gone
    shutil.rmtree(f"{dst}/split")
    run_curate(spark, src, dst, lin2, run_id="c1", evals_src=ev)
    final3 = read_curated(spark, dst).orderBy("doc_id").toPandas()
    assert final3["doc_id"].tolist() == final1["doc_id"].tolist()
    assert final3["split"].tolist() == final1["split"].tolist()


def test_run_curate_fresh_run_id_recomputes(spark, docs, evals, tmp_path):
    src = str(tmp_path / "docs")
    ev = str(tmp_path / "evals")
    docs.write.parquet(src)
    evals.write.parquet(ev)
    dst = str(tmp_path / "curated")
    lin = str(tmp_path / "lineage")
    run_curate(spark, src, dst, lin, run_id="a", evals_src=ev)
    run_curate(spark, src, dst, lin, run_id="b", evals_src=ev)
    pdf = spark.read.parquet(lin).toPandas()
    # both runs fully committed (outputs are idempotent overwrites)
    assert len(pdf) == 2 * len(CURATE_STAGES)
    assert set(pdf["run_id"]) == {"a", "b"}


def test_run_curate_param_change_recomputes(spark, docs, evals, tmp_path):
    """ADVICE r4: re-running a run_id with DIFFERENT parameters must not
    reuse stage outputs computed under the old parameters."""
    src = str(tmp_path / "docs")
    ev = str(tmp_path / "evals")
    docs.write.parquet(src)
    evals.write.parquet(ev)
    dst = str(tmp_path / "curated")
    lin = str(tmp_path / "lineage")
    run_curate(spark, src, dst, lin, run_id="p1", evals_src=ev,
               train_frac=0.9)
    n1 = spark.read.parquet(lin).count()
    assert n1 == len(CURATE_STAGES)
    # same run_id, different split fraction → every stage recomputes
    # (new lineage rows with a different params_hash, attempt bumped)
    run_curate(spark, src, dst, lin, run_id="p1", evals_src=ev,
               train_frac=0.5)
    pdf = spark.read.parquet(lin).toPandas()
    assert len(pdf) == 2 * len(CURATE_STAGES)
    assert pdf["params_hash"].nunique() == 2
    # the recomputed rows carry attempt=2 so rollups can pick the latest
    assert sorted(pdf["attempt"].tolist()) == [1] * 5 + [2] * 5
    # and the final table reflects the NEW parameters (0.5 split moves
    # at least one doc from train to test vs the 0.9 split)
    out = read_curated(spark, dst).toPandas()
    assert (out["split"] == "test").any()
    # unchanged parameters again → no recomputation (attempt stays ≤2)
    run_curate(spark, src, dst, lin, run_id="p1", evals_src=ev,
               train_frac=0.5)
    assert spark.read.parquet(lin).count() == 2 * len(CURATE_STAGES)


def test_composed_run_releases_caches(spark, docs):
    """ADVICE r4 cache hygiene: after materializing the helpers curation
    composes (each persists intermediates that feed several join
    branches), release_caches() returns the session to its
    persisted-RDD baseline (localCheckpoint frames from other tests
    excluded by baseline diffing)."""
    from mre.textops import (jaccard_on_candidates, minhash_near_dups,
                             release_caches)

    def persisted_ids():
        it = spark.sparkContext._jsc.getPersistentRDDs()
        return set(it.keySet().toArray())

    release_caches()  # drop anything earlier module-scoped tests left
    base = persisted_ids()
    cands = minhash_near_dups(docs, threshold=0.2).select("doc_a", "doc_b")
    jaccard_on_candidates(cands, docs).count()
    assert len(persisted_ids() - base) > 0  # helpers did persist
    n = release_caches()
    assert n == 2  # the signature frame and the pruned shingle sets
    assert persisted_ids() - base == set()


def test_run_corpus_end_to_end(spark, tmp_path):
    """VERDICT r4 #5: the crawl → extract → curate journey as one job,
    with resumable lineage for both halves under one root — and ZERO
    corpus copies (VERDICT r5 #1): the adapter projection flows lazily
    into the curate half, no ``documents`` table is ever written."""
    import os
    from mre.curate import (extracted_to_documents, read_curated,
                            run_corpus)
    from mre.fixtures import write_fixture_parquet
    from mre.pipeline import read_results

    fx = str(tmp_path / "fixtures")
    write_fixture_parquet(fx, n=120)
    wd = str(tmp_path / "corpus")
    run_corpus(spark, f"{fx}/pages.parquet", wd, run_id="e2e",
               train_frac=0.9)

    # extraction half landed + its lineage (one row per salt bucket)
    ex_lin = spark.read.parquet(f"{wd}/lineage/extract")
    assert ex_lin.count() > 0
    assert ex_lin.agg(F.sum("n_rows")).first()[0] == 120

    # zero-copy: the doc_id-keyed shape exists only as a lazy adapter
    # over the extraction sink — no second corpus copy on disk
    assert not os.path.exists(f"{wd}/documents")
    docs = extracted_to_documents(read_results(spark, f"{wd}/extracted"))
    assert docs.count() == 120
    assert set(docs.columns) == {"doc_id", "url", "text", "lang",
                                 "source", "n_chars", "headline",
                                 "pubdate", "authors"}
    assert docs.filter(F.col("doc_id").isNull()).count() == 0
    assert docs.select("doc_id").distinct().count() == 120

    # curation half: stage lineage complete, final split table readable
    cu_lin = spark.read.parquet(f"{wd}/lineage/curate")
    assert sorted(r["stage"] for r in
                  cu_lin.select("stage").distinct().collect()) \
        == sorted(CURATE_STAGES)
    final1 = read_curated(spark, f"{wd}/curated").orderBy("doc_id") \
        .toPandas()
    # resume across the boundary: same run_id → nothing recomputes
    # (lineage row counts unchanged on both halves), output identical
    n_ex, n_cu = ex_lin.count(), cu_lin.count()
    run_corpus(spark, f"{fx}/pages.parquet", wd, run_id="e2e",
               train_frac=0.9)
    assert spark.read.parquet(f"{wd}/lineage/extract").count() == n_ex
    assert spark.read.parquet(f"{wd}/lineage/curate").count() == n_cu
    assert not os.path.exists(f"{wd}/documents")
    final2 = read_curated(spark, f"{wd}/curated").orderBy("doc_id") \
        .toPandas()
    assert final2["doc_id"].tolist() == final1["doc_id"].tolist()


def test_read_curate_lineage_resolves_attempts(spark, docs, evals,
                                               tmp_path):
    """Rollups consume ONE row per (run_id, stage) — the latest attempt —
    even after a parameter change forced recomputation."""
    from mre.curate import read_curate_lineage
    src = str(tmp_path / "docs")
    ev = str(tmp_path / "evals")
    docs.write.parquet(src)
    evals.write.parquet(ev)
    dst = str(tmp_path / "curated")
    lin = str(tmp_path / "lineage")
    run_curate(spark, src, dst, lin, run_id="r", evals_src=ev,
               train_frac=0.9)
    run_curate(spark, src, dst, lin, run_id="r", evals_src=ev,
               train_frac=0.5)  # param change → 5 more rows, attempt=2
    assert spark.read.parquet(lin).count() == 2 * len(CURATE_STAGES)
    resolved = read_curate_lineage(spark, lin).toPandas()
    assert len(resolved) == len(CURATE_STAGES)
    assert (resolved["attempt"] == 2).all()


def test_run_curate_param_flip_back_recomputes(spark, docs, evals,
                                               tmp_path):
    """A → B → A parameter history: returning to an earlier parameter
    set must NOT reuse the attempt-1 outputs (they were overwritten by
    the intervening B run) — only the LATEST attempt's params count."""
    src = str(tmp_path / "docs")
    ev = str(tmp_path / "evals")
    docs.write.parquet(src)
    evals.write.parquet(ev)
    dst = str(tmp_path / "curated")
    lin = str(tmp_path / "lineage")
    run_curate(spark, src, dst, lin, run_id="f", evals_src=ev,
               train_frac=0.9)                      # A
    run_curate(spark, src, dst, lin, run_id="f", evals_src=ev,
               train_frac=0.5)                      # B overwrites outputs
    out_b = read_curated(spark, dst).orderBy("doc_id").toPandas()
    run_curate(spark, src, dst, lin, run_id="f", evals_src=ev,
               train_frac=0.9)                      # back to A
    pdf = spark.read.parquet(lin).toPandas()
    # third run recomputed (15 rows, attempts 1..3), not silently reused
    assert len(pdf) == 3 * len(CURATE_STAGES)
    assert sorted(pdf["attempt"].tolist()) == [1] * 5 + [2] * 5 + [3] * 5
    out_a2 = read_curated(spark, dst).orderBy("doc_id").toPandas()
    # outputs reflect A again (0.9 split ≠ the 0.5 split left by B)
    assert out_a2["split"].tolist() != out_b["split"].tolist()


def test_release_caches_is_scopeable(spark, docs, evals):
    """cache_mark/since: releasing a later scope leaves earlier
    registrations (another live plan's caches) untouched."""
    from mre.textops import (_LIVE_CACHES, cache_mark,
                             jaccard_on_candidates, minhash_near_dups,
                             release_caches)
    release_caches()
    minhash_near_dups(docs, threshold=0.2).count()   # outer plan's caches
    outer = len(_LIVE_CACHES)
    assert outer > 0
    mark = cache_mark()
    pairs = spark.createDataFrame([(100, 101), (110, 111)],
                                  "doc_a long, doc_b long")
    jaccard_on_candidates(pairs, docs).count()       # inner job's caches
    assert len(_LIVE_CACHES) > mark
    release_caches(since=mark)                   # inner job cleans up
    assert len(_LIVE_CACHES) == outer            # outer caches survive
    release_caches()
    assert len(_LIVE_CACHES) == 0


def test_dedup_increment_against_index(spark, docs, tmp_path):
    """Incremental ingestion: a new batch is deduplicated against the
    existing corpus through the narrow index only (no corpus text), and
    surviving docs extend the index for the NEXT batch."""
    from mre.curate import build_dedup_index, dedup_increment

    idx = str(tmp_path / "index")
    build_dedup_index(spark, docs, idx)

    # batch: 500 = exact copy of corpus doc 0; 501 = near-dup of corpus
    # doc 1 (one token changed); 502/503 = exact dups of each other;
    # 504 = a second distinct new doc; 505 = near-dup of 504
    t0 = docs.filter("doc_id = 0").first()["text"]
    t1 = docs.filter("doc_id = 1").first()["text"]
    fresh_a = _variant(900) + " totally new content nine hundred here"
    fresh_b = _variant(901) + " other brand new material goes here now"
    batch = spark.createDataFrame(
        [(500, t0), (501, t1.replace("unique", "uniqxe", 1)),
         (502, fresh_a), (503, fresh_a),
         (504, fresh_b), (505, fresh_b.replace("other", "some"))],
        "doc_id long, text string")

    out = dedup_increment(spark, batch, idx, threshold=0.5)
    ids = {r["doc_id"] for r in out.collect()}
    assert 500 not in ids           # exact dup of corpus → dropped
    assert 501 not in ids           # near-dup of corpus → dropped
    assert 502 in ids and 503 not in ids   # within-batch exact: keep min
    assert 504 in ids and 505 not in ids   # within-batch near: keep min

    # index grew by the survivors → re-ingesting the same batch drops all
    again = dedup_increment(spark, batch, idx, threshold=0.5,
                            update_index=False)
    assert again.count() == 0


def test_compact_dedup_index_preserves_content(spark, docs, tmp_path):
    import glob
    from mre.curate import (build_dedup_index, compact_dedup_index,
                            dedup_increment)
    idx = str(tmp_path / "idx")
    build_dedup_index(spark, docs, idx)
    # several append batches → small-file swarm
    for b in range(3):
        batch = spark.createDataFrame(
            [(1000 + b * 10 + j,
              _variant(1000 + b * 10 + j) + f" fresh tail {b} {j}")
             for j in range(2)], "doc_id long, text string")
        dedup_increment(spark, batch, idx, threshold=0.5)
    before = {(r["doc_id"], r["fingerprint"])
              for r in spark.read.parquet(f"{idx}/fingerprints")
              .collect()}
    n_files = len(glob.glob(f"{idx}/fingerprints/**/*.parquet",
                            recursive=True))
    compact_dedup_index(spark, idx, target_partitions=1)
    after = {(r["doc_id"], r["fingerprint"])
             for r in spark.read.parquet(f"{idx}/fingerprints").collect()}
    assert after == before                       # content byte-preserved
    assert len(glob.glob(f"{idx}/fingerprints/**/*.parquet",
                         recursive=True)) < n_files
    # hash-bucketed layout preserved, compacted to ≤1 file per bucket
    for d in glob.glob(f"{idx}/signatures/pb=*"):
        assert len(glob.glob(f"{d}/*.parquet")) == 1
    # the compacted index still works
    redo = dedup_increment(
        spark, spark.createDataFrame(
            [(2000, _variant(1000) + " fresh tail 0 0")],
            "doc_id long, text string"),
        idx, threshold=0.5, update_index=False)
    assert redo.count() == 0                     # exact dup of batch 0


def test_dedup_index_is_prebanded_and_ingest_plan_is_scan_only(
        spark, docs, tmp_path):
    """VERDICT r5 #2: the index stores PRE-BANDED LSH rows, and the
    ingest candidate plan (a) never Generates (explodes) the index side
    — bands come from a plain scan of {index}/bands — and (b) never
    shuffles the index side — the batch bands are broadcast. Also:
    update_dedup_index maintains the bands table."""
    from mre.curate import (build_dedup_index, dedup_increment,
                            update_dedup_index)
    idx = str(tmp_path / "idx")
    build_dedup_index(spark, docs, idx, k=32, n=3, bands=8)

    # layout: bands table exists, one row per (doc, band), recorded meta
    bands_t = spark.read.parquet(f"{idx}/bands")
    n_sigs = spark.read.parquet(f"{idx}/signatures").count()
    assert set(bands_t.columns) == {"doc_id", "band_idx", "band_hash",
                                    "pb"}   # pb = round-7 hash bucket
    assert bands_t.count() == 8 * n_sigs
    meta = spark.read.parquet(f"{idx}/meta").first()
    assert (meta["k"], meta["n"], meta["bands"]) == (32, 3, 8)

    # one fresh doc + one corpus near-dup: the near-dup keeps the
    # candidate set non-empty, so the corpus-verify branch (bands scan +
    # signature fetch) stays in the plan — an all-fresh batch yields an
    # empty touched-bucket list whose isin([]) constant-folds and the
    # optimizer (correctly) eliminates the whole branch (round 7)
    t1 = docs.filter("doc_id = 1").first()["text"]
    batch = spark.createDataFrame(
        [(800, _variant(800) + " new content eight hundred closing"),
         (801, t1.replace("unique", "uniqxe", 1))],
        "doc_id long, text string")

    # plan shape: no Generate over the index scan, index side unshuffled
    out = dedup_increment(spark, batch, idx, threshold=0.5,
                          update_index=False)
    plan = out._jdf.queryExecution().executedPlan().toString()
    scans = [ln for ln in plan.splitlines() if "FileScan" in ln]
    # the stored pre-banded table is scanned as plain columns
    assert any("band_idx" in ln and "band_hash" in ln for ln in scans)
    # the signature index is scanned exactly ONCE (the verifier's sig_b
    # fetch); the legacy layout scans it twice — the second feeding the
    # per-batch band-explode Generate this layout exists to eliminate
    assert sum(1 for ln in scans
               if "sig#" in ln and "band_idx" not in ln) == 1, plan
    # the index side never shuffles on the band keys (batch bands are
    # broadcast into the candidate join)
    assert "hashpartitioning(band" not in plan
    assert "BroadcastHashJoin" in plan
    assert out.count() == 1

    # update maintains the pre-banded layout for the NEXT batch (both
    # batch docs fingerprint-fresh → 2 × 8 band rows appended)
    n_band_rows = spark.read.parquet(f"{idx}/bands").count()
    update_dedup_index(spark, batch, idx)
    assert spark.read.parquet(f"{idx}/bands").count() \
        == n_band_rows + 16
    again = dedup_increment(spark, batch, idx, threshold=0.5,
                            update_index=False)
    assert again.count() == 0  # now an exact dup of the index


def test_ingest_within_batch_uses_cluster_min_semantics(spark, tmp_path):
    """ADVICE r5 #4: the within-batch near-dup keep rule is cluster-min
    (same as run_curate), not direct-edge. Chain topology where the two
    rules DIVERGE: pairs (A,C) and (B,C) only — direct-edge drops just C
    (the only doc_b) and keeps {A, B}; cluster-min collapses the
    component {A, B, C} to its minimum {A}. C is built as A's text
    followed by B's text, so C half-agrees with each of the two
    mutually-disjoint docs; k=64 concentrates the estimator, and the
    topology is asserted as an explicit precondition so a fixture drift
    fails loudly instead of silently testing nothing."""
    from mre.curate import build_dedup_index, dedup_increment
    from mre.textops import minhash_near_dups
    idx = str(tmp_path / "idx")
    corpus = spark.createDataFrame(
        [(i, _variant(i) + f" corpus filler number {i} here")
         for i in range(3)], "doc_id long, text string")
    build_dedup_index(spark, corpus, idx, k=64, n=3, bands=32)
    ta = _variant(970) + " alpha beta gamma delta epsilon zeta eta theta"
    tb = " ".join(f"w{j}q{j * 7 % 13}" for j in range(35))
    chain = spark.createDataFrame(
        [(900, ta), (901, tb), (902, ta + " " + tb)],
        "doc_id long, text string")
    # precondition: exactly the divergence topology at this threshold
    pairs = {(r["doc_a"], r["doc_b"])
             for r in minhash_near_dups(chain, k=64, n=3, bands=32,
                                        threshold=0.3).collect()}
    assert pairs == {(900, 902), (901, 902)}, pairs
    out = dedup_increment(spark, chain, idx, threshold=0.3,
                          update_index=False)
    ids = {r["doc_id"] for r in out.collect()}
    assert ids == {900}          # cluster-min; direct-edge would be
    #                              {900, 901} — the ADVICE divergence


def test_compact_dedup_index_swaps_atomically(spark, docs, tmp_path):
    """ADVICE r5 #3: compaction writes to a sibling temp dir and
    promotes by rename — after it returns there is no .tmp/.old
    residue, content is preserved, and the bands table keeps the
    pre-banded layout working."""
    import glob
    import os
    from mre.curate import (build_dedup_index, compact_dedup_index,
                            dedup_increment)
    idx = str(tmp_path / "idx")
    build_dedup_index(spark, docs, idx)
    for b in range(2):
        batch = spark.createDataFrame(
            [(3000 + b * 10 + j,
              _variant(3000 + b * 10 + j) + f" swap tail {b} {j}")
             for j in range(2)], "doc_id long, text string")
        dedup_increment(spark, batch, idx, threshold=0.5)
    before_b = {(r["doc_id"], r["band_idx"], r["band_hash"])
                for r in spark.read.parquet(f"{idx}/bands").collect()}
    compact_dedup_index(spark, idx, target_partitions=1)
    for t in ("fingerprints", "signatures", "bands"):
        assert not os.path.exists(f"{idx}/{t}.tmp")
        assert not os.path.exists(f"{idx}/{t}.old")
        # bucketed layout: ≤1 compacted file per pb directory
        dirs = glob.glob(f"{idx}/{t}/pb=*")
        assert dirs, f"{t} lost its hash-bucketed layout"
        for d in dirs:
            assert len(glob.glob(f"{d}/*.parquet")) == 1
    after_b = {(r["doc_id"], r["band_idx"], r["band_hash"])
               for r in spark.read.parquet(f"{idx}/bands").collect()}
    assert after_b == before_b
    # the compacted pre-banded index still dedups
    redo = dedup_increment(
        spark, spark.createDataFrame(
            [(5000, _variant(3000) + " swap tail 0 0")],
            "doc_id long, text string"),
        idx, threshold=0.5, update_index=False)
    assert redo.count() == 0


def test_index_without_the_one_layout_raises(spark, docs, tmp_path):
    """An index with no meta table, a meta row without bands or parts,
    no bands table, or tables not laid out in pb= hash buckets is not
    ingested into by another path: dedup_increment and
    update_dedup_index each raise a ValueError naming the index path,
    and the update writes nothing first."""
    import os
    import re
    import shutil

    from mre.curate import (INDEX_TABLES, build_dedup_index,
                            dedup_increment, update_dedup_index)
    built = str(tmp_path / "built")
    build_dedup_index(spark, docs, built)

    def no_meta(idx):
        shutil.rmtree(f"{idx}/meta")

    def meta_without_bands(idx):   # the meta of an index from round 5
        spark.createDataFrame([(32, 3)], "k int, n int") \
            .write.mode("overwrite").parquet(f"{idx}/meta")

    def meta_without_parts(idx):   # the meta of a flat-layout index
        spark.createDataFrame([(32, 3, 8, None)],
                              "k int, n int, bands int, parts int") \
            .write.mode("overwrite").parquet(f"{idx}/meta")

    def no_bands(idx):
        shutil.rmtree(f"{idx}/bands")

    def no_pb(idx):                # every table rewritten flat
        for t in INDEX_TABLES:
            spark.read.parquet(f"{idx}/{t}").drop("pb") \
                .write.parquet(f"{idx}/{t}.flat")
            shutil.rmtree(f"{idx}/{t}")
            os.rename(f"{idx}/{t}.flat", f"{idx}/{t}")

    batch = spark.createDataFrame(
        [(600, _variant(600) + " layout check fresh six hundred")],
        "doc_id long, text string")
    for strip in (no_meta, meta_without_bands, meta_without_parts,
                  no_bands, no_pb):
        idx = str(tmp_path / strip.__name__)
        shutil.copytree(built, idx)
        strip(idx)
        listing = sorted(os.walk(idx))
        for call in (lambda: dedup_increment(spark, batch, idx),
                     lambda: update_dedup_index(spark, batch, idx)):
            with pytest.raises(ValueError, match=re.escape(idx)):
                call()
            assert sorted(os.walk(idx)) == listing, strip.__name__


def test_swap_dirs_recovers_from_leftover_old(spark, tmp_path):
    """A crash that left a `.old` sibling behind must not wedge the next
    compaction: swap_dirs clears it and promotes the fresh rewrite."""
    from mre.io import swap_dirs
    live = str(tmp_path / "t")
    spark.range(10).write.parquet(live)
    spark.range(99).write.parquet(f"{live}.old")   # crash residue
    spark.range(20).write.parquet(f"{live}.tmp")   # fresh rewrite
    swap_dirs(spark, f"{live}.tmp", live)
    import os
    assert spark.read.parquet(live).count() == 20
    assert not os.path.exists(f"{live}.tmp")
    assert not os.path.exists(f"{live}.old")


def test_path_committed_requires_success_marker(spark, tmp_path):
    """ADVICE r5 #1: a readable-but-uncommitted parquet dir (no _SUCCESS
    — the crash-mid-write state on remote filesystems) is NOT treated
    as committed; a properly written dir is."""
    import os
    from mre.io import path_committed
    dst = str(tmp_path / "out")
    spark.range(5).write.parquet(dst)
    assert path_committed(spark, dst)
    os.remove(f"{dst}/_SUCCESS")
    assert spark.read.parquet(dst).count() == 5   # readable...
    assert not path_committed(spark, dst)         # ...but not committed
    assert not path_committed(spark, str(tmp_path / "absent"))


def test_path_committed_raises_on_io_error(spark):
    """An I/O error is not "not committed": run_ingest answers False
    with a recompute, which after a partial index update would drop the
    whole batch. A filesystem that cannot even be resolved must raise."""
    from py4j.protocol import Py4JJavaError

    from mre.io import path_committed
    with pytest.raises(Py4JJavaError, match="nosuchfs"):
        path_committed(spark, "nosuchfs://bucket/x")


def test_dedup_index_param_guard_and_idempotent_update(spark, docs,
                                                       tmp_path):
    """update_dedup_index signs with the index's recorded (k, n) — the
    parameters are read from meta, so no caller can pass others — and
    re-applying it is a no-op (fingerprint guard), so crash-retry of an
    index update cannot duplicate docs."""
    from mre.curate import build_dedup_index, update_dedup_index
    idx = str(tmp_path / "idx")
    build_dedup_index(spark, docs, idx, k=32, n=3)
    batch = spark.createDataFrame(
        [(700, _variant(700) + " fresh seven hundred closing words")],
        "doc_id long, text string")
    n_before = spark.read.parquet(f"{idx}/fingerprints").count()
    update_dedup_index(spark, batch, idx)
    n_once = spark.read.parquet(f"{idx}/fingerprints").count()
    assert n_once == n_before + 1
    update_dedup_index(spark, batch, idx)   # retry → no-op
    assert spark.read.parquet(f"{idx}/fingerprints").count() == n_once
    sig_rows = spark.read.parquet(f"{idx}/signatures") \
        .filter("doc_id = 700").collect()
    assert len(sig_rows) == 1 and len(sig_rows[0]["sig"]) == 32


def test_ingest_index_scans_are_bucket_pruned(spark, docs, tmp_path):
    """VERDICT r6 #1: per-batch ingest I/O is O(touched buckets), not
    O(index). The hash-bucketed layout (pb partition directories on
    every index table) plus the batch-derived static isin filter means
    every index scan in the ingest plan carries a PartitionFilter on pb
    — Catalyst prunes untouched bucket directories at file-listing time,
    so they are never opened. The survivor set is the exact expected
    one (the ingest registry oracle checks pruned survivors against an
    unpruned DuckDB replay)."""
    from mre.curate import build_dedup_index, dedup_increment

    t1 = docs.filter("doc_id = 1").first()["text"]
    batch = spark.createDataFrame(
        [(8000, _variant(8000) + " pruned ingest fresh doc tail"),
         (8001, t1.replace("unique", "uniqxe", 1)),   # near-dup of corpus
         (8002, docs.filter("doc_id = 0").first()["text"])],  # exact dup
        "doc_id long, text string")

    idx = str(tmp_path / "idx")
    build_dedup_index(spark, docs, idx)
    out = dedup_increment(spark, batch, idx, threshold=0.5,
                          update_index=False)
    got = {r["doc_id"] for r in out.collect()}

    plan = out._jdf.queryExecution().executedPlan().toString()
    scans = [ln for ln in plan.splitlines() if "FileScan" in ln]
    idx_scans = [ln for ln in scans if "/idx/" in ln or "idx" in ln]
    assert idx_scans, plan
    for ln in idx_scans:
        assert "PartitionFilters: [" in ln, ln
        pf = ln.split("PartitionFilters:", 1)[1]
        assert "pb#" in pf, ln    # the bucket filter reached the scan
    assert got == {8000}


def test_update_dedup_index_param_guard_and_strict_meta(spark, docs,
                                                        tmp_path):
    """ADVICE r6 #3: update_dedup_index propagates a meta READ failure
    instead of guessing the index's parameters or layout (a guess would
    append bands or signatures that disagree with the index)."""
    import glob
    import os
    from mre.curate import build_dedup_index, update_dedup_index
    idx = str(tmp_path / "idx")
    build_dedup_index(spark, docs, idx, k=32, n=3)
    batch = spark.createDataFrame(
        [(7100, _variant(7100) + " strict meta fresh tail")],
        "doc_id long, text string")
    # corrupt the meta table: present but unreadable → loud, not legacy.
    # The per-path meta memo (round 8) would otherwise serve the cached
    # parameters — clear it so this models a FRESH process hitting the
    # corrupted table (the case the strict-read contract is about).
    from mre.curate import _META_CACHE
    _META_CACHE.clear()
    for f in glob.glob(f"{idx}/meta/*.parquet"):
        os.remove(f)
    with open(f"{idx}/meta/part-corrupt.parquet", "w") as fh:
        fh.write("not parquet")
    with pytest.raises(Exception):
        update_dedup_index(spark, batch, idx)


def test_index_meta_memo_sees_rebuild_by_another_process(spark, docs,
                                                         tmp_path):
    """ADVICE r8 (low): the per-process meta memo must not serve stale
    build parameters. Another process rebuilding the index at the same
    path with a different (k, n) leaves this process's memo entry in
    place; restoring the entry after an in-process rebuild models that.
    update_dedup_index must then sign with the NEW parameters: a stale
    memo would append signatures of the old width."""
    from mre.curate import (_META_CACHE, _index_meta, build_dedup_index,
                            update_dedup_index)
    idx = str(tmp_path / "idx")
    build_dedup_index(spark, docs, idx, k=32, n=3)
    assert _index_meta(spark, idx)["k"] == 32
    memo = dict(_META_CACHE)
    build_dedup_index(spark, docs, idx, k=64, n=4)
    _META_CACHE.update(memo)       # the other process's stale entry
    batch = spark.createDataFrame(
        [(7200, _variant(7200) + " rebuilt meta fresh tail")],
        "doc_id long, text string")
    update_dedup_index(spark, batch, idx)
    sig = spark.read.parquet(f"{idx}/signatures") \
        .filter("doc_id = 7200").first()["sig"]
    assert len(sig) == 64
    assert (_index_meta(spark, idx)["k"], _index_meta(spark, idx)["n"]) \
        == (64, 4)


def test_recover_swapped_dir(spark, tmp_path):
    """ADVICE r6 #4: a crash between swap_dirs' two renames leaves the
    table only at path.old — recover_swapped_dir restores it, and a
    live path is never touched."""
    from mre.io import recover_swapped_dir
    live = str(tmp_path / "t")
    spark.range(7).write.parquet(f"{live}.old")   # crash-window state
    assert recover_swapped_dir(spark, live)
    assert spark.read.parquet(live).count() == 7
    # idempotent / no-op on a healthy dir
    assert not recover_swapped_dir(spark, live)
    spark.range(3).write.parquet(f"{live}.old")   # stale residue
    assert not recover_swapped_dir(spark, live)   # live wins
    assert spark.read.parquet(live).count() == 7
