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


def test_run_curate_stage_semantics(spark, docs, evals, tmp_path):
    curated = _curated(spark, tmp_path, docs, evals)
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


def test_run_curate_strict_quality_applies_repetition(spark, docs, evals,
                                                      tmp_path):
    """strict_quality additionally drops docs failing the repetition
    rule: a keyword-stuffed (but otherwise Gopher-passing) doc survives
    the default pipeline and is removed by the strict one."""
    stuffed = ("the spam and offer " * 30
               + "of a deal to have with that be real here now")
    docs2 = docs.unionByName(spark.createDataFrame(
        [(200, stuffed, "en", "srcC", 0)], docs.schema))
    loose = {r["doc_id"] for r in
             _curated(spark, tmp_path, docs2, evals, "loose").collect()}
    strict = {r["doc_id"] for r in
              _curated(spark, tmp_path, docs2, evals, "strict",
                       strict_quality=True).collect()}
    assert 200 in loose
    assert 200 not in strict
    assert strict <= loose


def test_run_curate_ngram_battery_drops_five_gram_looper(spark, docs,
                                                         evals, tmp_path):
    """ngram_battery (round 7, the full Gopher Table A1 n-gram rules)
    drops a doc whose duplicate 5-gram character fraction exceeds the
    0.15 cut but whose top-bigram occupancy passes the strict rule —
    the case only the battery catches."""
    # a long unique prefix keeps every top-2/3/4-gram fraction low; the
    # tail loops one 5-gram enough to push the dup-5-gram chars over 15%
    uniq = " ".join(f"w{i:03d} common filler line {i}" for i in range(20))
    looped = (uniq + " the deal to have with that be of and real "
              + "alpha bravo charlie delta echo " * 8)
    docs2 = docs.unionByName(spark.createDataFrame(
        [(210, looped, "en", "srcC", 0)], docs.schema))
    base = {r["doc_id"] for r in
            _curated(spark, tmp_path, docs2, evals, "base",
                     strict_quality=True).collect()}
    bat = {r["doc_id"] for r in
           _curated(spark, tmp_path, docs2, evals, "bat",
                    strict_quality=True, ngram_battery=True).collect()}
    assert 210 in base
    assert 210 not in bat
    assert bat <= base


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
                             release_caches, remove_dup_passages)

    def persisted_ids():
        it = spark.sparkContext._jsc.getPersistentRDDs()
        return set(it.keySet().toArray())

    release_caches()  # drop anything earlier module-scoped tests left
    base = persisted_ids()
    cands = minhash_near_dups(docs, threshold=0.2).select("doc_a", "doc_b")
    jaccard_on_candidates(cands, docs).count()
    remove_dup_passages(docs).count()
    assert len(persisted_ids() - base) > 0  # helpers did persist
    n = release_caches()
    assert n >= 3
    assert persisted_ids() - base == set()


def test_quality_stage_pii_knob(spark, docs, evals):
    """pii_max threads the PII rule pack into stage 1: a quality-passing
    doc stuffed with emails is dropped only when the knob is on."""
    from mre.curate import quality_keep_ids
    pii_doc = (_variant(300)
               + " contact a@b.io c@d.org e@f.net g@h.com now")
    docs2 = docs.unionByName(spark.createDataFrame(
        [(300, pii_doc, "en", "srcC", 0)], docs.schema))
    base = {r["doc_id"] for r in quality_keep_ids(docs2).collect()}
    assert 300 in base  # passes Gopher rules
    strict = {r["doc_id"]
              for r in quality_keep_ids(docs2, pii_max=3).collect()}
    assert 300 not in strict
    assert strict == base - {300}  # ONLY the PII doc is affected


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


def test_run_corpus_materialized_copy_not_rewritten_on_resume(
        spark, tmp_path):
    """materialize_documents=True writes the physical copy ONCE; a no-op
    resume (extract half unchanged) must NOT rewrite it (VERDICT r5 #1
    done-criterion) — and a wide_id run carries the 128-bit identity
    pair through to the curated output (VERDICT r5 #5)."""
    import glob
    import os
    from mre.curate import read_curated, run_corpus
    from mre.fixtures import write_fixture_parquet

    fx = str(tmp_path / "fixtures")
    write_fixture_parquet(fx, n=60)
    wd = str(tmp_path / "corpus")
    run_corpus(spark, f"{fx}/pages.parquet", wd, run_id="m1",
               train_frac=0.9, materialize_documents=True, wide_id=True)
    docs = spark.read.parquet(f"{wd}/documents")
    assert docs.count() == 60
    assert "doc_id_hi" in docs.columns
    # the 128-bit pair is collision-free and genuinely two-dimensional
    assert docs.select("doc_id", "doc_id_hi").distinct().count() == 60
    assert docs.filter(F.col("doc_id") == F.col("doc_id_hi")).count() == 0
    # wide id rides through curation to the final split table
    out = read_curated(spark, f"{wd}/curated")
    assert "doc_id_hi" in out.columns

    mtimes1 = {p: os.path.getmtime(p)
               for p in glob.glob(f"{wd}/documents/*")}
    assert mtimes1
    # no-op resume: extract lineage unchanged → adapter copy untouched
    run_corpus(spark, f"{fx}/pages.parquet", wd, run_id="m1",
               train_frac=0.9, materialize_documents=True, wide_id=True)
    mtimes2 = {p: os.path.getmtime(p)
               for p in glob.glob(f"{wd}/documents/*")}
    assert mtimes2 == mtimes1


def test_run_curate_rewrite_stage_collapses_boilerplate_dups(
        spark, tmp_path):
    """Round-6 opt-in rewrite stage: stripping shared boilerplate BEFORE
    dedup makes docs that differ only in boilerplate exact duplicates.
    Doc 300 = core1 + boiler, doc 306 = core1 alone; boiler rides in 5
    docs (df=5 > rewrite_max_df=2), each core is in ≤2 docs (kept).
    Without the rewrite both survive; with it, 306 keeps (min doc_id is
    300... the rewritten 300 == core1 == 306's text, keeper = min id
    300, loser 306)."""
    from mre.curate import read_curated, run_curate
    # boiler = 3 long '. '-sentences, ~180 tokens — large enough that
    # core-vs-core+boiler stays BELOW the 0.5 exact-Jaccard confirm in
    # the control run (the rewrite is what collapses the pair, not the
    # near-dup stage)
    boiler = ". ".join(
        " ".join(f"legal{j} notice{j} clause{j}"
                 for j in range(s * 20, s * 20 + 20))
        for s in range(3))
    rows = [(300 + i, _variant(300 + i) + ". " + boiler)
            for i in range(5)]
    rows.append((306, _variant(300)))        # == doc 300 minus boiler
    docs2 = spark.createDataFrame(rows, "doc_id long, text string")
    src = str(tmp_path / "docs")
    docs2.write.parquet(src)

    # control: no rewrite → 306 is NOT an exact dup of 300
    run_curate(spark, src, str(tmp_path / "plain"),
               str(tmp_path / "lin_plain"), run_id="rw0")
    plain = {r["doc_id"] for r in
             read_curated(spark, str(tmp_path / "plain")).collect()}
    assert {300, 306} <= plain

    run_curate(spark, src, str(tmp_path / "rw"),
               str(tmp_path / "lin_rw"), run_id="rw1",
               rewrite="passages", rewrite_max_df=2)
    # the rewrite stage materialized rewritten text, boilerplate gone
    rw = {r["doc_id"]: r["text"] for r in
          spark.read.parquet(str(tmp_path / "rw" / "rewrite")).collect()}
    assert all("legal0 notice0" not in t for t in rw.values())
    assert rw[300] == _variant(300)          # now byte-equal to 306
    out = {r["doc_id"] for r in
           read_curated(spark, str(tmp_path / "rw")).collect()}
    assert 300 in out and 306 not in out     # collapsed as exact dups
    lin = spark.read.parquet(str(tmp_path / "lin_rw")).toPandas()
    assert "rewrite" in set(lin["stage"])
    assert len(lin) == len(CURATE_STAGES) + 1
    # resume: same run_id + params → nothing recomputes
    run_curate(spark, src, str(tmp_path / "rw"),
               str(tmp_path / "lin_rw"), run_id="rw1",
               rewrite="passages", rewrite_max_df=2)
    assert spark.read.parquet(str(tmp_path / "lin_rw")).count() \
        == len(CURATE_STAGES) + 1


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
    shuffles the index side — the batch bands are broadcast. Also: a
    bands-width mismatch with the recorded build parameter fails
    loudly, and update_dedup_index maintains the bands table."""
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
    with pytest.raises(ValueError, match="pre-banded"):
        dedup_increment(spark, batch, idx, bands=4)

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
    out = dedup_increment(spark, chain, idx, k=64, n=3, bands=32,
                          threshold=0.3, update_index=False)
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


def test_dedup_increment_legacy_index_fallback(spark, docs, tmp_path):
    """An index built BEFORE the pre-banded layout (no bands table, meta
    without a bands column) still ingests correctly — bands derive at
    read — and update_dedup_index skips the bands append for it."""
    import shutil
    from mre.curate import (build_dedup_index, dedup_increment,
                            update_dedup_index)
    idx = str(tmp_path / "idx")
    build_dedup_index(spark, docs, idx, parts=None)   # flat legacy layout
    # strip the round-6 layout back to the legacy shape
    shutil.rmtree(f"{idx}/bands")
    spark.createDataFrame([(32, 3)], "k int, n int") \
        .write.mode("overwrite").parquet(f"{idx}/meta")

    t0 = docs.filter("doc_id = 0").first()["text"]
    batch = spark.createDataFrame(
        [(600, t0),
         (601, _variant(601) + " legacy path fresh six hundred one")],
        "doc_id long, text string")
    out = dedup_increment(spark, batch, idx, threshold=0.5)
    assert {r["doc_id"] for r in out.collect()} == {601}
    # survivor entered fp+sig tables; no bands table was (re)created
    assert spark.read.parquet(f"{idx}/fingerprints") \
        .filter("doc_id = 601").count() == 1
    import os
    assert not os.path.exists(f"{idx}/bands")
    # and the updated legacy index catches a re-ingest
    again = dedup_increment(spark, batch, idx, threshold=0.5,
                            update_index=False)
    assert again.count() == 0


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
    """A k/n mismatch with the index's recorded build parameters fails
    loudly; re-applying update_dedup_index is a no-op (fingerprint
    guard), so crash-retry of an index update cannot duplicate docs."""
    import pytest as _pytest
    from mre.curate import (build_dedup_index, dedup_increment,
                            update_dedup_index)
    idx = str(tmp_path / "idx")
    build_dedup_index(spark, docs, idx, k=32, n=3)
    batch = spark.createDataFrame(
        [(700, _variant(700) + " fresh seven hundred closing words")],
        "doc_id long, text string")
    with _pytest.raises(ValueError, match="built with"):
        dedup_increment(spark, batch, idx, k=64)
    n_before = spark.read.parquet(f"{idx}/fingerprints").count()
    update_dedup_index(spark, batch, idx)
    n_once = spark.read.parquet(f"{idx}/fingerprints").count()
    assert n_once == n_before + 1
    update_dedup_index(spark, batch, idx)   # retry → no-op
    assert spark.read.parquet(f"{idx}/fingerprints").count() == n_once
    sig_rows = spark.read.parquet(f"{idx}/signatures") \
        .filter("doc_id = 700").count()
    assert sig_rows == 1


def test_ingest_index_scans_are_bucket_pruned(spark, docs, tmp_path):
    """VERDICT r6 #1: per-batch ingest I/O is O(touched buckets), not
    O(index). The hash-bucketed layout (pb partition directories on
    every index table) plus the batch-derived static isin filter means
    every index scan in the ingest plan carries a PartitionFilter on pb
    — Catalyst prunes untouched bucket directories at file-listing time,
    so they are never opened. Also: pruning is semantics-preserving —
    the survivor set equals the flat-layout (unpruned) run's."""
    from mre.curate import build_dedup_index, dedup_increment

    t1 = docs.filter("doc_id = 1").first()["text"]
    batch = spark.createDataFrame(
        [(8000, _variant(8000) + " pruned ingest fresh doc tail"),
         (8001, t1.replace("unique", "uniqxe", 1)),   # near-dup of corpus
         (8002, docs.filter("doc_id = 0").first()["text"])],  # exact dup
        "doc_id long, text string")

    idx = str(tmp_path / "idx")
    build_dedup_index(spark, docs, idx, parts=32)
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

    # equivalence: a flat (legacy-layout) index yields the same survivors
    flat = str(tmp_path / "flat")
    build_dedup_index(spark, docs, flat, parts=None)
    ref = {r["doc_id"] for r in
           dedup_increment(spark, batch, flat, threshold=0.5,
                           update_index=False).collect()}
    assert got == ref == {8000}


def test_update_dedup_index_param_guard_and_strict_meta(spark, docs,
                                                        tmp_path):
    """ADVICE r6 #3: update_dedup_index (a) raises on a (k, n) mismatch
    with the recorded build parameters instead of silently appending
    incompatible signatures, and (b) propagates a meta READ failure
    instead of treating it as a legacy index (which would silently skip
    the bands append and leave {index}/bands stale)."""
    import glob
    import os
    from mre.curate import build_dedup_index, update_dedup_index
    idx = str(tmp_path / "idx")
    build_dedup_index(spark, docs, idx, k=32, n=3)
    batch = spark.createDataFrame(
        [(7100, _variant(7100) + " strict meta fresh tail")],
        "doc_id long, text string")
    with pytest.raises(ValueError, match="built with"):
        update_dedup_index(spark, batch, idx, k=64)
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
    update_dedup_index's guard must then see the NEW parameters."""
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
    with pytest.raises(ValueError, match="built with"):
        update_dedup_index(spark, batch, idx, k=32, n=3)
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


def test_remove_from_dedup_index_readmits_content(spark, docs, tmp_path):
    """VERDICT r6 #8 (index lifecycle): retracting docs removes their
    suppression — a re-ingest of the same (exact) and near-same content
    is admitted again; untouched docs keep deduping; compaction
    preserves the removal; the delete is idempotent."""
    import glob
    from mre.curate import (build_dedup_index, compact_dedup_index,
                            dedup_increment, remove_from_dedup_index)
    idx = str(tmp_path / "idx")
    build_dedup_index(spark, docs, idx)

    t0 = docs.filter("doc_id = 0").first()["text"]
    t1 = docs.filter("doc_id = 1").first()["text"]
    t2 = docs.filter("doc_id = 2").first()["text"]
    batch = spark.createDataFrame(
        [(9000, t0),                                    # exact of removed
         (9001, t1.replace("unique", "uniqxe", 1)),     # near of removed
         (9002, t2)],                                   # exact of KEPT doc
        "doc_id long, text string")
    # precondition: all three suppressed before the retraction
    pre = dedup_increment(spark, batch, idx, threshold=0.5,
                          update_index=False)
    assert pre.count() == 0
    # the precondition call persisted frames OVER the index tables —
    # release them, or Spark's plan-matching cache would serve the
    # pre-removal rows to the post-removal run (module convention:
    # update_index=False means the caller owns the release)
    from mre.textops import release_caches
    release_caches()

    remove_from_dedup_index(spark, [0, 1], idx)
    out = dedup_increment(spark, batch, idx, threshold=0.5,
                          update_index=False)
    got = {r["doc_id"] for r in out.collect()}
    assert got == {9000, 9001}   # retracted content readmitted; 9002 not

    # no trace of the victims in any table; no stale empty buckets
    for t in ("fingerprints", "signatures", "bands"):
        tbl = spark.read.parquet(f"{idx}/{t}")
        assert tbl.filter("doc_id in (0, 1)").count() == 0
        for d in glob.glob(f"{idx}/{t}/pb=*"):
            assert glob.glob(f"{d}/*.parquet"), f"stale empty bucket {d}"

    # idempotent: re-applying the same removal is a no-op
    counts = {t: spark.read.parquet(f"{idx}/{t}").count()
              for t in ("fingerprints", "signatures", "bands")}
    remove_from_dedup_index(spark, [0, 1], idx)
    for t, n in counts.items():
        assert spark.read.parquet(f"{idx}/{t}").count() == n

    # compaction preserves the removal
    compact_dedup_index(spark, idx, target_partitions=1)
    redo = dedup_increment(spark, batch, idx, threshold=0.5,
                           update_index=False)
    assert {r["doc_id"] for r in redo.collect()} == {9000, 9001}


def test_remove_from_dedup_index_flat_layout(spark, docs, tmp_path):
    """The legacy flat layout takes the full-rewrite path and reaches
    the same post-retraction semantics."""
    from mre.curate import (build_dedup_index, dedup_increment,
                            remove_from_dedup_index)
    idx = str(tmp_path / "idx")
    build_dedup_index(spark, docs, idx, parts=None)
    t0 = docs.filter("doc_id = 0").first()["text"]
    batch = spark.createDataFrame([(9100, t0)], "doc_id long, text string")
    assert dedup_increment(spark, batch, idx, threshold=0.5,
                           update_index=False).count() == 0
    from mre.textops import release_caches
    release_caches()   # see readmits test: drop pre-removal cached scans
    remove_from_dedup_index(
        spark, spark.createDataFrame([(0,)], "doc_id long"), idx)
    out = dedup_increment(spark, batch, idx, threshold=0.5,
                          update_index=False)
    assert {r["doc_id"] for r in out.collect()} == {9100}


def test_media_dedup_stage_in_curation(spark, docs, evals, tmp_path):
    """VERDICT r6 #2: media-payload dedup composed into the pipeline.
    Docs whose media payload is byte-identical to a kept doc's are
    dropped (keep-min), docs without media pass through, and the
    'band' mode additionally collapses same-container-geometry
    payloads whose bytes differ. The operator is checked directly in
    both modes, then through the resumable run_curate (stage lineage
    row + id-list)."""
    from mre.curate import media_loser_ids
    from mre.multimodal import make_gif, make_png

    # docs 0..3 get media; 0 and 1 share EXACT bytes; 2's gif shares
    # dims with 3's but differs in frame geometry (band-dup only)
    rows = [(0, make_png(20, 10)), (1, make_png(20, 10)),
            (2, make_gif(30, 12, frames=[(0, 0, 8, 8)])),
            (3, make_gif(30, 12, frames=[(0, 0, 9, 8)]))]
    media = spark.createDataFrame(rows, "doc_id long, payload binary")

    exact_losers = {r["doc_id"]
                    for r in media_loser_ids(media).collect()}
    assert exact_losers == {1}
    band_losers = {r["doc_id"]
                   for r in media_loser_ids(media, mode="band").collect()}
    assert band_losers == {1, 3}

    # the resumable job: media_dedup gets a lineage row + an id-list
    src = str(tmp_path / "docs")
    msrc = str(tmp_path / "media")
    dst = str(tmp_path / "curated")
    lin = str(tmp_path / "lineage")
    docs.write.parquet(src)
    media.write.parquet(msrc)
    run_curate(spark, src, dst, lin, run_id="m1", media_src=msrc)
    stages = {r["stage"] for r in spark.read.parquet(lin).collect()}
    assert "media_dedup" in stages
    final = {r["doc_id"] for r in read_curated(spark, dst).collect()}
    assert 1 not in final and {0, 2, 3} <= final
    # resume: nothing recomputes, no new lineage rows
    n_lin = spark.read.parquet(lin).count()
    run_curate(spark, src, dst, lin, run_id="m1", media_src=msrc)
    assert spark.read.parquet(lin).count() == n_lin


def test_run_curate_bpe_token_accounting(spark, docs, evals, tmp_path):
    """Opt-in token-accounting tail (VERDICT r6 #4): bpe_merges > 0
    learns a merge table from the SURVIVING corpus and writes per-doc
    subword counts; counts equal a direct bpe_tokenize over the split
    survivors under the persisted merges; resume is a no-op; the
    default pipeline writes neither table."""
    from mre.bpe import bpe_tokenize

    src = str(tmp_path / "docs")
    docs.write.parquet(src)

    # default: no bpe outputs
    run_curate(spark, src, str(tmp_path / "c0"),
               str(tmp_path / "l0"), run_id="b0")
    import os
    assert not os.path.exists(str(tmp_path / "c0" / "tokens"))
    assert not os.path.exists(str(tmp_path / "c0" / "bpe_merges"))

    dst, lin = str(tmp_path / "c1"), str(tmp_path / "l1")
    run_curate(spark, src, dst, lin, run_id="b1", bpe_merges=8,
               bpe_vocab_top=100)
    stages = {r["stage"] for r in spark.read.parquet(lin).collect()}
    assert {"bpe_merges", "tokens"} <= stages
    merges_df = spark.read.parquet(f"{dst}/bpe_merges")
    merges = [(r["left"], r["right"], r["cnt"])
              for r in merges_df.orderBy("rank").collect()]
    assert 0 < len(merges) <= 8
    toks = {r["doc_id"]: (r["n_words"], r["n_bpe_tokens"])
            for r in spark.read.parquet(f"{dst}/tokens").collect()}
    survivors = {r["doc_id"] for r in read_curated(spark, dst).collect()}
    assert set(toks) == survivors
    # counts equal a direct application of the persisted merges to the
    # surviving docs
    surv_docs = docs.join(read_curated(spark, dst).select("doc_id"),
                          "doc_id", "left_semi")
    direct = {r["doc_id"]: (r["n_words"], r["n_bpe_tokens"])
              for r in bpe_tokenize(surv_docs, merges).collect()}
    assert toks == direct
    # subword counts are at least the word counts (every word is ≥1
    # token) and the learner genuinely compressed something
    assert all(nb >= nw for nw, nb in toks.values())

    # resume: no recompute, no new lineage rows
    n_lin = spark.read.parquet(lin).count()
    run_curate(spark, src, dst, lin, run_id="b1", bpe_merges=8,
               bpe_vocab_top=100)
    assert spark.read.parquet(lin).count() == n_lin


def test_run_curate_line_clean_stage(spark, docs, evals, tmp_path):
    """Opt-in C4 line-level scrub as stage 0 (round 7): pages failing
    the page rules are dropped before quality, survivors' text is
    rewritten to kept lines, downstream stages consume the rewrite,
    and resume is a no-op."""
    from mre.textops import c4_line_clean
    from pyspark.sql import functions as F

    # give every doc newline structure: 6-word lines, even lines
    # punctuated; doc_id % 11 == 0 gets a lorem-ipsum page-drop line.
    # Text is replicated 4x first so the kept half still clears the
    # Gopher 50-word floor — otherwise quality would empty the corpus
    # and the downstream assertions would pass vacuously.
    docs = docs.withColumn(
        "text", F.concat_ws(" ", "text", "text", "text", "text"))
    w = F.split("text", " ")
    nl = F.floor((F.size(w) + F.lit(5)) / F.lit(6)).cast("int")
    lines = F.transform(
        F.sequence(F.lit(0), nl - 1),
        lambda i: F.when(
            i % 2 == 0,
            F.concat(F.array_join(F.slice(w, i * 6 + 1, 6), " "),
                     F.lit("."))
        ).otherwise(F.array_join(F.slice(w, i * 6 + 1, 6), " ")))
    structured = docs.withColumn(
        "text",
        F.when(F.col("doc_id") % 11 == 0,
               F.concat(F.array_join(lines, "\n"),
                        F.lit("\nlorem ipsum dolor sit amet three.")))
        .otherwise(F.array_join(lines, "\n")))
    src = str(tmp_path / "docs")
    structured.write.parquet(src)

    dst, lin = str(tmp_path / "c"), str(tmp_path / "l")
    run_curate(spark, src, dst, lin, run_id="lc1", line_clean=True)
    stages = {r["stage"] for r in spark.read.parquet(lin).collect()}
    assert "line_clean" in stages
    cleaned = spark.read.parquet(f"{dst}/line_clean")
    expect = c4_line_clean(structured).filter("keep = 1") \
        .select("doc_id", "text")
    assert {r["doc_id"] for r in cleaned.collect()} \
        == {r["doc_id"] for r in expect.collect()}
    # page-drop class is gone before any later stage
    assert cleaned.filter("doc_id % 11 = 0").count() == 0
    # final survivors' split table is non-empty (the rewritten text
    # clears the quality stage) and only contains cleaned docs
    surv = {r["doc_id"]
            for r in spark.read.parquet(f"{dst}/split").collect()}
    assert surv and surv <= {r["doc_id"] for r in cleaned.collect()}
    # resume: no recompute
    n_lin = spark.read.parquet(lin).count()
    run_curate(spark, src, dst, lin, run_id="lc1", line_clean=True)
    assert spark.read.parquet(lin).count() == n_lin
    # default run on the same src writes no line_clean stage
    run_curate(spark, src, str(tmp_path / "c0"), str(tmp_path / "l0"),
               run_id="lc0")
    import os
    assert not os.path.exists(str(tmp_path / "c0" / "line_clean"))


def test_lm_filter_stage_in_curation(spark, docs, evals, tmp_path):
    """Round-7 CCNet-family perplexity filter: a quality-passing doc
    made of out-of-vocab gibberish scores a strictly higher mean NLL
    than every normal survivor; with a threshold between the two, the
    lm_filter stage of the resumable run_curate drops it (lineage row
    + id-list, resume no-op)."""
    from mre.curate import exact_keeper_ids, lm_keep_ids, quality_keep_ids
    from mre.textops import lm_learn, lm_score, lm_vocab_rows

    # ≥50 words, mean word len in range, ≥2 stopwords, all-alpha —
    # passes Gopher quality but every content token is unique to it
    gib = ("the and " * 2 + " ".join(f"gib{i}zz" for i in range(60))
           + " over it goes")
    docs2 = docs.unionByName(spark.createDataFrame(
        [(140, gib, "en", "srcG", 0)], docs.schema))

    # replicate the stage input (post quality + exact dedup) and derive
    # a threshold strictly between the gibberish doc and everyone else
    kept = docs2.join(quality_keep_ids(docs2), "doc_id", "left_semi")
    kept = kept.join(exact_keeper_ids(kept), "doc_id", "left_semi")
    vocab, total = lm_learn(kept, vocab_top=64)
    scores = {r["doc_id"]: r["nll_micro_mean"]
              for r in lm_score(kept, lm_vocab_rows(vocab), total)
              .collect()}
    rest_max = max(v for k, v in scores.items() if k != 140)
    assert scores[140] > rest_max
    thr = (scores[140] + rest_max) // 2

    # zero-token docs have no evidence -> dropped by the keep filter
    empty = spark.createDataFrame([(1, "aa bb aa"), (2, "   ")],
                                  "doc_id long, text string")
    keep = {r["doc_id"]
            for r in lm_keep_ids(empty, 10**12, vocab_top=4).collect()}
    assert keep == {1}

    # the resumable job: lm_filter gets a lineage row + an id-list
    src = str(tmp_path / "docs")
    dst = str(tmp_path / "curated")
    lin = str(tmp_path / "lineage")
    docs2.write.parquet(src)
    run_curate(spark, src, dst, lin, run_id="lm1", evals_src=None,
               lm_max_nll=thr, lm_vocab_top=64)
    stages = {r["stage"] for r in spark.read.parquet(lin).collect()}
    assert "lm_filter" in stages
    final = {r["doc_id"] for r in read_curated(spark, dst).collect()}
    assert 140 not in final and 0 in final
    # resume: nothing recomputes, no new lineage rows
    n_lin = spark.read.parquet(lin).count()
    run_curate(spark, src, dst, lin, run_id="lm1", evals_src=None,
               lm_max_nll=thr, lm_vocab_top=64)
    assert spark.read.parquet(lin).count() == n_lin
    # default run on the same src writes no lm_filter stage
    import os
    run_curate(spark, src, str(tmp_path / "c0"), str(tmp_path / "l0"),
               run_id="lm0")
    assert not os.path.exists(str(tmp_path / "c0" / "lm_filter"))


def test_run_curate_url_gate_stage(spark, docs, evals, tmp_path):
    """Round-7 URL gate as stage 0: a spam-URL doc is dropped before
    any content work, clean-URL docs flow through unchanged, and a
    corpus without a url column raises."""
    from pyspark.sql import functions as F
    with_urls = docs.withColumn(
        "url",
        F.when(F.col("doc_id") == 0,
               F.lit("https://example.com/xxx-casino-bonus"))
        .otherwise(F.concat(F.lit("https://example.com/p/"),
                            F.col("doc_id").cast("string"))))
    src = str(tmp_path / "docs")
    with_urls.write.parquet(src)
    dst, lin = str(tmp_path / "c"), str(tmp_path / "l")
    run_curate(spark, src, dst, lin, run_id="ug1", url_gate=True)
    kept = {r["doc_id"]
            for r in spark.read.parquet(f"{dst}/url_filter").collect()}
    assert 0 not in kept and 1 in kept
    surv = {r["doc_id"]
            for r in spark.read.parquet(f"{dst}/split").collect()}
    assert 0 not in surv and surv <= kept
    with pytest.raises(ValueError, match="url"):
        run_curate(spark, docs, dst, lin, run_id="ug2", url_gate=True)


def test_run_curate_token_budget_stage(spark, docs, evals, tmp_path):
    """Round-7 mixture-assembly tail: the budget_sample stage equals
    budget_sample applied directly to the decontaminated survivors,
    and only sampled docs reach the split."""
    from mre.textops import budget_sample
    src = str(tmp_path / "docs")
    docs.write.parquet(src)
    dst, lin = str(tmp_path / "c"), str(tmp_path / "l")
    run_curate(spark, src, dst, lin, run_id="tb1", token_budget=120)
    base = {r["doc_id"]
            for r in spark.read.parquet(f"{dst}/decontaminate").collect()}
    expect = {r["doc_id"] for r in budget_sample(
        docs.join(spark.read.parquet(f"{dst}/decontaminate"),
                  "doc_id", "left_semi"), 120).collect()}
    got = {r["doc_id"]
           for r in spark.read.parquet(f"{dst}/budget_sample").collect()}
    assert got == expect and got < base
    surv = {r["doc_id"]
            for r in spark.read.parquet(f"{dst}/split").collect()}
    assert surv == got


def test_run_curate_nb_gate_stage(spark, docs, evals, tmp_path):
    """Round-7 CCNet bootstrap: the nb_filter stage drops a
    quality-passing doc written in the rejected class's vocabulary,
    keeps the ordinary survivors, and equals a direct
    nb_train/nb_score replay on the quality verdicts."""
    from mre.textops import nb_score, nb_train
    # ~30 quality-FAILING docs sharing a distinctive spam vocabulary
    # (each under the 50-word floor), plus ONE long doc in the same
    # vocabulary padded to pass the heuristics — the classifier should
    # reject it even though the rules let it through
    spam_short = [(300 + i,
                   f"casino bonus {i} lottery jackpot win now prize "
                   f"deal offer spin slots",
                   "en", "srcS", 0) for i in range(30)]
    spam_long = [(399,
                  ("casino bonus lottery jackpot win prize spin slots "
                   "the a of to deal offer money chips table bet odds "
                   ) * 5,
                  "en", "srcS", 0)]
    docs2 = docs.unionByName(spark.createDataFrame(
        spam_short + spam_long, docs.schema))
    src = str(tmp_path / "docs")
    docs2.write.parquet(src)
    dst, lin = str(tmp_path / "c"), str(tmp_path / "l")
    run_curate(spark, src, dst, lin, run_id="nb1", nb_gate=True,
               nb_vocab_top=512)
    q = spark.read.parquet(f"{dst}/quality")
    qs = {r["doc_id"] for r in q.collect()}
    assert 399 in qs                      # heuristics let it through
    kept = {r["doc_id"]
            for r in spark.read.parquet(f"{dst}/nb_filter").collect()}
    assert 399 not in kept                # the classifier does not
    assert set(range(20)) <= kept
    # stage == direct replay on the same labels
    labeled = docs2.withColumn(
        "label", F.col("doc_id").isin(*qs).cast("int"))
    model, meta = nb_train(labeled, "label", vocab_top=512)
    ok = {r["doc_id"] for r in nb_score(docs2, model, meta)
          .filter("nb_pred = 1").collect()}
    assert kept == qs & ok
    surv = {r["doc_id"]
            for r in spark.read.parquet(f"{dst}/split").collect()}
    assert surv <= kept


def test_run_corpus_url_gate(spark, tmp_path):
    """Round-7: --url-gate works across the zero-copy adapter (the
    extraction output keeps url), dropping pages whose url trips the
    blocklist before any content-stage work."""
    from mre.curate import run_corpus
    from mre.fixtures import write_fixture_parquet
    from pyspark.sql import functions as F

    fx = str(tmp_path / "fixtures")
    write_fixture_parquet(fx, n=80)
    # poison a handful of urls with a hard blocklist marker
    pages = spark.read.parquet(f"{fx}/pages.parquet")
    poisoned = pages.withColumn(
        "url",
        F.when(F.xxhash64("url") % 10 == 0,
               F.concat(F.col("url"), F.lit("-xxx-casino")))
        .otherwise(F.col("url")))
    src = str(tmp_path / "pages2")
    poisoned.write.parquet(src)
    wd = str(tmp_path / "corpus")
    run_corpus(spark, src, wd, run_id="ug", url_gate=True)
    kept_urls = {r["url"] for r in spark.read.parquet(
        f"{wd}/curated/url_filter").join(
        spark.read.parquet(f"{wd}/extracted").withColumn(
            "doc_id", F.xxhash64("url")), "doc_id").collect()}
    assert kept_urls and all("-xxx-" not in u for u in kept_urls)


def test_run_curate_dsir_select_stage(spark, docs, evals, tmp_path):
    """Round-7 DSIR selection: the dsir_select stage equals dsir_topk
    applied directly to the decontaminated survivors (top half toward
    the 'en' target), only selected docs reach the split, and resume
    skips the stage."""
    from mre.curate import read_curate_lineage
    from mre.textops import dsir_topk
    src = str(tmp_path / "docs")
    docs.write.parquet(src)
    dst, lin = str(tmp_path / "c"), str(tmp_path / "l")
    run_curate(spark, src, dst, lin, run_id="ds1", dsir_top_frac=0.5)
    base_ids = spark.read.parquet(f"{dst}/decontaminate")
    surv = docs.join(base_ids, "doc_id", "left_semi")
    k = int(surv.count() * 0.5)
    expect = {r["doc_id"] for r in
              dsir_topk(surv, F.col("lang") == "en", k).collect()}
    got = {r["doc_id"]
           for r in spark.read.parquet(f"{dst}/dsir_select").collect()}
    assert got == expect and len(got) == k
    split = {r["doc_id"]
             for r in spark.read.parquet(f"{dst}/split").collect()}
    assert split == got
    # resume with identical params: no new attempt rows
    before = read_curate_lineage(spark, lin).count()
    run_curate(spark, src, dst, lin, run_id="ds1", dsir_top_frac=0.5)
    assert read_curate_lineage(spark, lin).count() == before


def test_run_curate_semantic_dedup_stage(spark, docs, evals, tmp_path):
    """Round-7 SemDeDup stage: a doc whose embedding duplicates a
    lower-id SURVIVOR's is dropped; a duplicate of a DEAD doc's
    embedding does not kill the survivor (live-docs-first rule); docs
    without an embedding row pass through; resume is a no-op."""
    from mre.curate import read_curate_lineage
    src = str(tmp_path / "docs")
    docs.write.parquet(src)
    v1 = [1.0, 0.0, 0.0, 0.0]
    v2 = [0.0, 1.0, 0.0, 0.0]
    emb_rows = [
        (0, v1), (2, v1),      # 2 semantically dups surviving 0 → drop
        (120, v2), (3, v2),    # 120 fails quality (dead): 3 must stay
    ]
    emb_src = str(tmp_path / "emb")
    spark.createDataFrame(
        emb_rows, "doc_id long, embedding array<float>"
    ).write.parquet(emb_src)
    dst, lin = str(tmp_path / "c"), str(tmp_path / "l")
    run_curate(spark, src, dst, lin, run_id="sd1",
               embeddings_src=emb_src, semdedup_k=2,
               semdedup_threshold=0.999)
    q = {r["doc_id"] for r in spark.read.parquet(f"{dst}/quality")
         .collect()}
    assert 120 not in q
    sem = {r["doc_id"]
           for r in spark.read.parquet(f"{dst}/semantic_dedup")
           .collect()}
    assert 2 not in sem and 0 in sem and 3 in sem
    split = {r["doc_id"] for r in spark.read.parquet(f"{dst}/split")
             .collect()}
    assert 2 not in split and 3 in split and 0 in split
    before = read_curate_lineage(spark, lin).count()
    run_curate(spark, src, dst, lin, run_id="sd1",
               embeddings_src=emb_src, semdedup_k=2,
               semdedup_threshold=0.999)
    assert read_curate_lineage(spark, lin).count() == before


def test_run_corpus_host_rank_gate(spark, tmp_path):
    """Round-7 link-based host prior: pages on a periphery host that
    nothing links to are dropped when --host-rank-frac keeps the top
    hosts; changing the fraction recomputes (input_tag) instead of
    silently resuming."""
    import datetime as dt

    from mre.curate import run_corpus
    from mre.fixtures import page_row

    def page(doc_id, host, extra_links):
        from mre.fixtures import paragraphs_of
        r = page_row(doc_id)
        links = "".join(f'<a href="http://{h}/x">l</a>'
                        for h in extra_links)
        body = "".join(f"<p>{p}</p>" for p in paragraphs_of(doc_id))
        r["url"] = f"http://{host}/p/{doc_id}"
        r["html"] = (b"<html><body><div>" + links.encode()
                     + body.encode() + b"</div></body>")
        return r

    # hub gets links from everyone; periphery 'cold.org' only links out
    rows = ([page(i, "hub.org", ["a.org"]) for i in range(4)]
            + [page(10 + i, "a.org", ["hub.org", "hub.org"])
               for i in range(4)]
            + [page(20 + i, "cold.org", ["hub.org", "a.org"])
               for i in range(4)])
    pages = spark.createDataFrame(rows)
    src = str(tmp_path / "pages")
    pages.write.parquet(src)
    wd = str(tmp_path / "wd")
    run_corpus(spark, src, wd, run_id="hr1", host_rank_top_frac=0.67)
    kept_hosts = {r["source"] for r in spark.read.parquet(
        f"{wd}/curated/split").collect()}
    assert "cold.org" not in kept_hosts
    assert kept_hosts and kept_hosts <= {"hub.org", "a.org"}
    # a changed fraction must recompute the curation stages
    from mre.curate import read_curate_lineage
    n1 = read_curate_lineage(spark, f"{wd}/lineage/curate").count()
    run_corpus(spark, src, wd, run_id="hr1", host_rank_top_frac=0.34)
    lin = read_curate_lineage(spark, f"{wd}/lineage/curate")
    assert lin.filter(F.col("attempt") >= 2).count() > 0 or \
        lin.count() > n1


def test_run_curate_robots_filter_stage(spark, tmp_path):
    """Round-7 crawl-policy stage: robots-disallowed docs drop before
    any content work; hosts without a robots row pass; corpora
    without a url column raise."""
    rows = [(i, "the quick brown fox jumps over the lazy dog and the "
                "cat sat on the mat with a hat and a bat for a while "
                "before it went home to sleep on the warm soft bed "
                "near the door of the house in the town by the river",
             "en", f"h{i % 2}.org",
             f"https://h{i % 2}.org/{'bad' if i % 3 == 0 else 'ok'}/{i}")
            for i in range(12)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "url string").withColumn("n_chars", F.length("text"))
    src = str(tmp_path / "docs")
    docs.write.parquet(src)
    robots = spark.createDataFrame(
        [("h0.org", "User-agent: *\nDisallow: /bad/\n")],
        "host string, robots_txt string")
    rsrc = str(tmp_path / "robots")
    robots.write.parquet(rsrc)
    dst, lin = str(tmp_path / "c"), str(tmp_path / "l")
    run_curate(spark, src, dst, lin, run_id="rb1", robots_src=rsrc)
    kept = {r["doc_id"]
            for r in spark.read.parquet(f"{dst}/robots_filter")
            .collect()}
    # /bad/ on h0.org (even doc_id, i%3==0) disallowed; h1.org has no
    # robots row so even its /bad/ urls pass
    expect = {i for i in range(12)
              if not (i % 2 == 0 and i % 3 == 0)}
    assert kept == expect
    split = {r["doc_id"] for r in spark.read.parquet(f"{dst}/split")
             .collect()}
    assert split <= kept and 0 not in split and 6 not in split
    # no url column → raises
    import pytest as _p
    src2 = str(tmp_path / "docs2")
    docs.drop("url").write.parquet(src2)
    with _p.raises(ValueError, match="url"):
        run_curate(spark, src2, str(tmp_path / "c2"),
                   str(tmp_path / "l2"), run_id="rb2", robots_src=rsrc)


def test_run_curate_budget_temperature(spark, docs, tmp_path):
    """Round-7 temperature shares: the budget stage with
    budget_temperature_bp equals budget_sample fed the
    mixture_weights_bp dict computed on the decontaminated survivors;
    explicit weights and temperature are mutually exclusive."""
    from mre.textops import budget_sample, mixture_weights_bp
    src = str(tmp_path / "docs")
    docs.write.parquet(src)
    dst, lin = str(tmp_path / "c"), str(tmp_path / "l")
    run_curate(spark, src, dst, lin, run_id="bt1", token_budget=200,
               budget_temperature_bp=5000)
    surv = docs.join(spark.read.parquet(f"{dst}/decontaminate"),
                     "doc_id", "left_semi")
    wbp = {r["source"]: int(r["weight_bp"])
           for r in mixture_weights_bp(surv, alpha_bp=5000).collect()}
    expect = {r["doc_id"]
              for r in budget_sample(surv, 200, weights_bp=wbp)
              .collect()}
    got = {r["doc_id"]
           for r in spark.read.parquet(f"{dst}/budget_sample")
           .collect()}
    assert got == expect and got
    import pytest as _p
    with _p.raises(ValueError, match="mutually exclusive"):
        run_curate(spark, src, str(tmp_path / "c2"),
                   str(tmp_path / "l2"), run_id="bt2",
                   token_budget=200, budget_temperature_bp=5000,
                   budget_weights_bp={"a": 5000})
