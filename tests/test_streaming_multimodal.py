"""Streaming ingest tests (file source, availableNow passes)."""

import os

from pyspark.sql import functions as F


def test_streaming_ingest_dedups_across_micro_batches(spark, tmp_path):
    """start_ingest_stream (round 6): micro-batches dedup against the
    pre-banded index AND extend it, so a batch-2 copy of a batch-1 doc
    is dropped; survivors land per-epoch (idempotent dynamic
    overwrite); the stream resumes from its checkpoint across two
    availableNow passes."""
    from mre.curate import build_dedup_index
    from mre.streaming import start_ingest_stream

    def words(tag):
        # per-doc-unique token stream: no cross-doc shingles, so only
        # PLANTED duplicates trip the near/exact dedup
        return " ".join(f"{tag}w{j}" for j in range(30))

    corpus = spark.createDataFrame(
        [(i, f"corpus doc {i} " + words(f"c{i}")) for i in range(5)],
        "doc_id long, text string")
    idx = str(tmp_path / "idx")
    build_dedup_index(spark, corpus, idx)

    src = str(tmp_path / "incoming")
    os.makedirs(src)
    acc = str(tmp_path / "accepted")
    ckpt = str(tmp_path / "ckpt")
    t0 = corpus.filter("doc_id = 0").first()["text"]
    fresh1 = "entirely fresh streaming doc one " + words("f1")
    fresh2 = "another new streaming doc two " + words("f2")
    # batch 1: one exact dup of the corpus + one fresh doc
    spark.createDataFrame([(100, t0), (101, fresh1)],
                          "doc_id long, text string") \
        .coalesce(1).write.mode("append").parquet(src)
    q = start_ingest_stream(spark, src, idx, acc, ckpt,
                            available_now=True)
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    got1 = {r["doc_id"] for r in spark.read.parquet(acc).collect()}
    assert got1 == {101}            # corpus dup dropped, fresh kept

    # batch 2: a copy of batch 1's survivor (now IN the index) + fresh
    spark.createDataFrame([(200, fresh1), (201, fresh2)],
                          "doc_id long, text string") \
        .coalesce(1).write.mode("append").parquet(src)
    q = start_ingest_stream(spark, src, idx, acc, ckpt,
                            available_now=True)
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    rows = spark.read.parquet(acc).select("doc_id", "epoch").collect()
    got = {r["doc_id"] for r in rows}
    assert got == {101, 201}        # cross-batch dup 200 dropped
    # per-epoch partitions: batch-2 survivor sits in a later epoch
    ep = {r["doc_id"]: r["epoch"] for r in rows}
    assert ep[201] > ep[101]
    # the index grew by exactly the two survivors
    fp = spark.read.parquet(f"{idx}/fingerprints")
    assert fp.count() == 5 + 2


def test_textops_are_streaming_compatible(spark, tmp_path):
    """The stateless curation scorers (Gopher rules, lang-ID) are pure
    column expressions, so the SAME functions run unchanged on a streaming
    DataFrame and emit identical rows to the batch run. This is the
    streaming story for corpus curation: score-on-ingest with zero extra
    code."""
    from mre.textops import gopher_quality, lang_pred_expr

    def lang_pred(docs):
        return docs.select("doc_id", lang_pred_expr().alias("pred_lang"))

    rows = [(i, ("the quick brown fox jumps over the lazy dog and that "
                 "was fine to have with all of the others here " * 3)
             + f"tail {i}") for i in range(20)]
    src = str(tmp_path / "docs_stream")
    batch_df = spark.createDataFrame(rows, "doc_id long, text string")
    batch_df.coalesce(1).write.parquet(src)

    stream = (spark.readStream.schema("doc_id long, text string")
              .parquet(src))
    assert stream.isStreaming
    for fn in (gopher_quality, lang_pred):
        out = fn(stream)  # must build without a streaming-unsupported op
        dst = str(tmp_path / f"out_{fn.__name__}")
        ckpt = str(tmp_path / f"ckpt_{fn.__name__}")
        q = (out.writeStream.format("parquet")
             .option("path", dst).option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        try:
            q.awaitTermination(120)
        finally:
            q.stop()
        got = spark.read.parquet(dst).orderBy("doc_id").toPandas()
        exp = fn(batch_df).orderBy("doc_id").toPandas()
        assert got.equals(exp), fn.__name__


def test_ingest_epoch_retry_after_partial_index_update(spark, tmp_path):
    """ADVICE r6 #1 (medium): a foreachBatch retry after
    update_dedup_index crashed MID-APPEND (some survivor fingerprints
    already visible in the index) must NOT recompute dedup_increment —
    the recompute would see the partial rows, drop the already-accepted
    docs, and dynamic-overwrite the epoch with the reduced set. With the
    'written' phase marker committed, ingest_epoch re-reads the stored
    survivor set and goes straight to the idempotent index update."""
    from mre.curate import build_dedup_index, update_dedup_index
    from mre.io import write_overwrite_partitions
    from mre.streaming import _mark_epoch, ingest_epoch

    def words(tag):
        return " ".join(f"{tag}w{j}" for j in range(30))

    corpus = spark.createDataFrame(
        [(i, f"corpus doc {i} " + words(f"c{i}")) for i in range(5)],
        "doc_id long, text string")
    idx = str(tmp_path / "idx")
    build_dedup_index(spark, corpus, idx)
    acc = str(tmp_path / "accepted")
    eps = str(tmp_path / "epochs")

    batch = spark.createDataFrame(
        [(100, "fresh alpha " + words("a")),
         (101, "fresh beta " + words("b"))],
        "doc_id long, text string")

    # simulate the crash window: survivors {100, 101} committed to
    # epoch=0 + 'written' marker, but only doc 100 made it into the
    # index before the crash (partial task promotion)
    write_overwrite_partitions(batch.withColumn("epoch", F.lit(0)),
                               acc, "epoch")
    _mark_epoch(spark, eps, 0, "written", 2)
    update_dedup_index(spark, batch.filter("doc_id = 100"), idx)

    # the retry: epoch 0 re-enters ingest_epoch with the SAME input df
    ingest_epoch(spark, batch, 0, idx, acc, eps)

    # the accepted partition still holds BOTH docs (the old recompute
    # path would have rewritten it as {101} only)
    got = {r["doc_id"] for r in spark.read.parquet(acc).collect()}
    assert got == {100, 101}
    # the index converged: both survivors present exactly once
    fp = spark.read.parquet(f"{idx}/fingerprints")
    assert fp.filter("doc_id in (100, 101)").count() == 2
    # and the epoch is now fully marked
    phases = {r["phase"] for r in spark.read.parquet(eps).collect()}
    assert phases == {"written", "indexed"}

    # a further retry of a fully-converged epoch is a pure no-op
    n_fp = fp.count()
    n_eps = spark.read.parquet(eps).count()
    ingest_epoch(spark, batch, 0, idx, acc, eps)
    assert spark.read.parquet(f"{idx}/fingerprints").count() == n_fp
    assert spark.read.parquet(eps).count() == n_eps


def test_ingest_epoch_crash_before_indexed_marker_recovers(
        spark, tmp_path, monkeypatch):
    """Fault injection in the window between the dedup-index append and
    its 'indexed' marker: the first run crashes in ``_mark_epoch`` for
    phase 'indexed', after the survivors and their fingerprints are
    committed. The retry (phases = {'written'}) must re-read the stored
    survivors, not re-append them: the accepted partition equals a clean
    run's and each survivor's fingerprint is in the index exactly once."""
    import pytest

    from mre import streaming
    from mre.curate import build_dedup_index

    def words(tag):
        return " ".join(f"{tag}w{j}" for j in range(30))

    corpus = spark.createDataFrame(
        [(i, f"corpus doc {i} " + words(f"c{i}")) for i in range(5)],
        "doc_id long, text string")
    fresh = "fresh alpha " + words("a")
    batch = spark.createDataFrame(
        [(100, corpus.filter("doc_id = 0").first()["text"]),  # corpus dup
         (101, fresh), (102, "fresh beta " + words("b")),
         (103, fresh)],  # in-batch dup of 101
        "doc_id long, text string")

    def paths(name):
        root = tmp_path / name
        idx = str(root / "idx")
        build_dedup_index(spark, corpus, idx)
        return idx, str(root / "accepted"), str(root / "epochs")

    def phases(eps):
        return {r["phase"] for r in spark.read.parquet(eps).collect()}

    def accepted(acc):
        return sorted((r["doc_id"], r["text"])
                      for r in spark.read.parquet(acc).collect())

    idx0, acc0, eps0 = paths("clean")
    streaming.ingest_epoch(spark, batch, 0, idx0, acc0, eps0)
    want = accepted(acc0)
    assert [d for d, _ in want] in ([101, 102], [102, 103])

    idx, acc, eps = paths("crashed")
    real, crashed = streaming._mark_epoch, []

    def crash_once(spark_, dst, epoch_id, phase, n_docs):
        if phase == "indexed" and not crashed:
            crashed.append(epoch_id)
            raise RuntimeError("crash before the 'indexed' marker")
        real(spark_, dst, epoch_id, phase, n_docs)

    monkeypatch.setattr(streaming, "_mark_epoch", crash_once)
    with pytest.raises(RuntimeError, match="indexed"):
        streaming.ingest_epoch(spark, batch, 0, idx, acc, eps)
    assert phases(eps) == {"written"}
    streaming.ingest_epoch(spark, batch, 0, idx, acc, eps)  # the retry

    assert crashed == [0]
    assert accepted(acc) == want
    fp = spark.read.parquet(f"{idx}/fingerprints")
    per_doc = {r["doc_id"]: r["count"]
               for r in fp.groupBy("doc_id").count().collect()}
    assert {d: per_doc.get(d) for d, _ in want} == {d: 1 for d, _ in want}
    assert fp.count() == 5 + len(want)
    assert phases(eps) == {"written", "indexed"}


def test_ingest_stream_compact_every(spark, tmp_path):
    """compact_every=1 (round 7): the stream compacts the dedup index
    inside foreachBatch after each epoch — every bucket directory
    collapses to one file — and the compacted index still dedups the
    next pass."""
    import glob
    from mre.curate import build_dedup_index
    from mre.streaming import start_ingest_stream

    def words(tag):
        return " ".join(f"{tag}w{j}" for j in range(30))

    corpus = spark.createDataFrame(
        [(i, f"corpus doc {i} " + words(f"c{i}")) for i in range(3)],
        "doc_id long, text string")
    idx = str(tmp_path / "idx")
    build_dedup_index(spark, corpus, idx)

    src = str(tmp_path / "incoming")
    os.makedirs(src)
    acc = str(tmp_path / "accepted")
    ckpt = str(tmp_path / "ckpt")
    fresh1 = "fresh stream doc one " + words("f1")
    fresh2 = "fresh stream doc two " + words("f2")
    # two single-file batches -> two epochs in one availableNow drain
    for did, txt in ((300, fresh1), (301, fresh2)):
        spark.createDataFrame([(did, txt)], "doc_id long, text string") \
            .coalesce(1).write.mode("append").parquet(src)
    q = start_ingest_stream(spark, src, idx, acc, ckpt,
                            available_now=True, max_files_per_trigger=1,
                            compact_every=1)
    try:
        q.awaitTermination(180)
    finally:
        q.stop()
    assert {r["doc_id"] for r in spark.read.parquet(acc).collect()} \
        == {300, 301}
    # compaction ran after the last epoch: one file per bucket dir
    for table in ("fingerprints", "signatures", "bands"):
        pbs = glob.glob(f"{idx}/{table}/pb=*")
        assert pbs   # bucketed layout survived the rewrite
        for d in pbs:
            assert len(glob.glob(f"{d}/*.parquet")) == 1, (table, d)
    # the compacted index still drops a dup of an indexed doc
    spark.createDataFrame([(400, fresh1)], "doc_id long, text string") \
        .coalesce(1).write.mode("append").parquet(src)
    q = start_ingest_stream(spark, src, idx, acc, ckpt,
                            available_now=True, max_files_per_trigger=1,
                            compact_every=1)
    try:
        q.awaitTermination(180)
    finally:
        q.stop()
    assert {r["doc_id"] for r in spark.read.parquet(acc).collect()} \
        == {300, 301}
