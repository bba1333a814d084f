"""Streaming ingest (file source, availableNow passes) + multimodal plumbing
tests."""

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
    """The stateless curation scorers (Gopher rules, repetition is NOT
    stateless — excluded; lang-ID, PII scrub) are pure column
    expressions, so the SAME functions run unchanged on a streaming
    DataFrame and emit identical rows to the batch run. This is the
    streaming story for corpus curation: score-on-ingest with zero extra
    code."""
    from mre.textops import gopher_quality, lang_pred_expr, pii_scrub

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
    for fn in (gopher_quality, lang_pred, pii_scrub):
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


# --- real container-header sniffing (round 3) --------------------------------


def test_sniff_media_meta_roundtrip():
    from mre.multimodal import (make_gif, make_jpeg, make_mp4, make_png,
                                make_wav, sniff_media_meta)

    assert sniff_media_meta(make_png(333, 17)) == ("png", 333, 17,
                                                   None, None)
    assert sniff_media_meta(make_jpeg(640, 480)) == ("jpeg", 640, 480,
                                                     None, None)
    assert sniff_media_meta(make_gif(42, 99)) == ("gif", 42, 99,
                                                  None, None)
    assert sniff_media_meta(make_wav(16000)) == ("wav", None, None,
                                                 16000, None)
    assert sniff_media_meta(make_mp4(640, 360, 12345)) == \
        ("mp4", 640, 360, None, 12345)
    # non-1000 timescale: stored units floor-divide both ways — the
    # sniffer reports floor(floor(ms*ts/1000)*1000/ts), observably
    assert sniff_media_meta(make_mp4(320, 240, 7777, timescale=600)) == \
        ("mp4", 320, 240, None, 7776)


def test_sniff_media_meta_never_raises():
    from mre.multimodal import make_png, sniff_media_meta

    none5 = (None, None, None, None, None)
    assert sniff_media_meta(b"garbage") == none5
    assert sniff_media_meta(None) == none5
    assert sniff_media_meta(b"") == none5
    # truncated PNG: format detected, dimensions unknown
    assert sniff_media_meta(make_png(10, 10)[:12]) == ("png", None, None,
                                                       None, None)
    # every prefix of every container must be handled
    from mre.multimodal import make_gif, make_jpeg, make_mp4, make_wav
    for b in (make_png(7, 9), make_jpeg(7, 9), make_gif(7, 9),
              make_wav(8000), make_mp4(7, 9, 1234),
              make_mp4(7, 9, 1234, timescale=600)):
        for cut in range(len(b)):
            fmt, w, h, sr, dur = sniff_media_meta(b[:cut])  # never raises


def test_media_meta_spark(spark):
    from mre.multimodal import media_meta, make_png
    import pandas as pd

    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame(
                [{"media_id": int(i), "payload": make_png(100 + int(i), 50)}
                 for i in pdf["media_id"]])

    ids = spark.range(8).selectExpr("id AS media_id")
    media = ids.mapInPandas(gen, "media_id bigint, payload binary")
    rows = {r["media_id"]: (r["fmt"], r["width"], r["height"])
            for r in media_meta(media).collect()}
    assert rows[3] == ("png", 103, 50)
    assert len(rows) == 8


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
