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
    stateless — excluded; lang-ID, quality, token stats) are pure column
    expressions, so the SAME functions run unchanged on a streaming
    DataFrame and emit identical rows to the batch run. This is the
    streaming story for corpus curation: score-on-ingest with zero extra
    code."""
    from mre.textops import (gopher_quality, lang_id, pii_scrub,
                              quality_score)

    rows = [(i, ("the quick brown fox jumps over the lazy dog and that "
                 "was fine to have with all of the others here " * 3)
             + f"tail {i}") for i in range(20)]
    src = str(tmp_path / "docs_stream")
    batch_df = spark.createDataFrame(rows, "doc_id long, text string")
    batch_df.coalesce(1).write.parquet(src)

    stream = (spark.readStream.schema("doc_id long, text string")
              .parquet(src))
    assert stream.isStreaming
    for fn in (gopher_quality, lang_id, quality_score,
               pii_scrub):
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


def _page(url, ts, headline):
    html = (f"<html><head><title>{headline}</title></head>"
            f"<body><h1>{headline}</h1>"
            f"<p>Alpha beta gamma delta epsilon zeta eta theta.</p>"
            f"<p>Iota kappa lambda mu nu xi omicron pi rho sigma.</p>"
            f"</body></html>").encode()
    return (url, ts, html, None, "en")


def test_resize_media_resniffs_to_target_dims(spark):
    """resize_media emits REAL containers: re-sniffing the output bytes
    yields exactly (fmt, target_w, target_h); non-images pass through
    with resize_ok=0; provenance sha1 matches the source payload."""
    import hashlib as _hl
    from mre.multimodal import (make_gif, make_jpeg, make_png, make_wav,
                                media_meta, resize_media)
    payloads = [(0, make_png(100, 50)), (1, make_jpeg(64, 64)),
                (2, make_gif(31, 97)), (3, make_wav(16000)),
                (4, b"not a container"), (5, None)]
    media = spark.createDataFrame(payloads,
                                  "media_id long, payload binary")
    out = {r["media_id"]: r for r in
           resize_media(media, 32, 24).collect()}
    assert (out[0]["fmt"], out[0]["orig_width"], out[0]["orig_height"]) \
        == ("png", 100, 50)
    for i in (0, 1, 2):
        assert out[i]["resize_ok"] == 1
        assert out[i]["src_sha1"] == _hl.sha1(
            bytes(payloads[i][1])).hexdigest()
    for i in (3, 4, 5):
        assert out[i]["resize_ok"] == 0 and out[i]["payload"] is None
    # the round-trip contract: re-sniff the RESIZED bytes
    resized = resize_media(media, 32, 24).filter("resize_ok = 1")
    meta = {r["media_id"]: r for r in media_meta(resized).collect()}
    for i in (0, 1, 2):
        assert (meta[i]["width"], meta[i]["height"]) == (32, 24)
    assert [meta[i]["fmt"] for i in (0, 1, 2)] == ["png", "jpeg", "gif"]


def test_audio_frame_windows_real_pcm(spark):
    """audio_frame_windows decodes REAL s16le PCM (no fake): a known
    ramp round-trips to exact integer window stats; stride/hop
    semantics; non-WAV rows emit nothing."""
    from mre.multimodal import (audio_frame_windows, make_png, make_wav,
                                wav_pcm_samples)
    ramp = [-3, 5, -7, 2, 100, -100, 1, 0]
    wav = make_wav(8000, samples=ramp)
    assert wav_pcm_samples(wav) == ramp        # byte-layout round trip
    media = spark.createDataFrame(
        [(0, wav), (1, make_png(4, 4)), (2, None)],
        "media_id long, payload binary")
    rows = audio_frame_windows(media, window=4).collect()
    assert {r["media_id"] for r in rows} == {0}
    w = {r["window_idx"]: r for r in rows}
    assert len(w) == 2
    assert (w[0]["peak"], w[0]["sum_sq"]) == (7, 9 + 25 + 49 + 4)
    assert (w[1]["peak"], w[1]["sum_sq"]) == (100, 20001)
    assert w[1]["start_sample"] == 4
    # overlapping hop: 3 windows of 4 at stride 2
    rows2 = audio_frame_windows(media, window=4, hop=2).collect()
    assert len(rows2) == 3
    mid = [r for r in rows2 if r["window_idx"] == 1][0]
    assert mid["start_sample"] == 2
    assert mid["peak"] == 100 and mid["sum_sq"] == 49 + 4 + 10000 + 10000


def test_sample_frames_multiframe_gif(spark):
    """sample_frames REALLY walks the GIF block stream: a 4-frame
    animated GIF enumerates all four with correct geometry; every_n=2
    samples frames 0 and 2; sub-block walking is honored (LZW data
    bytes containing 0x2C must not hallucinate frames); non-GIF rows
    emit nothing; truncated prefixes never raise."""
    from mre.multimodal import (gif_frames, make_gif, make_wav,
                                sample_frames)
    frames = [(0, 0, 64, 48), (1, 2, 32, 24), (3, 4, 16, 12),
              (5, 6, 8, 6)]
    g = make_gif(64, 48, frames=frames)
    assert [(f[3], f[4]) for f in gif_frames(g)] \
        == [(64, 48), (32, 24), (16, 12), (8, 6)]
    media = spark.createDataFrame(
        [(0, g), (1, make_wav(8000)), (2, None)],
        "media_id long, payload binary")
    allf = sample_frames(media, every_n=1).collect()
    assert len(allf) == 4 and {r["media_id"] for r in allf} == {0}
    some = {r["frame_idx"]: r for r in
            sample_frames(media, every_n=2).collect()}
    assert sorted(some) == [0, 2]
    assert (some[2]["width"], some[2]["height"],
            some[2]["left"], some[2]["top"]) == (16, 12, 3, 4)
    assert some[0]["byte_offset"] < some[2]["byte_offset"]
    capped = sample_frames(media, every_n=1, max_frames=2).collect()
    assert len(capped) == 2


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


def test_mp4_sample_table_roundtrip():
    """make_mp4 frame tables → mp4_frames byte-level truth (round 7):
    every reported (offset, size) slice equals the builder's sample
    bytes, times follow the stts run, table-less mp4s and non-BMFF
    payloads return None, and every truncation prefix parses without
    raising."""
    from mre.multimodal import make_gif, make_mp4, mp4_frames, \
        sniff_media_meta
    sizes = [10, 33, 7, 50]
    p = make_mp4(64, 48, 2000, timescale=600, frame_sizes=sizes,
                 frame_duration=40)
    fr = mp4_frames(p)
    assert [s for _, s, _ in fr] == sizes
    for j, (off, sz, t) in enumerate(fr):
        assert p[off:off + sz] == bytes([j % 256]) * sz
        assert t == j * 40
    # the meta sniff still reads the same container
    assert sniff_media_meta(p) == ("mp4", 64, 48, None, 2000)
    assert mp4_frames(make_mp4(10, 10, 500)) is None
    assert mp4_frames(make_gif(8, 8)) is None
    for k in range(0, len(p), 3):
        mp4_frames(p[:k])  # never raises


def test_sample_frames_mixed_gif_mp4(spark):
    """sample_frames dispatches per payload: GIF rows carry geometry
    (size/t_units null), MP4 rows carry size + start time (geometry
    null); every_n striding applies to both."""
    import pandas as pd
    from mre.multimodal import make_gif, make_mp4, sample_frames
    gif = make_gif(20, 10, frames=[(0, 0, 5, 5), (1, 1, 6, 6),
                                   (2, 2, 7, 7)])
    mp4 = make_mp4(32, 32, 900, frame_sizes=[4, 9, 2], frame_duration=30)
    media = spark.createDataFrame(
        pd.DataFrame([{"media_id": 1, "payload": gif},
                      {"media_id": 2, "payload": mp4}]),
        "media_id long, payload binary")
    rows = {(r["media_id"], r["frame_idx"]): r.asDict()
            for r in sample_frames(media, every_n=2).collect()}
    assert set(rows) == {(1, 0), (1, 2), (2, 0), (2, 2)}
    assert rows[(1, 2)]["width"] == 7 and rows[(1, 2)]["size"] is None
    assert rows[(2, 2)]["size"] == 2 and rows[(2, 2)]["t_units"] == 60
    assert rows[(2, 0)]["width"] is None
