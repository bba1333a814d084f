"""Per-layer measurements for the traced run.

Layers are the program's modules: ``core`` (mre.core), ``pipeline``
(mre.pipeline), ``spark`` (the engine, from its status store), ``io``
(what lands on disk), ``curate`` (mre.curate), ``textops`` (mre.textops)
and ``streaming`` (mre.streaming). Every number comes from a call into a
layer's public functions made here, inside a span.

Every traced run reports every layer. A layer that the workload's own job
runs is measured on the workload's inputs; the others are measured on a
small sample from the same seed (see ``LayerInputs``), so their numbers
compare commits but do not feed the workload's end-to-end metrics.
"""

from __future__ import annotations

import gc
import os
import shutil
import statistics
import time
from dataclasses import dataclass

from pyspark.sql import functions as F

from . import inputs as I

SAMPLE_DOCS = 300   # a multiple of 100 keeps the page mix exact


@dataclass
class LayerInputs:
    pages: str            # pages parquet the pipeline layer runs on
    core_ids: list[int]   # doc_ids of the in-process core pass
    corpus_pages: str     # pages of the run_corpus halves
    ingest: dict          # index and files of the streaming layer


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(tracer, name: str, fn):
    t0 = time.perf_counter()
    with tracer.span(name):
        out = fn()
    return time.perf_counter() - t0, out


# --------------------------------------------------------------------------
# spark: the engine's own stage metrics (what the REST API serves)


def spark_stages(spark, after_stage: int = -1) -> list:
    st = spark.sparkContext._jsc.sc().statusStore()
    seq = st.stageList(None, False, False,
                       getattr(st, "stageList$default$4")(),
                       getattr(st, "stageList$default$5")())
    out = []
    for i in range(seq.size()):
        s = seq.apply(i)
        if s.stageId() <= after_stage:
            continue
        out.append({"id": s.stageId(), "attempt": s.attemptId(),
                    "run_ms": s.executorRunTime(), "gc_ms": s.jvmGcTime(),
                    "shuffle_write": s.shuffleWriteBytes(),
                    "spill": s.memoryBytesSpilled() + s.diskBytesSpilled(),
                    "input": s.inputBytes(), "output": s.outputBytes()})
    return out


def max_stage_id(spark) -> int:
    return max((s["id"] for s in spark_stages(spark)), default=-1)


def _task_durations(spark, stage: dict) -> list[int]:
    st = spark.sparkContext._jsc.sc().statusStore()
    tasks = st.taskList(stage["id"], stage["attempt"], 100000)
    out = []
    for j in range(tasks.size()):
        d = tasks.apply(j).duration()
        if d.isDefined():
            out.append(d.get())
    return out


def spark_layer(spark, stages: list, wall_s: float) -> dict:
    """Engine metrics over the stages of the traced end-to-end units;
    ``task_skew`` is max/median task time of the heaviest stage."""
    mb = 1 << 20
    run_s = sum(s["run_ms"] for s in stages) / 1000
    heavy = max(stages, key=lambda s: s["run_ms"], default=None)
    durs = _task_durations(spark, heavy) if heavy else []
    return {
        "spark.shuffle_write_mb": sum(s["shuffle_write"] for s in stages) / mb,
        "spark.spill_mb": sum(s["spill"] for s in stages) / mb,
        "spark.jvm_gc_s": sum(s["gc_ms"] for s in stages) / 1000,
        "spark.executor_run_s": run_s,
        "spark.task_skew": (max(durs) / max(statistics.median(durs), 1)
                            if durs else 1.0),
        "spark.core_busy_ratio": run_s / max(
            wall_s * spark.sparkContext.defaultParallelism, 1e-9),
    }


# --------------------------------------------------------------------------
# core: one in-process pass, stages called in extract_one's order


def _composed(tracer, url, html, capture_ts):
    """extract_one's body, one span per stage; returns the same tuple."""
    from mre.core.byline import extract_authors
    from mre.core.content import extract_text
    from mre.core.headline import score_headline
    from mre.core.htmlparse import parse_doc
    from mre.core.jsonld import extract_jsonld
    from mre.core.pubdate import pick_pubdate
    from mre.core.textutil import decode_html

    failed = (None, None, None, None, False)
    if html is None or len(html) == 0:
        return failed
    try:
        with tracer.span("core.decode"):
            text = decode_html(html, None)
        with tracer.span("core.htmlparse"):
            doc = parse_doc(text)
        if not doc.content:
            return failed
        with tracer.span("core.jsonld"):
            jsonld = extract_jsonld(doc)
        with tracer.span("core.headline"):
            headline, _ = score_headline(doc, url, jsonld=jsonld)
        with tracer.span("core.pubdate"):
            pubdate = pick_pubdate(doc, url, jsonld=jsonld,
                                   capture_ts=capture_ts)
        with tracer.span("core.byline"):
            authors = extract_authors(doc, jsonld=jsonld)
        with tracer.span("core.content"):
            body = extract_text(doc)
    except Exception:
        return failed
    if headline is None and pubdate is None and not authors and body is None:
        return failed
    return (headline, pubdate, authors or None, body, True)


def core_layer(tracer, ids: list[int]) -> tuple[dict, dict]:
    """(metrics, sanity): per-stage ms per doc over ``ids``' pages, and
    whether the stage self-times sum to within 10% of extract_one's."""
    from mre import fixtures as FX
    from mre.core.extract import extract_one

    stages = ("decode", "htmlparse", "jsonld", "headline", "pubdate",
              "byline", "content")
    n_ok = n_bytes = mismatched = 0
    extract_s = 0.0
    for k, i in enumerate(ids):
        url, html, ts = FX.url_of(i), FX.html_bytes_of(i), FX.warc_ts_of(i)
        n_bytes += len(html)
        # the second parse of a page reuses memory the first one freed, so
        # the two passes take turns going first, each after a collection
        for composed in ((True, False) if k % 2 else (False, True)):
            gc.collect()
            if composed:
                with tracer.span("core.composed"):
                    got = _composed(tracer, url, html, ts)
                continue
            t0 = time.perf_counter()
            with tracer.span("core.extract"):
                r = extract_one(url, html, capture_ts=ts)
            extract_s += time.perf_counter() - t0
        want = (r.headline, r.pubdate, r.authors, r.extracted_text, r.ok)
        mismatched += got != want
        n_ok += r.ok
    self_s = tracer.self_times()
    n = len(ids)
    m = {f"core.{s}.ms_per_doc": 1000 * self_s.get(f"core.{s}", 0.0) / n
         for s in stages}
    m["core.htmlparse.mb_per_s"] = (n_bytes / (1 << 20)) / max(
        self_s.get("core.htmlparse", 0.0), 1e-9)
    m["core.extract.ms_per_doc"] = 1000 * extract_s / n
    m["core.extract.ok_ratio"] = n_ok / n
    stage_sum = sum(m[f"core.{s}.ms_per_doc"] for s in stages)
    split = {s: m[f"core.{s}.ms_per_doc"] / stage_sum for s in stages}
    sanity = {
        "stage_sum_ms_per_doc": stage_sum,
        "extract_ms_per_doc": m["core.extract.ms_per_doc"],
        "sum_within_10pct": abs(stage_sum - m["core.extract.ms_per_doc"])
        <= 0.10 * m["core.extract.ms_per_doc"],
        "composed_equals_extract_one": mismatched == 0,
        "stage_share": split,
        "dominant_stage": max(split, key=split.get),
    }
    return m, sanity


# --------------------------------------------------------------------------
# pipeline


def pipeline_layer(ctx, li: LayerInputs, extract_one_ms: float,
                   lineage: str) -> dict:
    import pyarrow as pa

    from mre import fixtures as FX
    from mre.pipeline import (completed_buckets, dedup_latest_in_bucket,
                              extract_batch_arrow, run_extract_df,
                              with_salt_bucket)
    spark, tr = ctx.spark, ctx.tracer
    b = max(4 * spark.sparkContext.defaultParallelism, 8)

    def shuffle_dedup():
        p = spark.read.parquet(li.pages).select("url", "warc_ts", "html")
        p = with_salt_bucket(p, b).repartition(b, F.col("url"))
        _noop(dedup_latest_in_bucket(p))

    shuffle_s, _ = _timed(tr, "pipeline.shuffle_dedup", shuffle_dedup)
    before = max_stage_id(spark)
    extract_s, agg = _timed(tr, "pipeline.extract", lambda: run_extract_df(
        spark.read.parquet(li.pages), b).agg(
        F.sum("wall_us").alias("us"), F.count("*").alias("n")).first())
    stages = spark_stages(spark, before)
    udf_busy = agg["us"] / 1e6
    n_in = spark.read.parquet(li.pages).count()

    # the Arrow batch path in-process, minus extract_one's own share
    ids = li.core_ids
    rows = [FX.page_row(i) for i in ids]
    batch = pa.RecordBatch.from_pydict({
        "url": [r["url"] for r in rows],
        "warc_ts": pa.array([r["warc_ts"] for r in rows], pa.timestamp("us")),
        "html": pa.array([r["html"] for r in rows], pa.binary()),
        "salt_bucket": pa.array([0] * len(rows), pa.int32()),
    })
    batches = [batch.slice(s, 256) for s in range(0, len(rows), 256)]
    arrow_s, _ = _timed(tr, "pipeline.extract_batch_arrow",
                        lambda: list(extract_batch_arrow(iter(batches))))

    probe_s, _ = _timed(tr, "pipeline.completed_buckets",
                        lambda: completed_buckets(
                            spark, lineage, "bench").collect())
    return {
        "pipeline.shuffle_dedup_s": shuffle_s,
        "pipeline.extract_s": extract_s,
        "pipeline.udf_busy_s": udf_busy,
        # executor time of the extract job not spent inside extract_one:
        # scan, shuffle, dedup window, the Arrow crossing and batching
        "pipeline.udf_overhead_s": sum(s["run_ms"] for s in stages) / 1000
        - udf_busy,
        "pipeline.arrow_ms_per_doc": 1000 * arrow_s / len(ids)
        - extract_one_ms,
        "pipeline.dedup_kept_ratio": agg["n"] / n_in,
        "pipeline.resume_probe_s": probe_s,
    }


# --------------------------------------------------------------------------
# curate + textops


def curate_layer(ctx, li: LayerInputs, wd: str) -> dict:
    """run_corpus's two halves on ``li.corpus_pages`` into ``wd``, then
    each curation stage forced standalone over the same documents."""
    from mre.curate import (completed_stages, contaminated_ids,
                            exact_keeper_ids, extracted_to_documents,
                            near_dup_loser_ids, quality_keep_ids,
                            run_curate)
    from mre.io import read_table
    from mre.pipeline import read_results, run_extract
    from mre.textops import (jaccard_on_candidates, minhash_near_dups,
                             release_caches)
    spark, tr = ctx.spark, ctx.tracer
    ex_s, _ = _timed(tr, "curate.run_extract", lambda: run_extract(
        spark, li.corpus_pages, f"{wd}/extracted", f"{wd}/lineage/extract",
        run_id="bench"))
    docs = extracted_to_documents(read_results(spark, f"{wd}/extracted"))
    evals_src = f"{wd}/evals"
    (docs.filter(F.col("doc_id") % 97 == 0)
     .select(F.col("doc_id").alias("eval_id"), "text")
     .write.parquet(evals_src))
    cur_s, _ = _timed(tr, "curate.run_curate", lambda: run_curate(
        spark, docs, f"{wd}/curated", f"{wd}/lineage/curate",
        run_id="bench", evals_src=evals_src))
    lin = read_table(spark, f"{wd}/lineage/curate").collect()
    first = min(lin, key=lambda r: r["completed_at"])
    last = max(lin, key=lambda r: r["completed_at"])
    keep_ratio = last["n_out"] / max(first["n_in"], 1)
    probe_s, _ = _timed(tr, "curate.completed_stages", lambda: completed_stages(
        spark, f"{wd}/lineage/curate", "bench"))

    out = {"curate.run_extract_s": ex_s, "curate.run_curate_s": cur_s,
           "curate.keep_ratio": keep_ratio,
           "curate.resume_probe_s": probe_s}
    stages = [("quality", lambda: quality_keep_ids(docs)),
              ("exact_dedup", lambda: exact_keeper_ids(docs)),
              ("near_dup", lambda: near_dup_loser_ids(docs)),
              ("contamination", lambda: contaminated_ids(
                  docs, spark.read.parquet(evals_src)))]
    for name, fn in stages:
        out[f"curate.{name}_s"], _ = _timed(tr, f"curate.{name}",
                                            lambda fn=fn: _noop(fn()))
        release_caches()
    cands = minhash_near_dups(docs, n=3, threshold=0.2).select(
        "doc_a", "doc_b").localCheckpoint(eager=True)
    n_cand = cands.count()
    n_conf = (jaccard_on_candidates(cands, docs, n=3)
              .filter(F.col("jaccard") >= 0.5).count())
    release_caches()
    out["textops.minhash_candidates"] = n_cand
    out["textops.minhash_confirm_ratio"] = n_conf / max(n_cand, 1)
    return out


# --------------------------------------------------------------------------
# streaming


def streaming_layer(ctx, li: LayerInputs) -> dict:
    """The ingest stream over ``li.ingest``'s files (one micro-batch
    each; ``addBatch`` is the foreachBatch call of ``ingest_epoch``),
    then the two halves ``ingest_epoch`` composes, called directly on
    the first file against their own copy of the index. One file keeps
    the traced run short: a micro-batch takes 7-10 s here."""
    from mre.curate import dedup_increment, update_dedup_index
    from mre.streaming import start_ingest_stream
    from mre.textops import release_caches
    spark, tr = ctx.spark, ctx.tracer
    ing = li.ingest
    wd = os.path.join(ctx.work, "layer_stream")
    shutil.rmtree(wd, ignore_errors=True)
    for tag in ("split", "stream"):
        shutil.copytree(ing["index"], f"{wd}/{tag}/index")
    os.makedirs(f"{wd}/src")
    for p in ing["files"]:
        shutil.copy2(p, f"{wd}/src")   # keeps the mtime (arrival) order

    with tr.span("streaming.ingest_stream"):
        q = start_ingest_stream(spark, f"{wd}/src", f"{wd}/stream/index",
                                f"{wd}/stream/accepted", f"{wd}/stream/ckpt",
                                available_now=True, max_files_per_trigger=1)
        q.awaitTermination()
    prog = [p["durationMs"] for p in q.recentProgress
            if p["numInputRows"] > 0]
    n_in = sum(p["numInputRows"] for p in q.recentProgress)
    n_acc = spark.read.parquet(f"{wd}/stream/accepted").count()
    n_files = sum(len(fs) for _, _, fs in os.walk(f"{wd}/stream/index"))

    df = spark.read.parquet(ing["files"][0])
    inc_s, surv = _timed(tr, "curate.dedup_increment", lambda: dedup_increment(
        spark, df, f"{wd}/split/index", update_index=False)
        .localCheckpoint(eager=True))
    upd_s, _ = _timed(tr, "curate.update_dedup_index",
                      lambda: update_dedup_index(spark, surv,
                                                 f"{wd}/split/index"))
    release_caches()
    shutil.rmtree(wd, ignore_errors=True)
    return {
        "streaming.ingest_epoch_s": statistics.median(
            d.get("addBatch", 0) / 1000 for d in prog),
        "streaming.trigger_overhead_s": statistics.median(
            (d["triggerExecution"] - d.get("addBatch", 0)) / 1000
            for d in prog),
        "curate.dedup_increment_s": inc_s,
        "curate.update_index_s": upd_s,
        "streaming.accept_ratio": n_acc / max(n_in, 1),
        "curate.index_files": n_files,
    }


# --------------------------------------------------------------------------
# io


def io_layer(pages: str, wd: str) -> dict:
    """What ``run_corpus``'s two halves left in ``wd`` (extraction sink,
    curation id-lists and split table, both lineage tables), and the
    bytes of the pages they read."""
    out_bytes = n_files = 0
    for root, _, files in os.walk(wd):
        for f in files:
            out_bytes += os.path.getsize(os.path.join(root, f))
            n_files += 1
    mb = 1 << 20
    return {"io.output_mb": out_bytes / mb, "io.files_written": n_files,
            "io.input_mb": os.path.getsize(pages) / mb}


# --------------------------------------------------------------------------
# samples for layers the workload's own job does not run


def sample_pages(ctx, seed: int) -> tuple[str, list[int]]:
    ids = I.heavytail_ids(seed, SAMPLE_DOCS)
    path = os.path.join(ctx.work, "sample_pages.parquet")
    if not os.path.exists(path):
        I.write_pages(ids, path)
    return path, ids


def sample_ingest(ctx, seed: int) -> dict:
    """An index over 200 seeded documents and one file of 30 new ones."""
    from mre.curate import build_dedup_index
    d = os.path.join(ctx.work, "sample_ingest")
    base, files = I.ingest_documents(seed, 200, 1, 30)
    os.makedirs(d, exist_ok=True)
    I.write_docs(base, f"{d}/base.parquet")
    paths = []
    for k, docs in enumerate(files):
        paths.append(f"{d}/part-{k:04d}.parquet")
        I.write_docs(docs, paths[-1])
    build_dedup_index(ctx.spark, ctx.spark.read.parquet(f"{d}/base.parquet"),
                      f"{d}/index")
    return {"index": f"{d}/index", "files": paths,
            "base": f"{d}/base.parquet"}
