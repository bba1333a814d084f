"""P2–P10 — the Spark pipeline around the extraction core (SURVEY.md §2B,
§3.2).

Flagship flow (``run_extract``)::

    read pages → filter → salt by url-hash →
    [resume anti-join vs lineage, BEFORE the shuffle] →
    repartition(B, url)  (the ONLY full-corpus shuffle) →
    url-dedup window inside that partitioning →
    mapInArrow(extract_batch_arrow) →
    write results (dynamic partition overwrite by salt_bucket) →
    lineage rollup append

Scale notes (10^12 rows — SURVEY.md §4.3, §7.1):
* skew/balance: ``salt_bucket = pmod(murmur3(url), B)`` — the identical
  function HashPartitioning applies during ``repartition(B, url)``, so
  bucket == physical partition 1:1: uniform load, one output file per
  bucket, and B ≈ 4–8× total cores bounds per-task size.
* single shuffle: the dedup window runs over (salt_bucket, url) inside
  HashPartitioning(url) — Catalyst inserts no second exchange (plan test).
* memory: the UDF re-chunks every incoming Arrow batch so that
  ``sum(len(html)) <= byte_cap`` (default 64 MB) before any parse runs, on
  top of ``spark.sql.execution.arrow.maxRecordsPerBatch``; cyclic GC is
  disabled inside the UDF (memory-bandwidth scaling, §7.1).
* resume: results are partitioned by salt_bucket and written with dynamic
  partition overwrite → re-processing a bucket is idempotent; a bucket
  counts as done only once its lineage row is appended (write-then-commit
  order), so a crash mid-run re-does at most the uncommitted buckets.
* one JVM↔Python crossing per task (the Arrow pipe in mapInArrow); no
  collect()/driver loops anywhere.
"""

from __future__ import annotations

import os
import time
from typing import Iterable, Iterator, Optional

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .core.extract import extract_one
from .io import local_path, read_pages, read_table, write_append, \
    write_overwrite_partitions
from .schema import EXTRACT_SCHEMA

# mapInPandas output: extraction columns + per-row bookkeeping + echoed salt
EXTRACT_FULL_SCHEMA = (
    "url string, headline string, pubdate timestamp, authors array<string>, "
    "extracted_text string, ok int, n_bytes_html bigint, wall_us bigint, "
    "salt_bucket int"
)

RESULT_COLS = [f.name for f in EXTRACT_SCHEMA.fields]

DEFAULT_BYTE_CAP = 64 << 20  # 64 MB of html per pandas chunk


# --------------------------------------------------------------------------
# P5 — url dedup: keep the latest capture per url


def dedup_latest(pages: DataFrame) -> DataFrame:
    w = Window.partitionBy("url").orderBy(F.desc("warc_ts"))
    return (pages.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).drop("_rn"))


def dedup_first_latest(pages: DataFrame) -> DataFrame:
    """Skew-resilient url dedup for HIGH duplicate-capture rates.

    The window dedup shuffles every capture's html to its url's bucket
    first — a viral url with millions of captures becomes one hot task
    carrying all of them. This two-phase variant instead:

    1. aggregates (url, max(warc_ts)) — a METADATA-only shuffle with
       map-side partial aggregation, so the hot url contributes one row
       per input partition, never a hot reduce task;
    2. equi-joins back on url — the html-carrying shuffle then moves only
       rows whose warc_ts ties the max (≈1 per url);
    3. removes residual exact ties with a window INSIDE the join's
       url-partitioning (no further exchange — same trick as
       dedup_latest_in_bucket).

    Same keep-the-latest semantics as dedup_latest. Use it when the
    dup-capture rate is high or url-skewed; the default single-shuffle
    window path is cheaper at low dup rates (§7.1 rule 2 untouched)."""
    latest = pages.groupBy("url").agg(F.max("warc_ts").alias("_max_ts"))
    kept = (pages.join(latest, "url")
            .filter(F.col("warc_ts") == F.col("_max_ts"))
            .drop("_max_ts"))
    w = Window.partitionBy("url").orderBy(F.desc("warc_ts"))
    return (kept.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).drop("_rn"))


def dedup_latest_in_bucket(pages: DataFrame) -> DataFrame:
    """Same semantics as dedup_latest for a frame already salted: window
    over (salt_bucket, url). salt_bucket is a pure function of url, so the
    grouping is identical — but HashPartitioning(salt_bucket) from the salt
    repartition already satisfies ClusteredDistribution(salt_bucket, url),
    so Catalyst inserts NO second exchange. At 100 TB this halves the
    number of full-corpus html shuffles (one instead of window+repartition)."""
    w = Window.partitionBy("salt_bucket", "url").orderBy(F.desc("warc_ts"))
    return (pages.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).drop("_rn"))


# --------------------------------------------------------------------------
# P4 — salted repartition by url-hash


def with_salt_bucket(pages: DataFrame, buckets: int) -> DataFrame:
    """salt_bucket = pmod(murmur3(url), B) — the SAME function
    HashPartitioning uses, so after ``repartition(B, salt_bucket)`` every
    bucket maps 1:1 onto a physical partition: perfect balance (no
    hash-of-hash collisions leaving ~37% of partitions empty) and perfect
    bucket↔output-file alignment for the resumable sink."""
    return pages.withColumn(
        "salt_bucket",
        F.pmod(F.hash(F.col("url")), F.lit(buckets)).cast("int"))


# --------------------------------------------------------------------------
# P6 — the extraction map (iterator pandas UDF via mapInPandas)


def _chunks_by_bytes(pdf: pd.DataFrame, byte_cap: int) -> Iterator[pd.DataFrame]:
    """Split one Arrow batch so each chunk's total html bytes ≤ byte_cap
    (single giant rows still pass through alone)."""
    sizes = pdf["html"].map(lambda b: len(b) if b is not None else 0)
    if sizes.sum() <= byte_cap:
        yield pdf
        return
    start, acc = 0, 0
    for i, sz in enumerate(sizes):
        if acc + sz > byte_cap and i > start:
            yield pdf.iloc[start:i]
            start, acc = i, 0
        acc += sz
    if start < len(pdf):
        yield pdf.iloc[start:]


def _extract_chunk(pdf: pd.DataFrame) -> pd.DataFrame:
    urls = pdf["url"].tolist()
    htmls = pdf["html"].tolist()
    salts = pdf["salt_bucket"].tolist() if "salt_bucket" in pdf.columns \
        else [0] * len(urls)
    if "warc_ts" in pdf.columns:
        captures = [t.to_pydatetime() if t is not None else None
                    for t in pdf["warc_ts"]]
    else:
        captures = [None] * len(urls)
    ctypes = pdf["content_type"].tolist() \
        if "content_type" in pdf.columns else [None] * len(urls)
    out = {k: [] for k in ("url", "headline", "pubdate", "authors",
                           "extracted_text", "ok", "n_bytes_html",
                           "wall_us", "salt_bucket")}
    for url, html, salt, cap, ct in zip(urls, htmls, salts, captures,
                                        ctypes):
        t0 = time.perf_counter_ns()
        r = extract_one(url, bytes(html) if html is not None else None,
                        capture_ts=cap, content_type=ct)
        wall_us = (time.perf_counter_ns() - t0) // 1000
        out["url"].append(url)
        out["headline"].append(r.headline)
        out["pubdate"].append(r.pubdate)
        out["authors"].append(r.authors)
        out["extracted_text"].append(r.extracted_text)
        out["ok"].append(1 if r.ok else 0)
        out["n_bytes_html"].append(len(html) if html is not None else 0)
        out["wall_us"].append(wall_us)
        out["salt_bucket"].append(salt)
    res = pd.DataFrame(out)
    res["pubdate"] = pd.to_datetime(res["pubdate"])
    return res


def extract_batch(batches: Iterable[pd.DataFrame],
                  byte_cap: int = DEFAULT_BYTE_CAP) -> Iterator[pd.DataFrame]:
    """The body of mapInPandas — E15 over size-capped chunks.

    Cyclic GC is disabled during extraction with one manual collect per
    chunk: the generational collector otherwise rescans every live DOM
    container on allocation bursts, which saturates memory bandwidth and
    caps multi-core scaling at ~0.5 efficiency (measured on this box:
    0.53 → 0.76+ at 8→32 workers). Collect-per-chunk bounds worker RSS;
    gc is re-enabled before returning so long-lived reused workers are
    unaffected between tasks."""
    import gc
    gc_was_enabled = gc.isenabled()
    gc.disable()
    try:
        for pdf in batches:
            for chunk in _chunks_by_bytes(pdf, byte_cap):
                yield _extract_chunk(chunk)
                gc.collect()
    finally:
        if gc_was_enabled:
            gc.enable()


def extract_batch_arrow(batches, byte_cap: int = DEFAULT_BYTE_CAP):
    """mapInArrow body — same semantics as extract_batch but without the
    Arrow↔pandas round-trip (the pandas block assembly for ~MB binary rows
    is a measurable fraction of the framework cost at scale)."""
    import gc

    import pyarrow as pa

    out_type = pa.schema([
        pa.field("url", pa.string()),
        pa.field("headline", pa.string()),
        pa.field("pubdate", pa.timestamp("us")),
        pa.field("authors", pa.list_(pa.string())),
        pa.field("extracted_text", pa.string()),
        pa.field("ok", pa.int32()),
        pa.field("n_bytes_html", pa.int64()),
        pa.field("wall_us", pa.int64()),
        pa.field("salt_bucket", pa.int32()),
    ])

    gc_was_enabled = gc.isenabled()
    gc.disable()
    try:
        for batch in batches:
            urls = batch.column("url").to_pylist()
            htmls = batch.column("html").to_pylist()
            salts = batch.column("salt_bucket").to_pylist()
            names = batch.schema.names
            captures = (batch.column("warc_ts").to_pylist()
                        if "warc_ts" in names else [None] * len(urls))
            ctypes = (batch.column("content_type").to_pylist()
                      if "content_type" in names else [None] * len(urls))
            n = len(urls)
            start = 0
            while start < n:
                acc, end = 0, start
                while end < n:
                    sz = len(htmls[end]) if htmls[end] is not None else 0
                    if acc + sz > byte_cap and end > start:
                        break
                    acc += sz
                    end += 1
                cols = {k: [] for k in ("headline", "pubdate", "authors",
                                        "extracted_text", "ok", "nb", "wu")}
                for i in range(start, end):
                    html = htmls[i]
                    t0 = time.perf_counter_ns()
                    r = extract_one(urls[i], html,
                                    capture_ts=captures[i],
                                    content_type=ctypes[i])
                    cols["wu"].append(
                        (time.perf_counter_ns() - t0) // 1000)
                    cols["headline"].append(r.headline)
                    cols["pubdate"].append(r.pubdate)
                    cols["authors"].append(r.authors)
                    cols["extracted_text"].append(r.extracted_text)
                    cols["ok"].append(1 if r.ok else 0)
                    cols["nb"].append(len(html) if html is not None else 0)
                yield pa.RecordBatch.from_arrays(
                    [pa.array(urls[start:end], pa.string()),
                     pa.array(cols["headline"], pa.string()),
                     pa.array(cols["pubdate"], pa.timestamp("us")),
                     pa.array(cols["authors"], pa.list_(pa.string())),
                     pa.array(cols["extracted_text"], pa.string()),
                     pa.array(cols["ok"], pa.int32()),
                     pa.array(cols["nb"], pa.int64()),
                     pa.array(cols["wu"], pa.int64()),
                     pa.array(salts[start:end], pa.int32())],
                    schema=out_type)
                gc.collect()
                start = end
    finally:
        if gc_was_enabled:
            gc.enable()


def run_extract_df(pages: DataFrame, buckets: int,
                   byte_cap: int = DEFAULT_BYTE_CAP,
                   dedup: bool = True) -> DataFrame:
    """Pages DF → extraction DF (with bookkeeping columns), no sink.

    Projection to (url, warc_ts, html) happens before the shuffle so
    shuffle bytes stay minimal (P3); html must survive the shuffle — it is
    the UDF's input. Salting comes FIRST and the dedup window runs inside
    the salted partitioning, so the corpus shuffles exactly once.
    """
    # keep: minimal shuffle payload (P3) + the optional content_type side
    # column (WARC sources carry the HTTP header; it feeds E1's decode)
    keep = ["url", "warc_ts", "html"]
    if "content_type" in pages.columns:
        keep.append("content_type")
    pages = pages.filter(F.col("html").isNotNull())
    pages = pages.select(*keep)
    pages = with_salt_bucket(pages, buckets)
    # repartition by url: HashPartitioning places each row at
    # pmod(hash(url), B) == its salt_bucket -> bucket == physical partition
    pages = pages.repartition(buckets, F.col("url"))
    if dedup:
        pages = dedup_latest_in_bucket(pages)
    pages = pages.select(*keep, "salt_bucket")
    return pages.mapInArrow(
        lambda it: extract_batch_arrow(it, byte_cap), EXTRACT_FULL_SCHEMA)


# --------------------------------------------------------------------------
# P8 — lineage rollup from the written results


def lineage_rollup(results: DataFrame, run_id: str) -> DataFrame:
    return (results
            .groupBy("partition_id", "salt_bucket")
            .agg(F.count("*").alias("n_rows"),
                 F.sum("ok").cast("long").alias("n_ok"),
                 (F.count("*") - F.sum("ok")).cast("long").alias("n_failed"),
                 F.sum("n_bytes_html").alias("bytes_html"),
                 (F.sum("wall_us") / 1000).cast("long").alias("wall_ms"))
            .select(F.lit(run_id).alias("run_id"),
                    F.col("partition_id").cast("int"),
                    F.col("salt_bucket").cast("int"),
                    "n_rows", "n_ok", "n_failed", "bytes_html", "wall_ms",
                    F.current_timestamp().alias("completed_at")))


# --------------------------------------------------------------------------
# P9 — resume: drop buckets already committed to lineage


def completed_buckets(spark: SparkSession, lineage_dst: str,
                      run_id: str) -> Optional[DataFrame]:
    # cheap existence probe first: avoids a scary (but harmless)
    # FileNotFoundException WARN in the Spark log on the very first run.
    # Local filesystem only — for hdfs://, s3a://, iceberg: etc an os
    # probe would be always-False (silently disabling resume), so those
    # rely on the try/except below instead.
    local = local_path(spark, lineage_dst)
    if local is not None and not os.path.exists(local):
        return None
    try:
        lin = read_table(spark, lineage_dst)
    except Exception:
        return None  # no lineage table yet → nothing completed
    return (lin.filter(F.col("run_id") == run_id)
            .select("salt_bucket").distinct())


def run_extract(spark: SparkSession, src: str, dst: str, lineage_dst: str,
                run_id: str, buckets: Optional[int] = None,
                byte_cap: int = DEFAULT_BYTE_CAP,
                resume: bool = True, dedup: str = "window") -> None:
    """Flagship pipeline with checkpoint/resume (SURVEY.md §3.2).

    Parquet sinks only in the sandbox; swap ``dst``/``lineage_dst`` for
    ``iceberg:`` URIs in prod (mre.io handles both).

    ``dedup`` picks the url-dedup strategy (same keep-latest semantics):

    * ``"window"`` (default) — single full-corpus shuffle; the dedup
      window runs inside the salt partitioning with no extra exchange.
      Cheapest at low duplicate-capture rates.
    * ``"two-phase"`` — ``dedup_first_latest`` BEFORE the salt shuffle: a
      metadata-only (url, max warc_ts) aggregate with map-side combine,
      then a join-back, so a viral url with millions of captures never
      lands on one hot task and dropped captures never shuffle their
      html. Costs extra (cheap) exchanges; wins when the dup rate is
      high or url-skewed.
    """
    if dedup not in ("window", "two-phase"):
        raise ValueError(f"dedup must be 'window' or 'two-phase': {dedup!r}")
    if buckets is None:
        cores = spark.sparkContext.defaultParallelism
        buckets = max(4 * cores, 8)

    pages = read_pages(spark, src)
    keep = ["url", "warc_ts", "html"]
    if "content_type" in pages.columns:
        keep.append("content_type")  # HTTP charset hint → E1 decode
    pages = pages.filter(F.col("html").isNotNull())
    pages = pages.select(*keep)
    pages = with_salt_bucket(pages, buckets)

    if resume:
        done = completed_buckets(spark, lineage_dst, run_id)
        if done is not None:
            # tiny distinct bucket list → broadcast anti-join BEFORE the
            # shuffle: completed buckets never shuffle their html at all
            pages = pages.join(F.broadcast(done), "salt_bucket", "left_anti")

    if dedup == "two-phase":
        # skew-resilient path: dedup before the html-carrying shuffle
        pages = dedup_first_latest(pages)
    # single full-corpus shuffle of the KEPT captures: salt repartition;
    # under "window" the dedup then runs inside that partitioning (no
    # second exchange — see dedup_latest_in_bucket)
    pages = pages.repartition(buckets, F.col("url"))  # partition==bucket
    if dedup == "window":
        pages = dedup_latest_in_bucket(pages)
    pages = pages.select(*keep, "salt_bucket")
    extracted = (pages
                 .mapInArrow(lambda it: extract_batch_arrow(it, byte_cap),
                             EXTRACT_FULL_SCHEMA)
                 .withColumn("partition_id", F.spark_partition_id()))

    # write-then-commit: results land partitioned by bucket (idempotent via
    # dynamic overwrite), lineage append marks the buckets done; both sinks
    # route through mre.io so dst/lineage_dst may be iceberg: URIs
    write_overwrite_partitions(extracted, dst, "salt_bucket")

    # INVARIANT: this read-back is cheap at 100 TB ONLY because the rollup
    # touches the small bookkeeping columns (salt_bucket, ok, n_bytes_html,
    # wall_us, partition_id) — parquet/iceberg columnar pruning never reads
    # the extracted_text/headline pages. Do NOT add a wide column to
    # lineage_rollup without rethinking this pass.
    results = read_table(spark, dst)
    done = completed_buckets(spark, lineage_dst, run_id)
    if done is not None:
        results = results.join(F.broadcast(done), "salt_bucket", "left_anti")
    lineage = lineage_rollup(results, run_id)
    write_append(lineage, lineage_dst)


def read_results(spark: SparkSession, dst: str) -> DataFrame:
    """The EXTRACT_SCHEMA view of a results sink (parquet or iceberg:)."""
    return read_table(spark, dst).select(*RESULT_COLS)


# --------------------------------------------------------------------------
# P10 — golden diff (regression harness)


def golden_diff(actual: DataFrame, expected: DataFrame) -> DataFrame:
    """Rows that differ in either direction. Empty ⇒ byte-identical tables.

    ``exceptAll`` both ways keeps duplicate-sensitivity; the union is
    labelled by side for debugging."""
    cols = [f.name for f in EXTRACT_SCHEMA.fields]
    a, e = actual.select(*cols), expected.select(*cols)
    return (a.exceptAll(e).withColumn("side", F.lit("actual_only"))
            .unionAll(e.exceptAll(a).withColumn("side", F.lit("expected_only"))))


__all__ = [
    "dedup_latest", "dedup_latest_in_bucket", "dedup_first_latest",
    "extract_batch_arrow",
    "with_salt_bucket", "extract_batch", "run_extract_df",
    "run_extract", "read_results", "lineage_rollup", "completed_buckets",
    "golden_diff", "EXTRACT_FULL_SCHEMA", "RESULT_COLS", "DEFAULT_BYTE_CAP",
]
