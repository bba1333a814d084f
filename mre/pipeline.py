"""P2–P10 — the Spark pipeline around the extraction core (SURVEY.md §2B,
§3.2).

Flagship flow (``run_extract``)::

    read pages → filter → salt by url-hash →
    [resume anti-join vs lineage, BEFORE the shuffle] →
    repartition(B, url)  (the ONLY full-corpus shuffle) →
    url-dedup window inside that partitioning →
    mapInArrow(extract_batch_arrow) →
    write results (dynamic partition overwrite by salt_bucket) →
    lineage rollup (≤ B rows) committed through ``mre.io.append_rows``

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
  disabled for the whole UDF task and never collected (memory-bandwidth
  scaling, §7.1): ``extract_one`` releases each page's DOM, so reference
  counting frees it as soon as that page's extraction returns. The
  output columns are built from Arrow buffers (never ``pa.array`` on a
  Python list, whose array-like probe imports pandas), so no Python
  worker imports pandas (about 31 MB less RSS per worker, §7.1 rule 2d).
* resume: results are partitioned by salt_bucket and written with dynamic
  partition overwrite → re-processing a bucket is idempotent; a bucket
  counts as done only once its lineage row is appended (write-then-commit
  order), so a crash mid-run re-does at most the uncommitted buckets.
* one JVM↔Python crossing per task (the Arrow pipe in mapInArrow); the
  only collect is the lineage rollup, at most one row per bucket.
"""

from __future__ import annotations

import datetime as _dt
import time
from array import array
from itertools import accumulate
from typing import Optional

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .core.extract import extract_one
from .io import append_rows, read_if_present, read_pages, read_table, \
    write_overwrite_partitions
from .schema import EXTRACT_FULL_SCHEMA, EXTRACT_SCHEMA

RESULT_COLS = [f.name for f in EXTRACT_SCHEMA.fields]

DEFAULT_BYTE_CAP = 64 << 20  # 64 MB of html per Arrow chunk


# --------------------------------------------------------------------------
# P5 — url dedup: keep the latest capture per url


def dedup_latest_in_bucket(pages: DataFrame) -> DataFrame:
    """Keep the latest capture (max ``warc_ts``, one row on exact ties)
    per url of a frame already salted: a window over (salt_bucket, url).
    salt_bucket is a pure function of url, so the grouping is the url
    grouping — but HashPartitioning(url) from the salt repartition
    already satisfies ClusteredDistribution(salt_bucket, url), so
    Catalyst inserts NO second exchange. At 100 TB this halves the
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
# P6 — the extraction map (iterator Arrow UDF via mapInArrow)

_EPOCH = _dt.datetime(1970, 1, 1)
_MICROSECOND = _dt.timedelta(microseconds=1)


def _validity(values):
    """Arrow validity bitmap of ``values`` (None is null), or None when no
    value is null."""
    import pyarrow as pa

    if all(v is not None for v in values):
        return None
    bits = bytearray((len(values) + 7) // 8)
    for i, v in enumerate(values):
        if v is not None:
            bits[i >> 3] |= 1 << (i & 7)
    return pa.py_buffer(bits)


def _int_array(arrow_type, code, values):
    """Non-null int32 (``code`` "i") or int64 ("q") column."""
    import pyarrow as pa

    return pa.Array.from_buffers(arrow_type, len(values),
                                 [None, pa.py_buffer(array(code, values))])


def _utf8_array(values):
    """utf8 column; int32 offsets overflow (OverflowError) past 2 GiB,
    which ``byte_cap`` keeps a chunk far below."""
    import pyarrow as pa

    data = [b"" if v is None else v.encode() for v in values]
    offsets = array("i", accumulate(map(len, data), initial=0))
    return pa.Array.from_buffers(
        pa.string(), len(values),
        [_validity(values), pa.py_buffer(offsets),
         pa.py_buffer(b"".join(data))])


def _timestamp_array(arrow_type, values):
    """timestamp[us, tz=UTC] column, converted as ``pa.array`` does: a
    naive datetime is UTC wall time, an aware one is shifted to UTC
    (``pa.array`` keeps its wall time instead when PYARROW_IGNORE_TIMEZONE
    is set; the pubdates that reach here are naive or UTC, so both agree)."""
    import pyarrow as pa

    micros = array("q", (
        0 if v is None else
        (v.replace(tzinfo=None) - (v.utcoffset() or _dt.timedelta(0))
         - _EPOCH) // _MICROSECOND
        for v in values))
    return pa.Array.from_buffers(arrow_type, len(values),
                                 [_validity(values), pa.py_buffer(micros)])


def _utf8_list_array(arrow_type, values):
    """list<string> column; a None list is null, its strings as above."""
    import pyarrow as pa

    offsets = array("i", accumulate(
        (0 if v is None else len(v) for v in values), initial=0))
    child = _utf8_array([s for v in values if v is not None for s in v])
    return pa.Array.from_buffers(arrow_type, len(values),
                                 [_validity(values), pa.py_buffer(offsets)],
                                 children=[child])


def extract_batch_arrow(batches, byte_cap: int = DEFAULT_BYTE_CAP):
    """The body of mapInArrow — E15 over size-capped chunks, straight from
    Arrow record batches to Arrow record batches (no pandas round-trip:
    the block assembly for ~MB binary rows would be a measurable fraction
    of the framework cost at scale). ``url`` and ``salt_bucket`` pass
    through as zero-copy slices of the input; every other output column is
    built from buffers by the helpers above, never by ``pa.array`` on a
    Python list, so no worker imports pandas (about 31 MB less RSS per
    worker, SURVEY.md §7.1 rule 2d).

    Cyclic GC is disabled for the whole task: the generational collector
    otherwise rescans every live DOM container on allocation bursts,
    which saturates memory bandwidth and caps multi-core scaling at ~0.5
    efficiency (measured: 0.53 → 0.76+ at 8→32 workers). No collect runs
    at all: ``extract_one`` leaves no cyclic garbage (it releases each
    page's tree), so reference counting frees every page when its
    extraction returns. GC is restored to its prior state before
    returning, so long-lived reused workers are unaffected between
    tasks."""
    import gc

    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    out_type = to_arrow_schema(EXTRACT_FULL_SCHEMA)
    types = {f.name: f.type for f in out_type}
    gc_was_enabled = gc.isenabled()
    gc.disable()
    try:
        for batch in batches:
            urls = batch.column("url").to_pylist()
            htmls = batch.column("html").to_pylist()
            captures = batch.column("warc_ts").to_pylist()
            ctypes = (batch.column("content_type").to_pylist()
                      if "content_type" in batch.schema.names
                      else [None] * len(urls))
            sizes = [len(h) if h is not None else 0 for h in htmls]
            n, start = len(urls), 0
            while start < n:
                # chunk so sum(len(html)) <= byte_cap; a single oversize
                # row still passes through alone
                acc, end = 0, start
                while end < n and (acc + sizes[end] <= byte_cap
                                   or end == start):
                    acc += sizes[end]
                    end += 1
                res, wall_us = [], []
                for i in range(start, end):
                    t0 = time.perf_counter_ns()
                    res.append(extract_one(urls[i], htmls[i],
                                           capture_ts=captures[i],
                                           content_type=ctypes[i]))
                    wall_us.append((time.perf_counter_ns() - t0) // 1000)
                yield pa.RecordBatch.from_arrays(
                    [batch.column("url").slice(start, end - start),
                     _utf8_array([r.headline for r in res]),
                     _timestamp_array(types["pubdate"],
                                      [r.pubdate for r in res]),
                     _utf8_list_array(types["authors"],
                                      [r.authors for r in res]),
                     _utf8_array([r.extracted_text for r in res]),
                     _int_array(types["ok"], "i",
                                [1 if r.ok else 0 for r in res]),
                     _int_array(types["n_bytes_html"], "q",
                                sizes[start:end]),
                     _int_array(types["wall_us"], "q", wall_us),
                     batch.column("salt_bucket").slice(start, end - start)],
                    schema=out_type)
                start = end
    finally:
        if gc_was_enabled:
            gc.enable()


def run_extract_df(pages: DataFrame, buckets: int,
                   byte_cap: int = DEFAULT_BYTE_CAP,
                   done: Optional[DataFrame] = None) -> DataFrame:
    """Pages DF → extraction DF (with bookkeeping columns), no sink. The
    one plan builder behind ``run_extract``.

    Projection to (url, warc_ts, html) happens before the shuffle so
    shuffle bytes stay minimal (P3); html must survive the shuffle — it is
    the UDF's input. Salting comes FIRST, so the corpus shuffles exactly
    once and the url dedup runs inside that partitioning. ``done``
    is a frame of completed ``salt_bucket`` values: a tiny distinct list,
    broadcast-anti-joined BEFORE the shuffle, so completed buckets never
    shuffle their html at all.
    """
    # keep: minimal shuffle payload (P3) + the optional content_type side
    # column (WARC sources carry the HTTP header; it feeds E1's decode)
    keep = ["url", "warc_ts", "html"]
    if "content_type" in pages.columns:
        keep.append("content_type")
    pages = pages.filter(F.col("html").isNotNull())
    pages = pages.select(*keep)
    pages = with_salt_bucket(pages, buckets)
    if done is not None:
        pages = pages.join(F.broadcast(done), "salt_bucket", "left_anti")
    # repartition by url: HashPartitioning places each row at
    # pmod(hash(url), B) == its salt_bucket -> bucket == physical partition;
    # the dedup then runs inside that partitioning (no second exchange —
    # see dedup_latest_in_bucket)
    pages = pages.repartition(buckets, F.col("url"))
    pages = dedup_latest_in_bucket(pages)
    pages = pages.select(*keep, "salt_bucket")
    return pages.mapInArrow(
        lambda it: extract_batch_arrow(it, byte_cap), EXTRACT_FULL_SCHEMA)


# --------------------------------------------------------------------------
# P8 — lineage rollup from the written results


def lineage_rollup(results: DataFrame, run_id: str) -> DataFrame:
    """One row per (partition_id, salt_bucket) of the written results;
    ``run_extract`` commits them with their ``completed_at``."""
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
                    "n_rows", "n_ok", "n_failed", "bytes_html", "wall_ms"))


# --------------------------------------------------------------------------
# P9 — resume: drop buckets already committed to lineage


def completed_buckets(spark: SparkSession, lineage_dst: str,
                      run_id: str) -> Optional[DataFrame]:
    """Salt buckets of ``run_id`` already committed to lineage, or None
    when there is no lineage table yet. A lineage table that fails to
    read raises: resuming from "nothing done" would recompute the run."""
    lin = read_if_present(spark, lineage_dst)
    if lin is None:
        return None
    return (lin.filter(F.col("run_id") == run_id)
            .select("salt_bucket").distinct())


def run_extract(spark: SparkSession, src: str, dst: str, lineage_dst: str,
                run_id: str, buckets: Optional[int] = None,
                byte_cap: int = DEFAULT_BYTE_CAP,
                resume: bool = True) -> None:
    """Flagship pipeline with checkpoint/resume (SURVEY.md §3.2).

    Parquet sinks only in the sandbox; swap ``dst``/``lineage_dst`` for
    ``iceberg:`` URIs in prod (mre.io handles both). The corpus shuffles
    once: the latest capture per url is kept inside the salt
    partitioning (``dedup_latest_in_bucket``), with no extra exchange.
    A bucket is done once its lineage row is committed: the rollup has at
    most one row per bucket, so it is collected and appended through
    ``mre.io.append_rows`` (one atomic file on the driver's disk, the
    committer-backed write elsewhere), which stamps ``completed_at``.
    """
    if buckets is None:
        cores = spark.sparkContext.defaultParallelism
        buckets = max(4 * cores, 8)

    pages = read_pages(spark, src)
    done = completed_buckets(spark, lineage_dst, run_id) if resume else None
    extracted = (run_extract_df(pages, buckets, byte_cap, done)
                 .withColumn("partition_id", F.spark_partition_id()))

    # write-then-commit: results land partitioned by bucket (idempotent via
    # dynamic overwrite), the lineage append marks the buckets done; both
    # sinks route through mre.io so dst/lineage_dst may be iceberg: URIs
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
    append_rows(spark, lineage_dst, lineage.collect(), lineage.schema,
                "completed_at")


def read_results(spark: SparkSession, dst: str) -> DataFrame:
    """The EXTRACT_SCHEMA view of a results sink (parquet or iceberg:)."""
    return read_table(spark, dst).select(*RESULT_COLS)


# --------------------------------------------------------------------------
# P10 — golden diff (regression harness)


def golden_diff(actual: DataFrame, expected: DataFrame) -> DataFrame:
    """Rows that differ in either direction. Empty ⇒ byte-identical tables.

    ``exceptAll`` both ways keeps duplicate-sensitivity; the union is
    labelled by side for debugging."""
    a, e = actual.select(*RESULT_COLS), expected.select(*RESULT_COLS)
    return (a.exceptAll(e).withColumn("side", F.lit("actual_only"))
            .unionAll(e.exceptAll(a).withColumn("side", F.lit("expected_only"))))


__all__ = [
    "dedup_latest_in_bucket", "extract_batch_arrow", "with_salt_bucket",
    "run_extract_df", "run_extract", "read_results", "lineage_rollup",
    "completed_buckets", "golden_diff", "EXTRACT_FULL_SCHEMA",
    "RESULT_COLS", "DEFAULT_BYTE_CAP",
]
