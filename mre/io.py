"""P1/P7 — source/sink abstraction (SURVEY.md §2B).

Prod target is Iceberg (``spark.read.format("iceberg")`` /
``df.writeTo(tbl).append()``); the sandbox has no Iceberg jars [ENV], so the
same call sites run against parquet directories. The format is decided by
the path string: ``iceberg:db.table`` vs a filesystem path.

Session factory pins the determinism + Arrow configs every component
assumes (UTC session TZ, AQE, capped Arrow batches — SURVEY.md §4.3).
"""

from __future__ import annotations

import datetime as _dt
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructField, StructType, TimestampType

ICEBERG_PREFIX = "iceberg:"


def default_driver_mem() -> str:
    """A quarter of physical memory, 1g-16g: with a fixed 16g heap G1 grows
    the driver JVM past a 16 GB machine until the OOM killer ends it."""
    gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 30
    return f"{max(1, min(16, gib // 4))}g"


def get_spark(app: str = "mre", master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """SparkSession with the pipeline's standard configs.

    ``master`` default: $MRE_MASTER or local[*]. On a real cluster, leave
    master to spark-submit and call with master=None.
    """
    builder = SparkSession.builder.appName(app)
    master = master or os.environ.get("MRE_MASTER")
    if master:
        builder = builder.master(master)
    cores = os.cpu_count() or 8
    builder = (
        builder
        .config("spark.sql.session.timeZone", "UTC")
        # InferFiltersFromGenerate infers size(child)>0/isnotnull(child)
        # filters under every explode; predicate pushdown then INLINES the
        # whole generator expression (shingle transforms and all) into an
        # interpreted Filter evaluated per row — measured 16x slowdown on
        # the n-gram ops (26s → 1.6s for contamination at sf0.1). Our
        # generate inputs always carry explicit size filters, so the
        # inferred ones only duplicate work.
        .config("spark.sql.optimizer.excludedRules",
                "org.apache.spark.sql.catalyst.optimizer."
                "InferFiltersFromGenerate")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions",
                str(shuffle_partitions or max(32, cores)))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # HTML rows are huge — cap rows per Arrow batch; the extract UDF
        # additionally re-chunks by bytes (SURVEY.md §4.3)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory",
                os.environ.get("MRE_DRIVER_MEM") or default_driver_mem())
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def read_pages(spark: SparkSession, src: str) -> DataFrame:
    """P1 scan. ``src``: ``iceberg:db.table``, ``warc:`` + a WARC(.gz)
    path/glob (crawl-native, carries the HTTP Content-Type through to the
    decoder), or else a parquet path (file or dir). Any other prefix is
    taken as a parquet path's URI scheme, so an unknown one raises."""
    if src.startswith(ICEBERG_PREFIX):
        return spark.read.format("iceberg").load(src[len(ICEBERG_PREFIX):])
    if src.startswith("warc:"):
        from .sources.warc import read_warc
        return read_warc(spark, src[len("warc:"):])
    return spark.read.parquet(src)


def write_append(df: DataFrame, dst: str,
                 partition_col: str | None = None) -> None:
    """P7 sink, committer-backed append: one Spark write job (idempotence
    is handled one level up, by the caller's resume protocol). With
    ``partition_col``, appended rows land in the matching hash-bucket
    directories of a partitioned layout (the dedup-index tables use this
    so ingest can statically prune to touched buckets). Bookkeeping rows
    (lineage, epoch markers) go through ``append_rows`` instead, which
    falls back to this writer only off the driver's disk."""
    if dst.startswith(ICEBERG_PREFIX):
        # Iceberg owns layout at the table level — partitioning was
        # declared at create time, appends inherit it
        df.writeTo(dst[len(ICEBERG_PREFIX):]).append()
    else:
        w = df.write.mode("append")
        if partition_col is not None:
            w = w.partitionBy(partition_col)
        w.parquet(dst)


def append_rows(spark: SparkSession, dst: str, rows: list[tuple],
                schema: StructType | str,
                commit_col: str) -> _dt.datetime:
    """Commit a few bookkeeping rows to the append-only table ``dst``: the
    one commit path of every lineage row and epoch marker (a bucket,
    stage or epoch counts as done once its row lands). ``rows`` follow
    the Spark ``schema`` (a StructType or DDL string); each gets the
    column ``commit_col``, one commit time for the call, which is
    returned. No rows, no write.

    The commit time is a UTC-aware µs datetime taken here, never a
    collected Spark timestamp (PySpark collects those as naive local
    time, and a naive value would make Spark read a pyarrow file's column
    as TimestampNTZ). Every column is written nullable, as Spark writes
    files, so rows from either branch below read back as one schema.

    When ``local_path`` resolves ``dst`` to the driver's disk, the rows
    are written with pyarrow into a dot-prefixed temp file that is then
    renamed into place: a Spark write job costs ~0.5 s of scheduling and
    commit for a one-row table, the pyarrow write ~10 ms. The rename is
    atomic and Spark ignores dot-prefixed files, so no reader sees a torn
    file (one would fail every read of the table, and with it every
    resume); a write that raises removes its temp file. ``iceberg:`` and
    every other scheme take the committer-backed ``write_append``."""
    stamp = _dt.datetime.now(_dt.timezone.utc)
    if not rows:
        return stamp
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    schema = StructType([StructField(f.name, f.dataType) for f in schema]
                        + [StructField(commit_col, TimestampType())])
    rows = [(*r, stamp) for r in rows]
    local = local_path(spark, dst)
    if local is None:
        write_append(spark.createDataFrame(rows, schema), dst)
        return stamp
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema
    arrow = to_arrow_schema(schema)
    table = pa.Table.from_pylist([dict(zip(arrow.names, r)) for r in rows],
                                 schema=arrow)
    os.makedirs(local, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(local, f".{name}")
    try:
        pq.write_table(table, tmp)
        os.rename(tmp, os.path.join(local, name))
    except BaseException:
        if os.path.exists(tmp):
            os.remove(tmp)
        raise
    return stamp


def write_overwrite(df: DataFrame, dst: str,
                    partition_col: str | None = None) -> None:
    """P7 sink, full-overwrite semantics, same ``iceberg:`` dispatch as
    every other writer — raw ``df.write.parquet(dst)`` on an iceberg:
    URI would hand Hadoop a bogus filesystem scheme."""
    if dst.startswith(ICEBERG_PREFIX):
        w = df.writeTo(dst[len(ICEBERG_PREFIX):])
        if partition_col is not None:
            from pyspark.sql import functions as F
            w = w.partitionedBy(F.col(partition_col))
        w.createOrReplace()
    else:
        w = df.write.mode("overwrite")
        if partition_col is not None:
            w = w.partitionBy(partition_col)
        w.parquet(dst)


def write_overwrite_partitions(df: DataFrame, dst: str,
                               partition_col: str) -> None:
    """P7 sink, dynamic-partition-overwrite semantics (idempotent re-write
    of exactly the partitions present in ``df``). Iceberg target must be
    partitioned by ``partition_col``."""
    if dst.startswith(ICEBERG_PREFIX):
        df.writeTo(dst[len(ICEBERG_PREFIX):]).overwritePartitions()
    else:
        (df.write
         .mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy(partition_col)
         .parquet(dst))


def read_table(spark: SparkSession, path: str) -> DataFrame:
    return read_pages(spark, path)


def read_if_present(spark: SparkSession, path: str) -> DataFrame | None:
    """``read_table(path)``, or None when the table is absent: its Hadoop
    FS path does not exist, or holds no entry whose name starts with
    neither ``_`` nor ``.`` (a write that never committed leaves only
    ``_temporary/``). Every other read error propagates — the resume
    probes built on this must not turn a corrupt or unreadable table into
    "nothing done" and recompute everything. ``iceberg:`` tables keep a
    lenient probe: a catalog read failure is indistinguishable from
    table-absent there, and iceberg commits are atomic, so a half-written
    table cannot exist."""
    if path.startswith(ICEBERG_PREFIX):
        try:
            return read_table(spark, path)
        except Exception:
            return None
    fs, p = _hadoop_fs(spark, path)
    if not fs.exists(p) or all(
            s.getPath().getName().startswith(("_", "."))
            for s in fs.listStatus(p)):
        return None
    return read_table(spark, path)


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for any Hadoop-readable URI (file://, hdfs://,
    s3a://, ...) — the portable way to probe/rename outside the JVM-less
    local-path fast paths."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, p


def path_committed(spark: SparkSession, dst: str) -> bool:
    """Has a previous write to ``dst`` COMMITTED? (ADVICE r5 #1.)

    * ``iceberg:`` tables commit atomically (snapshot swap), so a
      readable table IS a committed table — read-probe.
    * Every other path (local AND remote parquet dirs) requires the
      ``_SUCCESS`` marker, checked through the Hadoop FileSystem API.
      Merely-readable is NOT committed: a crash mid-write under a v2
      output committer leaves partially-promoted part files that
      read_table happily loads — resuming from those silently adopts a
      partial survivor set (and, for ingest, permanently pollutes the
      dedup index with the dropped remainder's absence).

    Only a real "no ``_SUCCESS``" answer is False: an I/O error (an
    unknown scheme, an unreachable store) raises, because the caller's
    answer to False is a recompute, and a recompute after a partial
    index update drops the whole batch."""
    if dst.startswith(ICEBERG_PREFIX):
        return read_if_present(spark, dst) is not None
    fs, p = _hadoop_fs(spark, f"{dst}/_SUCCESS")
    return bool(fs.exists(p))


def local_path(spark: SparkSession, path: str) -> str | None:
    """The driver-local OS path ``path`` names when its Hadoop filesystem
    is the local one, else None. The scheme is resolved, not read off the
    string: ``file:/x`` and ``file:///x`` are local (-> ``/x``), and a
    scheme-less path is local only when ``fs.defaultFS`` is. ``iceberg:``
    tables are never local. Fast paths that bypass Spark for local files
    (``os.path.exists`` probes, pyarrow marker writes) must take this
    test: a substring check on ``"://"`` sends ``file:/x`` and
    scheme-less HDFS paths to the driver's disk, where ``read_table``
    never looks."""
    if path.startswith(ICEBERG_PREFIX):
        return None
    fs, p = _hadoop_fs(spark, path)
    if fs.getScheme() != "file":
        return None
    return fs.makeQualified(p).toUri().getPath()


def atomic_rename_fs(spark: SparkSession, path: str) -> bool:
    """True when ``path`` lives on a filesystem whose directory rename is
    atomic (local, hdfs, viewfs) — there the swap_dirs promotion is the
    safe compaction strategy (ADVICE r6 #2: hdfs: paths were wrongly
    routed to the overwrite-in-place fallback). Object stores (s3a://,
    gs://, ...) emulate rename by copy+delete and table formats commit at
    the catalog, so both take the non-swap path. Like ``local_path``, the
    scheme is the resolved Hadoop filesystem's, so a scheme-less path
    under an object-store ``fs.defaultFS`` is not taken for local."""
    if path.startswith(ICEBERG_PREFIX):
        return False
    return _hadoop_fs(spark, path)[0].getScheme() in ("file", "hdfs",
                                                      "viewfs")


def recover_swapped_dir(spark: SparkSession, path: str) -> bool:
    """Crash-window repair for ``swap_dirs`` (ADVICE r6 #4): between its
    two renames ``path`` does not exist — a crash there leaves the data
    at ``path.old``. If ``path`` is missing and ``path.old`` survives,
    rename it back and return True; a live ``path`` is never touched
    (swap_dirs itself clears stale ``.old`` residue on its next run)."""
    fs, p_dst = _hadoop_fs(spark, path)
    _, p_old = _hadoop_fs(spark, f"{path}.old")
    if fs.exists(p_dst) or not fs.exists(p_old):
        return False
    if not fs.rename(p_old, p_dst):
        raise IOError(f"recovery rename {path}.old -> {path} failed")
    return True


def swap_dirs(spark: SparkSession, tmp: str, path: str) -> None:
    """Promote a freshly-written sibling directory over ``path`` with
    rename-level atomicity (ADVICE r5 #3): ``path`` → ``path.old``,
    ``tmp`` → ``path``, delete ``path.old``. A crash between the two
    renames leaves the data recoverable at ``path.old`` (and the
    completed rewrite at ``tmp``) — never a deleted-then-half-rewritten
    directory, which is unrecoverable when the source plan was a
    lineage-free snapshot. Works through the Hadoop FileSystem API so
    local and remote parquet behave identically; Iceberg callers should
    use the atomic table-level ops instead.

    CONCURRENCY CONTRACT (ADVICE r6 #4): a reader that lists ``path``
    inside the between-renames window sees FileNotFound, so maintenance
    jobs that swap a live table (e.g. ``compact_dedup_index``) must not
    run concurrently with jobs reading it (e.g. an ingest stream against
    the same index) — schedule compaction in the ingest's idle window.
    If a crash lands in the window, ``recover_swapped_dir`` restores
    ``path`` from ``path.old``."""
    fs, p_old = _hadoop_fs(spark, f"{path}.old")
    _, p_tmp = _hadoop_fs(spark, tmp)
    _, p_dst = _hadoop_fs(spark, path)
    if fs.exists(p_old):        # leftover from an earlier crash
        fs.delete(p_old, True)
    if fs.exists(p_dst):
        if not fs.rename(p_dst, p_old):
            raise IOError(f"rename {path} -> {path}.old failed")
    if not fs.rename(p_tmp, p_dst):
        raise IOError(f"rename {tmp} -> {path} failed")
    fs.delete(p_old, True)


__all__ = ["get_spark", "read_pages", "write_append", "append_rows",
           "write_overwrite_partitions", "read_table", "read_if_present",
           "path_committed", "swap_dirs",
           "atomic_rename_fs", "local_path", "recover_swapped_dir",
           "ICEBERG_PREFIX"]
