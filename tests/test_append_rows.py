"""Every lineage row and epoch marker is committed through one helper,
``mre.io.append_rows``: on the driver's disk a pyarrow file renamed into
place, anywhere else the committer-backed Spark write. A table written by
both must read back as one table, and a write that fails must leave
nothing a reader can see."""

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

SCHEMA = ("run_id string, stage string, n_in long, n_out long, "
          "wall_ms long, params_hash string, attempt long")

_UTC_EPOCH = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)


def _micros(stamp: dt.datetime) -> int:
    return (stamp - _UTC_EPOCH) // dt.timedelta(microseconds=1)


def _data_files(path) -> set:
    return {f for f in os.listdir(path) if not f.startswith(("_", "."))}


def _rows(spark, path) -> list:
    return sorted(
        tuple(r) for r in spark.read.parquet(str(path))
        .withColumn("completed_at", F.unix_micros("completed_at"))
        .collect())


def test_mixed_writers_read_back_as_one_table(spark, tmp_path, monkeypatch):
    """A lineage table appended to once by the Spark write and once by the
    pyarrow write (a run resumed across the change, or a remote and a
    local writer) reads back as one schema with every row, and each
    commit time is the UTC instant the helper stamped."""
    from mre import io
    from mre.curate import _done_stages, _lineage_rows
    lin = tmp_path / "lineage"
    with monkeypatch.context() as m:
        m.setattr(io, "local_path", lambda spark_, path: None)
        t1 = io.append_rows(
            spark, str(lin), [("r1", "quality", 10, 8, 5, "a", 1),
                              ("r1", "exact_dedup", 8, 7, 5, "a", 1)],
            SCHEMA, "completed_at")
    assert os.path.exists(lin / "_SUCCESS")     # the committer wrote it
    spark_files = _data_files(lin)
    t2 = io.append_rows(spark, str(lin),
                        [("r1", "quality", 10, 9, 4, "b", 1)],
                        SCHEMA, "completed_at")
    arrow_files = _data_files(lin) - spark_files
    assert len(arrow_files) == 1
    assert t1.tzinfo == dt.timezone.utc and t2.tzinfo == dt.timezone.utc
    assert t1 < t2

    # one schema: each writer's file alone reads back as the whole table
    whole = spark.read.parquet(str(lin)).schema
    assert [(f.name, f.dataType.simpleString(), f.nullable)
            for f in whole] == [
        ("run_id", "string", True), ("stage", "string", True),
        ("n_in", "bigint", True), ("n_out", "bigint", True),
        ("wall_ms", "bigint", True), ("params_hash", "string", True),
        ("attempt", "bigint", True), ("completed_at", "timestamp", True)]
    for f in (*spark_files, *arrow_files):
        assert spark.read.parquet(str(lin / f)).schema == whole, f

    assert _rows(spark, lin) == sorted([
        ("r1", "quality", 10, 8, 5, "a", 1, _micros(t1)),
        ("r1", "exact_dedup", 8, 7, 5, "a", 1, _micros(t1)),
        ("r1", "quality", 10, 9, 4, "b", 1, _micros(t2))])

    # the latest row per stage (same attempt: the later commit time)
    # decides, across the two writers
    rows = _lineage_rows(spark, str(lin), "r1")
    assert _done_stages(rows, "b") == {"quality"}
    assert _done_stages(rows, "a") == {"exact_dedup"}


def test_torn_write_leaves_no_visible_file(spark, tmp_path, monkeypatch):
    """A pyarrow write that raises partway leaves the table as it was:
    its earlier rows read back and no new file is in the directory."""
    import pyarrow.parquet as pq

    from mre.io import append_rows
    lin = tmp_path / "lineage"
    t1 = append_rows(spark, str(lin), [("r1", "quality", 3, 2, 1, "a", 1)],
                     SCHEMA, "completed_at")
    before = sorted(os.listdir(lin))

    def torn(table, where, **kwargs):
        with open(where, "wb") as f:
            f.write(b"PAR1 half a footer")
        raise OSError("device full")

    monkeypatch.setattr(pq, "write_table", torn)
    with pytest.raises(OSError, match="device full"):
        append_rows(spark, str(lin), [("r1", "split", 2, 2, 1, "a", 1)],
                    SCHEMA, "completed_at")
    assert sorted(os.listdir(lin)) == before
    assert _rows(spark, lin) == [("r1", "quality", 3, 2, 1, "a", 1,
                                  _micros(t1))]


@pytest.mark.parametrize("form", ["scheme-less", "file:/x", "file:///x"])
def test_local_forms_take_the_file_branch(spark, tmp_path, monkeypatch,
                                          form):
    """``file:/x``, ``file:///x`` and a scheme-less local path all commit
    with the pyarrow write, where ``read_table`` reads; no rows, no
    write."""
    from mre import io
    monkeypatch.chdir(tmp_path)   # where a misrouted file would land
    d = tmp_path / "lineage"
    path = {"scheme-less": str(d), "file:/x": f"file:{d}",
            "file:///x": f"file://{d}"}[form]

    def spark_write(*args, **kwargs):
        raise AssertionError("a local path took the Spark write")

    monkeypatch.setattr(io, "write_append", spark_write)
    io.append_rows(spark, path, [], SCHEMA, "completed_at")
    assert not d.exists()
    t = io.append_rows(spark, path, [("r1", "quality", 3, 2, 1, "a", 1)],
                       SCHEMA, "completed_at")
    assert len(_data_files(d)) == 1 and not (d / "_SUCCESS").exists()
    got = (io.read_table(spark, path)
           .withColumn("completed_at", F.unix_micros("completed_at"))
           .collect())
    assert [tuple(r) for r in got] == [("r1", "quality", 3, 2, 1, "a", 1,
                                        _micros(t))]
    assert os.listdir(tmp_path) == ["lineage"]
