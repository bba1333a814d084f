"""One helper decides whether a path is on the driver's local filesystem
(mre.io.local_path): the resume probes and the streaming epoch markers must
treat ``file:`` URIs as the local paths they are, not as remote ones."""

import os

from pyspark.sql import functions as F


def test_local_path_resolves_the_filesystem_scheme(spark, tmp_path):
    from mre.io import atomic_rename_fs, local_path
    d = str(tmp_path)
    for p in (d, f"file:{d}", f"file://{d}"):
        assert local_path(spark, p) == d, p
        assert atomic_rename_fs(spark, p), p
    assert local_path(spark, "iceberg:db.table") is None
    assert not atomic_rename_fs(spark, "iceberg:db.table")


def test_epoch_marker_on_file_uri_is_read_back(spark, tmp_path,
                                               monkeypatch):
    """ADVICE r8 (medium): with a ``file:/x`` epochs table the marker must
    land where read_table reads it; a substring test on "://" wrote it to
    a relative ``file:`` directory and the retry protocol saw no phases."""
    from mre.streaming import _epoch_phases, _mark_epoch
    monkeypatch.chdir(tmp_path)   # where a misrouted marker would land
    eps = f"file:{tmp_path}/epochs"
    _mark_epoch(spark, eps, 0, "written", 2)
    _mark_epoch(spark, eps, 0, "indexed", 2)
    assert _epoch_phases(spark, eps, 0) == {"written", "indexed"}
    assert not os.path.exists(tmp_path / "file:")


def test_resume_probes_on_file_uri_see_committed_work(spark, tmp_path):
    """The resume probes of run_extract and run_curate must find a lineage
    table named by a ``file:`` URI; an os.path.exists on the raw URI said
    'absent' and silently disabled resume (a full recompute)."""
    from mre.curate import completed_stages
    from mre.io import write_append
    from mre.pipeline import completed_buckets
    lin = f"file:{tmp_path}/lineage"
    write_append(spark.createDataFrame(
        [("r1", 3), ("r1", 5), ("r2", 1)], "run_id string, salt_bucket int"),
        lin)
    done = completed_buckets(spark, lin, "r1")
    assert done is not None
    assert {r["salt_bucket"] for r in done.collect()} == {3, 5}

    stages = f"file:{tmp_path}/curate_lineage"
    write_append(spark.createDataFrame(
        [("c1", "quality"), ("c1", "exact_dedup")],
        "run_id string, stage string")
        .withColumn("attempt", F.lit(1)), stages)
    assert completed_stages(spark, stages, "c1") == {"quality",
                                                     "exact_dedup"}
