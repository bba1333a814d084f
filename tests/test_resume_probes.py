"""The resume probes read a small committed table to decide what is already
done (through mre.io.read_if_present). Only an ABSENT table means "nothing
done": a table that is there but fails to read must raise, or one corrupt
part file silently turns a resume into a full recompute."""

import os

import pytest


def _buckets(spark, path):
    from mre.pipeline import completed_buckets
    done = completed_buckets(spark, path, "r1")
    return set() if done is None else {r["salt_bucket"]
                                       for r in done.collect()}


def _stages(spark, path):
    from mre.curate import completed_stages
    return completed_stages(spark, path, "r1")


def _phases(spark, path):
    from mre.streaming import _epoch_phases
    return _epoch_phases(spark, path, 0)


# probe name -> (rows, schema, probe, what the rows say is done)
PROBES = {
    "completed_buckets": ([("r1", 3), ("r1", 5)],
                          "run_id string, salt_bucket int", _buckets,
                          {3, 5}),
    "completed_stages": ([("r1", "quality"), ("r1", "split")],
                         "run_id string, stage string", _stages,
                         {"quality", "split"}),
    "_epoch_phases": ([(0, "written"), (0, "indexed")],
                      "epoch long, phase string", _phases,
                      {"written", "indexed"}),
}


def _committed(spark, path, rows, schema):
    """A committed two-part-file table; returns its data files, sorted."""
    from mre.io import write_append
    write_append(spark.createDataFrame(rows, schema).repartition(2), path)
    parts = sorted(f for f in os.listdir(path)
                   if not f.startswith(("_", ".")))
    assert len(parts) == 2 and os.path.exists(f"{path}/_SUCCESS")
    return parts


@pytest.mark.parametrize("name", sorted(PROBES))
def test_probe_reads_committed_table(spark, tmp_path, name):
    rows, schema, probe, done = PROBES[name]
    path = str(tmp_path / "tbl")
    _committed(spark, path, rows, schema)
    assert probe(spark, path) == done


@pytest.mark.parametrize("name", sorted(PROBES))
def test_probe_raises_on_corrupt_part_file(spark, tmp_path, name):
    rows, schema, probe, _ = PROBES[name]
    path = str(tmp_path / "tbl")
    first = _committed(spark, path, rows, schema)[0]
    with open(f"{path}/{first}", "wb") as f:
        f.write(b"not a parquet file")
    with pytest.raises(Exception, match="(?i)parquet|checksum"):
        probe(spark, path)


@pytest.mark.parametrize("name", sorted(PROBES))
def test_probe_absent_or_uncommitted_is_nothing_done(spark, tmp_path, name):
    """No path, or a directory holding only an uncommitted write's
    ``_temporary/`` and dot-files, is a table that is not there yet."""
    _, _, probe, _ = PROBES[name]
    path = tmp_path / "tbl"
    assert probe(spark, str(path)) == set()
    os.makedirs(path / "_temporary" / "0")
    (path / "_temporary" / "0" / "part-00000.parquet").write_bytes(b"x")
    (path / ".part-00000.parquet.crc").write_bytes(b"x")
    assert probe(spark, str(path)) == set()
