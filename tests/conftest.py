import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from mre.io import get_spark
    s = get_spark(app="mre-tests", master="local[2]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def fixture_dir(tmp_path_factory):
    """pages.parquet + golden.parquet for N=120 docs (all families, dups,
    truncation, medium size class)."""
    from mre.fixtures import write_fixture_parquet
    d = tmp_path_factory.mktemp("fixtures")
    write_fixture_parquet(str(d), n=120)
    return str(d)


@pytest.fixture(scope="session")
def viewfs_root(spark, tmp_path_factory):
    """``viewfs://mre/data``: a Hadoop viewfs mount of a local temp dir.
    Hadoop resolves paths under it to the ``viewfs`` scheme, so
    ``mre.io.local_path`` returns None and the code under test takes its
    any-scheme branches (e.g. ``append_rows``' Spark append) on data a
    test can still inspect."""
    d = tmp_path_factory.mktemp("viewfs")
    spark._jsc.hadoopConfiguration().set(
        "fs.viewfs.mounttable.mre.link./data", f"file://{d}")
    return "viewfs://mre/data"
