"""Stat-checked zip finders (mre/lazyzip.py): an unchanged archive is never
re-read by importlib.invalidate_caches(), a rewritten one is, and every
Spark Python worker that imported mre holds no plain zipimporter."""

import importlib
import sys
import zipfile
import zipimport

import pytest

from mre.lazyzip import LazyZipImporter, install


def _write_zip(path, modules: dict) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def plain_hooks(monkeypatch):
    """This process as it was before mre was imported: the plain
    zipimporter hook (the importer cache is a copy, restored after)."""
    monkeypatch.setattr(sys, "path_hooks", [
        zipimport.zipimporter if h is LazyZipImporter else h
        for h in sys.path_hooks])
    monkeypatch.setattr(sys, "path_importer_cache",
                        dict(sys.path_importer_cache))
    yield
    for name in ("lz_mod_a", "lz_mod_b"):
        sys.modules.pop(name, None)


@pytest.fixture
def reads(monkeypatch):
    """Archives passed to zipimport._read_directory, in call order."""
    seen = []
    real = zipimport._read_directory

    def counting(archive):
        seen.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch,
                                         plain_hooks, reads):
    z = str(tmp_path / "lz.zip")
    _write_zip(z, {"lz_mod_a": "X = 1\n"})
    monkeypatch.syspath_prepend(z)
    assert install()
    assert importlib.import_module("lz_mod_a").X == 1
    assert type(sys.path_importer_cache[z]) is LazyZipImporter
    importlib.invalidate_caches()   # first call stamps every archive
    del reads[:]
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []


def test_rewritten_archive_is_reread_and_new_module_imports(
        tmp_path, monkeypatch, plain_hooks, reads):
    """The behaviour PySpark's per-task invalidate_caches() exists for:
    a py-file zip that grew since the last task becomes importable."""
    z = str(tmp_path / "lz.zip")
    _write_zip(z, {"lz_mod_a": "X = 1\n"})
    monkeypatch.syspath_prepend(z)
    install()
    importlib.import_module("lz_mod_a")
    importlib.invalidate_caches()
    _write_zip(z, {"lz_mod_a": "X = 1\n", "lz_mod_b": "Y = 2\n"})
    with pytest.raises(ImportError):   # the finder's directory is stale
        importlib.import_module("lz_mod_b")
    del reads[:]
    importlib.invalidate_caches()
    assert reads == [z]
    assert importlib.import_module("lz_mod_b").Y == 2


def test_install_converts_cached_finders_in_place_and_is_idempotent(
        tmp_path, plain_hooks, reads):
    z = str(tmp_path / "lz.zip")
    _write_zip(z, {"lz_mod_a": "X = 1\n"})
    finder = zipimport.zipimporter(z)
    sys.path_importer_cache[z] = finder
    del reads[:]
    assert install()
    assert sys.path_importer_cache[z] is finder
    assert type(finder) is LazyZipImporter
    assert reads == []   # converting a finder costs no re-read
    assert not install()
    assert sys.path_hooks.count(LazyZipImporter) == 1
    assert zipimport.zipimporter not in sys.path_hooks


def test_install_is_noop_without_invalidate_caches(monkeypatch):
    """Pythons before 3.10: zipimporter has no invalidate_caches, so
    invalidate_caches() never re-reads archives and there is nothing to
    install."""
    class OldZipImporter:
        def __init__(self, path):
            raise zipimport.ZipImportError("not a zip", path=path)

    monkeypatch.setattr(zipimport, "zipimporter", OldZipImporter)
    hooks = [OldZipImporter] + [h for h in sys.path_hooks
                                if h is not LazyZipImporter]
    monkeypatch.setattr(sys, "path_hooks", list(hooks))
    assert not install()
    assert sys.path_hooks == hooks


def test_spark_workers_hold_no_plain_zip_finder(spark, fixture_dir):
    """Structural, not timed: after an extraction job, every Python
    worker's zip finders (pyspark.zip, the spark-core jar, py4j) are
    stat-checked, so the per-task invalidate_caches() re-reads nothing."""
    from mre.pipeline import run_extract_df

    def zip_finder_kinds(batches):
        import sys
        import zipimport

        import pyarrow as pa

        import mre  # noqa: F401  (what every mre kernel's unpickle does)
        for _ in batches:
            pass
        kinds = {f"{type(f).__module__}.{type(f).__qualname__}"
                 for f in list(sys.path_importer_cache.values())
                 if isinstance(f, zipimport.zipimporter)}
        yield pa.RecordBatch.from_pydict(
            {"kinds": [",".join(sorted(kinds))]})

    pages = spark.read.parquet(f"{fixture_dir}/pages.parquet").limit(24)
    assert run_extract_df(pages, buckets=4).count() > 0
    rows = (spark.range(0, 64, numPartitions=8)
            .mapInArrow(zip_finder_kinds, "kinds string").collect())
    assert len(rows) == 8
    kinds = {k for r in rows for k in r["kinds"].split(",") if k}
    assert kinds, "no zip finder on the workers' path"
    assert "zipimport.zipimporter" not in kinds, kinds
