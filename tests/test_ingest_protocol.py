"""The one ingest commit protocol (``mre.streaming.ingest_epoch``) as the
CLI runs it, and against the batch-dedup path perfbench's ``ingest_stream``
check takes as its expectation."""

import os
import runpy
import shutil
import sys
from collections import Counter

import pytest

SCRIPT = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "scripts", "run_ingest.py")


def _words(tag, n=30):
    # per-doc-unique token stream: no cross-doc shingles, so only PLANTED
    # duplicates trip the exact/near dedup
    return " ".join(f"{tag}w{j}" for j in range(n))


def _corpus(spark):
    return spark.createDataFrame(
        [(i, f"corpus doc {i} " + _words(f"c{i}")) for i in range(5)],
        "doc_id long, text string")


@pytest.fixture(params=["local", "viewfs"])
def root(request, tmp_path):
    """The test's working root on a scheme-less local path, or on a
    viewfs mount of a local dir (``local_path`` is None there, so every
    write takes its Spark branch)."""
    if request.param == "local":
        return str(tmp_path)
    return f"{request.getfixturevalue('viewfs_root')}/{tmp_path.name}"


@pytest.fixture
def run_cli(spark, monkeypatch):
    """Run ``scripts/run_ingest.py`` in-process, as ``__main__``, on the
    test session (its ``spark.stop()`` made a no-op)."""
    import mre.io
    monkeypatch.setattr(mre.io, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)

    def run(*argv):
        monkeypatch.setattr(sys, "argv", [SCRIPT, *argv])
        runpy.run_path(SCRIPT, run_name="__main__")
    return run


def test_cli_ingest_crash_mid_index_append_recovers(spark, root, run_cli,
                                                    monkeypatch):
    """``run_ingest.py ingest`` crashes once in the index append, after
    the batch's bands and signatures were appended and before its
    fingerprints were. The rerun converges to a clean run's accepted set
    and index, and a further run changes nothing."""
    from mre import curate
    from mre.curate import build_dedup_index

    corpus = _corpus(spark)
    fresh = "fresh alpha " + _words("a")
    batch = f"{root}/batch"
    spark.createDataFrame(
        [(100, corpus.filter("doc_id = 0").first()["text"]),  # corpus dup
         (101, fresh), (102, "fresh beta " + _words("b")),
         (103, fresh)],  # in-batch dup of 101
        "doc_id long, text string").coalesce(1).write.parquet(batch)

    def paths(name):
        idx = f"{root}/{name}/idx"
        build_dedup_index(spark, corpus, idx)
        return idx, f"{root}/{name}/accepted"

    def ingest(idx, acc):
        run_cli("--index", idx, "ingest", "--batch", batch, "--dst", acc)

    def accepted(acc):
        return sorted((r["doc_id"], r["text"])
                      for r in spark.read.parquet(acc).collect())

    def fingerprints(idx):
        return sorted((r["doc_id"], r["fingerprint"]) for r in
                      spark.read.parquet(f"{idx}/fingerprints").collect())

    def phases(acc):
        return [r["phase"] for r in
                spark.read.parquet(f"{acc}_epochs").collect()]

    idx0, acc0 = paths("clean")
    ingest(idx0, acc0)
    want = accepted(acc0)
    assert [d for d, _ in want] == [101, 102]

    idx, acc = paths("crashed")
    real, calls = curate._write_bucketed, []

    def crash_once(spark_, df, index_dst, table, parts, writer):
        calls.append(table)
        if table == "fingerprints" and calls.count(table) == 1:
            raise RuntimeError("crash before the fingerprint append")
        real(spark_, df, index_dst, table, parts, writer)

    monkeypatch.setattr(curate, "_write_bucketed", crash_once)
    with pytest.raises(RuntimeError, match="fingerprint append"):
        ingest(idx, acc)
    assert calls == ["bands", "signatures", "fingerprints"]
    assert set(phases(acc)) == {"written"}

    ingest(idx, acc)                                   # the rerun
    assert accepted(acc) == want
    assert fingerprints(idx) == fingerprints(idx0)
    per_doc = Counter(d for d, _ in fingerprints(idx))
    assert {d: per_doc[d] for d, _ in want} == {d: 1 for d, _ in want}
    assert set(phases(acc)) == {"written", "indexed"}

    n_fp, n_markers = len(fingerprints(idx)), len(phases(acc))
    ingest(idx, acc)                                   # a no-op
    assert len(fingerprints(idx)) == n_fp
    assert len(phases(acc)) == n_markers


def test_ingest_epoch_matches_sequential_dedup_increment(spark, tmp_path):
    """Over three sequential batches, ``ingest_epoch`` (epochs 0..2) and
    ``dedup_increment(update_index=True)``, each on its own copy of one
    index, accept the same docs per batch and leave the same fingerprint
    and signature rows in the index. The batches plant cross-batch exact
    and near dups (of the corpus and of earlier batches), in-batch exact
    dups and an in-batch near-dup chain."""
    from mre.curate import build_dedup_index, dedup_increment
    from mre.streaming import ingest_epoch
    from mre.textops import release_caches

    corpus = _corpus(spark)
    base = str(tmp_path / "idx")
    build_dedup_index(spark, corpus, base, k=64, n=3, bands=32)
    idx_a, idx_b = str(tmp_path / "idx_a"), str(tmp_path / "idx_b")
    shutil.copytree(base, idx_a)
    shutil.copytree(base, idx_b)

    t = {r["doc_id"]: r["text"] for r in corpus.collect()}
    fa, fb, fc = ("fresh alpha " + _words("a"), "fresh beta " + _words("b"),
                  "fresh gamma " + _words("g"))
    # chain: 104 and 105 share nothing, 106 is 104's text then 105's, so
    # 106 near-dups each of them and cluster-min keeps only 104
    ta, tb = "chain head " + _words("h", 35), "chain tail " + _words("t", 35)
    batches = [
        [(100, t[0]),                                  # corpus exact
         (101, t[1].replace("c1w7", "c1wX")),          # corpus near
         (102, fa), (103, fb),
         (104, ta), (105, tb), (106, ta + " " + tb)],  # in-batch chain
        [(200, fa),                                    # batch-0 exact
         (201, fb.replace("bw9", "bwX")),              # batch-0 near
         (202, fc), (203, fc)],                        # in-batch exact
        [(300, fc.replace("gw3", "gwX")),              # batch-1 near
         (301, ta),                                    # chain survivor
         (302, tb),                                    # chain loser
         (303, "fresh delta " + _words("d"))],
    ]

    got_a, got_b = [], []
    for epoch, rows in enumerate(batches):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got_a.append(sorted(r["doc_id"] for r in dedup_increment(
            spark, df, idx_a, threshold=0.3).collect()))
        release_caches()
        ingest_epoch(spark, df, epoch, idx_b, str(tmp_path / "acc"),
                     threshold=0.3)
        got_b.append(sorted(
            r["doc_id"] for r in spark.read.parquet(str(tmp_path / "acc"))
            .filter(f"epoch = {epoch}").collect()))
    assert got_a == got_b
    assert got_a == [[102, 103, 104], [202], [302, 303]]

    def rows(idx, table, col):
        return sorted((r["doc_id"], r[col]) for r in
                      spark.read.parquet(f"{idx}/{table}").collect())

    assert rows(idx_a, "fingerprints", "fingerprint") \
        == rows(idx_b, "fingerprints", "fingerprint")
    assert rows(idx_a, "signatures", "sig") == rows(idx_b, "signatures",
                                                    "sig")
