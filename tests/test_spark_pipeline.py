"""Differential Spark tests (SURVEY.md §5.2 layers 3 & 6): the pipeline on
local[2] must reproduce the single-process golden outputs byte-identically,
and the resume protocol must be idempotent."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from mre.pipeline import (dedup_latest, golden_diff, read_results,
                          run_extract, run_extract_df, with_salt_bucket)

N_DOCS = 120


def _golden_pdf(spark, fixture_dir) -> pd.DataFrame:
    return (spark.read.parquet(f"{fixture_dir}/golden.parquet")
            .orderBy("url").toPandas())


def _norm(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.sort_values("url").reset_index(drop=True)
    pdf["authors"] = pdf["authors"].map(
        lambda a: None if a is None else list(a))
    return pdf


def test_extract_df_matches_golden(spark, fixture_dir):
    pages = spark.read.parquet(f"{fixture_dir}/pages.parquet")
    out = run_extract_df(pages, buckets=8)
    got = _norm(out.select("url", "headline", "pubdate", "authors",
                           "extracted_text").toPandas())
    exp = _norm(_golden_pdf(spark, fixture_dir))
    assert len(got) == len(exp) == N_DOCS  # dups removed by window dedup
    for col in ("url", "headline", "extracted_text"):
        assert got[col].tolist() == exp[col].tolist(), col
    assert got["authors"].tolist() == exp["authors"].tolist()
    assert got["pubdate"].tolist() == exp["pubdate"].tolist()


def test_dedup_latest_keeps_latest(spark, fixture_dir):
    pages = spark.read.parquet(f"{fixture_dir}/pages.parquet")
    assert pages.count() > N_DOCS  # dup captures exist
    deduped = dedup_latest(pages)
    assert deduped.count() == N_DOCS
    # the kept capture per duplicated url is the max warc_ts
    dup_urls = (pages.groupBy("url").count().filter("count > 1")
                .select("url"))
    kept = deduped.join(dup_urls, "url").select("url", "warc_ts")
    expected = (pages.join(dup_urls, "url")
                .groupBy("url").agg(F.max("warc_ts").alias("warc_ts")))
    assert kept.exceptAll(expected).count() == 0
    assert expected.exceptAll(kept).count() == 0


def test_salt_bucket_distribution(spark, fixture_dir):
    pages = spark.read.parquet(f"{fixture_dir}/pages.parquet")
    b = with_salt_bucket(pages, 16)
    stats = b.groupBy("salt_bucket").count()
    rows = {r["salt_bucket"]: r["count"] for r in stats.collect()}
    assert all(0 <= k < 16 for k in rows)
    assert len(rows) >= 8  # 120 urls spread over ≥half the buckets


def test_run_extract_end_to_end_with_lineage(spark, fixture_dir, tmp_path):
    dst = str(tmp_path / "results")
    lin = str(tmp_path / "lineage")
    run_extract(spark, f"{fixture_dir}/pages.parquet", dst, lin,
                run_id="r1", buckets=8)

    results = read_results(spark, dst)
    assert results.count() == N_DOCS

    golden = spark.read.parquet(f"{fixture_dir}/golden.parquet")
    diff = golden_diff(results, golden)
    assert diff.count() == 0, diff.limit(5).toPandas()

    lineage = spark.read.parquet(lin)
    lrows = lineage.collect()
    assert sum(r["n_rows"] for r in lrows) == N_DOCS
    n_trunc = len([i for i in range(N_DOCS) if i % 100 == 53])
    assert sum(r["n_failed"] for r in lrows) == n_trunc
    assert {r["run_id"] for r in lrows} == {"r1"}
    # no duplicate bucket commits
    buckets_seen = [(r["salt_bucket"]) for r in lrows]
    assert len(set(buckets_seen)) == len(buckets_seen)


@pytest.mark.parametrize("dedup", ["window", "two-phase"])
def test_resume_is_idempotent(spark, fixture_dir, tmp_path, dedup):
    # both dedup strategies must be reachable from the flagship entry
    # point and give identical resume/idempotence behavior (VERDICT r2 #4)
    dst = str(tmp_path / "results")
    lin = str(tmp_path / "lineage")
    src = f"{fixture_dir}/pages.parquet"
    run_extract(spark, src, dst, lin, run_id="r2", buckets=8, dedup=dedup)
    first = read_results(spark, dst).orderBy("url").toPandas()
    lineage_n = spark.read.parquet(lin).count()

    # second invocation with the same run_id: every bucket committed →
    # nothing re-extracted, outputs unchanged, no duplicate lineage rows
    run_extract(spark, src, dst, lin, run_id="r2", buckets=8, dedup=dedup)
    second = read_results(spark, dst).orderBy("url").toPandas()
    assert len(second) == len(first) == N_DOCS
    assert first["url"].tolist() == second["url"].tolist()
    lineage2 = spark.read.parquet(lin)
    assert lineage2.count() == lineage_n  # empty rollup appended only

    # partial-progress resume: wipe lineage for half the buckets → only
    # those buckets re-extract, final outputs still equal golden
    keep = spark.read.parquet(lin).filter(F.col("salt_bucket") < 4)
    lin2 = str(tmp_path / "lineage2")
    keep.write.parquet(lin2)
    run_extract(spark, src, dst, lin2, run_id="r2", buckets=8, dedup=dedup)
    results = read_results(spark, dst)
    golden = spark.read.parquet(f"{fixture_dir}/golden.parquet")
    assert golden_diff(results, golden).count() == 0
    lin2_rows = spark.read.parquet(lin2).groupBy("salt_bucket").count()
    assert lin2_rows.filter("count > 1").count() == 0


def test_run_extract_crash_before_lineage_commit_recovers(
        spark, fixture_dir, tmp_path, monkeypatch):
    """Write-then-commit: a crash after the results sink is written but
    before the lineage append commits no bucket, so the resumed run
    re-extracts every bucket into the idempotent sink — rows equal a
    clean run's, and each bucket has exactly one lineage row."""
    import mre.pipeline as P

    real_append = P.write_append
    crashed = []

    def append_crashing_once(df, path, *args, **kwargs):
        if not crashed:
            crashed.append(path)
            raise RuntimeError("injected crash before the lineage commit")
        return real_append(df, path, *args, **kwargs)

    monkeypatch.setattr(P, "write_append", append_crashing_once)
    src = f"{fixture_dir}/pages.parquet"
    dst, lin = str(tmp_path / "results"), str(tmp_path / "lineage")
    with pytest.raises(RuntimeError, match="injected crash"):
        run_extract(spark, src, dst, lin, run_id="f1", buckets=8)
    assert crashed == [lin]
    assert read_results(spark, dst).count() == N_DOCS  # sink was written
    assert P.completed_buckets(spark, lin, "f1") is None  # nothing committed

    run_extract(spark, src, dst, lin, run_id="f1", buckets=8)
    clean_dst = str(tmp_path / "clean")
    run_extract(spark, src, clean_dst, str(tmp_path / "clean_lineage"),
                run_id="f1", buckets=8)
    assert golden_diff(read_results(spark, dst),
                       read_results(spark, clean_dst)).count() == 0
    per_bucket = spark.read.parquet(lin).groupBy("salt_bucket").count()
    assert per_bucket.filter("count != 1").count() == 0
    clean_buckets = spark.read.parquet(str(tmp_path / "clean_lineage")) \
        .select("salt_bucket").distinct().count()
    assert per_bucket.count() == clean_buckets


def test_explain_has_pushdown_and_single_shuffle_chain(spark, fixture_dir):
    """Plan shape guard: the filter reaches the parquet scan and the UDF
    stage is MapInArrow (not row-at-a-time python)."""
    pages = spark.read.parquet(f"{fixture_dir}/pages.parquet")
    out = run_extract_df(pages, buckets=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan, plan
    # exactly ONE full-corpus shuffle: salt repartition; the dedup window
    # must reuse that partitioning (no second Exchange)
    assert plan.count("Exchange") == 1, plan
    scan_plan = (pages.filter(F.col("html").isNotNull())
                 .select("url", "warc_ts", "html")
                 ._jdf.queryExecution().executedPlan().toString())
    assert "PushedFilters: [IsNotNull(html)]" in scan_plan \
        or "IsNotNull(html)" in scan_plan


def _subtree(lines, i):
    """Line i of a plan tree string plus every line of its subtree."""
    def depth(line):
        return len(line) - len(line.lstrip(" :+-"))
    end = i + 1
    while end < len(lines) and depth(lines[end]) > depth(lines[i]):
        end += 1
    return lines[i:end]


@pytest.mark.parametrize("dedup", ["window", "two-phase"])
def test_done_buckets_anti_join_before_the_shuffle(spark, fixture_dir,
                                                   dedup):
    """Resume: the completed-bucket frame is broadcast-anti-joined below
    every url shuffle, so completed buckets never shuffle their html, and
    their rows are not extracted."""
    pages = spark.read.parquet(f"{fixture_dir}/pages.parquet")
    done = spark.createDataFrame([(1,), (3,)], "salt_bucket int")
    out = run_extract_df(pages, 8, dedup=dedup, done=done)
    lines = out._jdf.queryExecution().executedPlan().toString().splitlines()
    plan = "\n".join(lines)
    shuffles = [i for i, line in enumerate(lines)
                if "Exchange hashpartitioning(url" in line]
    assert shuffles, plan
    for i in shuffles:
        below = "\n".join(_subtree(lines, i))
        assert "BroadcastHashJoin [salt_bucket" in below, plan
        assert "LeftAnti" in below, plan
    got = {r.salt_bucket for r in out.select("salt_bucket").collect()}
    assert got and not got & {1, 3}, got


def test_jsonl_source_extracts_to_golden(spark, tmp_path):
    """read_pages_jsonl (base64 html over JSONL) feeds the pipeline and
    reproduces the fixture golden byte-for-byte."""
    import base64
    import json

    from mre.fixtures import golden_row, page_row
    from mre.io import read_pages_jsonl

    src = tmp_path / "pages.jsonl"
    ids = list(range(12))
    with open(src, "w") as f:
        for i in ids:
            r = page_row(i)
            f.write(json.dumps({
                "url": r["url"],
                "warc_ts": r["warc_ts"].strftime("%Y-%m-%dT%H:%M:%S"),
                "html_b64": base64.b64encode(r["html"]).decode(),
                "text": r["text"],
                "lang": r["lang"],
            }) + "\n")
    pages = read_pages_jsonl(spark, str(src))
    out = run_extract_df(pages, buckets=4)
    got = {r.url: (r.headline, r.authors)
           for r in out.select("url", "headline", "authors").collect()}
    for i in ids:
        g = golden_row(i)
        assert got[g["url"]][0] == g["headline"]
        assert (list(got[g["url"]][1]) if got[g["url"]][1] else None) \
            == g["authors"]


def test_new_ops_plan_shapes(spark):
    """Plan-shape guards for the round-2 operators: no surprise shuffles,
    filters stay JVM-side, no Python row processing."""
    import __spark_entry__ as em

    sf = "/root/testdata/sf0.001"

    # url_dedup (round-7 norm/uf/robots union): explode + regex
    # normalize + the URL-filter scoring are pure projections — the
    # norm groupBy is the only corpus-keyed Exchange; the robots branch
    # adds its bounded 20-row host distinct plus the robots-table
    # BroadcastExchange (a fourth Exchange string means a corpus-keyed
    # shuffle crept in)
    plan = em.queries()["url_dedup"](spark, sf) \
        ._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 3, plan
    assert plan.count("BroadcastExchange") == 1, plan
    assert "BatchEvalPython" not in plan and "EvalPython" not in plan


def test_round3_ops_plan_shapes(spark):
    """Plan-shape guards for the round-3 operators (VERDICT r3 #3): fail
    if someone reintroduces a corpus re-scan, drops a persist, or breaks
    partial aggregation."""
    import __spark_entry__ as em
    from pyspark.sql import functions as F

    from mre.textops import dup_clusters

    sf = "/root/testdata/sf0.001"

    # lsh_jaccard_verify: the MinHash signature frame and the pruned
    # shingle-set frame are persisted (InMemoryTableScan present) so the
    # corpus transforms run once; candidate restriction is equi-join,
    # never cartesian; no Python row processing
    plan = em.queries()["lsh_jaccard_verify"](spark, sf) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan, plan[:2000]
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    assert "BatchEvalPython" not in plan

    # dup_clusters: the returned labels frame must be localCheckpoint-
    # truncated — its plan is a bare RDD scan projection, NOT the nested
    # per-round join pyramid (removing the checkpoints made Catalyst
    # re-optimization dominate wall time: 27s -> 4s measured in r3)
    pairs = spark.range(1, 50).select(
        F.lit(0).alias("doc_a"), F.col("id").alias("doc_b"))
    out = dup_clusters(pairs)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Scan parquet" not in plan
    assert "Join" not in plan, plan
    assert len(plan.splitlines()) <= 6, plan


def test_read_table_format_dispatch(spark, tmp_path):
    """P1 source dispatch: orc:/csv:/json: prefixed paths read the same
    rows parquet does."""
    from mre.io import read_table

    d = spark.range(0, 50).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v"))
    orc = str(tmp_path / "t_orc")
    d.write.orc(orc)
    got = read_table(spark, f"orc:{orc}")
    assert got.count() == 50
    assert {tuple(r) for r in got.collect()} \
        == {tuple(r) for r in d.collect()}

    csv = str(tmp_path / "t_csv")
    d.write.option("header", "true").csv(csv)
    got = read_table(spark, f"csv:{csv}")
    assert got.count() == 50  # csv types are strings; row count suffices


def test_dedup_first_latest_matches_window_dedup(spark, fixture_dir):
    """Two-phase skew-resilient dedup == window dedup on the fixture
    corpus, and it keeps exactly one row per viral url."""
    from mre.pipeline import dedup_first_latest

    pages = spark.read.parquet(f"{fixture_dir}/pages.parquet")
    a = dedup_latest(pages).select("url", "warc_ts")
    b = dedup_first_latest(pages).select("url", "warc_ts")
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0

    # viral-url skew: 500 captures of one url (including exact-tie ts)
    import datetime as dt
    t0 = dt.datetime(2021, 1, 1)
    rows = [("http://hot.example/x", t0 + dt.timedelta(minutes=m % 100),
             b"<html><p>v</p></html>", None, "en") for m in range(500)]
    from mre.schema import PAGES_SCHEMA
    hot = spark.createDataFrame(rows, PAGES_SCHEMA)
    out = dedup_first_latest(hot)
    assert out.count() == 1
    assert out.first().warc_ts == t0 + dt.timedelta(minutes=99)


def test_read_pages_warc_and_jsonl_dispatch(spark, tmp_path):
    """Every source format is reachable from the ONE read_pages dispatch
    the CLI uses (P1): warc: and jsonl: prefixes included."""
    import base64
    import json as _json

    from mre import fixtures as FX
    from mre.io import read_pages
    from mre.sources.warc import write_warc_gz

    wp = str(tmp_path / "f.warc.gz")
    write_warc_gz(wp, list(range(10)))
    warc_pages = read_pages(spark, "warc:" + wp)
    assert warc_pages.count() == 10
    assert "content_type" in warc_pages.columns

    jp = str(tmp_path / "pages.jsonl")
    with open(jp, "w") as f:
        for i in range(10):
            f.write(_json.dumps({
                "url": FX.url_of(i),
                "warc_ts": FX.warc_ts_of(i).strftime(
                    "%Y-%m-%dT%H:%M:%S.000Z"),
                "html_b64": base64.b64encode(
                    FX.html_bytes_of(i)).decode(),
                "text": None, "lang": "en"}) + "\n")
    jl = read_pages(spark, "jsonl:" + jp)
    assert jl.count() == 10
    assert {r["url"] for r in jl.select("url").collect()} \
        == {FX.url_of(i) for i in range(10)}


def test_round5_ops_plan_shapes(spark):
    """Plan-shape guard for the quality stage's rule pack: gopher_quality
    must stay a zero-Exchange codegen projection over one scan, with no
    Python row processing."""
    from mre.textops import gopher_quality

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

    plan = gopher_quality(docs)._jdf.queryExecution().executedPlan() \
        .toString()
    assert "Exchange" not in plan, plan[:2000]
    assert "BatchEvalPython" not in plan and "Python" not in plan
    assert plan.count("Scan parquet") == 1, plan[:2000]
