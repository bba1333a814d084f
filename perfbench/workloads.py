"""The benchmark workloads.

Each workload generates its inputs from the seed in ``setup``, warms up
in ``warm_up``, runs one unit of work per ``iteration`` and checks every
output of that unit outside its timed region.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass

from . import inputs as I
from . import layers as L
from .checks import (CheckResult, check_accepted, check_curated,
                     check_extract_rows, curation_expected)


@dataclass
class Unit:
    """One iteration: documents completed, its wall time, the latency
    samples it yields (one per job, or one per micro-batch), and the
    check of its outputs."""
    docs: int
    wall_s: float
    latencies: list[float]
    check: CheckResult
    resume_s: float | None = None


# page files per seed on the extract workloads; jobs take them in turn
WINDOWS = 3
# warm-up of an untraced run, in seconds of whole rounds of jobs
WARM_UP_S = 15.0


def _buckets(spark) -> int:
    """``run_extract``'s own default bucket count (4 x cores)."""
    return max(4 * spark.sparkContext.defaultParallelism, 8)


def _rm(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


class ExtractWorkload:
    """``run_extract_df`` over fixture pages, collected and checked per
    url against ``golden_row``.

    The seed's pages are ``WINDOWS`` files of ``n_docs`` doc_ids each and
    jobs take the files in turn (``cycle`` jobs a round). Where a file's
    large pages fall among the salt buckets sets how long its straggler
    task runs: in ten one-file runs on 4 cores, the four slowest were all
    on files whose largest bucket held three or more large pages. A run
    of whole rounds weighs every file of the seed alike."""

    cycle = WINDOWS

    def __init__(self, name: str, ids_fn, n_docs: int):
        self.name = name
        self.ids_fn = ids_fn
        self.n_docs = n_docs
        self.jobs = 0

    def setup(self, ctx) -> str:
        ids = self.ids_fn(ctx.seed, WINDOWS * self.n_docs)
        self.files, self.goldens = [], []
        for k in range(WINDOWS):
            part = ids[k * self.n_docs:(k + 1) * self.n_docs]
            self.files.append(os.path.join(ctx.work, f"pages{k}.parquet"))
            I.write_pages(part, self.files[-1])
            self.goldens.append(I.golden_by_url(part))
        return I.digest_parquet(*self.files)

    def warm_up(self, ctx) -> CheckResult:
        # whole rounds until ctx.warm_up_s have passed: the first job
        # spawns the Python workers and compiles the plan, and on 4 cores
        # later jobs kept getting faster (the JVM compiling its hot
        # paths); after one 7 s round of small pages, by up to 20% over
        # the next 15 s
        check = CheckResult(0, 0)
        t0 = time.perf_counter()
        while (not self.jobs or self.jobs % self.cycle
               or time.perf_counter() - t0 < ctx.warm_up_s):
            check += self.iteration(ctx).check
        return check

    def iteration(self, ctx) -> Unit:
        from mre.pipeline import run_extract_df
        spark = ctx.spark
        k = self.jobs % WINDOWS
        self.jobs += 1
        t0 = time.perf_counter()
        with ctx.tracer.span("pipeline.run_extract_df"):
            rows = run_extract_df(spark.read.parquet(self.files[k]),
                                  _buckets(spark)).collect()
        wall = time.perf_counter() - t0
        return Unit(len(rows), wall, [wall],
                    check_extract_rows(rows, self.goldens[k]))

    def layer_inputs(self, ctx) -> L.LayerInputs:
        ids = self.ids_fn(ctx.seed, L.SAMPLE_DOCS)
        sample = os.path.join(ctx.work, "sample_pages.parquet")
        I.write_pages(ids, sample)
        return L.LayerInputs(self.files[0], ids, sample,
                             L.sample_ingest(ctx, ctx.seed))


class CorpusWorkload:
    """``run_corpus`` on heavy-tail pages into a fresh workdir, then a
    same-run_id restart. Extraction is checked per url against
    ``golden_row``; curation against the ``curation_pipeline`` oracle
    SQL run in DuckDB over the golden documents."""

    name = "corpus_e2e"
    cycle = 1

    def __init__(self, n_docs: int):
        self.n_docs = n_docs
        self.round = 0

    def setup(self, ctx) -> str:
        self.ids = I.heavytail_ids(ctx.seed, self.n_docs)
        self.pages = os.path.join(ctx.work, "pages.parquet")
        I.write_pages(self.ids, self.pages)
        self.golden = I.golden_by_url(self.ids)
        self.evals = os.path.join(ctx.work, "evals.parquet")
        self.expected_split = curation_expected(
            self.golden, os.path.join(ctx.work, "oracle"), self.evals)
        return I.digest_parquet(self.pages)

    def _run(self, ctx, workdir: str) -> None:
        from mre.curate import run_corpus
        run_corpus(ctx.spark, self.pages, workdir, "bench",
                   evals_src=self.evals)

    def _check(self, ctx, workdir: str) -> CheckResult:
        from mre.curate import read_curated
        from mre.pipeline import read_results
        ex = check_extract_rows(
            read_results(ctx.spark, f"{workdir}/extracted").collect(),
            self.golden)
        cur = check_curated(
            read_curated(ctx.spark, f"{workdir}/curated")
            .select("doc_id", "split").collect(), self.expected_split)
        return ex + cur

    def warm_up(self, ctx) -> CheckResult:
        wd = os.path.join(ctx.work, "warmup")
        self._run(ctx, wd)
        res = self._check(ctx, wd)
        _rm(wd)
        return res

    def iteration(self, ctx) -> Unit:
        self.round += 1
        wd = os.path.join(ctx.work, f"corpus{self.round}")
        t0 = time.perf_counter()
        with ctx.tracer.span("curate.run_corpus"):
            self._run(ctx, wd)
        wall = time.perf_counter() - t0
        t1 = time.perf_counter()
        with ctx.tracer.span("curate.run_corpus_resume"):
            self._run(ctx, wd)
        resume = time.perf_counter() - t1
        check = self._check(ctx, wd)
        return Unit(len(self.golden), wall, [wall], check, resume_s=resume)

    def layer_inputs(self, ctx) -> L.LayerInputs:
        return L.LayerInputs(self.pages, self.ids, self.pages,
                             L.sample_ingest(ctx, ctx.seed))


class IngestWorkload:
    """Streaming ingest dedup: an index over the seeded base half, the
    other half arriving as parquet files, one file per micro-batch,
    ``availableNow`` (closed loop, one micro-batch in flight). Each round
    starts from a fresh copy of the index; the accepted set must equal
    sequential batch ``dedup_increment`` over the same files."""

    name = "ingest_stream"
    cycle = 1

    def __init__(self, n_base: int, n_files: int, per_file: int):
        self.n_base, self.n_files, self.per_file = n_base, n_files, per_file
        self.round = 0

    def setup(self, ctx) -> str:
        from mre.curate import build_dedup_index, dedup_increment
        from mre.textops import release_caches
        spark = ctx.spark
        base, files = I.ingest_documents(ctx.seed, self.n_base,
                                         self.n_files, self.per_file)
        self.base_path = os.path.join(ctx.work, "base.parquet")
        I.write_docs(base, self.base_path)
        self.src = os.path.join(ctx.work, "incoming")
        os.makedirs(self.src)
        t = time.time() - 3600
        self.files = []
        for k, docs in enumerate(files):
            p = os.path.join(self.src, f"part-{k:04d}.parquet")
            I.write_docs(docs, p, mtime=t + k)
            self.files.append(p)
        self.n_new = sum(len(d) for d in files)
        self.index = os.path.join(ctx.work, "index")
        build_dedup_index(spark, spark.read.parquet(self.base_path),
                          self.index)
        # expected accepted set: sequential batch dedup_increment, one
        # file at a time, on its own copy of the index
        idx = os.path.join(ctx.work, "index_expected")
        shutil.copytree(self.index, idx)
        self.expected: set[int] = set()
        for p in self.files:
            surv = dedup_increment(spark, spark.read.parquet(p), idx,
                                   update_index=True)
            self.expected |= {r["doc_id"] for r in
                              surv.select("doc_id").collect()}
            release_caches()
        _rm(idx)
        return I.digest_parquet(self.base_path, *self.files)

    def _stream(self, ctx, src: str, tag: str):
        from mre.streaming import start_ingest_stream
        q = start_ingest_stream(
            ctx.spark, src, f"{ctx.work}/{tag}/index",
            f"{ctx.work}/{tag}/accepted", f"{ctx.work}/{tag}/ckpt",
            available_now=True, max_files_per_trigger=1)
        q.awaitTermination()
        return q

    def _fresh(self, ctx, tag: str) -> None:
        _rm(f"{ctx.work}/{tag}")
        shutil.copytree(self.index, f"{ctx.work}/{tag}/index")

    def warm_up(self, ctx) -> CheckResult:
        # one file through the whole stream path; the expected-set pass
        # above already warmed dedup_increment and the index update
        src = os.path.join(ctx.work, "warm_src")
        os.makedirs(src)
        shutil.copy(self.files[0], src)
        self._fresh(ctx, "warm")
        self._stream(ctx, src, "warm")
        _rm(f"{ctx.work}/warm")
        return CheckResult(0, 0)

    def iteration(self, ctx) -> Unit:
        self.round += 1
        tag = f"round{self.round}"
        if self.round > 1:
            _rm(f"{ctx.work}/round{self.round - 1}")
        self._fresh(ctx, tag)
        t0 = time.perf_counter()
        with ctx.tracer.span("streaming.ingest_stream"):
            q = self._stream(ctx, self.src, tag)
        wall = time.perf_counter() - t0
        prog = [p for p in q.recentProgress if p["numInputRows"] > 0]
        lat = [p["durationMs"]["triggerExecution"] / 1000 for p in prog]
        accepted = [r["doc_id"] for r in ctx.spark.read.parquet(
            f"{ctx.work}/{tag}/accepted").select("doc_id").collect()]
        return Unit(sum(p["numInputRows"] for p in prog), wall, lat,
                    check_accepted(accepted, self.expected, self.n_new))

    def layer_inputs(self, ctx) -> L.LayerInputs:
        pages, ids = L.sample_pages(ctx, ctx.seed)
        return L.LayerInputs(pages, ids, pages,
                             {"index": self.index, "files": self.files[:1]})


def make(name: str):
    """The workload named ``name``, sized for a 4-core box (run times in
    README.md)."""
    if name == "extract_heavytail":
        return ExtractWorkload(name, I.heavytail_ids, 1200)
    if name == "extract_small":
        return ExtractWorkload(name, I.small_ids, 1500)
    if name == "corpus_e2e":
        return CorpusWorkload(300)
    if name == "ingest_stream":
        return IngestWorkload(n_base=1000, n_files=4, per_file=40)
    raise ValueError(f"unknown workload {name!r}")
