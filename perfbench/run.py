"""The repository benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload extract_small --seed 1 \\
        --seconds 10 --trace 0

Run from the root of a checkout. It builds nothing: the program is the
``mre`` package in that checkout. The last line of standard output is the
result; the line before it is a report with the environment record, the
input digest and every metric, and the same report is kept under
``.perfbench/results/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
from statistics import median

ROOT = os.getcwd()
STATE = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("extract_heavytail", "extract_small", "corpus_e2e",
             "ingest_stream")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def driver_mem() -> str:
    """A quarter of physical memory, at most 4g: the program's 16g
    default does not fit a 15 GB box next to the Python workers."""
    gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / (1 << 30)
    return f"{max(1, min(4, int(gib // 4)))}g"


def prepare_env(work: str) -> None:
    """Keep Spark's, the JVM's and Python's scratch files inside the
    checkout, and let Python workers import the checkout's ``mre``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get(
        "PYTHONPATH", "")
    os.environ.setdefault("MRE_DRIVER_MEM", driver_mem())
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.sql.warehouse.dir={work}/warehouse",
        f"--conf spark.driver.extraJavaOptions="
        f"-Djava.io.tmpdir={tmp}\\ -XX:-UsePerfData",
        "pyspark-shell"])


class Context:
    def __init__(self, spark, work, seed, tracer, warm_up_s):
        self.spark, self.work, self.seed, self.tracer = (spark, work, seed,
                                                         tracer)
        self.warm_up_s = warm_up_s


def stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait for the JVM to end; its
    Python daemon and workers exit when the JVM's pipe closes."""
    from pyspark import SparkContext
    proc = SparkContext._gateway.proc if SparkContext._gateway else None
    spark.stop()
    if proc is not None:
        SparkContext._gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def become_subreaper() -> None:
    """Make every process orphaned below this one (Spark's launcher
    shell, the Python workers once their daemon exits) a child of this
    one, so that ``reap_children`` waits for it too."""
    import ctypes
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(36, 1, 0, 0, 0) != 0:   # PR_SET_CHILD_SUBREAPER
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def reap_children(timeout: float = 60.0) -> None:
    """Wait until every process below this one has ended and been
    reaped; kill whatever is still running after ``timeout`` seconds."""
    from perfbench.tracing import descendants
    deadline = time.monotonic() + timeout
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            for p in descendants(os.getpid()):
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = float("inf")
        time.sleep(0.05)


def docs_per_s(units) -> float:
    """Documents completed per second of job wall time over ``units``."""
    return sum(u.docs for u in units) / sum(u.wall_s for u in units)


def run(args) -> tuple[dict, dict]:
    from perfbench import layers as L
    from perfbench import workloads
    from perfbench.checks import CheckResult
    from perfbench.tracing import (EnvRecord, RssSampler, Tracer, _cpu_stat,
                                   tree_cpu_s)

    work = os.path.join(STATE, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work)
    env = EnvRecord(os.environ["MRE_DRIVER_MEM"])
    tracer = Tracer(enabled=False)
    wl = workloads.make(args.workload)
    check = CheckResult(0, 0)
    failed_units = 0

    t_setup = time.perf_counter()
    from mre.io import get_spark
    ncpu = os.cpu_count() or 1
    spark = get_spark(app=f"perfbench-{args.workload}",
                      master=f"local[{ncpu}]")
    try:
        # a traced run reports no setup_s and alternates jobs with and
        # without spans, so one round of warm-up does; it keeps the
        # traced run well inside three minutes
        ctx = Context(spark, work, args.seed, tracer,
                      0.0 if args.trace else workloads.WARM_UP_S)
        digest = wl.setup(ctx)
        t_warm = time.perf_counter()
        check += wl.warm_up(ctx)
        setup_s = time.perf_counter() - t_setup
        warm_up_s = time.perf_counter() - t_warm

        units, peaks, traced, plain = [], [], [], []
        steal, cpu = [], []
        jvm = spark.sparkContext._gateway.proc.pid
        first_stage = L.max_stage_id(spark)
        t0 = time.perf_counter()
        with RssSampler(jvm) as rss:
            # whole rounds of the workload's inputs. A traced run stops
            # after two, the per-layer calls after the loop taking over a
            # minute; jobs alternate with and without spans for the
            # tracing overhead, so with three files each file runs once
            # each way
            while (len(units) < 2 * max(wl.cycle, 2) if args.trace else
                   not units or len(units) % wl.cycle
                   or time.perf_counter() - t0 < args.seconds):
                tracer.enabled = bool(args.trace) and len(units) % 2 == 0
                tracer.new_trace(f"{args.workload}-{len(units)}")
                st0, cpu0 = _cpu_stat(), tree_cpu_s(jvm)
                try:
                    u = wl.iteration(ctx)
                except Exception as e:   # a failed unit fails its rows
                    print(f"unit failed: {e!r}", file=sys.stderr)
                    failed_units += 1
                    check += CheckResult(1, 1)
                    if failed_units > 2:
                        raise
                    continue
                units.append(u)
                peaks.append(rss.lap())
                st1 = _cpu_stat()
                steal.append((st1[0] - st0[0]) / max(st1[1] - st0[1], 1))
                cpu.append(tree_cpu_s(jvm) - cpu0)
                check += u.check
                (traced if tracer.enabled else plain).append(u)
        loop_wall = time.perf_counter() - t0
        tracer.enabled = bool(args.trace)
        e2e_stages = L.spark_stages(spark, first_stage)

        resumes = [u.resume_s for u in units if u.resume_s is not None]
        latencies = [x for u in units for x in u.latencies]
        e2e = {
            "docs_per_s": docs_per_s(units),
            "setup_s": setup_s,
            "peak_rss_mb": median([w for _, w in peaks]) / (1 << 20),
        }
        # one sample per job, or per micro-batch on ingest_stream; too
        # few per run for any percentile above the median
        report = {"workload": args.workload, "seed": args.seed,
                  "trace": args.trace, "input_digest": digest,
                  "units": len(units), "warm_up_s": warm_up_s,
                  "unit_docs_per_s": [u.docs / u.wall_s for u in units],
                  "unit_steal_frac": steal, "unit_cpu_s": cpu,
                  "unit_wall_s": [u.wall_s for u in units],
                  "unit_peak_rss_mb": [w / (1 << 20) for _, w in peaks],
                  "jvm_peak_rss_mb": median([j for j, _ in peaks]) / (1 << 20),
                  "unit_jvm_peak_rss_mb": [j / (1 << 20) for j, _ in peaks],
                  "epoch_latency_p50_s": median(latencies),
                  "latency_samples": len(latencies),
                  "error_rate": check.failed / max(check.attempted, 1)}
        if resumes:
            report["resume_s"] = median(resumes)
        per_layer = {}
        if args.trace:
            per_layer, sanity = traced_layers(ctx, wl, e2e_stages, loop_wall)
            per_layer["trace.overhead_frac"] = (
                (docs_per_s(plain) - docs_per_s(traced)) / docs_per_s(plain))
            report["sanity"] = sanity
            os.makedirs(f"{STATE}/results", exist_ok=True)
            spans = (f"{STATE}/results/spans-{args.workload}"
                     f"-seed{args.seed}.jsonl")
            tracer.write(spans)
            report["span_file"] = os.path.relpath(spans, ROOT)
            report["layer_self_s"] = tracer.layer_self_times()
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    report["env"] = env.finish()
    report["metrics"] = dict(e2e, **per_layer)
    result = {"correct": check.failed == 0 and failed_units == 0,
              "attempted": check.attempted, "failed": check.failed,
              "metrics": per_layer if args.trace else e2e}
    return report, result


def traced_layers(ctx, wl, e2e_stages, loop_wall) -> tuple[dict, dict]:
    from perfbench import layers as L
    li = wl.layer_inputs(ctx)
    m = {}
    m.update(L.spark_layer(ctx.spark, e2e_stages, loop_wall))
    core, sanity = L.core_layer(ctx.tracer, li.core_ids)
    m.update(core)
    wd = os.path.join(ctx.work, "layer_corpus")
    m.update(L.curate_layer(ctx, li, wd))
    m.update(L.io_layer(li.corpus_pages, wd))
    m.update(L.pipeline_layer(ctx, li, core["core.extract.ms_per_doc"],
                              f"{wd}/lineage/extract"))
    m.update(L.streaming_layer(ctx, li))
    return m, sanity


UNITS = {
    "docs_per_s": "1/s",
    "setup_s": "s", "peak_rss_mb": "MB",
    "core.htmlparse.mb_per_s": "MB/s", "core.extract.ok_ratio": "ratio",
    "pipeline.arrow_ms_per_doc": "ms", "pipeline.dedup_kept_ratio": "ratio",
    "spark.task_skew": "ratio", "spark.core_busy_ratio": "ratio",
    "io.files_written": "count", "curate.keep_ratio": "ratio",
    "textops.minhash_candidates": "count",
    "textops.minhash_confirm_ratio": "ratio",
    "streaming.accept_ratio": "ratio", "curate.index_files": "count",
    "trace.overhead_frac": "ratio",
}


def unit_of(name: str) -> str:
    if name in UNITS:
        return UNITS[name]
    if name.endswith("ms_per_doc"):
        return "ms"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_s"):
        return "s"
    raise KeyError(name)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "mre", "__init__.py")):
        print("perfbench: run from the root of a checkout that holds the "
              "mre package", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    become_subreaper()
    try:
        report, result = run(args)
    finally:
        reap_children()
    result["metrics"] = {k: {"value": v, "unit": unit_of(k)}
                         for k, v in result["metrics"].items()}
    os.makedirs(f"{STATE}/results", exist_ok=True)
    path = (f"{STATE}/results/{args.workload}-seed{args.seed}"
            f"-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(dict(report, result=result), f, indent=1, default=str)
    print(json.dumps(report, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
