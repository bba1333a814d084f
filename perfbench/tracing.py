"""Spans, counters and host sampling for the benchmark.

Spans are recorded only from the benchmark's own files, around calls into
the program's public functions; nothing inside ``mre`` is instrumented.
A span's layer is the part of its name before the first dot.
"""

from __future__ import annotations

import contextlib
import json
import os
import platform
import subprocess
import threading
import time


class Tracer:
    """In-memory spans (name, start, end, parent, trace id).

    Disabled, ``span`` costs one attribute test, so the same code path
    runs with tracing on and off."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.trace_id = "setup"
        self._stack: list[int] = []

    def new_trace(self, trace_id: str) -> None:
        self.trace_id = trace_id

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "trace_id": self.trace_id, "start": time.perf_counter(),
               "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the time its child spans cover.
        Children of one span run one after another (one thread), so the
        covered part is the sum of their durations."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            own = s["end"] - s["start"] - child[s["id"]]
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def layer_self_times(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for name, sec in self.self_times().items():
            layer = name.split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + sec
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# --------------------------------------------------------------------------
# process memory


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields after ')' are fixed
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _rss(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0   # exited between the listing and the read


def tree_cpu_s(root: int) -> float:
    """User plus system CPU seconds of ``root`` and its descendants."""
    ticks = 0
    for pid in [root] + descendants(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += int(fields[11]) + int(fields[12])   # utime, stime
    return ticks / os.sysconf("SC_CLK_TCK")


def descendants(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


class RssSampler:
    """Peak RSS of the JVM and, separately, the peak summed RSS of every
    process under it (the Python daemon and workers), sampled from /proc
    every ``interval`` seconds while started; ``lap`` returns both peaks
    since the previous lap. The process list is refreshed once a second
    (workers are reused across tasks), so a sample reads a few files."""

    def __init__(self, root_pid: int, interval: float = 0.05):
        self.root_pid = root_pid
        self.interval = interval
        self.peak = (0, 0)
        self._kids: list[int] = []
        self._listed = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self) -> None:
        now = time.monotonic()
        if now - self._listed > 1.0:
            self._kids, self._listed = descendants(self.root_pid), now
        root = _rss(self.root_pid)
        kids = sum(_rss(p) for p in self._kids)
        with self._lock:
            self.peak = (max(self.peak[0], root), max(self.peak[1], kids))

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def lap(self) -> tuple[int, int]:
        self._listed = 0.0   # a new job may have forked a worker
        self._sample()
        with self._lock:
            peak, self.peak = self.peak, (0, 0)
        return peak

    def __enter__(self):
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


# --------------------------------------------------------------------------
# environment record


def _cpu_stat() -> tuple[int, int]:
    """(steal jiffies, total jiffies) from the aggregate /proc/stat line."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7], sum(vals)


class EnvRecord:
    """nproc, load average and hypervisor steal over the run, versions,
    commit and driver memory: enough to spot a contended window from the
    result file alone."""

    def __init__(self, driver_mem: str):
        self.driver_mem = driver_mem
        self.load_before = os.getloadavg()
        self.stat0 = _cpu_stat()

    def finish(self) -> dict:
        import pyarrow
        import pyspark
        s1, t1 = _cpu_stat()
        steal = 100.0 * (s1 - self.stat0[0]) / max(t1 - self.stat0[1], 1)
        return {
            "nproc": os.cpu_count(),
            "loadavg_before": list(self.load_before),
            "loadavg_after": list(os.getloadavg()),
            "steal_pct": steal,
            "git_commit": _git_commit(),
            "python": platform.python_version(),
            "spark": pyspark.__version__,
            "pyarrow": pyarrow.__version__,
            "MRE_DRIVER_MEM": self.driver_mem,
        }


def _git_commit() -> str | None:
    """HEAD of the checkout, or None where it is not a git repository."""
    if not os.path.isdir(".git"):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], check=True,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return None
