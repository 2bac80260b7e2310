"""Shared pieces of the benchmark: the metric math, the span tracer,
the environment guard and fingerprint, the memory sampler and the
Spark-side counters. Nothing here imports Spark at module level, so the
self-tests (``test_metrics.py``) run without it.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import subprocess
import threading
import time
import urllib.request
from contextlib import contextmanager

# ---------------------------------------------------------------------------
# Metric math


def _rank(n: int, q: float) -> int:
    """1-based nearest rank of quantile ``q`` among ``n`` samples (the
    epsilon keeps 0.9 * 100 at rank 90, not 91)."""
    return max(1, math.ceil(q * n - 1e-9))


def quantile(samples, q: float) -> float:
    """Nearest-rank quantile, ``q`` in [0, 1]."""
    if not samples:
        raise ValueError("quantile of no samples")
    s = sorted(samples)
    return s[_rank(len(s), q) - 1]


def tail_quantile(samples, q: float) -> float:
    """``quantile(samples, q)``, refused unless at least ten samples lie
    beyond it: a tail figure from fewer is one sample's noise."""
    if len(samples) - _rank(len(samples), q) < 10:
        raise ValueError(f"{len(samples)} samples are too few for the {q:g} quantile")
    return quantile(samples, q)


def failed_ratio(failed: int, attempted: int) -> float:
    """Failed operations over attempted ones. Every operation the
    benchmark started counts in the denominator, failed or not."""
    if attempted < 1:
        raise ValueError("no operation attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, attempted={attempted}]")
    return failed / attempted


def file_commits(batch_files: dict[int, list[str]], commits: dict[int, float]) -> dict[str, float]:
    """Input file → wall time the batch that read it committed.
    ``batch_files``: batch id → files the batch read; ``commits``: batch
    id → commit time. Batches without a commit time are left out."""
    return {f: commits[b] for b, names in batch_files.items() if b in commits for f in names}


def event_latencies(manifest: list[dict], committed: dict[str, float], wall0: float, t0_ms: int) -> list[float]:
    """Per-event latency in ms: the commit time of the event's file minus
    the wall time the event was created.

    ``manifest``: rows ``{"file", "ct"}``, ``ct`` the events' creation
    stamps in ms on the synthetic clock that reads ``t0_ms`` at wall time
    ``wall0``. Events of files that no batch committed are left out."""
    out = []
    for row in manifest:
        c = committed.get(row["file"])
        if c is not None:
            out.extend((c - wall0) * 1000.0 - (ct - t0_ms) for ct in row["ct"])
    return out


def lag_samples(created: list[tuple[float, int]], committed: list[list[tuple[float, int]]],
                start: float, end: float, step: float) -> list[float]:
    """Lag in ms at each of ``start, start+step, … ≤ end``: the newest
    creation stamp written by then minus the newest stamp the slowest
    consumer had committed by then. ``created`` and each consumer's
    ``committed`` list hold (wall time, creation stamp) pairs. Instants
    before anything was written are skipped."""
    out = []
    t = start
    while t <= end:
        newest = max((c for w, c in created if w <= t), default=None)
        if newest is not None:
            done = [max((c for w, c in rows if w <= t), default=None) for rows in committed]
            slowest = min((d for d in done if d is not None), default=None) if None not in done else None
            out.append(float(newest - slowest) if slowest is not None else float("inf"))
        t += step
    return out


# ---------------------------------------------------------------------------
# Tracing


class Tracer:
    """In-memory spans around the benchmark's calls into the engine's
    modules. Disabled tracers record nothing and cost one branch."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next_id = 0

    @contextmanager
    def span(self, name: str, trace: str = "run"):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            self._next_id += 1
            sid = self._next_id
        rec = {"id": sid, "name": name, "trace": trace, "parent": stack[-1] if stack else None,
               "start": time.perf_counter(), "end": None}
        stack.append(sid)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def durations_ms(self, name: str) -> list[float]:
        return [(s["end"] - s["start"]) * 1000.0 for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id → self time in seconds: the span's duration minus the part
    of its interval covered by its direct children (overlapping children
    are merged, so concurrent children are not subtracted twice)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(children.get(s["id"], [])):
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


# ---------------------------------------------------------------------------
# Environment


# Tuning variables the engine reads; only the core count may be set.
ALLOWED_ENGINE_VARS = {"SPARK_GRAFT_CPUS"}


def check_env(environ) -> list[str]:
    """Names of engine tuning variables that would change the program
    under test. The benchmark refuses to run while any is set."""
    return sorted(k for k in environ if k.startswith("SPARK_GRAFT_") and k not in ALLOWED_ENGINE_VARS)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine so far, from /proc/stat:
    steal is time the hypervisor gave this machine's CPUs to others."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def cpu_probe_ms() -> float:
    """Wall time of a fixed single-threaded Python loop: recorded before
    and after each run, it shows when the machine itself ran slower."""
    t = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i & 7
    return (time.perf_counter() - t) * 1000.0


def git_sha(root: str) -> str:
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def versions() -> dict:
    import pandas
    import pyarrow
    import pyspark

    return {"spark": pyspark.__version__, "pyarrow": pyarrow.__version__, "pandas": pandas.__version__}


def fingerprint(paths: list[str]) -> str:
    """sha256 over the names and bytes of ``paths`` in the given order."""
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.basename(p).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


# ---------------------------------------------------------------------------
# Memory


def _proc_table() -> dict[int, tuple[int, int, int]]:
    """pid → (ppid, rss bytes, CPU ticks) for every readable process."""
    page = os.sysconf("SC_PAGE_SIZE")
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                st = f.read()
        except OSError:
            continue
        fields = st[st.rfind(")") + 2 :].split()
        out[int(d)] = (int(fields[1]), int(fields[21]) * page, int(fields[11]) + int(fields[12]))
    return out


def _tree(root_pid: int, exclude: set[int]) -> dict[int, tuple[int, int, int]]:
    """``_proc_table`` rows of ``root_pid`` and its descendants (the
    driver, its JVM and the JVM's Python workers), leaving out
    ``exclude`` subtrees."""
    table = _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, row in table.items():
        kids.setdefault(row[0], []).append(pid)
    out, todo = {}, [root_pid]
    while todo:
        pid = todo.pop()
        if pid in exclude or pid not in table:
            continue
        out[pid] = table[pid]
        todo.extend(kids.get(pid, []))
    return out


def tree_rss(root_pid: int, exclude: set[int] = frozenset()) -> int:
    """Summed RSS of the process tree."""
    return sum(row[1] for row in _tree(root_pid, exclude).values())


def tree_cpu_s(root_pid: int, exclude: set[int] = frozenset()) -> float:
    """CPU seconds the live processes of the tree have used. (Reaped
    children are left out: their whole lifetime would land at the moment
    they exit.) Time the hypervisor stole from the machine is not in
    it, so it moves less than wall time on a shared machine."""
    return sum(r[2] for r in _tree(root_pid, exclude).values()) / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Samples the process tree's RSS on a thread and keeps the peak."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.exclude: set[int] = set()
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self):
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss(me, self.exclude))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss(os.getpid(), self.exclude))


# ---------------------------------------------------------------------------
# Spark's own counters (traced runs)


def _rest(spark, path: str) -> list:
    url = spark.sparkContext.uiWebUrl
    if not url:
        return []
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(f"{url}/api/v1/applications/{app}/{path}", timeout=30) as r:
        return json.loads(r.read())


def next_job_id(spark) -> int:
    """The id the next Spark job of this application will get."""
    return max((j["jobId"] for j in _rest(spark, "jobs")), default=-1) + 1


def job_counters(spark, first_job: int) -> dict:
    """Job/stage/task counts, executor CPU, GC, input, shuffle-write and
    spill of the jobs from ``first_job`` on, from Spark's status REST API
    (the UI the session serves on localhost). Only the jobs and stages
    the UI still retains are counted."""
    jobs = [j for j in _rest(spark, "jobs") if j["jobId"] >= first_job]
    stage_ids = {s for j in jobs for s in j.get("stageIds", [])}
    out = {"jobs": len(jobs), "stages": 0, "tasks": 0, "executor_cpu_s": 0.0, "gc_s": 0.0,
           "input_mb": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0}
    for st in _rest(spark, "stages"):
        if st["stageId"] not in stage_ids or st.get("status") not in ("COMPLETE", "FAILED"):
            continue
        out["stages"] += 1
        out["tasks"] += st.get("numCompleteTasks", 0) + st.get("numFailedTasks", 0)
        out["executor_cpu_s"] += st.get("executorCpuTime", 0) / 1e9
        out["gc_s"] += st.get("jvmGcTime", 0) / 1e3
        out["input_mb"] += st.get("inputBytes", 0) / 2**20
        out["shuffle_write_mb"] += st.get("shuffleWriteBytes", 0) / 2**20
        out["spill_mb"] += (st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0)) / 2**20
    return out


# ---------------------------------------------------------------------------
# Result


class Run:
    """Counts operations and holds the metrics of one benchmark run."""

    def __init__(self, trace: bool):
        self.tracer = Tracer(trace)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.metrics: dict[str, tuple[float, str]] = {}
        self.info: dict = {}

    def op(self, ok: bool, what: str = "") -> None:
        """Count one operation; a failure is an exception, a timeout or a
        wrong result."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(what)

    def put(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)
