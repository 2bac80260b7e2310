"""Benchmark entry point: runs one workload against the engine as shipped.

    python3 perfbench/run.py --workload rt_stream --seed 1 --seconds 10 --trace 0

Run from the repository root. The last line of standard output is one
JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1`` (spans go to ``.bench_work/<workload>/spans.jsonl``). The
line before it describes the environment and the run.

The benchmark only observes the engine: it sets ``SPARK_GRAFT_CPUS`` to
the usable core count and ``SPARK_LOCAL_DIRS`` under ``.bench_work``,
and refuses to run while any other ``SPARK_GRAFT_*`` tuning variable is
set, since that would measure a different program.
"""

import time

PROC_START = time.time()  # the process's start, for setup_s

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("rt_stream", "warehouse_adhoc")

sys.path.insert(0, HERE)

from harness import (  # noqa: E402
    RssSampler, Run, Tracer, check_env, cpu_probe_ms, cpu_ticks, failed_ratio, git_sha, job_counters, loadavg,
    next_job_id, nproc, self_times, tree_cpu_s, versions,
)


class Ctx:
    """What a workload gets: the run record, its arguments, a work
    directory inside the checkout and the memory sampler."""

    def __init__(self, run: Run, seed: int, seconds: int, work: str):
        self.run, self.seed, self.seconds, self.work = run, seed, seconds, work
        self.rss: RssSampler | None = None

    def cpu_s(self) -> float:
        """CPU seconds this run's process tree has used so far."""
        return tree_cpu_s(os.getpid(), self.rss.exclude)


def trace_overhead(run: Run, measured_s: float) -> float:
    """The tracer's cost in percent of the measured time: the spans the
    run recorded times the per-span cost measured here."""
    probe = Tracer(True)
    t = time.perf_counter()
    for _ in range(2000):
        with probe.span("x"):
            pass
    per_span = (time.perf_counter() - t) / 2000
    return 100.0 * per_span * len(run.tracer.spans) / measured_s


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM, which exits once its stdin closes."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main() -> int:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "rt_bigdata_spark", "__init__.py")):
        print(f"no engine package under {ROOT}: run from a checkout of the repository", file=sys.stderr)
        return 2
    leaked = check_env(os.environ)
    if leaked:
        print(f"refusing to run: engine tuning variables set: {', '.join(leaked)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".bench_work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # Python workers import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)

    run = Run(bool(a.trace))
    ctx = Ctx(run, a.seed, a.seconds, work)
    wl = importlib.import_module(a.workload).Workload(ctx)
    if a.trace:
        wl.instrument()
    with RssSampler() as rss:
        ctx.rss = rss
        tg = time.perf_counter()
        load_before, probe_before, ticks_before = loadavg(), cpu_probe_ms(), cpu_ticks()
        wl.make_inputs()
        gen_s = time.perf_counter() - tg  # the benchmark's own work before the set-up

        from rt_bigdata_spark.session import get_spark

        # one cold set-up: process start (less the probe and the input
        # generation) to the first warm result, through Python imports, JVM start and first compiles
        with run.tracer.span("session.start"):
            spark = get_spark("perfbench-" + a.workload)
            spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        with run.tracer.span("session.warmup"):
            wl.setup_once(spark)
        t2 = time.perf_counter()
        setup_s = time.time() - PROC_START - gen_s
        tp = time.perf_counter()
        wl.prepare(spark)
        run.info["prepare_s"] = round(time.perf_counter() - tp, 3)
        first_job = next_job_id(spark) if a.trace else 0
        tm = time.perf_counter()
        wl.measure(spark)
        measured_s = time.perf_counter() - tm
        counters = job_counters(spark, first_job) if a.trace else {}
    run.put("setup_s", setup_s, "s")
    run.info["peak_rss_mb"] = round(rss.peak / 2**20, 1)
    tc = time.perf_counter()
    wl.check(spark)
    run.info["check_s"] = round(time.perf_counter() - tc, 3)

    layers = {}
    if a.trace:
        layers = wl.layers(spark)
        div = wl.counter_divisor
        layers.update({
            "session.start_s": (setup_s - (t2 - t1), "s"),
            "session.warmup_s": (t2 - t1, "s"),
            "sources.input_mb": (counters["input_mb"] / div, "MB"),
            **{f"plans.{k}": (counters[k] / div, u) for k, u in (
                ("jobs", "count"), ("stages", "count"), ("tasks", "count"), ("executor_cpu_s", "s"),
                ("gc_s", "s"), ("shuffle_write_mb", "MB"))},
        })
        run.info["spill_mb"] = counters["spill_mb"] / div
        layers["trace.overhead_pct"] = (trace_overhead(run, measured_s), "%")
        own: dict[str, float] = {}
        self_s = self_times(run.tracer.spans)
        for s in run.tracer.spans:
            own[s["name"]] = own.get(s["name"], 0.0) + self_s[s["id"]] * 1000.0
        run.info["span_self_ms"] = {k: round(v, 1) for k, v in sorted(own.items())}
        run.tracer.dump(os.path.join(work, "spans.jsonl"))
    _stop(spark)

    steal, total = (now - then for now, then in zip(cpu_ticks(), ticks_before))

    info = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "nproc": nproc(), **versions(), "git_sha": git_sha(ROOT),
        "loadavg_before": load_before, "loadavg_after": loadavg(),
        "cpu_probe_ms_before": round(probe_before, 1), "cpu_probe_ms_after": round(cpu_probe_ms(), 1),
        "cpu_steal_pct": round(100.0 * steal / max(1, total), 2),
        "input_fingerprint": wl.fingerprint(), "input_s": round(gen_s, 3), "measured_s": round(measured_s, 3),
        "failed_ratio": failed_ratio(run.failed, run.attempted),
        **run.info,
    }
    if run.errors:
        info["errors"] = run.errors
    print(json.dumps(info))
    chosen = layers if a.trace else run.metrics
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in sorted(chosen.items())},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
