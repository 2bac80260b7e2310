"""``rt_stream``: the reference's layered real-time DAG on a file stream.

ODS page-log JSON lines (written by ``gen_ods.py`` in its own process)
→ DWD split (``apps.ods_base_log_app``) → DWM keyed state
(``streaming.stateful`` through ``apps.unique_visit_app``) and DWS 10 s
keyword windows (``apps.keyword_stats_app``) →
``streaming.sinks.foreach_batch_upsert``. Each sink is one streaming
query over the ODS directory. (The bounce query, ``detect_bounces``,
is left out: beside these two its micro-batches take about 20 s on
4 cores, too long for a run to see several of them.)

An untimed warm-up drains a one-file backlog with ``availableNow``.
Then, for ``--seconds``, every query runs on the default trigger while
the generator writes ``RATE`` events/s (an open loop) and one
closed-loop dashboard reader calls ``read_upserted`` on the DWS keyword
table. The queries then drain, and every sink is compared with the
batch builders run over the same ODS files.

The live phase is dominated by the per-batch fixed cost: on 4 cores a
micro-batch takes 7-10 s whether it holds 500 events or 10,000. A
catch-up phase over a large backlog, which would weigh the per-row
cost, does not fit the run's time budget at that speed.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import subprocess
import sys
import threading
import time

import gen_ods
from harness import event_latencies, file_commits, fingerprint, lag_samples, quantile, tail_quantile

BACKLOG = 500  # one file: the warm-up batch
RATE = 1000
DWS_WINDOW = "10 seconds"
KW_KEYS = ["stt", "edt", "keyword"]
QUERIES = ("dwm_uv", "dws_keyword")
SINK_KEYS = {
    "dwm_uv": (["mid", "dt"], "ts"),
    "dws_keyword": (KW_KEYS, "ct"),
}


def _wall(iso: str) -> float:
    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _progress(q) -> list[dict]:
    return [json.loads(p.json) for p in q.recentProgress]


def _live(progress: list[dict]) -> list[dict]:
    """Progress records of batches that read input."""
    return [p for p in progress if p["numInputRows"] > 0]


class Dag:
    """The streaming DAG: directories, queries built through the apps
    builders, and sinks."""

    def __init__(self, spark, work: str, ods: str, tracer):
        self.spark, self.tracer, self.ods = spark, tracer, ods
        self.out = {n: os.path.join(work, "sink", n) for n in QUERIES}
        self.chk = {n: os.path.join(work, "chk", n) for n in QUERIES}
        with tracer.span("apps.build"):
            self.frames = self._build()

    def _page(self):
        from rt_bigdata_spark import apps

        return apps.ods_base_log_app(self.spark.readStream.format("text").load(self.ods))["page"]

    def _build(self) -> dict:
        from rt_bigdata_spark import apps

        return {
            "dwm_uv": apps.unique_visit_app(self._page()),
            "dws_keyword": apps.keyword_stats_app(self._page(), window=DWS_WINDOW),
        }

    def _sink(self, name: str):
        from rt_bigdata_spark.streaming.sinks import foreach_batch_upsert

        keys, ver = SINK_KEYS[name]
        fn = foreach_batch_upsert(self.out[name], keys, version_col=ver)
        tracer = self.tracer

        def timed(df, batch_id):
            with tracer.span("sinks.write", trace=name):
                fn(df, batch_id)

        return timed

    def start(self, name: str, available_now: bool):
        w = (
            self.frames[name].writeStream.queryName(name)
            .outputMode("update" if name.startswith("dws") else "append")
            .option("checkpointLocation", self.chk[name])
            .foreachBatch(self._sink(name))
        )
        if available_now:
            w = w.trigger(availableNow=True)
        return w.start()

    def ods_file_offsets(self, name: str) -> dict[str, int]:
        """ODS file name → file-source log offset that added it, from the
        query's checkpoint."""
        out = {}
        root = os.path.join(self.chk[name], "sources")
        for src in os.listdir(root):
            for fn in os.listdir(os.path.join(root, src)):
                if fn.startswith("."):
                    continue
                with open(os.path.join(root, src, fn)) as f:
                    for line in f:
                        if line.startswith("{"):
                            e = json.loads(line)
                            out[os.path.basename(e["path"])] = e["batchId"]
        return out

    def batches(self, name: str, progress: list[dict]) -> tuple[dict[int, list[str]], dict[int, float]]:
        """(batch id → ODS files the batch read, batch id → wall time the
        batch committed), joined through the source's log offsets."""
        by_off: dict[int, list[str]] = {}
        for f, off in self.ods_file_offsets(name).items():
            by_off.setdefault(off, []).append(f)
        files, commits = {}, {}
        for p in progress:
            s = p["sources"][0]
            lo = int((s.get("startOffset") or {}).get("logOffset", -1))
            hi = int((s.get("endOffset") or {}).get("logOffset", -1))
            files[p["batchId"]] = [f for off in range(lo + 1, hi + 1) for f in by_off.get(off, [])]
            commits[p["batchId"]] = _wall(p["timestamp"]) + p["durationMs"].get("triggerExecution", 0) / 1000.0
        return files, commits


def reference_frames(spark, ods: str) -> dict:
    """The batch builders over ODS files. No streaming query holds a
    watermark, so late events count everywhere, as in the batch."""
    from rt_bigdata_spark import apps

    page = apps.ods_base_log_app(spark.read.text(ods))["page"]
    return {
        "page": page,
        "uv": apps.unique_visit_app(page, streaming=False),
        "kw": apps.keyword_stats_app(page, window=DWS_WINDOW),
    }


def _rows(df, cols) -> set:
    return {tuple(r[c] for c in cols) for r in df.select(*cols).collect()}


class Workload:
    counter_divisor = 1  # Spark's counters are reported for the whole measured run

    def __init__(self, ctx):
        self.ctx, self.run = ctx, ctx.run
        self.t0 = gen_ods.t0_ms(ctx.seed)
        self.work = ctx.work
        self.ods = os.path.join(self.work, "ods")
        self.gen_args = ["--seed", str(ctx.seed), "--backlog", str(BACKLOG), "--rate", str(RATE),
                         "--seconds", str(ctx.seconds), "--out", self.ods]

    # -- inputs -------------------------------------------------------------

    def fingerprint(self) -> str:
        return fingerprint([os.path.join(self.ods, f) for f in sorted(os.listdir(self.ods)) if f.endswith(".json")])

    def make_inputs(self) -> None:
        p = _gen(["--phase", "backlog", "--manifest", os.path.join(self.work, "backlog.jsonl"), *self.gen_args])
        if p.wait(timeout=120) != 0:
            raise RuntimeError("generator failed writing the backlog")

    def setup_once(self, spark) -> None:
        """Build the DAG and get the first warm result: the batch
        builders over the backlog file."""
        Dag(spark, os.path.join(self.work, "probe"), self.ods, self.run.tracer)
        reference_frames(spark, os.path.join(self.ods, "b000000.json"))["uv"].count()

    def instrument(self) -> None:
        """Spans come from the DAG's own wrappers; nothing to patch."""

    # -- measurement -------------------------------------------------------

    def prepare(self, spark) -> None:
        """Untimed warm-up: every query drains the one-file backlog with
        ``availableNow``, so the first live batch runs compiled code."""
        run = self.run
        self.dag = Dag(spark, os.path.join(self.work, "dag"), self.ods, run.tracer)
        self.backlog = _read_manifest(os.path.join(self.work, "backlog.jsonl"))
        qs = {n: self.dag.start(n, available_now=True) for n in QUERIES}
        for q in qs.values():
            q.awaitTermination()
        self.progress = {n: _progress(q) for n, q in qs.items()}
        for n, q in qs.items():
            run.op(q.exception() is None, f"warm-up {n}: {q.exception()}")

    def measure(self, spark) -> None:
        run, tr, dag, progress = self.run, self.run.tracer, self.dag, self.progress
        warm = {n: len(progress[n]) for n in QUERIES}
        seconds = self.ctx.seconds
        wall0 = time.time() + 1.0
        live_manifest = os.path.join(self.work, "live.jsonl")
        gen = _gen(["--phase", "live", "--manifest", live_manifest, "--start", repr(wall0), *self.gen_args])
        self.ctx.rss.exclude.add(gen.pid)
        qs = {n: dag.start(n, available_now=False) for n in QUERIES}
        cpu0 = self.ctx.cpu_s()
        reads: list[float] = []
        stop = threading.Event()

        def dashboard():
            from rt_bigdata_spark.streaming.sinks import read_upserted

            while not stop.is_set():
                t = time.perf_counter()
                try:
                    with tr.span("sinks.read_upserted"):
                        read_upserted(spark, dag.out["dws_keyword"], *SINK_KEYS["dws_keyword"]).collect()
                    ok = True
                except Exception as e:  # a failed read is a counted failure, the run goes on
                    ok = False
                    run.errors.append(f"dashboard read: {e!r}"[:300])
                reads.append(time.perf_counter() - t)
                run.op(ok, "dashboard read")

        reader = threading.Thread(target=dashboard, name="dashboard", daemon=True)
        reader.start()
        try:
            gen_rc = gen.wait(timeout=seconds + 60)
        finally:
            stop.set()
            if gen.poll() is None:
                gen.kill()
                gen.wait()
        reader.join(timeout=120)
        if gen_rc != 0:
            raise RuntimeError("generator failed in the live phase")
        # drain, so that every event gets a latency
        for q in qs.values():
            try:
                q.processAllAvailable()
            except Exception:  # a failed query is counted below
                pass
        cpu = self.ctx.cpu_s() - cpu0
        for n, q in qs.items():
            progress[n] += _progress(q)
            q.stop()
            ok = q.exception() is None
            # every micro-batch is one operation, the query's failure one more
            run.attempted += len(_live(progress[n][warm[n]:]))
            run.op(ok, f"live {n}: {q.exception()}")
        self.live_batches = {n: _live(progress[n][warm[n]:]) for n in QUERIES}

        live = _read_manifest(live_manifest)
        with open(os.path.join(self.work, "progress.jsonl"), "w") as f:
            for n in QUERIES:
                for p in progress[n]:
                    f.write(json.dumps(p) + "\n")
        self.live = live
        commit = {n: file_commits(*dag.batches(n, progress[n])) for n in QUERIES}

        # event latency: creation → commit of the DWM batch holding the event
        lat = event_latencies(live, commit["dwm_uv"], wall0, self.t0)
        # per event, not per micro-batch: a run holds 5-8 batches, so per batch
        # the count's jumps would swamp the figure. The engine stays busy from
        # the first live batch to the drain, so this mostly tracks busy time.
        run.put("cpu_ms_per_op", cpu * 1000.0 / len(lat), "ms")
        # one refresh of the DAG: a micro-batch, start to commit
        batch_ms = [p["durationMs"]["triggerExecution"] for n in QUERIES for p in self.live_batches[n]]

        # steady lag over the last third of the live phase: the generator's newest
        # created event minus the slowest query's newest committed one
        newest = {m["file"]: max(m["ct"]) for m in live if m["ct"]}
        created = [(m["wrote"], newest[m["file"]]) for m in live if m["file"] in newest]
        committed = [[(0.0, self.t0)] + [(c, newest[f]) for f, c in commit[n].items() if f in newest] for n in QUERIES]
        lags = lag_samples(created, committed, wall0 + 2 * seconds / 3, wall0 + seconds, 0.25)
        run.info.update(
            cpu_ms_per_batch=round(cpu * 1000.0 / sum(map(len, self.live_batches.values())), 1),
            op_p50_ms=quantile(lat, 0.5),
            op_tail_ms=tail_quantile(lat, 0.99),
            tail_quantile=0.99,
            refresh_s=quantile(batch_ms, 0.5) / 1000.0,
            event_latency_samples=len(lat),
            steady_lag_s=quantile(lags, 0.5) / 1000.0,
            window_latency_p50_ms=round(self._window_latency(spark, wall0), 1),
            dashboard_read_p50_s=round(quantile(reads, 0.5), 4),
            dashboard_reads=len(reads),
            gen_late_ms_max=round(max(1000.0 * (m["wrote"] - m["due"]) for m in live), 1),
        )

    def _window_latency(self, spark, wall0: float) -> float:
        """Median over DWS keyword windows that closed in the live phase of the
        time from window end to the commit of the batch that wrote the
        window's final version."""
        import pyspark.sql.functions as F

        _, commits = self.dag.batches("dws_keyword", self.progress["dws_keyword"])
        rows = (
            spark.read.parquet(self.dag.out["dws_keyword"])
            .groupBy(*KW_KEYS).agg(F.max_by("__batch_id", "ct").alias("b"))
            .select("edt", "b").collect()
        )
        out = []
        for r in rows:
            edt = int(dt.datetime.fromisoformat(str(r.edt)).replace(tzinfo=dt.timezone.utc).timestamp() * 1000)
            if self.t0 < edt <= self.t0 + self.ctx.seconds * 1000 and r.b in commits:
                out.append((commits[r.b] - wall0) * 1000.0 - (edt - self.t0))
        return quantile(out, 0.5)

    # -- correctness ---------------------------------------------------------

    def check(self, spark) -> None:
        """The parse count against the generator's, and each sink against
        the batch builders over the same ODS files."""
        from rt_bigdata_spark.streaming.sinks import read_upserted

        run, dag = self.run, self.dag
        ref = reference_frames(spark, os.path.join(self.ods, "*.json"))

        def same(what: str, got: set, want: set) -> None:
            run.op(got == want, f"{what}: {len(got - want)} extra, {len(want - got)} missing")

        manifests = self.backlog + self.live
        parsed = ref["page"].count()
        self.parse_ok_ratio = parsed / sum(m["lines"] for m in manifests)
        same("ods parse count", {parsed}, {sum(len(m["ct"]) for m in manifests)})
        for name, ref_key, cols in (("dwm_uv", "uv", ["mid", "dt"]), ("dws_keyword", "kw", KW_KEYS + ["ct"])):
            same(name, _rows(read_upserted(spark, dag.out[name], *SINK_KEYS[name]), cols), _rows(ref[ref_key], cols))

    # -- per-layer -------------------------------------------------------------

    def layers(self, spark) -> dict:
        tr, prog, live = self.run.tracer, self.progress, self.live_batches
        batches = [p for n in QUERIES for p in live[n]]
        dur = lambda ps, k: [p["durationMs"].get(k, 0) for p in ps]  # noqa: E731
        source_ms = [p["durationMs"].get("latestOffset", 0) + p["durationMs"].get("getBatch", 0) for p in batches]
        stateful = live["dwm_uv"]
        state = prog["dwm_uv"][-1].get("stateOperators", [])
        self.run.info.update({
            "stream.batches": len(batches),
            "stream.planning_ms_p50": quantile(dur(batches, "queryPlanning"), 0.5),
            "stream.wal_ms_p50": quantile(dur(batches, "walCommit"), 0.5),
            "stateful.batch_ms_max": max(dur(stateful, "triggerExecution")),
            "stateful.batch_rows_p50": quantile([p["numInputRows"] for p in stateful], 0.5),
            "stateful.commit_ms_p50": quantile(
                [op.get("commitTimeMs", 0) for p in stateful for op in p.get("stateOperators", [])], 0.5),
            "stateful.state_rows": sum(op.get("numRowsTotal", 0) for op in state),
            "stateful.state_mb": sum(op.get("memoryUsedBytes", 0) for op in state) / 2**20,
            "aggregations.window_batch_ms_p50": quantile(dur(live["dws_keyword"], "triggerExecution"), 0.5),
            "sinks.write_ms_p50": quantile(tr.durations_ms("sinks.write"), 0.5),
            "sinks.read_upserted_ms_p50": quantile(tr.durations_ms("sinks.read_upserted"), 0.5),
            "sinks.files_written": sum(
                len([f for f in os.listdir(self.dag.out[n]) if f.endswith(".parquet")]) for n in QUERIES),
            "sources.parse_ok_ratio": self.parse_ok_ratio,
        })
        return {
            "plans.build_ms_p50": (quantile(tr.durations_ms("apps.build"), 0.5), "ms"),
            "plans.exec_ms_p50": (quantile(dur(batches, "addBatch"), 0.5), "ms"),
            "sources.read_ms_p50": (quantile(source_ms, 0.5), "ms"),
            "stateful.exec_ms_p50": (quantile(dur(stateful, "triggerExecution"), 0.5), "ms"),
        }


def _gen(args: list[str]) -> subprocess.Popen:
    return subprocess.Popen([sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)), "gen_ods.py"), *args])


def _read_manifest(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]
