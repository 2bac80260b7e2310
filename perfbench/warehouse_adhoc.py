"""``warehouse_adhoc``: one closed-loop client runs the reference-derived
warehouse specs (``plans.warehouse``) over seeded tables, in a seeded
order each pass.

A first, untimed pass checks correctness: every query's rows against
its DuckDB oracle over the same parquet files. It also compiles each
plan once, so the timed passes see warm code. In the timed passes each
query is built (``QuerySpec.spark``, the plan construction on the
driver) and executed to a no-op sink, so the whole plan runs and nothing
is collected. Queries run until the run has lasted ``--seconds`` and
has at least ``MIN_SAMPLES`` query samples, so that the 70th percentile
has ten samples beyond it.
"""

from __future__ import annotations

import os
import random
import time
from concurrent.futures import ThreadPoolExecutor

import gen_tables
from harness import fingerprint, quantile, tail_quantile

SPECS = (
    "pricing_summary", "visitor_stats", "province_stats", "keyword_stats", "keyword_stats_4product",
    "order_wide", "payment_wide", "order_wide_enriched", "product_stats", "uv_dedup",
    "is_new_correction", "bounce_detection", "cdc_routing", "log_split", "ads_report",
    "shipping_priority", "rolling_revenue", "active_users_hll",
)
# the batch forms of the streaming.stateful operators
STATEFUL = ("uv_dedup", "is_new_correction", "bounce_detection")
# 60,000 line items: sf0.1's schema at a tenth of its rows. A run at sf0.1's
# size took 161 s on 4 cores (the oracle pass 75 s, a timed pass 24 s),
# more than twice the time a run may take.
SCALE = 1.0
MIN_SAMPLES = 2 * len(SPECS)
TAIL_Q = 0.7
WARM_SPEC = "pricing_summary"
CHECK_THREADS = 3


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    def __init__(self, ctx):
        self.ctx, self.run = ctx, ctx.run
        self.tables = os.path.join(ctx.work, "tables")
        self.samples: list[dict] = []
        self.counter_divisor = 1.0  # Spark's counters are reported per pass of all specs

    def fingerprint(self) -> str:
        return fingerprint([os.path.join(self.tables, t + ".parquet") for t in gen_tables.TABLES])

    def make_inputs(self) -> None:
        gen_tables.write_tables(self.ctx.seed, SCALE, self.tables)

    def _spec(self, name: str):
        from rt_bigdata_spark.plans.registry import REGISTRY, _ensure_loaded

        _ensure_loaded()
        return REGISTRY[name]

    def setup_once(self, spark) -> None:
        _noop(self._spec(WARM_SPEC).spark(spark, self.tables))

    def measure(self, spark) -> None:
        run, tr = self.run, self.run.tracer
        specs = {n: self._spec(n) for n in SPECS}
        checked = run.attempted
        t_start = tp = time.perf_counter()
        cpu0 = self.ctx.cpu_s()
        order: list[str] = []
        passes: list[float] = []  # durations of the whole passes
        # query by query, until the run has lasted --seconds and has MIN_SAMPLES
        while time.perf_counter() - t_start < self.ctx.seconds or run.attempted - checked < MIN_SAMPLES:
            if not order:
                order = list(SPECS)
                random.Random(f"{self.ctx.seed}/{len(passes)}").shuffle(order)
            name = order.pop()
            t0 = time.perf_counter()
            ok = True
            try:
                with tr.span("plans.build", trace=name):
                    df = specs[name].spark(spark, self.tables)
                t1 = time.perf_counter()
                with tr.span("plans.exec", trace=name):
                    _noop(df)
            except Exception as e:  # a failed query is a counted failure, the run goes on
                ok = False
                run.errors.append(f"{name}: {e!r}"[:300])
            t2 = time.perf_counter()
            run.op(ok, name)
            if ok:
                self.samples.append({"q": name, "build": t1 - t0, "exec": t2 - t1, "wall": t2 - t0})
            if not order:
                passes.append(t2 - tp)
                tp = t2
        measured = time.perf_counter() - t_start
        cpu = self.ctx.cpu_s() - cpu0
        self.counter_divisor = (run.attempted - checked) / len(SPECS)
        walls = [s["wall"] * 1000.0 for s in self.samples]
        run.put("cpu_ms_per_op", cpu * 1000.0 / len(walls), "ms")
        run.info.update(
            op_p50_ms=quantile(walls, 0.5),
            op_tail_ms=tail_quantile(walls, TAIL_Q),
            tail_quantile=TAIL_Q,
            query_samples=len(walls),
            refresh_s=quantile(passes, 0.5),  # one refresh of every dashboard query
            queries_per_s=round(len(walls) / measured, 4),
        )

    def check(self, spark) -> None:
        """Checked in ``prepare``, before the timed passes."""

    def prepare(self, spark) -> None:
        """Untimed oracle pass: each query's rows against DuckDB's. It is
        the plans' first, compile-bound execution, so ``CHECK_THREADS``
        client threads share it."""
        import duckdb
        from rt_bigdata_spark.testing import rowset

        con = duckdb.connect()
        for t in gen_tables.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(self.tables, t)}.parquet')")
        want = {}
        for name in SPECS:
            try:
                res = con.execute(self._spec(name).oracle)
                want[name] = rowset([c[0].lower() for c in res.description], res.fetchall())
            except Exception as e:  # counted as the query's failure below
                want[name] = e
        con.close()

        def spark_rows(name: str):
            df = self._spec(name).spark(spark, self.tables)
            return rowset([c.lower() for c in df.columns], [tuple(r) for r in df.collect()])

        with ThreadPoolExecutor(CHECK_THREADS) as pool:
            got = {name: pool.submit(spark_rows, name) for name in SPECS}
            for name in SPECS:
                try:
                    rows, ref = got[name].result(), want[name]
                    if isinstance(ref, Exception):
                        raise ref
                    ok, what = rows == ref, f"{name}: {len(rows)} rows vs oracle {len(ref)}"
                except Exception as e:
                    ok, what = False, f"{name} check: {e!r}"[:300]
                self.run.op(ok, what)

    def layers(self, spark) -> dict:
        tr = self.run.tracer
        stateful = [s["exec"] * 1000.0 for s in self.samples if s["q"] in STATEFUL]
        out = {
            "plans.build_ms_p50": (quantile(tr.durations_ms("plans.build"), 0.5), "ms"),
            "plans.exec_ms_p50": (quantile(tr.durations_ms("plans.exec"), 0.5), "ms"),
            "sources.read_ms_p50": (quantile(tr.durations_ms("sources.load_table"), 0.5), "ms"),
            "stateful.exec_ms_p50": (quantile(stateful, 0.5), "ms"),
        }
        per_query = {}
        for name in SPECS:
            rows = [s for s in self.samples if s["q"] == name]
            per_query[name] = {
                "build_ms": round(quantile([s["build"] for s in rows], 0.5) * 1000.0, 3),
                "exec_ms": round(quantile([s["exec"] for s in rows], 0.5) * 1000.0, 3),
            }
        self.run.info["plans"] = per_query
        return out

    def instrument(self) -> None:
        """Traced runs: a span around every ``sources.tables.load_table``
        call the warehouse plans make (they import it by name)."""
        from rt_bigdata_spark.plans import registry, warehouse

        registry._ensure_loaded()
        orig = warehouse.load_table
        tr = self.run.tracer

        def load_table(*a, **k):
            with tr.span("sources.load_table"):
                return orig(*a, **k)

        warehouse.load_table = load_table
