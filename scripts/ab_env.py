"""Paired SAME-TREE A/B of an environment toggle (r16 verdict item 1).

``bench_isolated.py`` adjudicates old-COMMIT vs new-COMMIT; this is its
sibling for a conf/env knob inside ONE tree: run the named queries in
strictly alternating cold subprocesses (A, B, A, B, ...), each a fresh
Spark session with the env var set to the A or B value, min per side.
Cold subprocesses are the point — the r15 regressions the driver saw
(dedup_threshold_sweep 0.44x etc.) only show on a cold JVM where the
first rep pays cache materialization, which warm UI metrics hide.

    python scripts/ab_env.py --var SPARK_GRAFT_ARROW_SHINGLES \
        --a 0 --b 1 --queries dedup_threshold_sweep,minhash_lsh \
        [--reps 4] [--sf-dir /root/testdata/sf0.1]

NEVER runs two Spark jobs at once (the one hard timing rule on this VM).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_RUNNER = r"""
import json, sys, time
sys.path.insert(0, ".")
from rt_bigdata_spark.plans.registry import REGISTRY, _ensure_loaded
from rt_bigdata_spark.session import get_spark

names, sf_dir = sys.argv[1].split(","), sys.argv[2]
_ensure_loaded()
spark = get_spark("ab-env")
spark.sparkContext.setLogLevel("ERROR")
REGISTRY["pricing_summary"].spark(spark, sf_dir).write.format("noop").mode("overwrite").save()
out = {}
for n in names:
    t0 = time.perf_counter()
    REGISTRY[n].spark(spark, sf_dir).write.format("noop").mode("overwrite").save()
    out[n] = round(time.perf_counter() - t0, 3)
print("AB_ENV_JSON:" + json.dumps(out))
spark.stop()
"""


def _loadavg() -> str:
    try:
        with open("/proc/loadavg") as f:
            return f.read().split()[0]
    except OSError:
        return "?"


def _run_once(names: list[str], sf_dir: str, var: str, value: str) -> dict[str, float]:
    env = dict(os.environ, PYTHONPATH=REPO)
    env[var] = value
    proc = subprocess.run(
        [sys.executable, "-c", _RUNNER, ",".join(names), sf_dir],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=1800,
    )
    for line in proc.stdout.splitlines():
        if line.startswith("AB_ENV_JSON:"):
            return json.loads(line[len("AB_ENV_JSON:"):])
    raise RuntimeError(
        "runner produced no timing line; stderr tail:\n"
        + "\n".join(proc.stderr.splitlines()[-15:])
    )


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--var", required=True, help="environment variable name")
    ap.add_argument("--a", required=True, help="side A value")
    ap.add_argument("--b", required=True, help="side B value")
    ap.add_argument("--queries", required=True, help="comma-separated query names")
    ap.add_argument("--reps", type=int, default=4)
    ap.add_argument("--noise-band", type=float, default=1.15)
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR",
                                                       "/root/testdata/sf0.1"))
    args = ap.parse_args()
    names = [n.strip() for n in args.queries.split(",") if n.strip()]

    mins: dict[str, dict[str, float]] = {"a": {}, "b": {}}
    loads: list[str] = []
    for rep in range(args.reps):
        for label, value in (("a", args.a), ("b", args.b)):
            loads.append(_loadavg())
            got = _run_once(names, args.sf_dir, args.var, value)
            for n, t in got.items():
                cur = mins[label].get(n)
                mins[label][n] = t if cur is None else min(cur, t)
            print(f"  rep {rep + 1}/{args.reps} {label}={value:8s} load={loads[-1]:>5s} "
                  + " ".join(f"{n}={got[n]:.2f}s" for n in names), file=sys.stderr)

    rows = []
    print(f"\npaired min-of-{args.reps}, {args.var}: A={args.a} vs B={args.b}, "
          f"sf_dir={args.sf_dir}, loadavg seen: {', '.join(loads)}")
    print(f"{'query':30s} {'A_s':>8s} {'B_s':>8s} {'B/A':>6s}")
    for n in names:
        a, b = mins["a"][n], mins["b"][n]
        ratio = b / a if a else float("inf")
        print(f"{n:30s} {a:8.3f} {b:8.3f} {ratio:6.2f}")
        rows.append({"query": n, "a_s": a, "b_s": b, "ratio": round(ratio, 3)})
    print("AB_ENV_PAIRS:" + json.dumps(
        {"var": args.var, "a": args.a, "b": args.b, "sf_dir": args.sf_dir,
         "reps": args.reps, "loadavg": loads, "pairs": rows}))


if __name__ == "__main__":
    main()
