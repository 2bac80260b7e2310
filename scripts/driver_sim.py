"""Driver simulation (the /verify recipe): runs __spark_entry__.entry()
plus every queries() entry vs its oracle_sql() on DuckDB at sf0.01,
comparing row count, sorted column names, and order-insensitive
normalized value sets — the same contract the correctness driver
applies. Usage:

    timeout 580 python scripts/driver_sim.py      # expect FAILED: none
    SIM_SF_DIR=/root/testdata/sf0.001 python scripts/driver_sim.py
    SIM_ONLY=q1,q2 python scripts/driver_sim.py   # subset (sfN spot-checks)
"""
import os
import sys

sys.path.insert(0, "/root/repo")
os.chdir("/root/repo")

import duckdb

from rt_bigdata_spark.session import get_spark

SF_DIR = os.environ.get("SIM_SF_DIR", "/root/testdata/sf0.01")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


from rt_bigdata_spark.testing import rowset  # noqa: E402  (shared compare contract)


import __spark_entry__ as entrymod

spark = get_spark("driver-sim")
spark.sparkContext.setLogLevel("ERROR")

edf = entrymod.entry(spark)
n = edf.count()
print(f"entry(): {n} rows, schema={[f.name for f in edf.schema.fields]}", flush=True)

duck = duckdb.connect()
for t in TABLES:
    p = f"{SF_DIR}/{t}.parquet"
    # Spark-written table replicas are parquet
    # DIRECTORIES; DuckDB needs the file glob, not the dir path
    src = f"{p}/*.parquet" if os.path.isdir(p) else p
    duck.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")

queries = entrymod.queries()
oracles = entrymod.oracle_sql()
only = {n.strip() for n in os.environ.get("SIM_ONLY", "").split(",") if n.strip()}
if only:
    unknown = only - set(queries)
    if unknown:
        raise SystemExit(f"SIM_ONLY names not in queries(): {sorted(unknown)}")
    queries = {n: f for n, f in queries.items() if n in only}
print(f"{len(queries)} queries, {len(oracles)} oracles", flush=True)

failed = []
for name, fn in queries.items():
    try:
        sdf = fn(spark, SF_DIR)
        s_cols = [c.lower() for c in sdf.columns]
        s_rows = [tuple(r) for r in sdf.collect()]
        if name not in oracles:
            print(f"{name}: rows-only {len(s_rows)} rows OK", flush=True)
            continue
        res = duck.execute(oracles[name])
        d_cols = [c[0].lower() for c in res.description]
        d_rows = res.fetchall()
        if sorted(s_cols) != sorted(d_cols):
            raise AssertionError(f"cols {s_cols} vs {d_cols}")
        if len(s_rows) != len(d_rows):
            raise AssertionError(f"rowcount {len(s_rows)} vs {len(d_rows)}")
        if rowset(s_cols, s_rows) != rowset(d_cols, d_rows):
            s_set, d_set = rowset(s_cols, s_rows), rowset(d_cols, d_rows)
            diff = [r for r in s_set if r not in d_set][:2]
            raise AssertionError(f"values differ, e.g. spark-only {diff}")
        print(f"{name}: MATCH ({len(s_rows)} rows)", flush=True)
    except Exception as e:
        failed.append(name)
        print(f"{name}: MISMATCH {e}", flush=True)

print("FAILED:", ", ".join(failed) if failed else "none")
spark.stop()
