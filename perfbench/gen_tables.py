"""Seeded warehouse tables for the ``warehouse_adhoc`` workload.

Writes the star schema the warehouse plans read (``region nation
customer supplier part orders lineitem events documents``, one parquet
file each) with the column names, types and value domains of the
engine's test tables: uniform keys, TPC-H-like categorical columns,
order dates 1995-01-01 .. 2001-08-01, a January 2024 behaviour log and
short documents drawn from a 30-word vocabulary. ``scale``
1.0 gives 60,000 line items. The same seed and scale give byte-identical
files.

    python3 perfbench/gen_tables.py --seed 1 --scale 1.0 --out /tmp/tables
"""

from __future__ import annotations

import argparse
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents")
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_LANGS = ("de", "en", "en", "en", "es", "fr", "zh")
_VOCAB = (
    "a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter", "group", "hash", "join",
    "key", "line", "merge", "order", "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
)
_EPOCH = dt.datetime(1970, 1, 1)


def _us(d: dt.datetime) -> int:
    return (d - _EPOCH) // dt.timedelta(microseconds=1)


def _days(rng, n: int, lo: dt.datetime, hi: dt.datetime) -> pa.Array:
    """``n`` midnight timestamps drawn uniformly from [lo, hi]."""
    day = 86_400_000_000
    k = rng.integers(0, (_us(hi) - _us(lo)) // day + 1, n)
    return pa.array(_us(lo) + k * day, pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def make_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(1500 * scale), max(10, int(100 * scale)), int(2000 * scale)
    n_ord, n_line, n_ev, n_user = int(15000 * scale), int(60000 * scale), int(10000 * scale), max(10, int(150 * scale))
    i32 = lambda a: pa.array(a, pa.int32())  # noqa: E731
    t = {}
    t["region"] = pa.table({"r_regionkey": i32(range(5)), "r_name": list(_REGIONS)})
    t["nation"] = pa.table({
        "n_nationkey": i32(range(25)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": i32(np.arange(25) % 5),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": i32(rng.integers(0, 25, n_cust)),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": i32(rng.integers(0, 25, n_supp)),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(np.array(_ADJ)[rng.integers(0, 8, n_part)], " "),
                              np.array(_NOUN)[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": i32(rng.integers(1, 51, n_part)),
        "p_retailprice": _money(rng, n_part, 900.0, 999.9),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(("F", "O", "P"))[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _days(rng, n_ord, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1)),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": i32(rng.integers(1, 8, n_line)),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * _money(rng, n_line, 18.0, 2100.0), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(("A", "N", "R"))[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(("F", "O"))[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, n_line, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4)),
    })
    jan = _us(dt.datetime(2024, 1, 1))
    ts = np.sort(rng.integers(jan, jan + 30 * 86_400_000_000, n_ev))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_user, n_ev),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(np.minimum(rng.exponential(40.0, n_ev), 490.0) + 0.01, 2),
        "props": np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n_ev).astype(str)), "}"),
    })
    n_doc = max(10, int(500 * scale))
    words = np.array(_VOCAB)[rng.integers(0, len(_VOCAB), (n_doc, 100))]
    cut = rng.integers(48, 554, n_doc)
    text = [" ".join(words[i])[: cut[i]] for i in range(n_doc)]
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": text,
        "lang": np.array(_LANGS)[rng.integers(0, len(_LANGS), n_doc)],
        "source": np.char.add("src", (np.arange(n_doc) % 20).astype(str)),
        "n_chars": np.array([len(x) for x in text], dtype=np.int64),
    })
    return t


def write_tables(seed: int, scale: float, out: str) -> list[str]:
    """Write every table to ``out/<name>.parquet``; returns the paths."""
    os.makedirs(out, exist_ok=True)
    paths = []
    for name, table in make_tables(seed, scale).items():
        path = os.path.join(out, name + ".parquet")
        pq.write_table(table, path)
        paths.append(path)
    return paths


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--scale", type=float, default=1.0)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print("\n".join(write_tables(a.seed, a.scale, a.out)))
