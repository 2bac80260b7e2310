"""Seeded ODS page-log generator for the ``rt_stream`` workload.

Runs as its own process so that its schedule does not slow when the
engine slows (an open loop). Two modes:

- ``--phase backlog`` writes the phase-A backlog files at once;
- ``--phase live`` waits until ``--start`` (epoch seconds) and then
  writes one file per tick, each due at ``start + (k + 1) * tick``, and
  appends one manifest line per file with the due and actual write time.

The event sequence depends only on the seed and the sizes, so the same
arguments give byte-identical files. Traffic properties:

- device ids (``mid``) are Zipf-skewed over ``N_MIDS`` devices; the
  device attributes (vc/ch/ar/is_new) are a pure function of the id
  (``device_attrs``), so one device never changes channel mid-day;
- ``OOO_SHARE`` of events carry an event time up to 1.5 s before their
  creation time (out of order), but each device's events stay in
  event-time order;
- in the live phase ``LATE_SHARE`` of events carry an event time 10-60 s
  before the live phase began (late: their 10 s windows have closed);
- ``BAD_SHARE`` of lines are not JSON: the line without its opening
  brace, which fails to parse at the first token. (A line cut short
  after its first fields would parse partially, with a null ``ts``.)

Every line also carries ``ct``, the creation stamp in ms on the same
synthetic clock as ``ts``; the engine's schema ignores it.
"""

from __future__ import annotations

import argparse
import json
import os
import time

import numpy as np

N_MIDS = 100_000
ZIPF_S = 1.0
TICK_S = 0.5
ENTRY_SHARE = 0.3
OOO_SHARE = 0.05
OOO_MAX_MS = 1500
LATE_SHARE = 0.005
LATE_MIN_MS, LATE_MAX_MS = 10_000, 60_000
BAD_SHARE = 0.002
BACKLOG_RATE = 1000  # events/s of synthetic time the backlog spans

_DAY0_MS = 1_709_251_200_000  # 2024-03-01T00:00:00Z
_CHANNELS = ("web", "xiaomi", "huawei", "oppo", "appstore")
_AREAS = ("110000", "310000", "440000", "330000", "510000", "420000")
_PAGES = ("home", "good_list", "good_detail", "cart", "trade", "payment", "mine", "login")
_WORDS = (
    "phone", "case", "red", "blue", "laptop", "charger", "wireless", "mouse", "keyboard",
    "shoes", "running", "coffee", "beans", "tea", "green", "desk", "lamp", "usb", "cable",
    "watch", "smart", "camera", "lens", "bag", "travel",
)


def t0_ms(seed: int) -> int:
    """Synthetic event time at which the live phase starts. The backlog
    and the live phase stay within one UTC day."""
    return _DAY0_MS + (2 + seed % 12) * 3_600_000


def device_attrs(i: int) -> tuple[str, str, str, str]:
    """(vc, ch, ar, is_new) of device ``m{i}``."""
    return (
        f"v2.{i % 4}",
        _CHANNELS[(i // 4) % len(_CHANNELS)],
        _AREAS[(i // 20) % len(_AREAS)],
        "1" if i % 10 < 3 else "0",
    )


def _zipf_cdf() -> np.ndarray:
    w = 1.0 / np.arange(1, N_MIDS + 1, dtype=np.float64) ** ZIPF_S
    return np.cumsum(w) / w.sum()


def make_events(seed: int, backlog: int, rate: int, seconds: int) -> dict[str, list]:
    """Generate both phases. Returns ``{"backlog": [...], "live": [...]}``,
    each a list of files, each file a list of ``(ct_ms, line, late)``
    where ``ct_ms`` is None for a malformed line."""
    t0 = t0_ms(seed)
    cdf = _zipf_cdf()
    rng = np.random.default_rng(seed)
    per_tick = int(round(rate * TICK_S))
    n_live = per_tick * int(round(seconds / TICK_S))
    n = backlog + n_live
    # creation stamps: the backlog at BACKLOG_RATE ending at t0, then the
    # live phase at `rate` starting at t0
    ct = np.empty(n, dtype=np.int64)
    ct[:backlog] = t0 - ((backlog - np.arange(backlog)) * 1000) // BACKLOG_RATE
    ct[backlog:] = t0 + (np.arange(n_live) * 1000) // rate
    mids = np.searchsorted(cdf, rng.random(n), side="right").clip(0, N_MIDS - 1)
    pages = rng.integers(0, len(_PAGES), n)
    entry = rng.random(n) < ENTRY_SHARE
    ooo = rng.random(n) < OOO_SHARE
    ooo_ms = rng.integers(1, OOO_MAX_MS + 1, n)
    late = (rng.random(n) < LATE_SHARE) & (np.arange(n) >= backlog)
    late_ms = rng.integers(LATE_MIN_MS, LATE_MAX_MS + 1, n)
    bad = rng.random(n) < BAD_SHARE
    during = rng.integers(500, 30_000, n)
    words = rng.integers(0, len(_WORDS), (n, 3))
    n_words = rng.integers(1, 4, n)
    sku = rng.integers(1, 5000, n)
    last_page = rng.integers(0, len(_PAGES), n)

    last_ts: dict[int, int] = {}
    used: set[tuple[int, int]] = set()
    lines: list[tuple[int | None, str, bool]] = []
    for j in range(n):
        m = int(mids[j])
        c = int(ct[j])
        if late[j]:
            ts = t0 - int(late_ms[j])
            while (m, ts) in used:
                ts -= 1
        else:
            ts = c - int(ooo_ms[j]) if ooo[j] else c
            if j >= backlog:
                ts = max(ts, t0)  # the live phase never reaches into the backlog's time
            ts = max(ts, last_ts.get(m, -1) + 1)  # per-device event-time order
            last_ts[m] = ts
        used.add((m, ts))
        vc, ch, ar, is_new = device_attrs(m)
        page = _PAGES[pages[j]]
        fields = [f'"page_id":"{page}"']
        if not entry[j]:
            fields.append(f'"last_page_id":"{_PAGES[last_page[j]]}"')
        if page == "good_list":
            fields.append('"item":"' + " ".join(_WORDS[w] for w in words[j][: n_words[j]]) + '"')
        elif page == "good_detail":
            fields.append(f'"item":"{sku[j]}","item_type":"sku_id"')
        fields.append(f'"during_time":{during[j]}')
        line = (
            f'{{"common":{{"mid":"m{m}","vc":"{vc}","ch":"{ch}","ar":"{ar}","is_new":"{is_new}"}},'
            f'"page":{{{",".join(fields)}}},"ts":{ts},"ct":{c}}}'
        )
        if bad[j]:
            lines.append((None, line[1:], False))
        else:
            lines.append((c, line, bool(late[j])))

    def chunk(seq: list, size: int) -> list[list]:
        return [seq[i : i + size] for i in range(0, len(seq), size)]

    return {"backlog": chunk(lines[:backlog], per_tick), "live": chunk(lines[backlog:], per_tick)}


def _write_file(out_dir: str, name: str, events: list[tuple[int | None, str, bool]]) -> None:
    tmp = os.path.join(out_dir, "." + name + ".tmp")
    with open(tmp, "w") as f:
        f.write("".join(line + "\n" for _, line, _ in events))
    os.rename(tmp, os.path.join(out_dir, name))  # the file source never sees a partial file


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--phase", choices=("backlog", "live"), required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--manifest", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--backlog", type=int, required=True)
    ap.add_argument("--rate", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--start", type=float, default=0.0)
    a = ap.parse_args()
    files = make_events(a.seed, a.backlog, a.rate, a.seconds)[a.phase]
    os.makedirs(a.out, exist_ok=True)
    with open(a.manifest, "w") as man:
        for k, events in enumerate(files):
            name = f"{a.phase[0]}{k:06d}.json"
            due = a.start + (k + 1) * TICK_S
            if a.phase == "live":
                delay = due - time.time()
                if delay > 0:
                    time.sleep(delay)
            _write_file(a.out, name, events)
            wrote = time.time()
            row = {"file": name, "due": due, "wrote": wrote, "lines": len(events),
                   "late": sum(late for _, _, late in events), "ct": [c for c, _, _ in events if c is not None]}
            man.write(json.dumps(row) + "\n")
            man.flush()


if __name__ == "__main__":
    main()
