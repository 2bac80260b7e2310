"""Self-tests of the benchmark's metric math; no Spark needed.

    python3 -m pytest -q perfbench/test_metrics.py
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen_ods  # noqa: E402
from harness import (  # noqa: E402
    Run, Tracer, check_env, event_latencies, failed_ratio, file_commits, lag_samples, quantile, self_times,
    tail_quantile, tree_cpu_s,
)


def test_quantile_is_nearest_rank():
    xs = list(range(1, 101))
    assert quantile(xs, 0.5) == 50
    assert quantile(xs, 0.9) == 90  # 0.9 * 100 must not round up to rank 91
    assert quantile(xs, 0.99) == 99
    assert quantile([7.0], 0.99) == 7.0
    assert quantile([3, 1, 2], 0.0) == 1
    with pytest.raises(ValueError):
        quantile([], 0.5)


def test_tail_quantile_needs_ten_samples_beyond():
    assert tail_quantile(list(range(100)), 0.9) == 89  # ranks 91..100 lie beyond
    with pytest.raises(ValueError):
        tail_quantile(list(range(99)), 0.9)
    assert tail_quantile(list(range(1000)), 0.99) == 989
    with pytest.raises(ValueError):
        tail_quantile(list(range(999)), 0.99)
    assert tail_quantile(list(range(20)), 0.5) == 9


def test_commit_stamps_join_creation_stamps():
    # batch 0 read a.json and b.json and committed at wall 100.5; batch 1
    # read c.json and never committed
    committed = file_commits({0: ["a.json", "b.json"], 1: ["c.json"]}, {0: 100.5})
    assert committed == {"a.json": 100.5, "b.json": 100.5}
    # the synthetic clock reads t0_ms = 5000 at wall0 = 100.0
    manifest = [
        {"file": "a.json", "ct": [5000, 5100]},
        {"file": "b.json", "ct": [5400]},
        {"file": "c.json", "ct": [5450]},
    ]
    lat = event_latencies(manifest, committed, wall0=100.0, t0_ms=5000)
    assert lat == pytest.approx([500.0, 400.0, 100.0])


def test_lag_takes_the_slowest_consumer():
    created = [(1.0, 1000), (2.0, 2000), (3.0, 3000)]
    fast = [(0.0, 0), (2.5, 2000), (3.5, 3000)]
    slow = [(0.0, 0), (3.2, 1000)]
    assert lag_samples(created, [fast, slow], 2.0, 3.0, 1.0) == [2000.0, 3000.0]
    assert lag_samples(created, [fast], 0.0, 1.0, 1.0) == [1000.0]  # nothing written at 0.0


def test_span_self_time_subtracts_merged_children():
    spans = [
        {"id": 1, "parent": None, "start": 0.0, "end": 10.0},
        # two overlapping children cover [1, 5]; a third covers [6, 7]
        {"id": 2, "parent": 1, "start": 1.0, "end": 4.0},
        {"id": 3, "parent": 1, "start": 3.0, "end": 5.0},
        {"id": 4, "parent": 1, "start": 6.0, "end": 7.0},
        {"id": 5, "parent": 4, "start": 6.5, "end": 7.0},
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(5.0)
    assert st[2] == pytest.approx(3.0)
    assert st[4] == pytest.approx(0.5)


def test_tracer_records_nesting_only_when_enabled():
    tr = Tracer(True)
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    by_name = {s["name"]: s for s in tr.spans}
    assert by_name["inner"]["parent"] == by_name["outer"]["id"]
    off = Tracer(False)
    with off.span("outer"):
        pass
    assert off.spans == []


def test_failed_ratio_counts_every_attempt():
    run = Run(False)
    for ok in (True, True, False, True):
        run.op(ok, "q")
    run.attempted += 4  # operations counted in bulk (micro-batches) are attempts too
    assert (run.attempted, run.failed) == (8, 1)
    assert failed_ratio(run.failed, run.attempted) == 0.125
    assert failed_ratio(0, 3) == 0.0
    with pytest.raises(ValueError):
        failed_ratio(0, 0)
    with pytest.raises(ValueError):
        failed_ratio(4, 3)


def test_env_guard_allows_only_the_core_count():
    assert check_env({"SPARK_GRAFT_CPUS": "4", "PATH": "/bin"}) == []
    assert check_env({"SPARK_GRAFT_SHUFFLE": "8", "SPARK_GRAFT_CPUS": "4", "SPARK_GRAFT_MAX_PART_BYTES": "1"}) == [
        "SPARK_GRAFT_MAX_PART_BYTES", "SPARK_GRAFT_SHUFFLE"]


def test_ods_generator_is_deterministic():
    a = gen_ods.make_events(7, 2000, 400, 3)
    b = gen_ods.make_events(7, 2000, 400, 3)
    assert a == b
    assert a != gen_ods.make_events(8, 2000, 400, 3)
    lines = [e for f in a["backlog"] + a["live"] for e in f]
    assert len(lines) == 2000 + 400 * 3
    assert sum(ct is None for ct, _, _ in lines) > 0  # malformed lines are planted
    assert sum(late for _, _, late in lines) > 0  # so are late ones


def test_tree_cpu_counts_this_process():
    before = tree_cpu_s(os.getpid())
    x = 0
    for i in range(3_000_000):
        x += i & 3
    assert tree_cpu_s(os.getpid()) > before
    assert tree_cpu_s(os.getpid(), exclude={os.getpid()}) == 0.0
