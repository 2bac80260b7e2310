"""Streaming state across restarts and watermark columns.

- A checkpoint written under one shuffle width restarts under another:
  Spark keeps the partition count of an existing checkpoint in its
  offset log, so the session's machine-derived width must not break the
  stateful (``unique_visit_app``) and window (``keyword_stats_app``)
  queries that ran under the old fixed width of 32. The upsert sinks
  must still equal the batch builders over all input.
- T1 (``correct_is_new``) carries each mid's first-visit date from one
  micro-batch to the next.
- The stateful operators keep whichever column carries the watermark,
  whatever its name, so event-time timeouts still fire.
"""

from __future__ import annotations

import json
import os
import time

import pyspark.sql.functions as F

from rt_bigdata_spark import apps
from rt_bigdata_spark.streaming.sinks import foreach_batch_upsert, read_upserted
from rt_bigdata_spark.streaming.stateful import PAGE_EVENT_SCHEMA, correct_is_new, detect_bounces

OLD_WIDTH = "32"
SINKS = {  # query → (sink keys, version column, compared columns)
    "uv": (["mid", "dt"], "ts", ["mid", "dt", "ts"]),
    "kw": (["stt", "edt", "keyword"], "ct", ["stt", "edt", "keyword", "ct"]),
}


def _log(mid, ts, page_id, last=None, item=None):
    return json.dumps({
        "common": {"mid": mid, "vc": "v1", "ch": "app", "ar": "110", "is_new": "0"},
        "page": {"page_id": page_id, "last_page_id": last, "item": item, "during_time": 100},
        "ts": ts,
    })


def _write(dir_: str, name: str, lines: list[str]) -> None:
    path = os.path.join(dir_, name)
    with open(path + ".tmp", "w") as f:
        f.write("\n".join(lines) + "\n")
    os.rename(path + ".tmp", path)
    time.sleep(0.05)  # distinct mtimes → deterministic file order


def _frames(spark, src: str) -> dict:
    def page():
        return apps.ods_base_log_app(spark.readStream.format("text").load(src))["page"]

    return {"uv": apps.unique_visit_app(page()), "kw": apps.keyword_stats_app(page(), window="10 seconds")}


def _run_once(spark, src: str, base) -> dict:
    """Start both queries from their checkpoints, drain the source, stop
    them; return each query's state-operator width."""
    queries = {}
    try:
        for name, frame in _frames(spark, src).items():
            keys, ver, _ = SINKS[name]
            queries[name] = (
                frame.writeStream.queryName(f"restart_{name}")
                .outputMode("update" if name == "kw" else "append")
                .option("checkpointLocation", str(base / "chk" / name))
                .foreachBatch(foreach_batch_upsert(str(base / "sink" / name), keys, version_col=ver))
                .start()
            )
        for q in queries.values():
            q.processAllAvailable()
        return {n: q.lastProgress["stateOperators"][0]["numShufflePartitions"] for n, q in queries.items()}
    finally:
        for q in queries.values():
            q.stop()


def test_checkpoint_from_older_shuffle_width_restarts_and_matches_batch(spark, tmp_path):
    src = tmp_path / "ods"
    src.mkdir()
    day2 = 86_400_000
    _write(str(src), "b1.json", [
        _log("m1", 1_000, "home"),
        _log("m1", 2_000, "good_list", last="home", item="apple pie"),
        _log("m2", 3_000, "home"),
        _log("m2", 12_500, "good_list", last="home", item="apple watch"),
        _log("m3", 4_000, "cart", last="good_list"),
    ])
    width = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", OLD_WIDTH)
    try:
        first = _run_once(spark, str(src), tmp_path)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", width)
    assert first == {"uv": int(OLD_WIDTH), "kw": int(OLD_WIDTH)}

    _write(str(src), "b2.json", [
        _log("m1", 5_000, "home"),  # same day: not a new visit
        _log("m1", day2 + 1_000, "home"),  # next day: a new visit
        _log("m3", 6_000, "home"),
        _log("m2", 13_000, "good_list", last="home", item="watch"),  # updates a window of batch 1
        _log("m4", 21_000, "good_list", last="home", item="pie"),
    ])
    # the restored queries keep the width their checkpoints recorded
    assert _run_once(spark, str(src), tmp_path) == first

    page = apps.ods_base_log_app(spark.read.text(str(src)))["page"]
    want = {"uv": apps.unique_visit_app(page, streaming=False), "kw": apps.keyword_stats_app(page, window="10 seconds")}
    for name, (keys, ver, cols) in SINKS.items():
        got = read_upserted(spark, str(tmp_path / "sink" / name), keys, ver)
        assert sorted(got.select(*cols).collect()) == sorted(want[name].select(*cols).collect()), name


def test_is_new_correction_carries_state_across_micro_batches(spark, tmp_path):
    """Batch 1: A's day-1 ``is_new=1`` claim stands; B is first seen as a
    returning visitor. Batch 2: A's day-2 claim and B's same-day claim
    are both rewritten to 0, which only the state from batch 1 allows."""
    day2 = 86_400_000
    src = tmp_path / "src"
    src.mkdir()

    def ev(mid, is_new, ts):
        return json.dumps({"mid": mid, "page_id": "home", "last_page_id": None, "is_new": is_new, "ts": ts})

    stream = spark.readStream.schema(PAGE_EVENT_SCHEMA).option("maxFilesPerTrigger", "1").json(str(src))
    q = (
        correct_is_new(stream)
        .writeStream.format("memory")
        .queryName("is_new_two_batches")
        .option("checkpointLocation", str(tmp_path / "chk"))
        .outputMode("append")
        .start()
    )
    try:
        _write(str(src), "b1.json", [ev("A", "1", 1_000), ev("B", "0", 2_000)])
        q.processAllAvailable()
        _write(str(src), "b2.json", [ev("A", "1", day2 + 1_000), ev("B", "1", 3_000)])
        q.processAllAvailable()
        assert q.lastProgress["batchId"] == 1
        out = {(r.mid, r.ts, r.is_new) for r in spark.sql("select * from is_new_two_batches").collect()}
        assert out == {("A", 1_000, "1"), ("B", 2_000, "0"), ("A", day2 + 1_000, "0"), ("B", 3_000, "0")}
    finally:
        q.stop()


def test_bounce_timeout_fires_on_a_differently_named_watermark_column(spark, tmp_path):
    """The watermark sits on ``evt_at``, not ``eventTime``: pruning must
    keep it, or the entry of mid 101 never times out as a bounce."""
    src = tmp_path / "src"
    src.mkdir()
    rows = [
        {"mid": "101", "page_id": "home", "last_page_id": None, "is_new": "1", "ts": 10_000},
        {"mid": "102", "page_id": "home", "last_page_id": None, "is_new": "1", "ts": 12_000},
        {"mid": "102", "page_id": "good_list", "last_page_id": "home", "is_new": "1", "ts": 15_000},
    ]
    _write(str(src), "b1.json", [json.dumps(r) for r in rows])
    stream = (
        spark.readStream.schema(PAGE_EVENT_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
        .withColumn("evt_at", F.timestamp_millis(F.col("ts")))
        .withWatermark("evt_at", "1 second")
    )
    q = (
        detect_bounces(stream)
        .writeStream.format("memory")
        .queryName("bounces_evt_at")
        .option("checkpointLocation", str(tmp_path / "chk"))
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        # a later event moves the watermark past 101's timeout (20 s);
        # the batch after it applies that watermark to the state
        for i, ts in enumerate((60_000, 90_000)):
            _write(str(src), f"b{i + 2}.json", [json.dumps(
                {"mid": "103", "page_id": "home", "last_page_id": "x", "is_new": "0", "ts": ts})])
            q.processAllAvailable()
        out = {(r.mid, r.ts) for r in spark.sql("select * from bounces_evt_at").collect()}
        assert out == {("101", 10_000)}
    finally:
        q.stop()
