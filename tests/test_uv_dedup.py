"""Daily-UV dedup (T2) on Structured Streaming's native deduplication.

- ``apps.unique_visit_app`` plans a streaming deduplicate, with no
  Python state operator, and its upsert sink equals the batch builder
  even when a mid's day-2 entry arrives before its day-1 entry.
- ``ttl=True`` evicts a day's keys once the watermark passes the day's
  end: repeats inside the open day stay suppressed, late entries for a
  closed day are dropped.
"""

from __future__ import annotations

import json
import os
import time

import pyspark.sql.functions as F
import pytest

from rt_bigdata_spark import apps
from rt_bigdata_spark.streaming.sinks import foreach_batch_upsert, read_upserted
from rt_bigdata_spark.streaming.stateful import PAGE_EVENT_SCHEMA, unique_visits

DAY = 86_400_000


def _write(dir_: str, name: str, lines: list[str]) -> None:
    path = os.path.join(dir_, name)
    with open(path + ".tmp", "w") as f:
        f.write("\n".join(lines) + "\n")
    os.rename(path + ".tmp", path)
    time.sleep(0.05)  # distinct mtimes → deterministic file order


def _log(mid: str, ts: int, page_id: str = "home", last: str | None = None) -> str:
    return json.dumps({
        "common": {"mid": mid, "vc": "v1", "ch": "app", "ar": "110", "is_new": "0"},
        "page": {"page_id": page_id, "last_page_id": last, "during_time": 100},
        "ts": ts,
    })


def _event(mid: str, ts: int, last: str | None = None) -> str:
    return json.dumps({"mid": mid, "page_id": "home", "last_page_id": last, "is_new": "0", "ts": ts})


def _page(spark, src: str):
    return apps.ods_base_log_app(spark.readStream.format("text").load(src))["page"]


def test_unique_visit_app_plans_native_dedup(spark, tmp_path):
    src = tmp_path / "ods"
    src.mkdir()
    plan = apps.unique_visit_app(_page(spark, str(src)))._jdf.queryExecution().analyzed().toString()
    assert "Deduplicate" in plan
    assert "FlatMapGroupsInPandasWithState" not in plan


def test_unique_visit_stream_equals_batch_with_out_of_order_days(spark, tmp_path):
    src = tmp_path / "ods"
    src.mkdir()
    sink = str(tmp_path / "sink")
    q = (
        apps.unique_visit_app(_page(spark, str(src)))
        .writeStream.queryName("uv_out_of_order")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "chk"))
        .foreachBatch(foreach_batch_upsert(sink, ["mid", "dt"], version_col="ts"))
        .start()
    )
    try:
        _write(str(src), "b1.json", [
            _log("m1", DAY + 5_000),  # m1's day-2 entry arrives first
            _log("m1", DAY + 9_000),  # same-day repeat
            _log("m1", DAY + 10_000, "list", last="home"),  # not an entry
            _log("m2", 1_000),
            _log("m2", 2_000),  # same-day repeat
        ])
        q.processAllAvailable()
        _write(str(src), "b2.json", [
            _log("m1", 3_000),  # m1's day-1 entry, after its day-2 entry
            _log("m1", 4_000),  # same-day repeat
            _log("m2", 7_000),  # repeat of a day emitted in batch 1
            _log("m3", 8_000, "cart", last="list"),  # no entry at all
        ])
        q.processAllAvailable()
        operators = [op["operatorName"] for op in q.lastProgress["stateOperators"]]
    finally:
        q.stop()

    page = apps.ods_base_log_app(spark.read.text(str(src)))["page"]
    want = {(r.mid, r.dt) for r in apps.unique_visit_app(page, streaming=False).collect()}
    got = {(r.mid, r.dt) for r in read_upserted(spark, sink, ["mid", "dt"], "ts").collect()}
    assert want == {("m1", "1970-01-01"), ("m1", "1970-01-02"), ("m2", "1970-01-01")}
    assert got == want
    assert operators == ["dedupe"]


def test_uv_ttl_evicts_closed_days_and_drops_late_entries(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    stream = (
        spark.readStream.schema(PAGE_EVENT_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
        .withColumn("evt_at", F.timestamp_millis(F.col("ts")))
        .withWatermark("evt_at", "1 second")
    )
    q = (
        unique_visits(stream, ttl=True)
        .writeStream.format("memory")
        .queryName("uv_ttl_days")
        .option("checkpointLocation", str(tmp_path / "chk"))
        .outputMode("append")
        .start()
    )

    def feed(name: str, lines: list[str]) -> int:
        _write(str(src), name, lines)
        q.processAllAvailable()
        return q.lastProgress["stateOperators"][0]["numRowsTotal"]

    try:
        assert feed("b1.json", [_event("A", 1_000), _event("B", 2_000), _event("A", 3_000)]) == 2
        assert feed("b2.json", [_event("C", 40_000_000), _event("A", 30_000_000)]) == 3
        # several batches later, day 1 is still open: A's repeat stays suppressed
        assert feed("b3.json", [_event("A", 60_000_000)]) == 3
        # the watermark passes day 1's end: its keys leave the state
        feed("b4.json", [_event("D", DAY + 1_000)])
        # E's day-1 entry is behind the watermark; D's repeat is a duplicate
        assert feed("b5.json", [_event("E", 80_000_000), _event("D", DAY + 5_000)]) == 1
        emitted = sorted((r.mid, r.dt, r.ts) for r in spark.sql("select * from uv_ttl_days").collect())
        assert emitted == [
            ("A", "1970-01-01", 1_000),
            ("B", "1970-01-01", 2_000),
            ("C", "1970-01-01", 40_000_000),
            ("D", "1970-01-02", DAY + 1_000),
        ]
    finally:
        q.stop()


def test_uv_ttl_needs_a_watermark(spark, tmp_path):
    stream = spark.readStream.schema(PAGE_EVENT_SCHEMA).json(str(tmp_path))
    with pytest.raises(ValueError, match="watermark"):
        unique_visits(stream, ttl=True)
