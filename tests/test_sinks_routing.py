"""Sink idempotency (S6-S10/T6 emulation) and routing/projection units."""

from __future__ import annotations

import pyspark.sql.functions as F

from rt_bigdata_spark.operators.projections import parse_json, prune_to_allowlist, valid_cdc_filter
from rt_bigdata_spark.operators.routing import apply_column_allowlist, route_by_config, split_stream
from rt_bigdata_spark.streaming.sinks import dedup_last_wins, foreach_batch_upsert, jdbc_batch_sink, read_upserted


def test_upsert_sink_idempotent_on_replay(spark, tmp_path):
    out_dir = str(tmp_path / "sink")
    df = spark.createDataFrame(
        [(1, "a", 100), (1, "a2", 200), (2, "b", 100)], ["id", "payload", "ts"]
    )
    fn = foreach_batch_upsert(out_dir, keys=["id"], version_col="ts")
    fn(df, 0)
    fn(df, 0)  # replayed micro-batch (at-least-once delivery)
    fn(df, 1)  # and a duplicate batch under a new id
    final = read_upserted(spark, out_dir, keys=["id"], version_col="ts")
    rows = {r.id: (r.payload, r.ts) for r in final.collect()}
    assert rows == {1: ("a2", 200), 2: ("b", 100)}  # last-wins, no dupes


def test_jdbc_batch_sink_dedups_each_batch_then_appends(spark):
    """S9 ClickHouse sink against Spark's bundled in-memory Derby: each
    micro-batch keeps its last version per key, and batches append (the
    reference's ReplacingMergeTree merges versions on read)."""
    url = "jdbc:derby:memory:jdbc_batch_sink;create=true"
    props = {"driver": "org.apache.derby.iapi.jdbc.AutoloadedDriver"}
    fn = jdbc_batch_sink(url, "stats", keys=["k"], version_col="ts", properties=props)
    fn(spark.createDataFrame([("a", 1), ("a", 2), ("b", 1)], "k string, ts long"), 0)
    fn(spark.createDataFrame([("a", 3)], "k string, ts long"), 1)
    got = sorted((r.k, r.ts) for r in spark.read.jdbc(url, "stats", properties=props).collect())
    assert got == [("a", 2), ("a", 3), ("b", 1)]


def test_dedup_last_wins_tie_break_deterministic(spark):
    """A version tie goes to the largest remaining columns, whatever the
    input order and the shuffle width."""
    rows = [(1, "x", 100, 5), (1, "y", 100, 3), (1, "z", 90, 9), (2, "a", 7, 1), (2, "a", 7, 2)]
    want = {(1, "y", 100, 3), (2, "a", 7, 2)}
    width = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for parts in ("1", "32"):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            for order in (rows, rows[::-1]):
                df = spark.createDataFrame(order, ["id", "p", "ts", "q"]).repartition(int(parts))
                out = {tuple(r) for r in dedup_last_wins(df, ["id"], "ts").collect()}
                assert out == want, (parts, order)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", width)
    # map columns cannot be sorted, so they take no part in the tie-break
    with_map = spark.createDataFrame([(1, {"k": "v"}, 100), (1, {"k": "w"}, 90)], "id int, m map<string,string>, ts int")
    assert [r.ts for r in dedup_last_wins(with_map, ["id"], "ts").collect()] == [100]


def test_cdc_route_and_allowlist(spark):
    cdc = spark.createDataFrame(
        [
            ("order_info", "bootstrap-insert", {"id": "1", "amount": "9.5", "secret": "x"}),
            ("order_info", "delete", {"id": "2"}),
            ("unknown_tbl", "insert", {"id": "3"}),
        ],
        ["source_table", "operate_type", "data"],
    )
    config = spark.createDataFrame(
        [("order_info", "insert", "kafka", "dwd_order_info", "id,amount")],
        ["source_table", "operate_type", "sink_type", "sink_table", "sink_columns"],
    )
    routed = route_by_config(cdc, config)
    pruned = apply_column_allowlist(routed, "data")
    rows = pruned.collect()
    # bootstrap-insert normalized to insert and routed; delete/unknown dropped
    assert len(rows) == 1
    assert rows[0].sink_table == "dwd_order_info"
    assert set(rows[0].data.keys()) == {"id", "amount"}  # secret pruned


def test_valid_cdc_filter_and_parse_json(spark):
    from pyspark.sql.types import IntegerType, StructField, StructType

    raw = spark.createDataFrame(
        [("ok", '{"k": 5}'), ("short", "{}"), (None, '{"k": 6}'), ("bad", "not-json")],
        ["table", "data"],
    )
    kept = valid_cdc_filter(raw)
    assert {r.table for r in kept.collect()} == {"ok", "bad"}
    parsed = parse_json(kept, "data", StructType([StructField("k", IntegerType())]))
    vals = [r.j.k for r in parsed.collect()]
    assert vals == [5]  # malformed dropped


def test_split_stream_branches_disjoint_and_complete(spark, sf_dir):
    from rt_bigdata_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    branches = split_stream(
        ev,
        {
            "start": F.col("event_type") == "signup",
            "rest": F.col("event_type") != "signup",
        },
    )
    n = ev.count()
    assert branches["start"].count() + branches["rest"].count() == n


def test_prune_to_allowlist(spark):
    df = spark.createDataFrame([(1, "a", "b")], ["id", "x", "y"])
    assert prune_to_allowlist(df, ["y", "id", "nope"]).columns == ["y", "id"]
