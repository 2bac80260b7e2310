"""load_table source hygiene: TIMESTAMP(NANOS) columns are detected
from the parquet footer (not an allowlist) and surfaced as proper
timestamps; micros columns pass through untouched. Schemas are inferred
once per file version, yet every load is a fresh, live relation."""

from __future__ import annotations

import datetime as dt
import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

from rt_bigdata_spark.sources.tables import _nanos_ts_cols, load_table


def _write_tbl(path: str, unit: str) -> None:
    if unit == "us":
        ts = pa.array([1_700_000_000_123_456, 1_700_000_111_000_000], type=pa.timestamp("us"))
    else:
        ts = pa.array(
            [1_700_000_000_123_456_789, 1_700_000_111_000_000_000], type=pa.timestamp("ns")
        )
    tbl = pa.table({"k": pa.array([1, 2], type=pa.int64()), "created_at": ts})
    pq.write_table(tbl, path, coerce_timestamps=None)


def test_nanos_column_outside_allowlist_roundtrips(spark, tmp_path):
    sf_dir = str(tmp_path)
    _write_tbl(os.path.join(sf_dir, "mytable.parquet"), "ns")
    assert _nanos_ts_cols(os.path.join(sf_dir, "mytable.parquet")) == ("created_at",)

    df = load_table(spark, sf_dir, "mytable")
    assert isinstance(df.schema["created_at"].dataType, TimestampType)
    rows = {r["k"]: r["created_at"] for r in df.collect()}
    # ns→µs integer division truncates sub-microsecond digits.
    assert rows[1] == dt.datetime(2023, 11, 14, 22, 13, 20, 123456)
    assert rows[2] == dt.datetime(2023, 11, 14, 22, 15, 11)


def test_micros_column_not_converted(spark, tmp_path):
    sf_dir = str(tmp_path)
    _write_tbl(os.path.join(sf_dir, "mtable.parquet"), "us")
    assert _nanos_ts_cols(os.path.join(sf_dir, "mtable.parquet")) == ()
    df = load_table(spark, sf_dir, "mtable")
    # Micros parquet reads natively (NTZ here: isAdjustedToUTC=false);
    # the point is it must NOT surface as a raw long.
    assert isinstance(df.schema["created_at"].dataType, (TimestampType, TimestampNTZType))
    assert not isinstance(df.schema["created_at"].dataType, LongType)


def test_directory_dataset_footer_detection(spark, tmp_path):
    d = tmp_path / "dtable.parquet"
    d.mkdir()
    _write_tbl(str(d / "part-000.parquet"), "ns")
    assert _nanos_ts_cols(str(d)) == ("created_at",)
    df = load_table(spark, str(tmp_path), "dtable")
    assert isinstance(df.schema["created_at"].dataType, TimestampType)


def test_struct_nested_nanos_column_converts(spark, tmp_path):
    """A TIMESTAMP(NANOS) field inside a plain struct is rewritten via
    withField (other struct fields preserved), same ns->us integer
    division as top-level columns."""
    inner = pa.array([1_700_000_000_123_456_789], type=pa.timestamp("ns"))
    other = pa.array(["x"], type=pa.string())
    tbl = pa.table(
        {
            "k": pa.array([1], type=pa.int64()),
            "meta": pa.StructArray.from_arrays([inner, other], names=["ts_ns", "tag"]),
        }
    )
    pq.write_table(tbl, str(tmp_path / "nested.parquet"))
    assert _nanos_ts_cols(str(tmp_path / "nested.parquet")) == ("meta.ts_ns",)

    df = load_table(spark, str(tmp_path), "nested")
    assert isinstance(df.schema["meta"].dataType["ts_ns"].dataType, TimestampType)
    row = df.collect()[0]
    assert row["meta"]["ts_ns"] == dt.datetime(2023, 11, 14, 22, 13, 20, 123456)
    assert row["meta"]["tag"] == "x"  # sibling field untouched


def test_array_nested_nanos_fails_loudly(tmp_path):
    """Inside an array the per-element rewrite can't reach the field —
    raise (confined to this table) instead of silently surfacing longs."""
    import pytest

    inner = pa.array([[1_700_000_000_123_456_789]], type=pa.list_(pa.timestamp("ns")))
    tbl = pa.table({"k": pa.array([1], type=pa.int64()), "ts_list": inner})
    path = str(tmp_path / "arr.parquet")
    pq.write_table(tbl, path)
    with pytest.raises(NotImplementedError, match="repeated"):
        _nanos_ts_cols(path)


def test_pre_epoch_nanos_floor_not_truncate(spark, tmp_path):
    """ns->us must FLOOR for negative (pre-1970) epochs: -1500 ns is
    1969-12-31T23:59:59.999998500, whose microsecond floor is ...999998
    — truncate-toward-zero would give ...999999."""
    ts = pa.array([-1_500, 1_500], type=pa.timestamp("ns"))
    tbl = pa.table({"k": pa.array([1, 2], type=pa.int64()), "t": ts})
    pq.write_table(tbl, str(tmp_path / "pre.parquet"))
    df = load_table(spark, str(tmp_path), "pre")
    rows = {r.k: r.t for r in df.collect()}
    assert rows[1] == dt.datetime(1969, 12, 31, 23, 59, 59, 999998)
    assert rows[2] == dt.datetime(1970, 1, 1, 0, 0, 0, 1)


def test_rewritten_file_reads_back_with_its_new_schema(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"k": [1, 2], "a": ["x", "y"]}), path)
    assert load_table(spark, str(tmp_path), "t").columns == ["k", "a"]

    pq.write_table(pa.table({"k": [3], "b": [1.5], "c": [True]}), path)
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["k", "b", "c"]
    assert [tuple(r) for r in df.collect()] == [(3, 1.5, True)]


def test_part_file_added_to_directory_dataset_is_visible(spark, tmp_path):
    d = tmp_path / "parts.parquet"
    d.mkdir()
    pq.write_table(pa.table({"k": [1, 2]}), str(d / "part-000.parquet"))
    assert load_table(spark, str(tmp_path), "parts").count() == 2

    pq.write_table(pa.table({"k": [3, 4]}), str(d / "part-001.parquet"))
    got = load_table(spark, str(tmp_path), "parts")
    assert sorted(r.k for r in got.collect()) == [1, 2, 3, 4]


def test_two_loads_of_one_table_self_join(spark, tmp_path):
    """Each call returns a fresh relation: two loads carry distinct
    attribute ids, so a self-join resolves each side's columns."""
    pq.write_table(pa.table({"k": [1, 2, 3], "v": ["a", "b", "c"]}), str(tmp_path / "s.parquet"))
    a = load_table(spark, str(tmp_path), "s")
    b = load_table(spark, str(tmp_path), "s")
    pairs = a.join(b, a["k"] + 1 == b["k"]).select(a["v"], b["v"].alias("next_v"))
    assert sorted(tuple(r) for r in pairs.collect()) == [("a", "b"), ("b", "c")]


def test_repeated_load_of_unchanged_file_starts_no_job(spark, tmp_path):
    """Schema inference is a Spark job; a warm session resolves an
    unchanged file's schema once and later loads start none."""
    import uuid

    _write_tbl(str(tmp_path / "j.parquet"), "ns")
    sc = spark.sparkContext
    first, second = (f"load-table-{uuid.uuid4().hex}" for _ in range(2))
    try:
        sc.setJobGroup(first, first)
        load_table(spark, str(tmp_path), "j")
        sc.setJobGroup(second, second)
        df = load_table(spark, str(tmp_path), "j")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(first)) >= 1
    assert sc.statusTracker().getJobIdsForGroup(second) == []
    assert isinstance(df.schema["created_at"].dataType, TimestampType)


def test_read_jsonl_permissive_splits_clean_and_corrupt(spark, tmp_path):
    from rt_bigdata_spark.sources.files import corrupt_records, read_jsonl

    p = tmp_path / "in.jsonl"
    p.write_text(
        '{"id": 1, "name": "a"}\n'
        "THIS IS NOT JSON\n"
        '{"id": 2, "name": "b"}\n'
        '{"id": "not_an_int", "name": "c"}\n'
    )
    clean = read_jsonl(spark, str(p), "id BIGINT, name STRING").collect()
    assert sorted((r.id, r.name) for r in clean) == [(1, "a"), (2, "b")]
    bad = corrupt_records(
        read_jsonl(spark, str(p), "id BIGINT, name STRING", keep_corrupt=True)
    ).collect()
    assert len(bad) == 2  # the non-JSON line AND the type-mismatched one
    assert any("NOT JSON" in r.raw for r in bad)


def test_read_csv_permissive_splits_clean_and_corrupt(spark, tmp_path):
    from rt_bigdata_spark.sources.files import corrupt_records, read_csv

    p = tmp_path / "in.csv"
    p.write_text("id,name\n1,a\nnot_an_int,b\n3,c\n")
    clean = read_csv(spark, str(p), "id BIGINT, name STRING").collect()
    assert sorted((r.id, r.name) for r in clean) == [(1, "a"), (3, "c")]
    bad = corrupt_records(
        read_csv(spark, str(p), "id BIGINT, name STRING", keep_corrupt=True)
    ).collect()
    assert [r.raw for r in bad] == ["not_an_int,b"]
