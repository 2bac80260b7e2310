"""Oracle-parity harness: every registered QuerySpec with an oracle is
executed on Spark and on DuckDB over the same parquet and compared
order-insensitively (row count, column names, per-row value tuples) —
the same contract the driver's CORRECTNESS gate applies."""

from __future__ import annotations

import pytest

from rt_bigdata_spark.plans.registry import REGISTRY, _ensure_loaded
from rt_bigdata_spark.testing import rowset as _rowset

_ensure_loaded()

ORACLE_SPECS = [s for s in REGISTRY.values() if s.oracle is not None]
ROWS_ONLY_SPECS = [s for s in REGISTRY.values() if s.oracle is None]

# Fast-tier smoke subset: one cheap representative per operator family
# stays in the <5 min inner loop; the FULL parametrization runs in the
# slow tier (`pytest -m slow`). A spec that opens a new operator family
# adds its cheapest member here.
FAST_PARITY = {
    "dedup_exact", "text_quality", "token_stats", "language_id",  # text/dedup
    "ngram_jaccard", "ann_cosine_topk",  # pair/similarity
    "dedup_threshold_sweep",  # sweep family (exercises the owned-persist path)
    "pricing_summary", "keyword_stats", "order_wide", "product_stats",  # warehouse
    "union_stats", "sales_rollup", "scalar_datetime", "json_props",  # routing/scalar
    "event_anomalies",  # zscore portable-conversion path
    "dsir_importance", "dup_source_matrix", "ngram_novelty",  # corpus profiling
}


def _parity_param(spec):
    if spec.name in FAST_PARITY:
        return spec
    return pytest.param(spec, marks=pytest.mark.slow)




def _assert_pandas_representable(name: str, rows: list[tuple]) -> None:
    """The correctness driver hashes query results through pandas:
    any datetime outside datetime64[ns] range (1677-09-21..2262-04-11)
    raises OutOfBoundsDatetime in ITS pipeline even though Spark and
    DuckDB both computed it fine (the r4 dim_history failure — a
    9999-12-31 SCD sentinel). Guard every oracle-backed result here so
    the failure mode cannot recur silently."""
    import datetime

    # Strictly inside pd.Timestamp.min/max (1677-09-21..2262-04-11);
    # whole-day bounds avoid the nanosecond-discard warning of
    # Timestamp.to_pydatetime() and are conservative by < 1 day.
    lo, hi = datetime.datetime(1677, 9, 22), datetime.datetime(2262, 4, 11)
    lo_d, hi_d = lo.date(), hi.date()
    for row in rows:
        for v in row:
            if isinstance(v, datetime.datetime):
                assert lo <= v.replace(tzinfo=None) <= hi, (
                    f"{name}: timestamp {v} outside pandas datetime64[ns] range — "
                    "the driver's hash path will crash on this row"
                )
            elif isinstance(v, datetime.date):
                assert lo_d <= v <= hi_d, (
                    f"{name}: date {v} outside pandas datetime64[ns] range — "
                    "the driver's hash path will crash on this row"
                )


@pytest.mark.parametrize("spec", [_parity_param(s) for s in ORACLE_SPECS], ids=lambda s: s.name)
def test_oracle_parity(spark, duck, sf_dir, spec):
    sdf = spec.spark(spark, sf_dir)
    s_cols = [c.lower() for c in sdf.columns]
    s_rows = [tuple(r) for r in sdf.collect()]
    _assert_pandas_representable(spec.name, s_rows)

    res = duck.execute(spec.oracle)
    d_cols = [c[0].lower() for c in res.description]
    d_rows = res.fetchall()

    assert sorted(s_cols) == sorted(d_cols), f"{spec.name}: column mismatch {s_cols} vs {d_cols}"
    assert len(s_rows) == len(d_rows), f"{spec.name}: row count {len(s_rows)} vs {len(d_rows)}"
    s_set = _rowset(s_cols, s_rows)
    d_set = _rowset(d_cols, d_rows)
    if s_set != d_set:
        diff_s = [r for r in s_set if r not in d_set][:5]
        diff_d = [r for r in d_set if r not in s_set][:5]
        raise AssertionError(f"{spec.name}: value mismatch\n spark-only: {diff_s}\n duck-only: {diff_d}")

    _assert_dtype_kinds_survive_pandas(spec.name, sdf.schema, s_rows, s_cols, duck.execute(spec.oracle).df())


def _assert_dtype_kinds_survive_pandas(name, spark_schema, s_rows, s_cols, ddf) -> None:
    """The correctness driver hashes BOTH sides through pandas, not
    ``fetchall()`` tuples — so values that compare equal above can
    still hash differently when the two frames materialize different
    pandas dtype KINDS. Three shipped incidents of this class: r4
    (datetime out of datetime64[ns] range), r5 (DuckDB HUGEINT →
    float64 vs Spark int64), r8 (Spark decimal sum → object-Decimal vs
    DuckDB DECIMAL sum → float64). The r5 fix guarded integers only;
    this is the full guard (r8 verdict item 2): every column of every
    oracle-backed spec must land in the same pandas dtype kind on both
    sides (modulo the driver-green-proven equivalences in
    testing.KIND_EQUIVALENT). Spark's kind is predicted from the
    schema + observed nulls (testing.spark_pandas_kind — no second
    Spark execution); DuckDB's is classified from the actual ``.df()``
    frame the driver hashes. In particular a decimal output column on
    the Spark side ALWAYS fails here (DuckDB decimals are float64 in
    pandas) — apply the decimal→double final-projection convention
    (plans/warehouse.py:37-60) on both sides."""
    from rt_bigdata_spark.testing import (
        duckdb_pandas_kind,
        kinds_hash_compatible,
        spark_pandas_kind,
    )

    null_cols = {
        c for i, c in enumerate(s_cols) if any(r[i] is None for r in s_rows)
    }
    spark_kinds = {
        f.name.lower(): spark_pandas_kind(f, f.name.lower() in null_cols)
        for f in spark_schema.fields
    }
    for col in ddf.columns:
        sk = spark_kinds[col.lower()]
        dk = duckdb_pandas_kind(ddf[col])
        # A null-bearing integral column is float64 on the Spark side
        # (predicted) and float64 on the DuckDB side too — but DuckDB
        # may also keep masked int dtypes in some versions; accept
        # int/float in either order when the column carries nulls.
        if col.lower() in null_cols and {sk, dk} <= {"int", "float"}:
            continue
        assert kinds_hash_compatible(sk, dk), (
            f"{name}: column {col!r} lands as pandas kind {sk!r} from Spark "
            f"but {dk!r} from the DuckDB oracle — equal values will hash "
            "differently in the driver (the r4/r5/r8 dtype class). Cast the "
            "output representation to the same kind on BOTH sides (e.g. "
            "decimal → CAST(... AS DOUBLE), integer aggs → CAST(... AS BIGINT))."
        )


def test_dtype_guard_catches_uncast_decimal(spark, duck, sf_dir):
    """Regression fixture for the guard itself (r8 verdict item 2
    'done' criterion): a deliberately un-cast decimal aggregate — the
    exact shape that shipped hash-red as salted_enrichment in r8 —
    must FAIL the dtype-kind guard even though its values match the
    oracle exactly."""
    import pyspark.sql.functions as F

    sdf = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy("event_type")
        .agg(F.sum(F.col("value").cast("decimal(18,6)")).alias("sum_value"))
    )
    oracle = (
        "SELECT event_type, SUM(CAST(value AS DECIMAL(18,6))) AS sum_value "
        "FROM events GROUP BY 1"
    )
    s_rows = [tuple(r) for r in sdf.collect()]
    s_cols = [c.lower() for c in sdf.columns]
    ddf = duck.execute(oracle).df()
    with pytest.raises(AssertionError, match="dtype class"):
        _assert_dtype_kinds_survive_pandas("uncast_decimal_fixture", sdf.schema, s_rows, s_cols, ddf)


def test_every_spec_is_oracle_backed():
    """Since r6 the registry carries ZERO rows-only specs — every query
    is hash-checked against DuckDB. This invariant replaces the old
    parametrized rows-only smoke test, whose now-empty parameter set
    was the full suite's one lingering 'skipped' line (r6 verdict item
    3). A future genuinely-non-SQL-expressible registration should
    reinstate that execution check alongside relaxing this assertion."""
    assert ROWS_ONLY_SPECS == [], [s.name for s in ROWS_ONLY_SPECS]


def test_entry_contract_lists_specs_in_registration_order():
    """The driver contract is the registry itself: ``queries()`` and
    ``oracle_sql()`` list every spec once, in registration order, with no
    reordering between the registry and ``__spark_entry__``."""
    import __spark_entry__

    assert list(__spark_entry__.queries()) == list(REGISTRY)
    assert list(__spark_entry__.oracle_sql()) == list(REGISTRY)
