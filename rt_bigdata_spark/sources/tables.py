"""Batch table sources over the driver-generated parquet testdata.

Plays the role of the reference's source utilities (KafkaUtil /
PhoenixUtil / MySQLUtil — rt-flink …/utils/) for the batch/test path:
every engine query reads through here so the physical source (parquet
now; Kafka/JDBC in streaming deploys) is swapped in one place.

Scan hygiene: we return raw ``spark.read.parquet`` DataFrames and let
each query project/filter — Catalyst pushes the predicates and prunes
columns down to the parquet scan (verify with
``df.explain("formatted")`` → PushedFilters / ReadSchema). The schema
is resolved once per session and file version (``_version``): inferring
it runs a one-task Spark job that reads a footer, ~85 ms per call,
while a read with the known schema starts none. Every call still
returns a fresh ``spark.read.schema(s).parquet(path)`` relation, never
a cached DataFrame, so self-joins and temp views get fresh attribute
ids, directory listings stay live and persisted plans over the table
still match in the ``CacheManager``.
"""

from __future__ import annotations

import functools
import json
import os
import weakref

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType, StructType

from rt_bigdata_spark.config import TESTDATA_TABLES


def _version(path: str) -> tuple:
    """What a footer or schema read from ``path`` stays valid for: a
    file's (mtime_ns, size); a directory dataset's listing of
    (relative path, mtime_ns, size). Rewriting a file in place, or
    adding or replacing a part file, changes it, so every cache keyed
    on it here serves fresh schema info for regenerated data."""
    if not os.path.isdir(path):
        st = os.stat(path)
        return (st.st_mtime_ns, st.st_size)
    listing = []
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for f in sorted(files):
            st = os.stat(os.path.join(root, f))
            listing.append((os.path.relpath(os.path.join(root, f), path), st.st_mtime_ns, st.st_size))
    return tuple(listing)


def _nanos_ts_cols(path: str) -> tuple[str, ...]:
    """Top-level columns stored as TIMESTAMP(NANOS), read from the
    parquet footer (pyarrow). Detected, not allowlisted: the testdata
    has switched timestamp units between generations (nanos in earlier
    rounds, micros now), and a hard-coded column list silently
    surfaces any new nanos column as a raw long. Footer metadata is
    the source of truth both engines read anyway; one footer fetch per
    (path, ``_version``) is cached.

    For a directory-shaped dataset the first part file's footer stands
    in for all of them (a writer that mixes timestamp units across
    parts would already be unreadable as one table).
    """
    return _nanos_ts_cols_at(path, _version(path))


@functools.lru_cache(maxsize=512)
def _nanos_ts_cols_at(path: str, version: tuple) -> tuple[str, ...]:
    if os.path.isdir(path):
        parts = [
            rel for rel, _, _ in version
            if rel.endswith(".parquet") and not os.path.basename(rel).startswith((".", "_"))
        ]
        if not parts:
            return ()
        path = os.path.join(path, parts[0])
    import pyarrow.parquet as pq

    schema = pq.ParquetFile(path).schema
    out = []
    for i in range(len(schema)):
        col = schema.column(i)
        try:
            lt = json.loads(col.logical_type.to_json())
        except ValueError:
            continue
        if lt.get("Type") == "Timestamp" and lt.get("timeUnit") == "nanoseconds":
            if col.max_repetition_level > 0:
                # Repetition level > 0 means the field sits inside an
                # array or map — regardless of the encoding's path
                # naming (modern '.list.element', legacy '.bag.array',
                # parquet-mr maps, ...). The per-field rewrite below
                # can't reach elements; letting them through would
                # silently surface raw longs — fail loudly, confined to
                # this one table (other tables load fine).
                raise NotImplementedError(
                    f"TIMESTAMP(NANOS) at repeated/map path {col.path!r} in {path}: "
                    "convert the element type in the writer, or restructure the source"
                )
            out.append(col.path)
    return tuple(out)


def _convert_nanos_col(df: DataFrame, dotted: str) -> DataFrame:
    """Rewrite one (possibly struct-nested) nanos-long column to a
    timestamp via integer ns→µs FLOOR division (`x - pmod(x, 1000)` is
    the next-lower multiple of 1000, so the truncating `div` is an
    exact floor — plain `div` truncates toward zero, which would round
    pre-epoch negative nanos UP by 1 µs; a double division would lose
    precision at ~1.7e18 ns magnitudes). Top-level: plain withColumn;
    struct-nested ("meta.ts"): withField on the enclosing struct, which
    preserves the struct's other fields."""
    q = f"`{dotted.replace('.', '`.`')}`"
    expr = F.expr(f"timestamp_micros(({q} - pmod({q}, 1000)) div 1000)")
    parts = dotted.split(".")
    if len(parts) == 1:
        return df.withColumn(dotted, expr)
    col = F.col(parts[0]).withField(".".join(parts[1:]), expr)
    return df.withColumn(parts[0], col)


# Per session: path -> ((version, nanosAsLong), inferred schema). One
# entry per path, so a rewritten file replaces its stale entry.
_SCHEMAS: weakref.WeakKeyDictionary[SparkSession, dict[str, tuple[tuple, StructType]]] = (
    weakref.WeakKeyDictionary()
)


def _schema(spark: SparkSession, path: str, version: tuple) -> StructType:
    """The schema ``spark.read.parquet(path)`` infers, inferred once per
    session, path, file version and ``nanosAsLong`` value (the one
    schema-shaping conf the engine sets at runtime, in ``load_table``)."""
    key = (version, spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false"))
    per_session = _SCHEMAS.setdefault(spark, {})
    hit = per_session.get(path)
    if hit is None or hit[0] != key:
        hit = per_session[path] = (key, spark.read.parquet(path).schema)
    return hit[1]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    version = _version(path)
    nanos = _nanos_ts_cols_at(path, version)
    if nanos and spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true":
        # Without this conf any session (e.g. the correctness driver's
        # externally-built one) fails with PARQUET_TYPE_ILLEGAL on a
        # TIMESTAMP(NANOS) column before our ns→µs conversion can run.
        # It is runtime-settable; set only when the footer proves it is
        # needed, and only once (the conf.get guard avoids re-mutating
        # shared session state on every call).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.schema(_schema(spark, path, version)).parquet(path)
    for col in nanos:
        # Convert only when the field actually read back as long
        # (nanosAsLong in effect); see _convert_nanos_col for the
        # precision/rounding rationale.
        if _leaf_is_long(df.schema, col.split(".")):
            df = _convert_nanos_col(df, col)
    return df


def _leaf_is_long(schema, parts: list[str]) -> bool:
    dt: object = schema
    for p in parts:
        if not isinstance(dt, StructType) or p not in dt.fieldNames():
            return False
        dt = dt[p].dataType
    return isinstance(dt, LongType)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TESTDATA_TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view (for spark.sql plans)."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
