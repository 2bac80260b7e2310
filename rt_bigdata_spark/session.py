"""SparkSession factory.

Mirrors the reference's per-app environment setup (parallelism, state
backend, checkpointing — e.g. rt-flink OdsBaseLogApp.scala:38-57) as a
single session factory. Defaults:

- One width for the whole session, derived from the machine: ``cpus``
  (``SPARK_GRAFT_CPUS`` if set, else the cores this process may run on)
  is both the ``local[cpus]`` thread count and
  ``spark.sql.shuffle.partitions``. Every stateful or window partition
  pays one state-store commit, one Arrow round trip to Python and one
  sink file per micro-batch, so one partition per core is the cheapest
  width that still keeps every core busy. Cluster deploys set
  ``spark.sql.shuffle.partitions`` through ``extra_conf``; a streaming
  query restarted from a checkpoint keeps the width recorded there.
- A JIT compiler pool sized to the same width:
  ``-XX:CICompilerCount=max(2, cpus // 2)``. HotSpot sizes its pool for
  the whole machine (3 threads on 4 cores: 1 C1 + 2 C2), but the
  ``local[cpus]`` task threads already run on every core, so each extra
  C2 thread takes a core from a micro-batch or a query. Half the cores
  leaves C2 one thread per two task threads; 2 (1 C1 + 1 C2) is the
  minimum under tiered compilation. Measured on 4 cores only (pool
  3 -> 2); C1-only (``-XX:TieredStopAtLevel=1``) saved more CPU but made
  warehouse queries slower.
- JVM options are merged, not replaced: the engine's, then the
  factory's (``get_hive_spark``'s Derby home), then the caller's
  ``spark.driver.extraJavaOptions`` from ``extra_conf``, joined with
  spaces. HotSpot takes the last value of an ``-XX`` flag, so the
  caller's flag wins. They apply only when this factory launches the
  JVM: a ``getOrCreate`` on a running JVM, or a ``spark-submit``
  launch, keeps the launcher's options. A cluster deploy sets
  ``spark.executor.extraJavaOptions`` for its executors.
- A generated-code cache that holds the engine's working set: every
  registry spec's Janino classes stay compiled across queries instead
  of being evicted and recompiled (and JIT-compiled again) each time.
- AQE on (runtime coalescing / skew-join handling replaces the
  reference's hand-tuned ``setParallelism(4)``),
- Arrow enabled for the Pandas-UDF paths (the only Python hot paths we
  allow are Arrow-batched),
- UTC session timezone so window boundaries and date formatting are
  deterministic and match the DuckDB test oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS: dict[str, str] = {
    # Runtime re-planning: coalesce small shuffle partitions, split skewed
    # ones. This is the scale story for 100 TB — plans adapt to actual
    # partition sizes instead of a hand-set parallelism.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # spark.sql.shuffle.partitions follows the machine: one per core, set
    # in _session. Cluster deploys override it through extra_conf.
    # Let AQE re-optimize CACHED plans too (off by default for output-
    # partitioning stability): the engine's documented caller-owned
    # persists (minhash signatures, sweep pair sets, shingle tables)
    # otherwise materialize at the raw shuffle-partition count and
    # every downstream stage over the cache schedules that many tasks
    # regardless of size (guide §2.2: fewer, larger partitions). Purely
    # a physical-layout change; results and the cached-plan keying are
    # unaffected.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    # Split small-but-compute-heavy files (documents/embeddings at test
    # SF are single ~10 MB files → one task → one core without this).
    # At 100 TB the scan parallelism comes from file count anyway.
    "spark.sql.files.maxPartitionBytes": str(8 * 1024 * 1024),
    # Janino classes cached per JVM (static conf; Spark's default is
    # 100). One sweep over every registry spec (__spark_entry__.queries()
    # at sf0.001) compiles 1,929 distinct classes, and the 18 warehouse
    # specs alone ~265: an LRU cache of 100 cycling through them never
    # hits, so every query recompiled all its classes and the JIT
    # compiled ~500 freshly loaded JVM classes per pass again. About
    # twice the sweep's count leaves room for plan variants and ad-hoc
    # queries; the cache costs ~15 MB of Metaspace over a full sweep.
    "spark.sql.codegen.cache.maxEntries": "4096",
    # Arrow for pandas_udf / applyInPandas / mapInPandas exchange.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Deterministic window boundaries + date_format across engines.
    "spark.sql.session.timeZone": "UTC",
    # Broadcast threshold: dims (region/nation/customer/part/supplier at
    # test SF; real dims up to ~100 MB) should broadcast.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # ANSI off: permissive casts match the reference's lenient JSON-path
    # semantics (malformed → null, not error).
    "spark.sql.ansi.enabled": "false",
    # Runtime row-level join pruning: build a bloom filter from the
    # selective side of a shuffle join and push it into the other
    # side's scan — at 100 TB this skips reading fact rows whose keys
    # cannot match (complements the static pushdown the plans already
    # get). No effect on tiny test inputs (creation thresholds gate it)
    # but the session is the right place for the cluster default.
    # (semiJoinReduction stays OFF: enabling it alongside stalled the
    # local test harness — observed hang, no test completed in 12 min.)
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    # Testdata events.ts is TIMESTAMP(NANOS) parquet, which Spark refuses;
    # read as long and convert in sources.tables (integer ns→µs division).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
}

# T6 parity: the reference keeps keyed state in RocksDB on HDFS
# (OdsBaseLogApp.scala:43-44). Spark's RocksDB state store provider is
# the same spill-to-disk story for Structured Streaming state; HDFS-backed
# checkpoint dirs carry the durability. Opt-in (per-query conf) because
# the default in-memory provider is faster for the small test states.
ROCKSDB_STATE_STORE = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def use_rocksdb_state(spark: SparkSession) -> None:
    """Switch streaming state to RocksDB for queries started after this
    call (runtime conf — applies per started query, not per session)."""
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB_STATE_STORE)


_JAVA_OPTS = "spark.driver.extraJavaOptions"


def _session(app_name: str, conf: dict[str, str], extra_conf: dict[str, str] | None, hive: bool = False) -> SparkSession:
    """Build (or return) the session on ``local[cpus]`` — ``cpus`` is
    ``SPARK_GRAFT_CPUS`` if set, else the cores this process may run on —
    with one shuffle and state partition per core and a JIT compiler
    pool of half the cores, then the defaults, ``conf`` and the caller's
    ``extra_conf`` (which may override the width). The engine's,
    ``conf``'s and the caller's JVM options are joined, the caller's last."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    builder = SparkSession.builder.appName(app_name).master(f"local[{cpus}]")
    extra_conf = extra_conf or {}
    merged = {**_DEFAULTS, "spark.sql.shuffle.partitions": str(cpus), **conf, **extra_conf}
    java_opts = (f"-XX:CICompilerCount={max(2, cpus // 2)}", conf.get(_JAVA_OPTS), extra_conf.get(_JAVA_OPTS))
    merged[_JAVA_OPTS] = " ".join(filter(None, java_opts))
    for k, v in merged.items():
        builder = builder.config(k, v)
    if hive:
        builder = builder.enableHiveSupport()
    return builder.getOrCreate()


def get_spark(app_name: str = "rt_bigdata_spark", extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Return the shared SparkSession, creating it if needed."""
    return _session(app_name, {}, extra_conf)


def get_hive_spark(
    warehouse_dir: str,
    app_name: str = "rt_bigdata_spark-hive",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """SparkSession with a persistent Hive catalog (S13 — the
    reference's HiveCatalog registration, rt-flink
    demo/$01_FlinkWithHive.scala:27-63).

    Uses the embedded Derby metastore rooted under ``warehouse_dir``:
    databases/tables created via ``spark.sql("CREATE TABLE ...")`` or
    ``df.write.saveAsTable`` survive process restarts (verified
    cross-process in tests/test_hive_catalog.py). In a cluster deploy
    point ``hive.metastore.uris`` at the shared metastore instead; the
    engine code is identical — only this factory changes.

    Note: one catalog implementation per JVM — call this from a fresh
    process, not after ``get_spark`` has already built an in-memory-
    catalog session.
    """
    hive_conf = {
        "spark.sql.warehouse.dir": os.path.join(warehouse_dir, "warehouse"),
        _JAVA_OPTS: f"-Dderby.system.home={os.path.join(warehouse_dir, 'derby')}",
    }
    return _session(app_name, hive_conf, extra_conf, hive=True)


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
