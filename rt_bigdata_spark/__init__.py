"""rt_bigdata_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the capabilities of the reference
real-time warehouse (cgyPension/rt-bigdata, a Flink 1.12 layered
ODS→DWD→DWM→DWS pipeline) as an idiomatic Spark engine:

- batch-first, streaming-compatible operators (every operator is a
  ``DataFrame -> DataFrame`` function usable on static or streaming
  DataFrames),
- declarative DataFrame/SQL plans so Catalyst handles pushdown,
  pruning, join strategy and partial aggregation,
- stateful streaming semantics (visitor correction, UV dedup, bounce
  detection, funnel progression): daily-UV dedup is Structured
  Streaming's native ``dropDuplicates``, the others run on BOTH state
  engines, ``applyInPandasWithState`` (streaming/stateful.py) and
  Spark 4's transformWithState (streaming/stateful_v2.py — native TTL,
  named event-time timers), sharing per-key scan kernels so the
  engines cannot drift,
- large-scale training-data ops (dedup, similarity search, text
  analysis, multimodal plumbing) on the same DataFrame substrate.
"""

from rt_bigdata_spark.session import get_hive_spark, get_spark, stop_spark

__all__ = ["get_hive_spark", "get_spark", "stop_spark"]
__version__ = "0.1.0"
