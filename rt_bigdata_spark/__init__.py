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
  detection, funnel progression) on one stateful streaming engine
  (streaming/stateful.py): daily-UV dedup is Structured Streaming's
  native ``dropDuplicates``, the others run per key on
  ``applyInPandasWithState``,
- large-scale training-data ops (dedup, similarity search, text
  analysis, multimodal plumbing) on the same DataFrame substrate.
"""

from rt_bigdata_spark.session import get_hive_spark, get_spark, stop_spark

__all__ = ["get_hive_spark", "get_spark", "stop_spark"]
__version__ = "0.1.0"
