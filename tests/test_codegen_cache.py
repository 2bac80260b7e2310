"""The session's generated-code cache holds a warm working set: a spec
run again reuses its Janino classes instead of compiling them anew."""

from __future__ import annotations

from rt_bigdata_spark.plans.registry import REGISTRY, _ensure_loaded

# Warehouse specs whose plans compile ~150 distinct classes on a cold
# cache at sf0.001, more than Spark's default of 100 cache entries.
# active_users_hll is left out: its plans compile a few new classes on
# every run, cache or not.
SPECS = (
    "province_stats", "keyword_stats", "keyword_stats_4product", "product_stats", "order_wide_enriched",
    "shipping_priority", "visitor_stats", "uv_dedup", "pricing_summary", "rolling_revenue",
)


def test_second_pass_reuses_generated_classes(spark, sf_dir):
    """At a cache smaller than the specs' working set the LRU cycles
    through it and the second pass recompiles every class, whatever
    earlier tests left cached; at the session default it compiles
    (almost) none."""
    _ensure_loaded()
    compiled = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    counts = []
    for _ in range(2):
        before = compiled.getCount()
        for name in SPECS:
            REGISTRY[name].spark(spark, sf_dir).write.format("noop").mode("overwrite").save()
        counts.append(compiled.getCount() - before)
    first, second = counts
    assert second <= max(first, 100) // 10, counts
