"""Query registry: one QuerySpec per implemented operator from SURVEY.md §2.

Single source of truth for the driver contract (``__spark_entry__.py``
derives ``queries()`` and ``oracle_sql()`` from here, in registration
order) and for the test suite (every spec is executed against its
DuckDB oracle).

Conventions that make the driver's order-insensitive value-hash
comparison work:

- every computed column is aliased identically in Spark and oracle SQL;
- money/double aggregations cast to DECIMAL(18,2) *before* summation on
  both sides (floating-point summation order would otherwise diverge);
- tumbling windows use widths that divide a day (10 min / 1 h / 1 d) so
  Spark's epoch-aligned ``window()`` and DuckDB's 2000-01-03-aligned
  ``time_bucket`` agree on boundaries.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    spark: SparkQuery
    oracle: str | None  # DuckDB SQL; None → driver does rows-only check
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, QuerySpec] = {}


def register(spec: QuerySpec) -> QuerySpec:
    if spec.name in REGISTRY:
        raise ValueError(f"duplicate query name: {spec.name}")
    REGISTRY[spec.name] = spec
    return spec


def get_queries() -> dict[str, SparkQuery]:
    _ensure_loaded()
    return {spec.name: spec.spark for spec in REGISTRY.values()}


def get_oracles() -> dict[str, str]:
    _ensure_loaded()
    return {spec.name: spec.oracle for spec in REGISTRY.values() if spec.oracle is not None}


_LOADED = False


def _ensure_loaded() -> None:
    """Import all plan modules (each registers its specs on import)."""
    global _LOADED
    if _LOADED:
        return
    from rt_bigdata_spark.plans import textops, warehouse  # noqa: F401

    _LOADED = True
