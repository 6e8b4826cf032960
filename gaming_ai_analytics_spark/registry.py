"""Query registry: every implemented operator exposed for the driver.

Each entry pairs a PySpark implementation ``(spark, sf_dir) -> DataFrame``
with an ANSI-SQL oracle string DuckDB runs on the same parquet tables
(driver contract in ``__spark_entry__.py``). Column names and rounding
are aligned on both sides so the order-insensitive value hash matches.

``tests/test_registry.py::test_query_matches_oracle`` runs every entry
against its oracle at sf0.01, so a query registered without one fails
tier-1.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from gaming_ai_analytics_spark.plans.flagship import (
    FLAGSHIP_ORACLE_SQL,
    flagship_star_metrics,
)

QueryFn = Callable[[SparkSession, str], DataFrame]

#: name -> (spark_impl, oracle_sql | None)
_REGISTRY: dict[str, tuple[QueryFn, str | None]] = {}


def register(name: str, fn: QueryFn, oracle: str | None) -> None:
    _REGISTRY[name] = (fn, oracle)


def queries() -> dict[str, QueryFn]:
    """Every registered query, in registration order."""
    return {name: fn for name, (fn, _) in _REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    """The DuckDB oracle of every query that has one."""
    return {name: sql for name, (_, sql) in _REGISTRY.items() if sql is not None}


def oracle_for(name: str) -> str | None:
    """One query's oracle, for reuse by another query module.

    Safe to call from a query module's body during ``_load_all``: it
    reads only ``name``'s own entry of the still half-built registry.
    """
    return _REGISTRY[name][1]


# --- M1 flagship -----------------------------------------------------------
register("flagship_star_metrics", flagship_star_metrics, FLAGSHIP_ORACLE_SQL)


def _load_all() -> None:
    """Import every module that registers queries (side-effect imports)."""
    from gaming_ai_analytics_spark import queries_core  # noqa: F401
    from gaming_ai_analytics_spark import queries_ext  # noqa: F401
    from gaming_ai_analytics_spark import queries_llm  # noqa: F401
    from gaming_ai_analytics_spark import queries_stream  # noqa: F401
    from gaming_ai_analytics_spark import queries_traindata  # noqa: F401
    from gaming_ai_analytics_spark import queries_analytics  # noqa: F401
    from gaming_ai_analytics_spark import queries_warehouse  # noqa: F401


_load_all()
