"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``gaming_ai_analytics_spark`` (see SURVEY.md);
this module is a thin adapter.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO_DIR = os.path.dirname(os.path.abspath(__file__))
if _REPO_DIR not in sys.path:
    sys.path.insert(0, _REPO_DIR)

from gaming_ai_analytics_spark import registry  # noqa: E402
from gaming_ai_analytics_spark.plans.flagship import flagship_star_metrics  # noqa: E402

_SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return flagship_star_metrics(spark, _SMOKE_SF_DIR)


def _portable(
    fn: Callable[[SparkSession, str], DataFrame],
) -> Callable[[SparkSession, str], DataFrame]:
    """Session-portability shim (r6 VERDICT "What's wrong" #1): the
    driver builds its own PLAIN SparkSession, not ``session.get_spark``,
    so a query must not depend on any conf session.py sets.  The audit
    of those confs found exactly two that are correctness-bearing
    rather than perf-only:

    - ``spark.sql.python.filterPushdown.enabled`` — Spark 4 hard-fails
      a Python DataSource scan without it; set at the registration
      site (sources/pyds.py) where the dependency lives.
    - ``spark.sql.session.timeZone=UTC`` — every oracle compares
      against DuckDB's UTC-naive timestamps, and Spark's date_trunc /
      EXTRACT read the session zone.  Green so far only because this
      host's JVM default is UTC; pinned here (runtime-settable) so the
      contract survives any host.

    Everything else session.py sets (AQE trio, shuffle partitions,
    broadcast threshold, Arrow toPandas, driver memory) changes plans
    or speed, never results."""

    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        return fn(spark, sf_dir)

    return wrapped


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, in
    registration order. Every entry is checked against its
    ``oracle_sql()`` twin in tier-1
    (``tests/test_registry.py::test_query_matches_oracle``)."""
    return {name: _portable(fn) for name, fn in registry.queries().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI-SQL twin for each SQL-expressible query."""
    return registry.oracle_sql()
