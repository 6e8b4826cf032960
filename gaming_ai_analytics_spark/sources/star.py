"""Loader for the synthetic star-schema fixtures (TESTDATA.md).

One parquet file per table under ``{sf_dir}/{name}.parquet``. Parquet
scans give Catalyst pushdown + pruning for free; every query in the
engine starts here (the analog of the reference's ``spark.read.table``
catalog scans, utilities.py:27-30).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from gaming_ai_analytics_spark.constants import Star

DEFAULT_SF_DIR = "/root/testdata/sf0.001"

#: (app id, sf_dir, table) → resolved DataFrame. A DataFrame is an
#: immutable logical plan, so handing the same object out repeatedly is
#: safe — this is the catalog-resolution cache every warehouse has
#: (``spark.table`` resolves from a catalog once, not per query).
#: Without it every query call pays ~100-150 ms of py4j round-trips
#: re-listing and re-inferring the same parquet footers, which at
#: bench scale is a measurable slice of each sub-second query. Keyed
#: by applicationId so a stopped-and-recreated session never serves
#: plans bound to a dead JVM context.
_TABLE_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir, name)
    df = _TABLE_CACHE.get(key)
    if df is None:
        if name == "events":
            df = _read_events(spark, sf_dir)
        else:
            df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        _TABLE_CACHE[key] = df
    return df


def forget_tables(sf_dir: str, names) -> None:
    """Drop the cached frames of tables ``names`` at ``sf_dir``, under
    any spelling of the directory, so the next :func:`load_table`
    re-lists files that were rewritten since the first load."""
    target = os.path.normpath(os.path.abspath(sf_dir))
    stale = [
        k
        for k in _TABLE_CACHE
        if k[2] in names
        and os.path.normpath(os.path.abspath(k[1])) == target
    ]
    for k in stale:
        del _TABLE_CACHE[k]


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


def load_nonempty_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents table with blank/NULL text dropped and parallelism
    ensured — the shared entry point of every text operator. Lives
    HERE (a non-registered module) rather than in a query module so
    query modules never import each other: a direct import of a query
    module re-enters the registry's ``_load_all`` mid-import, and any
    cross-import between registered modules then hits a partially
    initialized module (the hazard text_sql.py documents)."""
    from pyspark.sql import functions as F

    from gaming_ai_analytics_spark.operators.parallelism import (
        ensure_parallelism,
    )

    return ensure_parallelism(
        load_table(spark, sf_dir, "documents").filter(
            F.col("text").isNotNull() & (F.length(F.trim(F.col("text"))) > 0)
        )
    )


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize the ``ts`` column to a microsecond timestamp — the ONE
    event-time normalization, shared by the batch loader and the
    streaming reader (``streaming/events.py``) so the two paths can
    never disagree. Conditional on the column's ACTUAL type:

    - ``long``: the file stored TIMESTAMP(NANOS) and was read under
      ``nanosAsLong`` — integer-divide to µs (ns-epoch longs exceed
      double's 53-bit mantissa, so a float divide would round the
      microsecond off) and rebuild the timestamp;
    - timestamp (NTZ or LTZ): already µs precision — pass through
      untouched. The driver fixtures are all ``timestamp[us]``; the
      long branch guards older nanos-written copies.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    if isinstance(df.schema["ts"].dataType, T.LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def _read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events scan: read under ``nanosAsLong`` (tolerates both
    TIMESTAMP(NANOS) and plain µs files) then :func:`normalize_event_ts`.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    return normalize_event_ts(df)


def load_star(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Load every fixture table as a dict of DataFrames."""
    return {t: load_table(spark, sf_dir, t) for t in Star.TABLES}


def register_views(
    spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR
) -> SparkSession:
    """Register all fixture tables as temp views for the SQL API.

    Returns the session that HOLDS the views (temp views are
    per-session); run SQL text against the returned handle."""
    star = load_star(spark, sf_dir)
    for name, df in star.items():
        df.createOrReplaceTempView(name)
    return next(iter(star.values())).sparkSession if star else spark
