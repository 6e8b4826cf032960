"""SparkSession factory.

Local defaults mirror the test environment (single JVM, many threads);
on a real cluster the same builder options remain correct — AQE handles
runtime re-planning, shuffle partitions are overridable via env.

Replaces the reference's implicit Databricks-provided ``spark`` handle
(reference: src/notebooks/utilities.py:1-7 assumes an ambient session).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["codegen_compiles", "cpus", "get_spark"]

# A cost-based "static plan below N bytes" adaptive-execution gate
# (sub-GB inputs on a newSession child with AQE off) was built and
# MEASURED here in round 5, and rejected: the full-headliner bench ran
# 8.15 s gated vs 6.13 s with AQE always-on at sf0.1 (two gated runs,
# reproducible). AQE's per-shuffle barrier is real (~tens of ms) but
# its runtime partition coalescing saves MORE even on KB-size shuffles
# — 32 scheduled reduce tasks per exchange cost more than the barrier.
# An earlier same-session on/off toggle A/B that suggested otherwise
# was order-confounded (the second arm ran JIT-warm). See BASELINE.md
# §floor analysis. AQE stays on unconditionally.


def cpus() -> int:
    """Local core count: ``$SPARK_GRAFT_CPUS``, else the host's."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def codegen_compiles(spark: SparkSession) -> int:
    """Janino compilations this JVM has run so far: one per miss of
    Spark's generated-class cache (``CodegenMetrics``' compilation-time
    histogram count)."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def get_spark(
    app_name: str = "gaming_ai_analytics_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    - AQE on: runtime coalescing, skew-join splitting, dynamic
      broadcast decisions — the 100 TB levers we rely on.
    - Arrow on: fast pandas interchange for the Pandas-UDF operators.
    - UTC session timezone: parquet timestamp parity with the DuckDB
      oracle (duckdb timestamps are UTC-naive).
    """
    n = cpus()
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{n}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", n))
    # local[N] runs N task threads inside ONE JVM whose default heap is
    # 1g — 32 concurrent aggregation states in 1 GB OOMed a full-registry
    # verify pass at sf0.1. Size the heap like the executor fleet it
    # stands in for (only effective at JVM creation; ignored on attach).
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.driver.memory", driver_mem)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # 10 MB (the default) was tuned for 1 GB executors a decade
        # ago; with large-memory executors a mid-size build side is
        # far cheaper to broadcast than to shuffle BOTH join inputs.
        # Measured: the flagship's orders-with-dims side broadcasts at
        # sf0.1 (0.86 s → 0.63 s) while sf1's larger side still
        # correctly falls back to sort-merge. Size per executor memory
        # when deploying (64 MB assumes multi-GB executors).
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # let custom Python DataSources receive Catalyst predicates
        # (sources/pyds.py turns them into generator-range pruning)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Spark keeps at most 100 generated classes (LRU). Measured on
        # perfbench's sf0.1 fixture: one 12-query dashboard deck
        # generates ~200 distinct classes and a dashboard + curation
        # round ~330, so at 100 every repeated query missed and
        # recompiled (210 Janino compilations per steady-state deck,
        # then a fresh class for HotSpot to JIT again). 1000 holds that
        # working set with room to spare; one pass over all 253
        # registered queries generates ~2,500, so a session cycling
        # through the whole registry still evicts. Static conf: read
        # once, when the JVM's CodeGenerator is first used, so it only
        # takes effect here at session build.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # The cache is keyed on the generated source, and by default
        # the class name carries the whole-stage codegen stage id. AQE
        # numbers stages in the order they are created, which follows
        # the order their inputs finish, so a repeated query can number
        # the same stages differently and miss (dau_mau_stickiness: 18
        # recompiles on some re-runs). Without the id in the name, the
        # same stage compiles to the same source.
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Duser.timezone=UTC")
        .config("spark.executor.extraJavaOptions", "-Duser.timezone=UTC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
