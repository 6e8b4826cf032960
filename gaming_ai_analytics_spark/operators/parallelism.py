"""Partition-count guard for CPU-bound map stages.

A parquet scan's split count is driven by file size
(``spark.sql.files.maxPartitionBytes`` with a ~4 MB open-cost floor),
not by how expensive the downstream expressions are. A small input —
one 5 MB file at bench scale factors — therefore becomes ONE task, and
a compute-heavy map stage (MinHash signatures, SimHash, per-row regex
profiling) pins the whole job to a single core while 31 idle.

``ensure_parallelism`` widens such inputs to the session's default
parallelism. It is gated on the *actual* scan partition count, so at
real scale — where a 100 TB table already yields ~10⁵ splits — it is a
no-op and adds no shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition ``df`` up to ``min_partitions`` (default: the
    session's ``defaultParallelism``) iff it currently has fewer
    partitions. The round-robin shuffle of the raw rows is negligible
    next to the CPU-bound work this guards; when the input is already
    wide enough the DataFrame is returned unchanged."""
    sc = df.sparkSession.sparkContext
    target = min_partitions or sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
