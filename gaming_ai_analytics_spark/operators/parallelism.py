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

Widening by a ``key`` column hash-partitions on it instead of
round-robin: a downstream aggregate or join keyed on that column (a
doc id feeding a per-pair count) then finds its input already
clustered and plans no exchange of its own.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def ensure_parallelism(
    df: DataFrame, min_partitions: int | None = None, key: str | None = None
) -> DataFrame:
    """Repartition ``df`` up to ``min_partitions`` (default: the
    session's ``defaultParallelism``) iff it currently has fewer
    partitions — by hash of ``key`` when given, else round-robin. The
    shuffle of the raw rows is negligible next to the CPU-bound work
    this guards; when the input is already wide enough the DataFrame
    is returned unchanged."""
    sc = df.sparkSession.sparkContext
    target = min_partitions or sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target, key) if key else df.repartition(target)
    return df
