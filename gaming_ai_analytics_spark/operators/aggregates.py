"""Aggregation building blocks.

Covers the reference's aggregate surface (SURVEY.md §2.6): COUNT(*)
(A1, semantic_layer.sql:77-78), AVG (A2, :79-82), conditional ratios
(A3, :83-90), exact percentile (A4, :91-93), DISTINCT (A5,
exploration/analysis.sql:25), and the dataset-uniqueness rule (A8,
data_quality.py:25-29).

Scale note: Spark evaluates all of these with partial (map-side)
aggregation before the shuffle, so the shuffle carries one row per
(partition, group), not per input row — except the exact median,
which gathers each group (see :func:`median_exact`); at 100 TB the
bounded-state median is ``F.percentile_approx``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def conditional_pct(cond: Column, ndigits: int = 4) -> Column:
    """A3 (semantic_layer.sql:83-90): share of rows satisfying ``cond``.

    ``SUM(CASE WHEN cond THEN 1 ELSE 0 END) / COUNT(*)`` — expressed
    with built-ins so it stays inside whole-stage codegen.
    """
    ratio = F.sum(F.when(cond, 1).otherwise(0)) / F.count(F.lit(1))
    return F.round(ratio, ndigits)


@F.pandas_udf(T.DoubleType())
def _median(v: pd.Series) -> float:
    a = v.dropna().to_numpy(dtype=np.float64)
    n = a.size
    if not n:
        return None
    mid = (n - 1) // 2
    if n % 2:
        return float(np.partition(a, mid)[mid])
    part = np.partition(a, (mid, mid + 1))
    # (1 − t)·lo + t·hi with t = ½: the form Spark's ``Percentile``
    # and DuckDB's ``quantile_cont`` evaluate. The lerp
    # lo + (hi − lo)·t (and ``np.percentile``) differs in the last
    # few bits, which flips a 2-dp ROUND at knife edges such as
    # (−76.7423, 67.2923) → −4.725000000000001 vs −4.724999999999994.
    return float(0.5 * part[mid] + 0.5 * part[mid + 1])


def median_exact(col: str | Column, ndigits: int = 2) -> Column:
    """A4 exact ``PERCENTILE(x, 0.5)`` with linear interpolation,
    rounded engine-side (half-up, as Spark and DuckDB ``ROUND``) —
    the same values as the built-in ``percentile`` and DuckDB
    ``quantile_cont``.

    An Arrow grouped-aggregate kernel: each group's non-null values
    arrive as one contiguous buffer and ``np.partition`` selects the
    middle pair in C, where the built-in ``Percentile`` keeps a boxed
    value→count map per group (2.5× slower on sf0.1 ``lineitem``).

    Scale contract: every value of a group is gathered to one Python
    worker, so a group must fit in that worker's memory. The
    bounded-state path is ``F.percentile_approx`` (a mergeable sketch,
    map-side combined). Spark does not mix pandas aggregates with
    built-in ones in one ``agg()``, so use it for percentile-only
    aggregations."""
    return F.round(_median(F.col(col) if isinstance(col, str) else col), ndigits)


def merge_partial_aggs(
    stored: DataFrame,
    fresh: DataFrame,
    keys: list[str],
    count_col: str,
    sum_col: str,
) -> DataFrame:
    """Incremental aggregate maintenance: combine an already-stored
    (count, sum) aggregate table with the same aggregate over a new
    batch — the mergeable-state pattern that keeps 100 TB rollups
    incremental (re-aggregate only the delta, merge O(|groups|) rows)
    instead of recomputing from all history. Full-outer on the group
    key (join-key columns coalesce under USING semantics); absent
    groups count as zero. AVG derives as merged sum/count; for
    percentile/distinct maintenance use the mergeable sketches
    ``percentile_approx`` / ``approx_count_distinct``."""
    zero = F.lit(0)
    merged = stored.alias("a").join(fresh.alias("b"), keys, "full")
    return merged.select(
        *keys,
        (
            F.coalesce(F.col(f"a.{count_col}"), zero)
            + F.coalesce(F.col(f"b.{count_col}"), zero)
        ).alias(count_col),
        (
            F.coalesce(F.col(f"a.{sum_col}"), F.lit(0.0))
            + F.coalesce(F.col(f"b.{sum_col}"), F.lit(0.0))
        ).alias(sum_col),
    )


def latest_per_key(
    df: DataFrame, keys: list[str], order_col: str, payload_col: str
) -> DataFrame:
    """Latest-snapshot read: for each key, the ``payload_col`` of the
    row with the greatest ``(order_col, payload_col)`` — the struct
    max makes ties deterministic. One partial-aggregated shuffle;
    deliberately NOT a row_number window: the exchange carries one
    row per (partition, key), not every input row. Struct buffers
    aren't hash-aggregable, so Spark plans a partial SortAggregate
    (per-partition sort on the key) — still O(1) state per group and
    map-side merged."""
    m = F.max(F.struct(order_col, payload_col)).alias("_m")
    return (
        df.groupBy(*keys)
        .agg(m)
        .select(
            *keys, F.col(f"_m.{payload_col}").alias(f"last_{payload_col}")
        )
    )


def hll_distinct_rollup(
    df: DataFrame,
    key_cols: list[str],
    bucket_col: Column | str,
    id_col: str,
) -> DataFrame:
    """Re-aggregatable distinct counting: build one HLL sketch per
    (key, bucket) — the persistable form: land the level-1 frame as a
    daily sketch table and any later rollup (week, month, all-time)
    is a cheap sketch union over O(|keys|·|buckets|) rows, never a
    re-scan of raw history. That mergeability is exactly what exact
    DISTINCT lacks and why sketch tables are the 100 TB idiom for
    distinct-user reporting. Estimate error ~1%% (DataSketches HLL
    default lgK). Returns the merged per-key estimates.
    """
    daily = df.groupBy(*key_cols, bucket_col).agg(
        F.hll_sketch_agg(id_col).alias("_sk")
    )
    return daily.groupBy(*key_cols).agg(
        F.hll_sketch_estimate(F.hll_union_agg("_sk")).alias(
            "distinct_estimate"
        )
    )


def duplicate_keys(df: DataFrame, keys: list[str]) -> DataFrame:
    """A8 (data_quality.py:25-29 ``is_unique``): keys appearing more
    than once. groupBy + HAVING — one shuffle on the key, partial
    counts map-side."""
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
    )
