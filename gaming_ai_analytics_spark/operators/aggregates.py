"""Aggregation building blocks.

Covers the reference's aggregate surface (SURVEY.md §2.6): COUNT(*)
(A1, semantic_layer.sql:77-78), AVG (A2, :79-82), conditional ratios
(A3, :83-90), exact percentile (A4, :91-93), DISTINCT (A5,
exploration/analysis.sql:25), and the dataset-uniqueness rule (A8,
data_quality.py:25-29).

Scale note: Spark evaluates all of these with partial (map-side)
aggregation before the shuffle, so the shuffle carries one row per
(partition, group), not per input row. ``percentile`` is exact — at
100 TB prefer :func:`median_approx` (t-digest based
``percentile_approx``), same API shape; the exact version exists for
oracle parity at test scale.
"""

from __future__ import annotations

import functools

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gaming_ai_analytics_spark.sources.local import local_frame


def conditional_pct(cond: Column, ndigits: int = 4) -> Column:
    """A3 (semantic_layer.sql:83-90): share of rows satisfying ``cond``.

    ``SUM(CASE WHEN cond THEN 1 ELSE 0 END) / COUNT(*)`` — expressed
    with built-ins so it stays inside whole-stage codegen.
    """
    ratio = F.sum(F.when(cond, 1).otherwise(0)) / F.count(F.lit(1))
    return F.round(ratio, ndigits)


def median_exact(col: str | Column, ndigits: int = 2) -> Column:
    """A4 exact PERCENTILE(x, 0.5) with linear interpolation — matches
    DuckDB ``quantile_cont``; use only at oracle/test scale."""
    return F.round(F.percentile(col, F.lit(0.5)), ndigits)


def median_approx(col: str | Column, accuracy: int = 10_000) -> Column:
    """A4 at 100 TB: ``percentile_approx`` — mergeable sketch, no
    global sort, bounded memory per group."""
    return F.percentile_approx(col, F.lit(0.5), F.lit(accuracy))


def median_exact_arrow(col: str | Column, ndigits: int = 2) -> Column:
    """Exact interpolated median as an Arrow grouped-agg kernel:
    ``np.percentile(…, 50)`` uses the same linear interpolation as
    DuckDB ``quantile_cont`` / Spark ``percentile``, but selects in C
    over one contiguous buffer — measured >2× faster than the built-in
    ``Percentile`` (which accumulates a boxed OpenHashMap per group) at
    600k rows. Every *exact* percentile gathers each group's values to
    one reducer; that is inherent, and the 100 TB path remains
    :func:`median_approx`. Cannot be mixed with built-in aggregates in
    a single ``agg()`` (Spark restriction) — use for percentile-only
    aggregations."""
    from pyspark.sql import types as T

    @F.pandas_udf(T.DoubleType())
    def _median(v: pd.Series) -> float:
        arr = v.dropna().to_numpy(dtype=np.float64)
        return float(np.percentile(arr, 50)) if arr.size else None

    return F.round(_median(F.col(col) if isinstance(col, str) else col), ndigits)


def exact_percentiles_scalable(
    df: DataFrame,
    group_cols: list[str],
    value_cols: dict[str, str],
    p: float = 0.5,
    accuracy: int = 10_000,
    ndv_threshold: int = 10_000,
    ndigits: int = 2,
) -> DataFrame:
    """EXACT interpolated percentiles with NO per-group gather — the
    100 TB answer to "exact quantile_cont" that neither the built-in
    ``Percentile`` (boxed per-group value map) nor a per-group Arrow
    kernel (whole group on one reducer) provides.

    Strategy, chosen per value column from measured NDV:

    - **histogram** (NDV ≤ ``ndv_threshold``): aggregate (group, value)
      counts — state bounded by cardinality, classic two-level
      compression — and walk the sorted histogram to the target ranks
      driver-side (≤ NDV·|groups| tiny rows collected).
    - **bracket-slice** (high NDV): pass 1 takes a
      ``percentile_approx`` sketch whose rank error is ≤ n/accuracy,
      giving per-group value brackets guaranteed to contain the target
      ranks; pass 2 counts values below the bracket (exact rank
      offset) and collects ONLY the in-bracket slice —
      O(n/accuracy) values per group, tunable — then selects and
      interpolates exactly driver-side. If a bracket proves too tight
      (sketch bound violated — not expected), it widens and retries
      once before falling back to the gathering built-in.

    Returns a small DataFrame ``group_cols + [out_name...]`` with
    values rounded to ``ndigits`` (quantile_cont-interpolation parity).
    Every cluster-side step is a map-side-combinable aggregation; the
    driver holds O(|groups| · (NDV or n/accuracy)) values, never a
    full group.
    """
    spark = df.sparkSession
    gcols = list(group_cols)
    out_names = list(value_cols)

    # per-column NDV probe (one cheap sketch aggregation)
    ndv_row = df.agg(
        *[
            F.approx_count_distinct(c).alias(o)
            for o, c in value_cols.items()
        ]
    ).first()
    strategies = {
        o: ("histogram" if ndv_row[o] <= ndv_threshold else "bracket")
        for o in out_names
    }

    # exact per-(group, column) NON-NULL counts — percentile ranks are
    # defined over non-null values only (F.count(col) skips nulls)
    count_rows = (
        df.groupBy(*gcols)
        .agg(*[F.count(value_cols[o]).alias(o) for o in out_names])
        .collect()
    )
    counts = {
        tuple(r[g] for g in gcols): {o: r[o] for o in out_names}
        for r in count_rows
    }

    def rank_of(n: int) -> float:
        return 1.0 + (n - 1) * p

    results: dict[tuple, dict[str, float]] = {k: {} for k in counts}

    # --- histogram strategy: one (group, value) aggregation per col --
    for o in [o for o in out_names if strategies[o] == "histogram"]:
        c = value_cols[o]
        hist = (
            df.filter(F.col(c).isNotNull())
            .groupBy(*gcols, F.col(c).alias("_v"))
            .agg(F.count(F.lit(1)).alias("_c"))
            .collect()
        )
        by_group: dict[tuple, list[tuple[float, int]]] = {}
        for r in hist:
            by_group.setdefault(tuple(r[g] for g in gcols), []).append(
                (float(r["_v"]), r["_c"])
            )
        for key, pairs in by_group.items():
            pairs.sort()
            n = sum(cnt for _, cnt in pairs)
            r = rank_of(n)
            lo_r, hi_r = int(r), -(-r // 1)
            cum, vlo, vhi = 0, None, None
            for v, cnt in pairs:
                cum += cnt
                if vlo is None and cum >= lo_r:
                    vlo = v
                if vhi is None and cum >= hi_r:
                    vhi = v
                    break
            results[key][o] = vlo + (vhi - vlo) * (r - lo_r)

    # --- bracket-slice strategy ---------------------------------------
    bracket_cols = [o for o in out_names if strategies[o] == "bracket"]
    margin = 4.0 / accuracy  # 4× the sketch's rank-error bound
    for attempt in range(2):
        if not bracket_cols:
            break
        eps = margin * (2**attempt * 2 - 1)  # widen on retry
        p_lo, p_hi = max(0.0, p - eps), min(1.0, p + eps)
        sketch = df.groupBy(*gcols).agg(
            *[
                F.percentile_approx(
                    value_cols[o],
                    F.array(F.lit(p_lo), F.lit(p_hi)),
                    F.lit(accuracy),
                ).alias(o)
                for o in bracket_cols
            ]
        )
        brackets = {  # a null sketch (all-null column in the group)
            # carries through as an unusable bracket; the n==0 guard
            # below resolves those groups to NULL without touching it
            tuple(r[g] for g in gcols): {
                o: (r[o][0], r[o][1]) if r[o] is not None else (None, None)
                for o in bracket_cols
            }
            for r in sketch.collect()
        }
        b_rows = [
            (
                *k,
                *(
                    float(v) if v is not None else None
                    for o in bracket_cols
                    for v in brackets[k][o]
                ),
            )
            for k in brackets
        ]
        b_schema = T.StructType(  # explicit: an all-null column must
            # not break schema inference
            [df.schema[g] for g in gcols]
            + [
                T.StructField(f"_{o}_{side}", T.DoubleType())
                for o in bracket_cols
                for side in ("lo", "hi")
            ]
        )
        bdf = F.broadcast(local_frame(spark, b_rows, b_schema))
        slice_agg = (
            df.join(bdf, gcols)
            .groupBy(*gcols)
            .agg(
                *[
                    F.sum(
                        F.when(
                            F.col(value_cols[o]) < F.col(f"_{o}_lo"), 1
                        ).otherwise(0)
                    ).alias(f"_{o}_below")
                    for o in bracket_cols
                ],
                *[
                    F.sort_array(
                        F.collect_list(
                            F.when(
                                F.col(value_cols[o]).between(
                                    F.col(f"_{o}_lo"), F.col(f"_{o}_hi")
                                ),
                                F.col(value_cols[o]).cast("double"),
                            )
                        )
                    ).alias(f"_{o}_slice")
                    for o in bracket_cols
                ],
            )
            .collect()
        )
        unresolved = []
        for r in slice_agg:
            key = tuple(r[g] for g in gcols)
            for o in bracket_cols:
                n = counts[key][o]
                if n == 0:  # all-null column in this group
                    results[key][o] = None
                    continue
                rk = rank_of(n)
                lo_r, hi_r = int(rk), int(-(-rk // 1))
                below, sl = r[f"_{o}_below"], r[f"_{o}_slice"]
                i_lo, i_hi = lo_r - below - 1, hi_r - below - 1
                if 0 <= i_lo and i_hi < len(sl):
                    vlo, vhi = sl[i_lo], sl[i_hi]
                    results[key][o] = vlo + (vhi - vlo) * (rk - lo_r)
                else:  # sketch bound violated — widen & retry this col
                    unresolved.append(o)
        bracket_cols = sorted(set(unresolved))
    for o in bracket_cols:  # still unresolved after retry: safe fallback
        for r in (
            df.groupBy(*gcols)
            .agg(F.percentile(value_cols[o], F.lit(p)).alias("_v"))
            .collect()
        ):
            results[tuple(r[g] for g in gcols)][o] = r["_v"]

    rows = [  # .get: a group entirely absent from a strategy's pass
        # (all-null column) surfaces as NULL, matching F.percentile
        (*key, *(results[key].get(o) for o in out_names))
        for key in sorted(counts)
    ]
    out_schema = T.StructType(
        [df.schema[g] for g in gcols]
        + [T.StructField(o, T.DoubleType()) for o in out_names]
    )
    # round ENGINE-side: Python's round() is banker's (52974.045 →
    # .04) while Spark/DuckDB ROUND is half-up (→ .05) — a knife-edge
    # parity bug if rounded driver-side
    return local_frame(spark, rows, out_schema).select(
        *gcols, *[F.round(o, ndigits).alias(o) for o in out_names]
    )


def bracket_exact_percentile(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    out_name: str,
    p: float = 0.5,
    accuracy: int = 10_000,
    ndigits: int = 2,
    companion_aggs: list[Column] | None = None,
) -> DataFrame:
    """EXACT interpolated percentile of ONE high-NDV column in two
    full scans, with NDV-bounded companion aggregates riding the first
    scan for free.

    The registered-query specialization of
    :func:`exact_percentiles_scalable`'s bracket strategy: that
    function spends separate passes on an NDV probe, exact counts, and
    the sketch because it must choose a strategy per column.  When the
    caller already KNOWS the column is high-NDV (e.g. a price column
    where NDV ≈ row count — the regime where the built-in
    ``percentile``'s value→count partial state degenerates into the
    raw column per group), those three collapse into one aggregation:

    - **pass 1**: per group, the exact non-null count, a
      ``percentile_approx`` bracket ``[p−ε, p+ε]`` (rank error ≤
      n/accuracy, so the bracket provably contains the target ranks),
      and every ``companion_aggs`` expression (built-in aggregates
      whose state is fine — a low-NDV median, counts, sums).
    - **pass 2**: join the broadcast brackets back, count values below
      the bracket (exact rank offset) and collect the sorted
      in-bracket slice — O(n/accuracy) values per group — then select
      and interpolate exactly driver-side.  If the sketch bound is
      ever violated the bracket widens and retries (one extra scan,
      not expected).

    Driver state: O(|groups| · n/accuracy) values, never a full group;
    both passes are map-side-combinable aggregations.  Result column
    is rounded ENGINE-side (Python ``round`` is banker's; Spark/DuckDB
    ROUND is half-up — driver-side rounding is a knife-edge parity
    bug).
    """
    spark = df.sparkSession
    gcols = list(group_cols)
    companions = list(companion_aggs or [])

    margin = 4.0 / accuracy  # 4× the sketch's rank-error bound
    results: dict[tuple, float | None] = {}
    comp_rows: dict[tuple, tuple] = {}
    comp_fields: list[T.StructField] = []
    unresolved: set[tuple] = set()

    for attempt in range(2):
        eps = margin * (2**attempt * 2 - 1)  # widen on retry
        p_lo, p_hi = max(0.0, p - eps), min(1.0, p + eps)
        first = df.groupBy(*gcols).agg(
            F.count(value_col).alias("_n"),
            F.percentile_approx(
                value_col, F.array(F.lit(p_lo), F.lit(p_hi)), F.lit(accuracy)
            ).alias("_br"),
            *(companions if attempt == 0 else []),
        )
        if attempt == 0:
            comp_fields = [
                first.schema[f]
                for f in first.columns[len(gcols) + 2 :]
            ]
        rows = first.collect()
        if attempt == 0:
            counts = {tuple(r[g] for g in gcols): r["_n"] for r in rows}
            comp_rows = {
                tuple(r[g] for g in gcols): tuple(
                    r[f.name] for f in comp_fields
                )
                for r in rows
            }
        keys = (
            list(counts)
            if attempt == 0
            else [k for k in unresolved]
        )
        brackets = {
            tuple(r[g] for g in gcols): (
                (float(r["_br"][0]), float(r["_br"][1]))
                if r["_br"] is not None
                else (None, None)
            )
            for r in rows
        }
        todo = [k for k in keys if counts[k] > 0]
        if not todo:
            break
        if len(todo) <= 64:
            # inline the brackets as CASE literals keyed on the group
            # struct — pass 2 stays a bare scan+aggregate (no broadcast
            # exchange, no join; measured ~0.15 s/run cheaper). Join
            # path below for wide group domains.
            key_struct = F.struct(*[F.col(g) for g in gcols])
            lo_expr = F.lit(None).cast("double")
            hi_expr = F.lit(None).cast("double")
            for k in todo:
                cond = key_struct.eqNullSafe(
                    F.struct(  # cast: a bare lit(None) is VOID-typed
                        *[
                            F.lit(v).cast(df.schema[g].dataType)
                            for g, v in zip(gcols, k)
                        ]
                    )
                )
                lo_expr = F.when(cond, F.lit(brackets[k][0])).otherwise(
                    lo_expr
                )
                hi_expr = F.when(cond, F.lit(brackets[k][1])).otherwise(
                    hi_expr
                )
            staged = df.withColumn("_lo", lo_expr).withColumn(
                "_hi", hi_expr
            ).filter(F.col("_lo").isNotNull())
        else:
            # NULL-safe equi-join: a USING-join (`join(bdf, gcols)`)
            # drops any group whose key contains NULL — that group
            # then never reaches slice_rows and would silently emit a
            # NULL percentile despite a positive count (the inline-CASE
            # branch above already used eqNullSafe; this path must
            # match it). Broadcast-side keys are renamed to avoid
            # ambiguous references under the explicit condition.
            b_schema = T.StructType(
                [
                    T.StructField(f"_bk_{g}", df.schema[g].dataType)
                    for g in gcols
                ]
                + [
                    T.StructField("_lo", T.DoubleType()),
                    T.StructField("_hi", T.DoubleType()),
                ]
            )
            bdf = F.broadcast(
                local_frame(
                    spark, [(*k, *brackets[k]) for k in todo], b_schema
                )
            )
            cond = functools.reduce(
                lambda a, b: a & b,
                [
                    df[g].eqNullSafe(bdf[f"_bk_{g}"])
                    for g in gcols
                ],
            )
            staged = df.join(bdf, cond).drop(
                *[f"_bk_{g}" for g in gcols]
            )
        slice_rows = (
            staged
            .groupBy(*gcols)
            .agg(
                F.sum(
                    F.when(F.col(value_col) < F.col("_lo"), 1).otherwise(0)
                ).alias("_below"),
                F.sort_array(
                    F.collect_list(
                        F.when(
                            F.col(value_col).between(
                                F.col("_lo"), F.col("_hi")
                            ),
                            F.col(value_col).cast("double"),
                        )
                    )
                ).alias("_slice"),
            )
            .collect()
        )
        unresolved = set()
        seen: set[tuple] = set()
        for r in slice_rows:
            key = tuple(r[g] for g in gcols)
            seen.add(key)
            n = counts[key]
            rk = 1.0 + (n - 1) * p
            lo_r, hi_r = int(rk), int(-(-rk // 1))
            below, sl = r["_below"], r["_slice"]
            i_lo, i_hi = lo_r - below - 1, hi_r - below - 1
            if 0 <= i_lo and i_hi < len(sl):
                vlo, vhi = sl[i_lo], sl[i_hi]
                results[key] = vlo + (vhi - vlo) * (rk - lo_r)
            else:  # sketch bound violated — widen & retry this group
                unresolved.add(key)
        # a todo key absent from slice_rows entirely (e.g. dropped by a
        # join defect) is UNRESOLVED, not silently NULL — belt to the
        # eqNullSafe braces above
        unresolved |= {k for k in todo if k not in seen}
        if not unresolved:
            break
    if unresolved:  # still unresolved: one exact aggregation over ONLY
        # the unresolved groups (filter first — never the degenerate
        # full-table value→count state this operator exists to avoid).
        # Literals are cast to the group column's type: an uncast
        # lit(None) is VOID-typed and fails eqNullSafe analysis.
        key_struct = F.struct(*[F.col(g) for g in gcols])
        match_any = functools.reduce(
            lambda a, b: a | b,
            [
                key_struct.eqNullSafe(
                    F.struct(
                        *[
                            F.lit(v).cast(df.schema[g].dataType)
                            for g, v in zip(gcols, k)
                        ]
                    )
                )
                for k in unresolved
            ],
        )
        for r in (
            df.filter(match_any)
            .groupBy(*gcols)
            .agg(F.percentile(value_col, F.lit(p)).alias("_v"))
            .collect()
        ):
            results[tuple(r[g] for g in gcols)] = r["_v"]

    out_rows = [  # None-safe ordering: a NULL group key is a real group
        (*key, results.get(key), *comp_rows[key])
        for key in sorted(
            counts, key=lambda k: tuple((v is None, v) for v in k)
        )
    ]
    out_schema = T.StructType(
        [df.schema[g] for g in gcols]
        + [T.StructField(out_name, T.DoubleType())]
        + comp_fields
    )
    return local_frame(spark, out_rows, out_schema).select(
        *gcols,
        F.round(out_name, ndigits).alias(out_name),
        *[f.name for f in comp_fields],
    )


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
    percentile/distinct maintenance use the mergeable sketches in
    :func:`median_approx` / ``approx_count_distinct``."""
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
