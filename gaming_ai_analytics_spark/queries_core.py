"""Core operator queries (SURVEY.md §2.1-2.10) with DuckDB oracles.

Each function is the Spark-first expression of one reference operator
site; the paired oracle SQL is the ANSI twin DuckDB runs on the same
parquet. Aliases + rounding are aligned on both sides (driver hashes
values order-insensitively after sorting columns by name).

Determinism rules applied throughout:
- per-row double arithmetic is left unrounded (identical IEEE ops on
  identical parquet bits on both engines);
- multi-row double aggregates (sum/avg/percentile) are ROUNDed on both
  sides — double addition is order-sensitive;
- every ranking window carries a unique tiebreaker column;
- no raw ``events.ts`` in outputs (parquet ns vs Spark micros) — always
  ``date_trunc`` first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gaming_ai_analytics_spark.operators.aggregates import (
    conditional_pct,
    duplicate_keys,
    median_exact,
)
from gaming_ai_analytics_spark.operators.joins import (
    flatten_dimension,
    incremental_anti_join,
    star_join,
)
from gaming_ai_analytics_spark.registry import register
from gaming_ai_analytics_spark.sources.local import local_frame
from gaming_ai_analytics_spark.sources.star import load_table


# --------------------------------------------------------------------------
# Filters (SURVEY §2.4)
# --------------------------------------------------------------------------
def q_filter_numeric_conjunction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 (reviews_fact.py:131-133): conjunction of numeric comparisons
    (the spam-removal filter) — pushed down to the parquet scan."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter((F.col("l_quantity") > 45) & (F.col("l_discount") > 0.08)).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_discount"
    )


register(
    "filter_numeric_conjunction",
    q_filter_numeric_conjunction,
    """
    SELECT l_orderkey, l_linenumber, l_quantity, l_discount
    FROM lineitem WHERE l_quantity > 45 AND l_discount > 0.08
    """,
)


def q_filter_boolean_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2+F4 (reviews_fact.py:133; auxillary_dims.py:128-130): boolean
    equality + OR-of-conjunctions consistency predicate, transposed to
    the star schema: returned lines must be tax-free, others pass."""
    li = load_table(spark, sf_dir, "lineitem")
    is_return = F.col("l_returnflag") == "R"
    keep = (is_return & (F.col("l_tax") < 0.02)) | (~is_return)
    return li.filter(keep).select("l_orderkey", "l_linenumber", "l_returnflag", "l_tax")


register(
    "filter_boolean_algebra",
    q_filter_boolean_algebra,
    """
    SELECT l_orderkey, l_linenumber, l_returnflag, l_tax
    FROM lineitem
    WHERE (l_returnflag = 'R' AND l_tax < 0.02) OR (l_returnflag <> 'R')
    """,
)


def q_filter_isin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3 (auxillary_dims.py:118, GAME_TYPES IN-list utilities.py:11)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.filter(
        F.col("o_orderpriority").isin(["1-URGENT", "2-HIGH"])
    ).select("o_orderkey", "o_orderpriority", "o_totalprice")


register(
    "filter_isin",
    q_filter_isin,
    """
    SELECT o_orderkey, o_orderpriority, o_totalprice
    FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
    """,
)


def q_filter_null_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5 (reviews_fact.py:106): null/empty-text guard before scoring."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.filter(
        F.col("text").isNotNull() & (F.col("text") != "")
    ).select("doc_id", "lang")


register(
    "filter_null_guard",
    q_filter_null_guard,
    "SELECT doc_id, lang FROM documents WHERE text IS NOT NULL AND text <> ''",
)


# --------------------------------------------------------------------------
# Projections & scalar expressions (SURVEY §2.3, §2.7)
# --------------------------------------------------------------------------
def q_project_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/P2 (reviews_fact.py:137-146, auxillary_dims.py:136-148):
    narrow select + alias normalization — column pruning reaches the
    scan (ReadSchema carries only 5 of 11 columns)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_orderkey").alias("order_id"),
        F.col("l_linenumber").alias("line_no"),
        F.col("l_quantity").alias("qty"),
        F.col("l_extendedprice").alias("price"),
        F.col("l_returnflag").alias("flag"),
    )


register(
    "project_rename",
    q_project_rename,
    """
    SELECT l_orderkey AS order_id, l_linenumber AS line_no,
           l_quantity AS qty, l_extendedprice AS price, l_returnflag AS flag
    FROM lineitem
    """,
)


def q_derived_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3+X1+X2 (reviews_fact.py:162-167 weighted_score;
    auxillary_dims.py:127 on_sale): withColumn arithmetic + CASE WHEN.
    ``net_price`` is per-row IEEE math — bit-identical across engines,
    no rounding needed."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("net_price"),
        F.when(F.col("l_returnflag") == "R", F.col("l_quantity") * 0.5)
        .otherwise(F.col("l_quantity"))
        .alias("weighted_qty"),
        (F.col("l_discount") > 0).alias("discounted"),
    )


register(
    "derived_columns",
    q_derived_columns,
    """
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) AS net_price,
           CASE WHEN l_returnflag = 'R' THEN l_quantity * 0.5
                ELSE l_quantity END AS weighted_qty,
           l_discount > 0 AS discounted
    FROM lineitem
    """,
)


def q_scalar_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3+X4 (auxillary_dims.py:18-25 CONCAT prompt assembly;
    semantic_layer.sql:92 LENGTH)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.concat(F.col("lang"), F.lit(":"), F.col("source")).alias("tag"),
        F.length("text").alias("text_len"),
        F.lower(F.col("source")).alias("source_lc"),
    )


register(
    "scalar_string_functions",
    q_scalar_string_functions,
    """
    SELECT doc_id, lang || ':' || source AS tag,
           LENGTH(text) AS text_len, LOWER(source) AS source_lc
    FROM documents
    """,
)


def q_fillna_after_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 (auxillary_dims.py:123-126 fillna dict): nulls arise from the
    left join (customers with no orders), defaulted to 0 — the
    reference's prices→0 pattern.

    Shape: pre-aggregate orders BELOW the join (partial map-side sum;
    the shuffle carries one row per custkey, not every order), then
    left-join customer to the small per-key aggregate — AQE broadcasts
    it, so the fact table is never shuffled twice and the post-join
    re-aggregation disappears. Joining raw orders first and grouping
    after (the naive reading of the reference) was the round-3
    perf-weak row: 2.3× slower at sf1 and growing with the fact side.
    """
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.sum("o_totalprice").alias("_spend")
    )
    return (
        customer.join(spend, customer.c_custkey == spend.o_custkey, "left")
        .fillna({"_spend": 0.0})
        .select("c_custkey", F.round("_spend", 2).alias("total_spend"))
    )


register(
    "fillna_after_left_join",
    q_fillna_after_left_join,
    """
    SELECT c_custkey,
           ROUND(SUM(COALESCE(o_totalprice, 0)), 2) AS total_spend
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey
    """,
)


def q_case_when_banding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 (reviews_fact.py:104-109, semantic_layer.sql:84-88): multi-arm
    CASE WHEN classification + group count."""
    orders = load_table(spark, sf_dir, "orders")
    band = (
        F.when(F.col("o_totalprice") < 50_000, "low")
        .when(F.col("o_totalprice") < 150_000, "mid")
        .otherwise("high")
    )
    return (
        orders.select(band.alias("price_band"))
        .groupBy("price_band")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


register(
    "case_when_banding",
    q_case_when_banding,
    """
    SELECT CASE WHEN o_totalprice < 50000 THEN 'low'
                WHEN o_totalprice < 150000 THEN 'mid'
                ELSE 'high' END AS price_band,
           COUNT(*) AS n_orders
    FROM orders GROUP BY 1
    """,
)


# --------------------------------------------------------------------------
# Joins (SURVEY §2.5)
# --------------------------------------------------------------------------
def q_join_flatten_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 (auxillary_dims.py:73-97): left equi-join to a tiny dim,
    broadcast — zero shuffle on the big side."""
    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    return flatten_dimension(li, supplier, "l_suppkey", "s_suppkey").select(
        "l_orderkey", "l_linenumber", "s_name", "s_acctbal"
    )


register(
    "join_flatten_dim",
    q_join_flatten_dim,
    """
    SELECT l_orderkey, l_linenumber, s_name, s_acctbal
    FROM lineitem LEFT JOIN supplier ON l_suppkey = s_suppkey
    """,
)


def q_join_anti_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 (reviews_fact.py:151-153): left anti join — keep lineitems
    whose order is NOT already finalized ('F'), i.e. not yet
    processed. Oracle uses NOT EXISTS (null-safe, unlike NOT IN)."""
    li = load_table(spark, sf_dir, "lineitem")
    done = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select(F.col("o_orderkey").alias("l_orderkey"))
    return incremental_anti_join(li, done, "l_orderkey").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )


register(
    "join_anti_incremental",
    q_join_anti_incremental,
    """
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem l
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_orderkey = l.l_orderkey
                        AND o.o_orderstatus = 'F')
    """,
)


def q_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 (exploration/analysis.sql:20-21): inner equi-join of two dims."""
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey, "inner"
    ).select("n_nationkey", "n_name", "r_name")


register(
    "join_inner",
    q_join_inner,
    """
    SELECT n_nationkey, n_name, r_name
    FROM nation JOIN region ON n_regionkey = r_regionkey
    """,
)


def q_join_chain_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 (exploration/analysis.sql:51-59): 4-way chained left joins,
    orders → customer → nation → region, dims broadcast."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return star_join(
        orders,
        [
            (customer, orders.o_custkey == customer.c_custkey),
            (nation, customer.c_nationkey == nation.n_nationkey),
            (region, nation.n_regionkey == region.r_regionkey),
        ],
    ).select("o_orderkey", "c_name", "n_name", "r_name")


register(
    "join_chain_left",
    q_join_chain_left,
    """
    SELECT o_orderkey, c_name, n_name, r_name
    FROM orders
    LEFT JOIN customer ON o_custkey   = c_custkey
    LEFT JOIN nation   ON c_nationkey = n_nationkey
    LEFT JOIN region   ON n_regionkey = r_regionkey
    """,
)


def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi join (absent in reference, SURVEY §2.5 'absent kinds' —
    completes the join surface): customers that have ≥1 urgent order."""
    customer = load_table(spark, sf_dir, "customer")
    urgent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).select(F.col("o_custkey").alias("c_custkey"))
    return customer.join(urgent, on="c_custkey", how="left_semi").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


register(
    "join_semi",
    q_join_semi,
    """
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
    """,
)


# --------------------------------------------------------------------------
# Aggregates (SURVEY §2.6)
# --------------------------------------------------------------------------
def q_agg_count_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 (semantic_layer.sql:77-78): COUNT(*) by dimension."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders")
    )


register(
    "agg_count_by_group",
    q_agg_count_by_group,
    "SELECT o_orderpriority, COUNT(*) AS n_orders FROM orders GROUP BY 1",
)


def q_agg_avg_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 (semantic_layer.sql:79-82): AVG by dimension."""
    customer = load_table(spark, sf_dir, "customer")
    return customer.groupBy("c_mktsegment").agg(
        F.round(F.avg("c_acctbal"), 2).alias("avg_balance")
    )


register(
    "agg_avg_by_group",
    q_agg_avg_by_group,
    """
    SELECT c_mktsegment, ROUND(AVG(c_acctbal), 2) AS avg_balance
    FROM customer GROUP BY 1
    """,
)


def q_agg_conditional_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 (semantic_layer.sql:83-90): positive/negative percentage."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        conditional_pct(F.col("l_discount") > 0.05).alias("high_discount_pct"),
        conditional_pct(F.col("l_tax") < 0.02).alias("low_tax_pct"),
    )


register(
    "agg_conditional_ratio",
    q_agg_conditional_ratio,
    """
    SELECT l_returnflag,
           ROUND(SUM(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 4) AS high_discount_pct,
           ROUND(SUM(CASE WHEN l_tax < 0.02 THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 4) AS low_tax_pct
    FROM lineitem GROUP BY 1
    """,
)


def q_agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 (semantic_layer.sql:91-93): exact interpolated median per
    group, as one plain plan — both columns through the Arrow kernel
    :func:`median_exact`, so building the query runs no Spark job.

    Measured on sf0.1 (4 cores, ``toPandas`` sink, fresh construction
    per run, medians of 16 interleaved runs per arm, same rows from
    every arm): this kernel 0.02 s construction + 0.61 s execution;
    the built-in ``percentile`` 0.01 + 1.52 s; the driver-side
    sketch-bracket operator it replaces 0.91 + 0.03 s, spent in the
    4 jobs it ran while building.

    Scale: each ``l_linestatus`` group is gathered to one Python
    worker, so the kernel runs on two workers here and its time grows
    with rows. On 10× ``lineitem`` (6M rows, each of the 583k prices
    10 times) it took 2.6 s against the bracket's 2.5 s and the
    built-in's 1.8 s, whose value→count state grows with distinct
    values, not rows. The bounded-state answer at 100 TB is
    ``percentile_approx``, checked against the exact tier by
    ``agg_scale_sketches``.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_linestatus").agg(
        median_exact("l_extendedprice").alias("median_price"),
        median_exact("l_quantity").alias("median_qty"),
    )


register(
    "agg_percentile",
    q_agg_percentile,
    """
    SELECT l_linestatus,
           ROUND(quantile_cont(l_extendedprice, 0.5), 2) AS median_price,
           ROUND(quantile_cont(l_quantity, 0.5), 2) AS median_qty
    FROM lineitem GROUP BY 1
    """,
)


def q_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 (exploration/analysis.sql:25): SELECT DISTINCT."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.select("o_orderstatus", "o_orderpriority").distinct()


register(
    "agg_distinct",
    q_agg_distinct,
    "SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders",
)


def q_agg_global_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6/A7 (reviews_fact.py:177-181 batch sizing count;
    data_quality.py:44-46 gate count) as one global-aggregate row,
    plus approx_count_distinct's exact twin for the oracle."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.round(F.sum("l_quantity"), 2).alias("total_qty"),
    )


register(
    "agg_global_counts",
    q_agg_global_counts,
    """
    SELECT COUNT(*) AS n_rows,
           COUNT(DISTINCT l_orderkey) AS n_orders,
           ROUND(SUM(l_quantity), 2) AS total_qty
    FROM lineitem
    """,
)


def q_agg_uniqueness_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 (data_quality.py:25-29 is_unique): keys with duplicates —
    here customers with more than 12 orders (o_custkey is non-unique
    by design, exercising the HAVING path with a non-empty result)."""
    orders = load_table(spark, sf_dir, "orders")
    dups = duplicate_keys(orders, ["o_custkey"])
    return dups.filter(F.col("n") > 12)


register(
    "agg_uniqueness_check",
    q_agg_uniqueness_check,
    """
    SELECT o_custkey, COUNT(*) AS n
    FROM orders GROUP BY 1 HAVING COUNT(*) > 12
    """,
)


def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP subtotals (beyond-reference coverage; SURVEY §2.6 notes
    grouping sets absent) — region → nation hierarchy with grand total."""
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    customer = load_table(spark, sf_dir, "customer")
    joined = customer.join(
        F.broadcast(nation), customer.c_nationkey == nation.n_nationkey
    ).join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    return joined.rollup("r_name", "n_name").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.sum("c_acctbal"), 2).alias("total_balance"),
    )


register(
    "agg_rollup",
    q_agg_rollup,
    """
    SELECT r_name, n_name, COUNT(*) AS n_customers,
           ROUND(SUM(c_acctbal), 2) AS total_balance
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)


# --------------------------------------------------------------------------
# Sorts / limits / top-k (SURVEY §2.8) + windows (§2.9 extension)
# --------------------------------------------------------------------------
def q_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1-O3 (reviews_fact.py:178 limit; exploration/analysis.sql:21,37
    ORDER BY + LIMIT): global top-k with unique tiebreaker. Spark
    executes this as TakeOrderedAndProject — no full sort."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
    )


register(
    "topk_orders",
    q_topk_orders,
    """
    SELECT o_orderkey, o_totalprice, o_orderpriority
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)


def q_window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group via ranking window (extension; reference has no
    windows — SURVEY §2.9). Unique tiebreaker keeps it deterministic."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("o_orderpriority", "rk", "o_orderkey", "o_totalprice")
    )


register(
    "window_topk_per_group",
    q_window_topk_per_group,
    """
    SELECT o_orderpriority, rk, o_orderkey, o_totalprice
    FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
                 ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                    ORDER BY o_totalprice DESC, o_orderkey) AS rk
          FROM orders)
    WHERE rk <= 3
    """,
)


def q_window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running (cumulative) aggregate window — frame spec coverage.
    Rounded: cumulative double sums are order-defined here (unique
    orderBy key) but partial-sum association still differs per engine."""
    customer = load_table(spark, sf_dir, "customer")
    w = (
        Window.partitionBy("c_nationkey")
        .orderBy("c_custkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return customer.select(
        "c_nationkey",
        "c_custkey",
        F.round(F.sum("c_acctbal").over(w), 2).alias("running_balance"),
    )


register(
    "window_running_sum",
    q_window_running_sum,
    """
    SELECT c_nationkey, c_custkey,
           ROUND(SUM(c_acctbal) OVER (PARTITION BY c_nationkey ORDER BY c_custkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
           AS running_balance
    FROM customer
    """,
)


def q_window_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag() analytic window — per-customer order-value delta over time.
    date_trunc'd tiebreakered ordering; ts-derived column emitted as date."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(
            F.col("o_totalprice") - F.lag("o_totalprice", 1).over(w), 2
        ).alias("price_delta"),
    )


register(
    "window_lag_delta",
    q_window_lag_delta,
    """
    SELECT o_custkey, o_orderkey,
           ROUND(o_totalprice - LAG(o_totalprice, 1) OVER (
                 PARTITION BY o_custkey ORDER BY o_orderkey), 2) AS price_delta
    FROM orders
    """,
)


# --------------------------------------------------------------------------
# Set operations (SURVEY §2.9 — absent in reference, added for coverage)
# --------------------------------------------------------------------------
def q_set_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (distinct): nations having customers ∪ nations having
    suppliers."""
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    return (
        customer.select(F.col("c_nationkey").alias("nationkey"))
        .union(supplier.select(F.col("s_nationkey").alias("nationkey")))
        .distinct()
    )


register(
    "set_union_distinct",
    q_set_union_distinct,
    """
    SELECT c_nationkey AS nationkey FROM customer
    UNION
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)


def q_set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT: nations with both customers and suppliers."""
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    return customer.select(F.col("c_nationkey").alias("nationkey")).intersect(
        supplier.select(F.col("s_nationkey").alias("nationkey"))
    )


register(
    "set_intersect",
    q_set_intersect,
    """
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)


def q_set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT: nations with customers but no suppliers."""
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    return customer.select(F.col("c_nationkey").alias("nationkey")).subtract(
        supplier.select(F.col("s_nationkey").alias("nationkey"))
    )


register(
    "set_except",
    q_set_except,
    """
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)


# --------------------------------------------------------------------------
# Date/time over events (SURVEY §2.7 'absent' date functions + §2.11)
# --------------------------------------------------------------------------
def q_events_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch tumbling-day aggregation over the events surface —
    date_trunc on both engines avoids the parquet-ns vs Spark-micros
    timestamp mismatch."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.to_date(F.date_trunc("day", F.col("ts"))).alias("day"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


register(
    "events_daily_rollup",
    q_events_daily_rollup,
    """
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
           COUNT(*) AS n_events, ROUND(SUM(value), 2) AS total_value
    FROM events GROUP BY 1, 2
    """,
)


def q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two independent dimensions (all 4 grouping sets) —
    completes the grouping-sets family next to agg_rollup."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


register(
    "agg_cube",
    q_agg_cube,
    """
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS total_price
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)


def q_agg_scale_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB twins of the exact aggregates: percentile_approx and
    approx_count_distinct — mergeable sketches with bounded per-group
    memory and no global sort.

    Sketch cell values are implementation-defined, so the checked
    output emits the EXACT values plus deterministic error-bound
    booleans (``|approx - exact| / exact < bound``); the DuckDB twin
    computes the exact tier and literal TRUEs. A broken sketch (or a
    bound violation) flips a boolean and hash-fails — this is a full
    hash-matched row, not a rows-only check."""
    li = load_table(spark, sf_dir, "lineitem")
    # Each aggregate runs in its OWN cheapest plan, then the four 2-row
    # results broadcast-join back together. Mixing them in one agg()
    # planned an Expand (distinct + non-distinct) carrying the object
    # aggregates' state through multiplied rows: 170 s and 256 MB
    # single allocations at sf1 vs 2.8 s composed (measured r4) — the
    # difference between a demo and an operator. countDistinct is
    # expressed as the two-level distinct (groupBy key pair, then
    # count) — partial-combined on both levels, no Expand.
    ls = "l_linestatus"
    med_e = li.groupBy(ls).agg(
        F.expr("percentile(l_extendedprice, 0.5)").alias("_median_exact")
    )
    med_a = li.groupBy(ls).agg(
        F.percentile_approx(
            "l_extendedprice", F.lit(0.5), F.lit(10_000)
        ).alias("_median_approx")
    )
    nd_e = (
        li.select(ls, "l_orderkey")
        .distinct()
        .groupBy(ls)
        .agg(F.count(F.lit(1)).alias("n_orders_exact"))
    )
    nd_a = li.groupBy(ls).agg(
        F.approx_count_distinct("l_orderkey", rsd=0.01).alias("_acd")
    )
    agg = (
        med_e.join(med_a, ls).join(nd_e, ls).join(nd_a, ls)
    )
    rel_err = lambda a, e: F.abs(a - e) / e  # noqa: E731
    return agg.select(
        "l_linestatus",
        F.round("_median_exact", 2).alias("median_price_exact"),
        "n_orders_exact",
        # percentile_approx at accuracy 10k: ≤1e-4 rank error; 5% on the
        # value is generous. HLL++ at rsd 0.01: 5% = five sigma.
        (rel_err(F.col("_median_approx"), F.col("_median_exact")) < 0.05).alias(
            "median_approx_ok"
        ),
        (
            rel_err(F.col("_acd").cast("double"), F.col("n_orders_exact").cast("double"))
            < 0.05
        ).alias("acd_approx_ok"),
    )


register(
    "agg_scale_sketches",
    q_agg_scale_sketches,
    """
    SELECT l_linestatus,
           ROUND(MEDIAN(l_extendedprice), 2) AS median_price_exact,
           COUNT(DISTINCT l_orderkey) AS n_orders_exact,
           TRUE AS median_approx_ok,
           TRUE AS acd_approx_ok
    FROM lineitem GROUP BY 1
    """,
)


def q_events_asof_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (extension; SURVEY §2.5 notes the kind absent in the
    reference): enrich every click with the user's most recent prior
    (or simultaneous) purchase value. One key shuffle — union-tag +
    running last() window, no range self-join."""
    from gaming_ai_analytics_spark.operators.joins import asof_join

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.round("value", 4).alias("last_purchase_value")
    )
    return asof_join(
        clicks, purchases, ["user_id"], "ts", ["last_purchase_value"]
    ).select("event_id", "user_id", "last_purchase_value")


register(
    "events_asof_enrich",
    q_events_asof_enrich,
    """
    SELECT p.event_id, p.user_id, r.last_purchase_value
    FROM (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'click') p
    ASOF LEFT JOIN (SELECT user_id, ts,
                           ROUND(value, 4) AS last_purchase_value
                    FROM events WHERE event_type = 'purchase') r
    ON p.user_id = r.user_id AND p.ts >= r.ts
    """,
)


def q_events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join (extension; SURVEY §2.5 absent kinds): clicks landing
    inside the 30-minute window after each purchase, aggregated per
    window. Bucketized equi-join — never a nested-loop non-equi plan."""
    from gaming_ai_analytics_spark.operators.joins import range_join

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    windows = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("w_start"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("w_end"),
    )
    return (
        range_join(clicks, windows, ["user_id"], "ts", "w_start", "w_end")
        .groupBy("user_id", F.col("w_start").alias("window_start"))
        .agg(F.count(F.lit(1)).alias("n_clicks"))
    )


register(
    "events_range_join",
    q_events_range_join,
    """
    SELECT c.user_id, p.ts AS window_start, COUNT(*) AS n_clicks
    FROM (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'click') c
    JOIN (SELECT user_id, ts FROM events
          WHERE event_type = 'purchase') p
    ON c.user_id = p.user_id
       AND c.ts >= p.ts AND c.ts < p.ts + INTERVAL '30 minutes'
    GROUP BY 1, 2
    """,
)


def q_window_value_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-position window functions (first_value / nth_value /
    cume_dist) over a unique (c_acctbal, c_custkey) order so results
    are deterministic across engines. Completes the ranking-window
    inventory next to row_number/ntile/percent_rank."""
    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return cust.select(
        "c_custkey",
        "c_mktsegment",
        F.first_value("c_custkey").over(w).alias("poorest_key"),
        F.nth_value("c_custkey", 3).over(w).alias("third_key"),
        F.round(F.cume_dist().over(w), 6).alias("balance_cume"),
    )


register(
    "window_value_functions",
    q_window_value_functions,
    """
    SELECT c_custkey, c_mktsegment,
           FIRST_VALUE(c_custkey) OVER w AS poorest_key,
           NTH_VALUE(c_custkey, 3) OVER w AS third_key,
           ROUND(CUME_DIST() OVER w, 6) AS balance_cume
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment
                 ORDER BY c_acctbal, c_custkey)
    """,
)


def q_stat_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate statistics per group: Pearson correlation and sample
    covariance (both single-pass, partial-aggregated moment sketches —
    mergeable at any scale)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias(
            "qty_price_corr"
        ),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias(
            "qty_price_covar"
        ),
    )


register(
    "stat_correlation",
    q_stat_correlation,
    """
    SELECT l_returnflag,
           ROUND(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr,
           ROUND(covar_samp(l_quantity, l_extendedprice), 4)
             AS qty_price_covar
    FROM lineitem GROUP BY 1
    """,
)


def q_set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL — the multiset variant the distinct set ops
    (``set_except``) can't express: per-row multiplicities subtract
    instead of collapsing.  Spark plans multiset difference as one
    hash aggregate over a union of tagged counts — no join; the
    grouped projection keeps the registered output small and
    deterministic."""
    orders = load_table(spark, sf_dir, "orders")
    all_prios = orders.select("o_orderpriority")
    done_prios = orders.filter(F.col("o_orderstatus") == "F").select(
        "o_orderpriority"
    )
    return (
        all_prios.exceptAll(done_prios)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_remaining"))
    )


register(
    "set_except_all",
    q_set_except_all,
    """
    SELECT o_orderpriority, COUNT(*) AS n_remaining
    FROM (
      SELECT o_orderpriority FROM orders
      EXCEPT ALL
      SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F'
    )
    GROUP BY 1
    """,
)


def q_set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL — multiset intersection (min of per-side
    multiplicities), same one-aggregate shape as ``set_except_all``."""
    orders = load_table(spark, sf_dir, "orders")
    urgent = orders.filter(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    ).select("o_orderstatus")
    finished = orders.filter(F.col("o_orderstatus") == "F").select(
        "o_orderstatus"
    )
    return (
        urgent.intersectAll(finished)
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )


register(
    "set_intersect_all",
    q_set_intersect_all,
    """
    SELECT o_orderstatus, COUNT(*) AS n_common
    FROM (
      SELECT o_orderstatus FROM orders
      WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
      INTERSECT ALL
      SELECT o_orderstatus FROM orders WHERE o_orderstatus = 'F'
    )
    GROUP BY 1
    """,
)


def q_union_by_name_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``unionByName(allowMissingColumns=True)`` — schema-evolution
    union: batches with drifted column sets align by NAME (missing
    columns null-fill) instead of silently matching by position — the
    failure mode positional UNION has on reordered producer schemas.
    Map-only; no shuffle beyond the downstream aggregate."""
    orders = load_table(spark, sf_dir, "orders")
    old_batch = orders.filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderpriority"
    )
    new_batch = orders.filter(F.col("o_orderstatus") == "O").select(
        "o_orderkey", "o_orderpriority", F.col("o_totalprice").alias("price")
    )
    return (
        old_batch.unionByName(new_batch, allowMissingColumns=True)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("price").alias("n_with_price"),
            F.round(F.sum("price"), 2).alias("price_total"),
        )
    )


register(
    "union_by_name_evolution",
    q_union_by_name_evolution,
    """
    SELECT o_orderpriority, COUNT(*) AS n_rows,
           COUNT(price) AS n_with_price,
           ROUND(SUM(price), 2) AS price_total
    FROM (
      SELECT o_orderkey, o_orderpriority, NULL AS price
      FROM orders WHERE o_orderstatus = 'F'
      UNION ALL BY NAME
      SELECT o_orderkey, o_orderpriority, o_totalprice AS price
      FROM orders WHERE o_orderstatus = 'O'
    )
    GROUP BY 1
    """,
)


def q_try_arithmetic_safety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``try_divide`` / ``try_to_number`` — the error-safe ANSI surface:
    division by a zero-able denominator and strict-format parsing
    yield NULL instead of aborting a 100 TB job on one bad row.
    Pure map pass; the aggregate proves the null semantics."""
    li = load_table(spark, sf_dir, "lineitem")
    qty_disc = F.try_divide(F.col("l_extendedprice"), F.round("l_tax", 2))
    return (
        li.select(
            "l_returnflag",
            qty_disc.alias("price_per_tax"),
        )
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("price_per_tax").alias("n_divisible"),
            F.round(F.avg("price_per_tax"), 2).alias("avg_ratio"),
        )
    )


register(
    "try_arithmetic_safety",
    q_try_arithmetic_safety,
    """
    SELECT l_returnflag, COUNT(*) AS n_rows,
           COUNT(CASE WHEN ROUND(l_tax, 2) <> 0
                      THEN l_extendedprice / ROUND(l_tax, 2) END)
               AS n_divisible,
           ROUND(AVG(CASE WHEN ROUND(l_tax, 2) <> 0
                          THEN l_extendedprice / ROUND(l_tax, 2) END), 2)
               AS avg_ratio
    FROM lineitem
    GROUP BY 1
    """,
)


def q_agg_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust aggregation rung of the A-ladder: per-group winsorized
    and trimmed means of ``l_extendedprice`` at the [p05, p95] cut —
    the outlier-hardened revenue statistic beside `agg_avg_by_group`'s
    raw mean and `anomaly_mad`'s robust dispersion.

    Two passes by construction (a clip bound must exist before any
    row can be clipped): pass 1 computes exact interpolated p05/p95
    per group — the built-in ``percentile``, whose value→count state
    degenerates on this NDV≈rows column at cluster scale.  Pass 2
    re-scans with the cuts INLINED as CASE literals and aggregates
    clip/trim/count in ONE codegen HashAggregate — the multi-scan is
    the operator's semantics, not a plan accident (plan-audit
    justification).

    The cut hand-off is a bounded driver merge (|groups| rows, two
    doubles each), NOT a broadcast join: composing pass 2 as
    ``join(broadcast(cuts))`` measured 1.40–1.75 s at sf1 while the
    identical arms run standalone in 0.50 + 0.05 s — the broadcast
    subquery machinery re-costs the whole percentile stage — and the
    inline-literal form runs at the sum of its parts (A/B in
    BASELINE.md §3).

    Parity: comparisons against the interpolated cuts are safe —
    when (n−1)·q is integral both engines emit the exact data value;
    otherwise the cut lies strictly between two distinct prices (a
    blend of equal neighbors collapses to their common double), so
    no l_extendedprice can sit a ulp from a boundary; the collected
    Python floats round-trip to Spark double literals bit-exactly.
    Means are order-sensitive double sums: rounded 2dp + nudge both
    sides; cut columns are rounded ENGINE-side via literal ROUND
    (Python ``round`` is banker's — the knife-edge parity bug)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    # ONE array-percentile aggregate, not two scalar ones: each scalar
    # `percentile` call carries its OWN value→count partial state, so
    # two cuts pay the degenerate map twice — measured 0.78 s vs
    # 0.36 s for the shared-state array form at sf1 (BASELINE.md §3)
    cuts = (
        li.groupBy("l_returnflag")
        .agg(
            F.percentile(
                "l_extendedprice", F.array(F.lit(0.05), F.lit(0.95))
            ).alias("_ps")
        )
        .select(
            "l_returnflag",
            F.col("_ps")[0].alias("_p05"),
            F.col("_ps")[1].alias("_p95"),
        )
    )
    # NOTE: this collect runs at DataFrame-CONSTRUCTION time, so even
    # plan-only consumers (plan_audit, dump_plans) execute pass 1 —
    # the returned plan carries a single lineitem scan with the cuts
    # already folded to literals (ADVICE r11).
    cut_rows = cuts.collect()  # bounded: |groups| rows, 2 doubles each
    if not cut_rows:  # empty/filtered-out input: coalesce(*[]) raises
        return local_frame(
            spark,
            [],
            "l_returnflag string, n_rows long, mean_raw double,"
            " mean_winsorized double, mean_trimmed double,"
            " n_clipped long, p05 double, p95 double",
        )
    p05 = {r.l_returnflag: r._p05 for r in cut_rows}
    p95 = {r.l_returnflag: r._p95 for r in cut_rows}
    g = F.col("l_returnflag")
    lo = F.coalesce(*[F.when(g == k, F.lit(v)) for k, v in p05.items()])
    hi = F.coalesce(*[F.when(g == k, F.lit(v)) for k, v in p95.items()])
    x = F.col("l_extendedprice")
    clipped = F.least(F.greatest(x, lo), hi)
    in_band = (x >= lo) & (x <= hi)
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.avg(x) + 5e-10, 2).alias("mean_raw"),
            F.round(F.avg(clipped) + 5e-10, 2).alias("mean_winsorized"),
            F.round(F.avg(F.when(in_band, x)) + 5e-10, 2).alias(
                "mean_trimmed"
            ),
            F.sum(F.when(~in_band, 1).otherwise(0))
            .cast("long")
            .alias("n_clipped"),
            F.round(F.min(lo), 2).alias("p05"),
            F.round(F.min(hi), 2).alias("p95"),
        )
        .orderBy("l_returnflag")
    )


register(
    "agg_winsorized_stats",
    q_agg_winsorized_stats,
    """
    WITH cuts AS (
      SELECT l_returnflag,
             quantile_cont(l_extendedprice, 0.05) AS p05,
             quantile_cont(l_extendedprice, 0.95) AS p95
      FROM lineitem GROUP BY 1)
    SELECT l.l_returnflag,
           COUNT(*) AS n_rows,
           ROUND(AVG(l_extendedprice) + 5e-10, 2) AS mean_raw,
           ROUND(AVG(LEAST(GREATEST(l_extendedprice, p05), p95)) + 5e-10, 2)
             AS mean_winsorized,
           ROUND(AVG(CASE WHEN l_extendedprice BETWEEN p05 AND p95
                          THEN l_extendedprice END) + 5e-10, 2)
             AS mean_trimmed,
           CAST(SUM(CASE WHEN l_extendedprice < p05
                           OR l_extendedprice > p95
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped,
           ROUND(MIN(p05), 2) AS p05,
           ROUND(MIN(p95), 2) AS p95
    FROM lineitem l JOIN cuts USING (l_returnflag)
    GROUP BY 1 ORDER BY 1
    """,
)
