"""Flagship sf1 decomposition (VERDICT r10 ask #2).

The r10 verdict flagged `flagship_star_metrics` weak on the sf1 ratio
(warm 1.98 s vs DuckDB 0.38 s) — the only headliner without a floor
decomposition at that scale.  This runs the prescribed experiment:

(a) confirm what join strategy AQE actually picks for
    lineitem ⋈ enriched-orders at sf1 (final adaptive plan, printed);
(b) component decomposition, fresh lineage per run, warm medians:
      full          registered plan -> toPandas
      full_count    registered plan -> count (no Arrow transfer)
      no_median     the 4 algebraic measures only
      median_only   percentile measure only
      join_count    joined fact -> count (join share, no agg battery)
      dims_count    enriched orders side -> count
      scan_count    bare 4-column fact scan -> count

Usage: python tools/exp_flagship_sf1_decompose.py [sf_dir]
"""

from __future__ import annotations

import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from gaming_ai_analytics_spark.plans.flagship import (  # noqa: E402
    _joined_fact,
    flagship_star_metrics,
)
from gaming_ai_analytics_spark.session import get_spark  # noqa: E402
from gaming_ai_analytics_spark.sources.star import load_table  # noqa: E402


def timed(fn, runs: int = 5) -> float:
    fn()  # warm (scan cache, codegen)
    ts = []
    for _ in range(runs):
        t0 = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t0)
    return statistics.median(ts)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        REPO, ".benchdata", "sf1"
    )
    spark = get_spark("exp-flagship-sf1")

    # ---- (a) final AQE plan for the fact join -----------------------
    joined = _joined_fact(spark, sf_dir)
    joined.count()
    print("=== final adaptive plan: joined fact ===")
    print(joined._jdf.queryExecution().executedPlan().toString()[:4000])

    # ---- (b) components ---------------------------------------------
    def full():
        flagship_star_metrics(spark, sf_dir).toPandas()

    def full_count():
        flagship_star_metrics(spark, sf_dir).count()

    def no_median():
        j = _joined_fact(spark, sf_dir)
        n = F.count(F.lit(1))
        j.groupBy("r_name").agg(
            n.alias("line_count"),
            F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
            F.round(
                F.sum(F.when(F.col("l_discount") > 0.05, 1).otherwise(0)) / n,
                4,
            ).alias("high_discount_pct"),
            F.round(
                F.sum(F.when(F.col("l_discount") < 0.02, 1).otherwise(0)) / n,
                4,
            ).alias("low_discount_pct"),
        ).toPandas()

    def median_only():
        j = _joined_fact(spark, sf_dir)
        j.groupBy("r_name").agg(
            F.round(F.expr("percentile(l_quantity, 0.5)"), 2).alias(
                "median_qty"
            )
        ).toPandas()

    def join_count():
        _joined_fact(spark, sf_dir).count()

    def dims_count():
        from gaming_ai_analytics_spark.operators.joins import star_join

        orders = load_table(spark, sf_dir, "orders")
        customer = load_table(spark, sf_dir, "customer")
        nation = load_table(spark, sf_dir, "nation")
        region = load_table(spark, sf_dir, "region")
        star_join(
            orders,
            [
                (customer, orders.o_custkey == customer.c_custkey),
                (nation, customer.c_nationkey == nation.n_nationkey),
                (region, nation.n_regionkey == region.r_regionkey),
            ],
        ).select("o_orderkey", "r_name").count()

    def scan_count():
        load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_quantity", "l_extendedprice", "l_discount"
        ).count()

    print("\n=== components (median of 5 warm, fresh lineage) ===")
    for name, fn in [
        ("full", full),
        ("full_count", full_count),
        ("no_median", no_median),
        ("median_only", median_only),
        ("join_count", join_count),
        ("dims_count", dims_count),
        ("scan_count", scan_count),
    ]:
        print(f"{name:12s} {timed(fn):.3f}s", flush=True)


if __name__ == "__main__":
    main()
