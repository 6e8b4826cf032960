"""A repeated query compiles no new generated classes.

Spark compiles each whole-stage codegen stage and generated projection
with Janino, behind an LRU cache keyed on the generated source. The
property holds only while the cache holds the engine's working set
(``session.get_spark`` sizes it) and the generated source of a repeated
query is byte-identical (no run-dependent names in it).
"""

from __future__ import annotations

from conftest import SF_ORACLE
from gaming_ai_analytics_spark import registry
from gaming_ai_analytics_spark.plans import pipeline
from gaming_ai_analytics_spark.session import codegen_compiles
from gaming_ai_analytics_spark.sources.io import TableStore

#: the perfbench dashboard deck (toPandas sink) ...
DASHBOARD = [
    "flagship_star_metrics",
    "metric_view_region",
    "metric_view_two_dims_where",
    "agg_rollup",
    "agg_percentile",
    "window_topk_per_group",
    "join_chain_left",
    "events_session_window",
    "market_share",
    "pricing_summary",
    "retention_cohorts",
    "dau_mau_stickiness",
]
#: ... and its curation steps (noop sink)
CURATION = [
    "text_analysis_profile",
    "dedup_exact_canonical",
    "dedup_cluster_assign_star",
    "dedup_minhash_lsh",
    "duplicate_span_removal",
    "similarity_topk",
]

#: Classes every ``build_fact`` call compiles, whatever the cache size:
#: the batch's ``limit`` plans a LocalLimit stage and a GlobalLimit
#: stage, and Spark names each limit's row counter in the generated
#: source from a JVM-wide sequence (``BaseLimitExec.newLimitCountTerm``,
#: which keeps two limits in one stage apart), so each newly planned
#: limit is new source. An ordered limit (``TakeOrderedAndProject``,
#: not codegen'd) would avoid it, but scores and sorts every new row
#: where the unordered limit stops each partition after the batch.
BUILD_FACT_COMPILES = 2


def test_repeated_queries_compile_nothing(spark, tmp_path):
    queries = registry.queries()

    def one_pass() -> int:
        before = codegen_compiles(spark)
        for name in DASHBOARD:
            queries[name](spark, SF_ORACLE).toPandas()
        for name in CURATION:
            queries[name](spark, SF_ORACLE).write.format("noop").mode(
                "overwrite"
            ).save()
        return codegen_compiles(spark) - before

    one_pass()
    assert one_pass() == 0

    def fact_compiles(store: TableStore) -> int:
        before = codegen_compiles(spark)
        pipeline.build_fact(spark, store, SF_ORACLE)
        return codegen_compiles(spark) - before

    warm = TableStore(spark, str(tmp_path / "warm"))
    fact_compiles(warm)  # build
    fact_compiles(warm)  # idempotent re-run: the anti-join plan
    store = TableStore(spark, str(tmp_path / "again"))
    assert fact_compiles(store) == BUILD_FACT_COMPILES
    assert fact_compiles(store) == BUILD_FACT_COMPILES
