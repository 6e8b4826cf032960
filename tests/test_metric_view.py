from __future__ import annotations

import pytest

from gaming_ai_analytics_spark.plans.metric_view import (
    JoinSpec,
    MetricView,
    MetricViewSpec,
)
from gaming_ai_analytics_spark.sources.star import load_table


@pytest.fixture()
def mv(spark, sf_dir):
    spec = MetricViewSpec(
        source="orders",
        filter="orders.o_totalprice IS NOT NULL",
        joins=[
            JoinSpec("customer", "orders.o_custkey = customer.c_custkey"),
            JoinSpec("nation", "customer.c_nationkey = nation.n_nationkey"),
            JoinSpec("region", "nation.n_regionkey = region.r_regionkey"),
        ],
        dimensions={
            "region": "region.r_name",
            "priority": "orders.o_orderpriority",
        },
        measures={
            "order_count": "COUNT(*)",
            "avg_price": "ROUND(AVG(orders.o_totalprice), 2)",
            "urgent_pct": (
                "ROUND(SUM(CASE WHEN orders.o_orderpriority = '1-URGENT' "
                "THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 4)"
            ),
        },
    )
    tables = {
        t: load_table(spark, sf_dir, t)
        for t in ("orders", "customer", "nation", "region")
    }
    return MetricView(spark, spec, tables)


def test_single_dimension(mv):
    out = mv.query(["region"], ["order_count", "avg_price"]).collect()
    assert len(out) == 5
    assert set(out[0].asDict()) == {"region", "order_count", "avg_price"}


def test_group_by_what_you_select(mv):
    by_region = mv.query(["region"], ["order_count"]).collect()
    by_both = mv.query(["region", "priority"], ["order_count"]).collect()
    assert len(by_both) > len(by_region)
    # measures are additive across the finer grouping
    assert sum(r.order_count for r in by_both) == sum(
        r.order_count for r in by_region
    )


def test_no_dimensions_grand_total(mv, spark, sf_dir):
    out = mv.query([], ["order_count"]).collect()
    assert len(out) == 1
    assert out[0].order_count == load_table(spark, sf_dir, "orders").count()


def test_consumer_where(mv):
    out = mv.query(["region"], ["urgent_pct"], where="orders.o_totalprice > 100000")
    rows = out.collect()
    assert all(0.0 <= r.urgent_pct <= 1.0 for r in rows)


def test_unknown_dim_rejected(mv):
    with pytest.raises(ValueError):
        mv.query(["nope"], ["order_count"])


def test_broadcast_hint_in_plan(mv):
    sql = mv.compile_sql(["region"], ["order_count"])
    assert "BROADCAST" in sql
    plan = mv.query(["region"], ["order_count"])._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_rewrite_preserves_string_literals_and_identifier_suffixes(mv):
    """Table-name qualification must not touch string literals
    containing 'table.' or identifiers that merely END with a table
    name (no word boundary)."""
    rewritten = mv._rewrite("CASE WHEN src = 'orders.eu' THEN big_orders.x ELSE orders.o_totalprice END")
    assert "'orders.eu'" in rewritten                      # literal untouched
    assert "big_orders.x" in rewritten                     # suffix untouched
    assert "__mv" in rewritten and ("_orders.o_totalprice" in rewritten)


def test_rewrite_handles_escaped_quotes(mv):
    r = mv._rewrite("concat('it''s orders.', orders.o_orderpriority)")
    assert "'it''s orders.'" in r
    assert r.count("__mv") == 1


def test_consumer_sql_reference_shape_verbatim(mv):
    """The reference's consumer contract (semantic_layer.sql:7-10):
    ``SELECT dim, MEASURE(m) FROM view GROUP BY dim`` — typed as a raw
    SQL string, rewritten to query() by MetricView.sql()."""
    out = mv.sql(
        "SELECT region, MEASURE(order_count) FROM review_metrics "
        "GROUP BY region"
    ).collect()
    assert len(out) == 5
    assert set(out[0].asDict()) == {"region", "order_count"}
    ref = {(r.region, r.order_count) for r in mv.query(["region"], ["order_count"]).collect()}
    assert {(r.region, r.order_count) for r in out} == ref


def test_consumer_sql_aliases_ordinals_where(mv):
    out = mv.sql(
        "SELECT region AS r, MEASURE(avg_price) AS p\n"
        "FROM metrics WHERE orders.o_totalprice > 100000 GROUP BY 1;"
    )
    rows = out.collect()
    assert set(rows[0].asDict()) == {"r", "p"}
    assert len(rows) == 5


def test_consumer_sql_grand_total_no_group_by(mv):
    out = mv.sql("SELECT MEASURE(order_count) FROM v").collect()
    assert len(out) == 1


def test_consumer_sql_rejects_non_consumer_shapes(mv):
    import pytest as _pytest

    with _pytest.raises(ValueError):
        mv.sql("SELECT region FROM v")  # dims without GROUP BY
    with _pytest.raises(ValueError):
        mv.sql("SELECT region, MEASURE(order_count) FROM v GROUP BY priority")
    with _pytest.raises(ValueError):
        mv.sql("DELETE FROM v")


def test_consumer_sql_ordinals_resolve_against_select_list(mv):
    """GROUP BY ordinals are positions in the SELECT list, not the
    dims-only list: 'MEASURE(m), region GROUP BY 2' is valid (ordinal
    2 is the dimension), while an ordinal landing on a measure or out
    of range raises the contract ValueError — never a raw IndexError."""
    import pytest as _pytest

    out = mv.sql(
        "SELECT MEASURE(order_count), region FROM v GROUP BY 2"
    ).collect()
    assert len(out) == 5
    with _pytest.raises(ValueError, match="MEASURE"):
        mv.sql("SELECT MEASURE(order_count), region FROM v GROUP BY 1, 2")
    with _pytest.raises(ValueError, match="out of range"):
        mv.sql("SELECT region, MEASURE(order_count) FROM v GROUP BY 3")


def test_consumer_sql_checks_declared_view_name(spark, sf_dir):
    """A named metric view only serves consumer SQL addressed to it —
    a query naming a different view must error, not silently run here
    (an unnamed view keeps the permissive single-view behavior)."""
    import pytest as _pytest

    spec = MetricViewSpec(
        source="orders",
        dimensions={"priority": "orders.o_orderpriority"},
        measures={"order_count": "COUNT(*)"},
    )
    named = MetricView(
        spark, spec, {"orders": load_table(spark, sf_dir, "orders")},
        name="order_metrics",
    )
    ok = named.sql(
        "SELECT priority, MEASURE(order_count) FROM Order_Metrics "
        "GROUP BY priority"
    ).collect()
    assert len(ok) > 0
    with _pytest.raises(ValueError, match="order_metrics"):
        named.sql("SELECT MEASURE(order_count) FROM other_view")


def test_consumer_sql_equals_query_for_every_subset(mv):
    """Exhaustive equivalence sweep: for EVERY non-empty subset of
    declared dimensions × measures, the consumer-SQL path
    (``sql("SELECT d, MEASURE(m) FROM v GROUP BY d")``) must return
    the identical result as the programmatic ``query(dims,
    measures)`` path — the two consumer surfaces can never drift.
    (The earlier tests pin individual shapes; this pins the whole
    contract space of the spec, 2^2-1 × 2^3-1 = 21 combinations.)"""
    from itertools import combinations

    dims_all = list(mv.spec.dimensions)
    meas_all = list(mv.spec.measures)
    for dn in range(1, len(dims_all) + 1):
        for dims in combinations(dims_all, dn):
            for mn in range(1, len(meas_all) + 1):
                for meas in combinations(meas_all, mn):
                    select = ", ".join(dims) + ", " + ", ".join(
                        f"MEASURE({m})" for m in meas
                    )
                    text = (
                        f"SELECT {select} FROM metrics_view "
                        f"GROUP BY {', '.join(dims)}"
                    )
                    via_sql = sorted(
                        map(tuple, mv.sql(text).collect())
                    )
                    via_api = sorted(
                        map(tuple, mv.query(list(dims), list(meas)).collect())
                    )
                    assert via_sql == via_api, (dims, meas)


def test_curation_view_generalizes_beyond_star(spark, sf_dir):
    """VERDICT r9 ask #5: the compiler fronting the curation mart
    (documents + trained-tokenizer counts), not the TPC-H star — the
    same consumer-SQL parse-through contract: two-dim grouping, a
    consumer WHERE on an underlying column, alias handling, additive
    rollup across grains, and the declared-name check."""
    from gaming_ai_analytics_spark.queries_traindata import (
        _curation_metric_view,
    )

    mv = _curation_metric_view(spark, sf_dir)
    per_source = mv.sql(
        "SELECT source, MEASURE(docs) AS docs, MEASURE(bpe_tokens) AS"
        " bpe_tokens FROM corpus_curation GROUP BY source"
    ).collect()
    assert per_source and set(per_source[0].asDict()) == {
        "source", "docs", "bpe_tokens"
    }
    two_dim = mv.sql(
        "SELECT source, lang, MEASURE(docs) AS docs FROM"
        " corpus_curation GROUP BY 1, 2"
    ).collect()
    assert len(two_dim) >= len(per_source)
    # additive rollup: the finer grain sums to the coarser
    assert sum(r.docs for r in two_dim) == sum(r.docs for r in per_source)
    filtered = mv.sql(
        "SELECT source, MEASURE(docs) AS docs FROM corpus_curation"
        " WHERE corpus.lang = 'en' GROUP BY source"
    ).collect()
    by_src = {r.source: r.docs for r in per_source}
    for r in filtered:
        assert r.docs <= by_src[r.source]
    with pytest.raises(ValueError, match="names metric view"):
        mv.sql(
            "SELECT source, MEASURE(docs) FROM orders_metrics"
            " GROUP BY source"
        )


def test_curation_view_measures_internally_consistent(spark, sf_dir):
    """Cross-operator invariant: the curation view's per-source BPE
    totals must equal bpe_compression_by_source's (same trained
    tokenizer, same corpus), and median quality lands in [0, 1]."""
    from gaming_ai_analytics_spark.queries_traindata import (
        q_bpe_compression_by_source,
        q_metric_view_curation,
    )

    view = {
        r.source: r
        for r in q_metric_view_curation(spark, sf_dir).collect()
    }
    comp = {
        r.source: r.n_bpe_tokens
        for r in q_bpe_compression_by_source(spark, sf_dir).collect()
    }
    assert set(view) >= set(comp)
    for src, n in comp.items():
        assert view[src].bpe_tokens == n, src
    for r in view.values():
        assert 0.0 <= r.median_quality <= 1.0


def test_orders_metric_view_definition_cached_per_session(spark, sf_dir):
    """r14 construction-floor fix: the orders MetricView is a
    long-lived definition — repeated constructions in one session
    must reuse the SAME instance (no temp-view re-registration, no
    __mvN_ catalog leak), a trailing slash names the same sf_dir, a
    different sf_dir must get its own, and the consumer query must
    still compile fresh with identical results across calls."""
    from conftest import SF_ORACLE

    from gaming_ai_analytics_spark.queries_ext import (
        _orders_metric_view,
        q_metric_view_region,
    )

    mv1 = _orders_metric_view(spark, sf_dir)
    mv2 = _orders_metric_view(spark, sf_dir)
    assert mv1 is mv2
    assert _orders_metric_view(spark, sf_dir + "/") is mv1
    assert _orders_metric_view(spark, SF_ORACLE) is not mv1
    a = sorted(map(tuple, q_metric_view_region(spark, sf_dir).collect()))
    b = sorted(map(tuple, q_metric_view_region(spark, sf_dir).collect()))
    assert a == b and a
