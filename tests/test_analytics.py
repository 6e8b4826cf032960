"""Product-analytics + graph operator tests: funnel semantics,
retention cohorts, z-score outliers, connected components."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from gaming_ai_analytics_spark.operators.analytics import (
    funnel,
    retention_cohorts,
    zscore_outliers,
)
from gaming_ai_analytics_spark.operators.graph import (
    connected_components,
    dedup_clusters,
)


def _ts(minute: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1, 12, minute)


def _events(spark, rows):
    return spark.createDataFrame(rows, ["user_id", "event_type", "ts"])


def test_funnel_ordered_matching(spark):
    ev = _events(
        spark,
        [
            # u1 completes in order
            (1, "view", _ts(0)),
            (1, "click", _ts(1)),
            (1, "purchase", _ts(2)),
            # u2: purchase BEFORE click → only steps 1-2 reached
            (2, "view", _ts(0)),
            (2, "purchase", _ts(1)),
            (2, "click", _ts(2)),
            # u3: click only, no view → reaches nothing
            (3, "click", _ts(0)),
        ],
    )
    out = {
        r.step: (r.event_type, r.n_users)
        for r in funnel(ev, ["view", "click", "purchase"]).collect()
    }
    assert out == {1: ("view", 2), 2: ("click", 2), 3: ("purchase", 1)}


def test_funnel_requires_strictly_later_event(spark):
    # click at the SAME timestamp as view must not advance the funnel
    ev = _events(spark, [(1, "view", _ts(0)), (1, "click", _ts(0))])
    out = {r.step: r.n_users for r in funnel(ev, ["view", "click"]).collect()}
    assert out == {1: 1, 2: 0}


def test_funnel_reuses_earliest_chain(spark):
    # view@0, click@1, view@5: the match chain uses view@0 (earliest),
    # so click@1 counts even though a later view exists.
    ev = _events(
        spark,
        [(1, "view", _ts(0)), (1, "click", _ts(1)), (1, "view", _ts(5))],
    )
    out = {r.step: r.n_users for r in funnel(ev, ["view", "click"]).collect()}
    assert out == {1: 1, 2: 1}


def test_retention_cohorts_counts_each_user_once_per_day(spark):
    d0, d1 = dt.datetime(2024, 1, 1, 8), dt.datetime(2024, 1, 2, 9)
    ev = _events(
        spark,
        [
            (1, "view", d0),
            (1, "view", d0.replace(hour=22)),  # same day, same user
            (1, "click", d1),
            (2, "view", d1),  # second cohort, day 0 only
        ],
    )
    rows = {
        (str(r.cohort_day), r.day_offset): r.n_users
        for r in retention_cohorts(ev, offsets=(0, 1)).collect()
    }
    assert rows == {
        ("2024-01-01", 0): 1,
        ("2024-01-01", 1): 1,
        ("2024-01-02", 0): 1,
    }


def test_zscore_outliers_flags_only_extremes(spark):
    rows = [(i, "a", 10.0) for i in range(20)] + [(99, "a", 1000.0)]
    df = spark.createDataFrame(rows, ["event_id", "event_type", "value"])
    out = zscore_outliers(
        df, "value", ["event_type"], threshold=3.0, keep_cols=["event_id"]
    ).collect()
    assert [r.event_id for r in out] == [99]
    assert out[0].zscore > 3.0


def test_connected_components_labels_min_id(spark):
    # components {1,2,3} (chain), {10,11}, and 3-4 bridges the chain
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], ["id_a", "id_b"]
    )
    out = {r.node: r.component for r in connected_components(edges).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_connected_components_long_chain_converges(spark):
    # 0-1-2-...-9: worst-case diameter for hash-min propagation
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], ["id_a", "id_b"]
    )
    out = {r.node: r.component for r in connected_components(edges).collect()}
    assert out == {i: 0 for i in range(10)}


def test_connected_components_hub_node(spark):
    """A degree-10⁴ hub (one boilerplate page near-dup to everything)
    must converge without a per-node neighbor array — the flat-edge
    sweep processes hub rows streamingly. Also pins correctness:
    star graph = one component labeled by its min id."""
    hub = 5000
    edges = spark.range(10_001).withColumnRenamed("id", "id_a").withColumn(
        "id_b", F.lit(hub)
    ).where(F.col("id_a") != hub)
    out = connected_components(edges, max_iter=5)
    assert out.where("component != 0").count() == 0
    assert out.count() == 10_001


def test_dedup_clusters_canonical_is_min_doc(spark):
    pairs = spark.createDataFrame([(7, 3), (3, 5)], ["id_a", "id_b"])
    out = {r.doc_id: r.cluster_id for r in dedup_clusters(pairs).collect()}
    assert out == {3: 3, 5: 3, 7: 3}


def test_rolling_time_sum_window_bounds(spark):
    from gaming_ai_analytics_spark.operators.analytics import rolling_time_sum

    base = dt.datetime(2024, 1, 10, 12)
    rows = [
        (1, 1, base - dt.timedelta(days=8), 100.0),  # outside 7d of row 3
        (1, 2, base - dt.timedelta(days=3), 10.0),
        (1, 3, base, 1.0),
        (2, 4, base, 5.0),  # other user isolated
    ]
    df = spark.createDataFrame(rows, ["user_id", "event_id", "ts", "value"])
    out = {
        r.event_id: r.rolling_sum
        for r in rolling_time_sum(
            df, "value", "user_id", out_cols=("event_id",)
        ).collect()
    }
    # row 1 (day -8) is 5 days before row 2 → inside ITS window, but
    # 8 days before row 3 → outside row 3's window
    assert out == {1: 100.0, 2: 110.0, 3: 11.0, 4: 5.0}


def test_merge_partial_aggs_equals_one_shot(spark):
    from gaming_ai_analytics_spark.operators.aggregates import (
        merge_partial_aggs,
    )

    a = spark.createDataFrame([("x", 2, 10.0), ("y", 1, 5.0)], ["k", "n", "s"])
    b = spark.createDataFrame([("x", 3, 7.0), ("z", 4, 2.0)], ["k", "n", "s"])
    got = {
        r.k: (r.n, r.s)
        for r in merge_partial_aggs(a, b, ["k"], "n", "s").collect()
    }
    assert got == {"x": (5, 17.0), "y": (1, 5.0), "z": (4, 2.0)}


def test_latest_per_key_tie_breaks_on_payload(spark):
    from gaming_ai_analytics_spark.operators.aggregates import latest_per_key

    t = dt.datetime(2024, 1, 1, 12)
    df = spark.createDataFrame(
        [(1, t, 7), (1, t, 9), (1, t - dt.timedelta(hours=1), 99)],
        ["user_id", "ts", "event_id"],
    )
    out = latest_per_key(df, ["user_id"], "ts", "event_id").collect()
    assert [(r.user_id, r.last_event_id) for r in out] == [(1, 9)]


def test_gap_fill_emits_zero_days(spark):
    from gaming_ai_analytics_spark.operators.analytics import (
        gap_fill_daily_counts,
    )

    d = dt.datetime
    rows = [
        ("a", d(2024, 1, 1, 9), 10.0),
        ("a", d(2024, 1, 3, 9), 10.0),  # Jan 2 is a gap for 'a'
        ("b", d(2024, 1, 2, 9), 1.0),   # below cond → all-zero category
    ]
    df = spark.createDataFrame(rows, ["event_type", "ts", "value"])
    out = {
        (r.event_type, str(r.day)): r.n_events
        for r in gap_fill_daily_counts(
            df, "event_type", "ts", F.col("value") > 5
        ).collect()
    }
    assert out == {
        ("a", "2024-01-01"): 1,
        ("a", "2024-01-02"): 0,
        ("a", "2024-01-03"): 1,
        ("b", "2024-01-01"): 0,
        ("b", "2024-01-02"): 0,
        ("b", "2024-01-03"): 0,
    }


def test_forward_fill_carries_last_non_null(spark):
    from gaming_ai_analytics_spark.operators.analytics import forward_fill

    t = dt.datetime(2024, 1, 1, 12)
    rows = [
        (1, 1, t, 300.0),                      # spike
        (1, 2, t + dt.timedelta(minutes=1), 5.0),
        (1, 3, t + dt.timedelta(minutes=2), 400.0),
        (1, 4, t + dt.timedelta(minutes=3), 5.0),
        (2, 5, t, 5.0),                        # user 2: never spikes
    ]
    df = spark.createDataFrame(rows, ["user_id", "event_id", "ts", "value"])
    out = {
        r.event_id: r.filled
        for r in forward_fill(
            df,
            value=F.when(F.col("value") > 200, F.col("value")),
            keys=("user_id",),
            order_cols=("ts", "event_id"),
            out_cols=("event_id",),
        ).collect()
    }
    assert out == {1: 300.0, 2: 300.0, 3: 400.0, 4: 400.0, 5: None}


def test_funnel_emits_all_steps_on_empty_input(spark):
    ev = spark.createDataFrame([], "user_id long, event_type string, ts timestamp")
    out = {
        r.step: (r.event_type, r.n_users)
        for r in funnel(ev, ["view", "click"]).collect()
    }
    assert out == {1: ("view", 0), 2: ("click", 0)}


def test_hll_sketch_rollup_within_2pct_of_exact(spark):
    from gaming_ai_analytics_spark.operators.aggregates import (
        hll_distinct_rollup,
    )
    from gaming_ai_analytics_spark.sources.star import load_events

    ev = load_events(spark, "/root/testdata/sf0.001")
    est = {
        r.event_type: r.distinct_estimate
        for r in hll_distinct_rollup(
            ev, ["event_type"], F.to_date("ts").alias("_day"), "user_id"
        ).collect()
    }
    exact = {
        r.event_type: r.n
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(est) == set(exact)
    for k, n in exact.items():
        assert abs(est[k] - n) <= max(1, 0.02 * n), (k, est[k], n)


def test_connected_components_raises_when_not_converged(spark):
    import pytest

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], ["id_a", "id_b"]
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iter=2)  # diameter 6 > 2


def _builtin_median(df, group, value):
    return {
        r[0]: r[1]
        for r in df.groupBy(group)
        .agg(F.round(F.percentile(value, F.lit(0.5)), 2))
        .collect()
    }


def _kernel_median(df, group, value):
    from gaming_ai_analytics_spark.operators.aggregates import median_exact

    return {
        r[0]: r[1]
        for r in df.groupBy(group).agg(median_exact(value)).collect()
    }


# The six tests below keep the names they had when two bracket-slice
# operators computed the exact median; each now pins the Arrow kernel
# ``median_exact`` on the same inputs and expected values.


def test_exact_percentiles_scalable_matches_builtin(spark):
    """The kernel == the built-in ``percentile`` on the fixture's
    high-NDV price and 50-value quantity columns, including the
    half-up rounding knife edge that Python's banker's round gets
    wrong."""
    from conftest import SF_ORACLE

    li = spark.read.parquet(f"{SF_ORACLE}/lineitem.parquet")
    for col in ("l_extendedprice", "l_quantity"):
        want = _builtin_median(li, "l_linestatus", col)
        assert _kernel_median(li, "l_linestatus", col) == want, col


def test_exact_percentiles_scalable_nulls_and_ties(spark):
    """Ranks are over non-null values only; a tie-heavy group; an
    all-null group yields NULL like ``F.percentile``."""
    rows = (
        [("a", v) for v in [1.0, 1.0, 1.0, 2.0, 2.0, 5.0, None, None]]
        + [("b", None)] * 3
        + [("c", 7.0)]
    )
    df = spark.createDataFrame(rows, "g STRING, v DOUBLE")
    got = _kernel_median(df, "g", "v")
    # a: 6 non-null values [1,1,1,2,2,5] → rank 3.5 → (1+2)/2
    assert got == {"a": 1.5, "b": None, "c": 7.0}
    assert got == _builtin_median(df, "g", "v")


def test_exact_percentiles_scalable_bracket_path_nulls(spark):
    """An odd-sized distinct-valued group beside an all-null group:
    the all-null group surfaces as NULL without breaking the result
    schema."""
    rows = [("a", float(v)) for v in range(1, 8)] + [("b", None)] * 2
    df = spark.createDataFrame(rows, "g STRING, v DOUBLE")
    got = _kernel_median(df, "g", "v")
    assert got == {"a": 4.0, "b": None}
    assert got == _builtin_median(df, "g", "v")


def test_bracket_exact_percentile_matches_builtin_with_companion(spark):
    """Two kernel medians in one ``agg()`` == the built-in on the
    fixture; column order and engine-side rounding preserved."""
    from conftest import SF_ORACLE

    from gaming_ai_analytics_spark.operators.aggregates import median_exact

    li = spark.read.parquet(f"{SF_ORACLE}/lineitem.parquet")
    want = {
        r.l_linestatus: (r.mp, r.mq)
        for r in li.groupBy("l_linestatus")
        .agg(
            F.round(F.percentile("l_extendedprice", F.lit(0.5)), 2).alias("mp"),
            F.round(F.percentile("l_quantity", F.lit(0.5)), 2).alias("mq"),
        )
        .collect()
    }
    out = li.groupBy("l_linestatus").agg(
        median_exact("l_extendedprice").alias("median_price"),
        median_exact("l_quantity").alias("median_qty"),
    )
    assert out.columns == ["l_linestatus", "median_price", "median_qty"]
    got = {
        r.l_linestatus: (r.median_price, r.median_qty)
        for r in out.collect()
    }
    assert got == want


def test_bracket_exact_percentile_nulls_ties_and_tiny_accuracy(spark):
    """Ranks over non-null values only; an all-null group surfaces as
    NULL; a one-value group; a NULL group key is a real group. The
    kernel sorts each group's values, so there is no sketch accuracy
    to vary: the answer is exact at any group size."""
    rows = (
        [("a", v) for v in [1.0, 1.0, 1.0, 2.0, 2.0, 5.0, None, None]]
        + [("b", None)] * 3
        + [("c", 7.0)]
        + [(None, v) for v in [10.0, 20.0, 30.0]]
    )
    df = spark.createDataFrame(rows, "g STRING, v DOUBLE")
    got = _kernel_median(df, "g", "v")
    # a: 6 non-null values [1,1,1,2,2,5] → rank 3.5 → (1+2)/2
    assert got == {"a": 1.5, "b": None, "c": 7.0, None: 20.0}
    assert got == _builtin_median(df, "g", "v")


def test_bracket_exact_percentile_null_key_wide_domain(spark):
    """70 groups including a NULL key: the NULL-keyed group keeps its
    median (an operator that re-joined per-group state on a
    null-unsafe key once dropped it)."""
    rows = [(f"g{i:02d}", float(j)) for i in range(69) for j in (1, 2, 9)]
    rows += [(None, v) for v in [10.0, 20.0, 30.0, 40.0]]
    df = spark.createDataFrame(rows, "g STRING, v DOUBLE")
    got = _kernel_median(df, "g", "v")
    assert len(got) == 70
    assert got[None] == 25.0
    assert all(got[f"g{i:02d}"] == 2.0 for i in range(69))
    assert got == _builtin_median(df, "g", "v")


def test_median_exact_knife_edges(spark):
    """Two-value medians whose interpolation form decides a 2-dp
    ROUND: Spark ``percentile`` and DuckDB ``quantile_cont`` compute
    (1 − t)·lo + t·hi = −4.725000000000001 → −4.73 and −5.445 →
    −5.45; the lerp lo + (hi − lo)·t and ``np.percentile`` land a
    few ulps toward zero and round to −4.72 / −5.44."""
    df = spark.createDataFrame(
        [(1, -76.7423), (1, 67.2923), (2, -83.9954), (2, 73.1054)],
        "g INT, v DOUBLE",
    )
    want = _builtin_median(df, "g", "v")
    assert want == {1: -4.73, 2: -5.45}
    assert _kernel_median(df, "g", "v") == want


@pytest.mark.parametrize("name", ["agg_percentile", "mixture_bpe_budget"])
def test_second_construction_runs_no_jobs(spark, name):
    """Building these queries is plan-only: once the session's shared
    prerequisites exist (the priced BPE vocabulary), a second
    construction runs no Spark job."""
    from conftest import SF_ORACLE

    import __spark_entry__

    fn = __spark_entry__.queries()[name]
    fn(spark, SF_ORACLE)
    sc = spark.sparkContext
    group = f"test_second_construction_{name}"
    sc.setJobGroup(group, group)
    try:
        fn(spark, SF_ORACLE)
    finally:
        sc._jsc.clearJobGroup()
    assert sc.statusTracker().getJobIdsForGroup(group) == []


# --------------------------------------------------------------------------
# round-3 additions: regression fit, entropy, BM25
# --------------------------------------------------------------------------
def test_stat_regression_recovers_planted_line(spark):
    import datetime as dt

    from gaming_ai_analytics_spark.queries_analytics import q_stat_regression

    # value = 2*hour + 1 exactly → slope 2, intercept 1, r2 1
    rows = [
        (i, dt.datetime(2024, 1, 1, h, 0, 0), 1, "t", 2.0 * h + 1.0, "{}")
        for i, h in enumerate([0, 3, 6, 9, 12, 15, 18, 21])
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string"
    )
    df.createOrReplaceTempView("_reg_ev")
    from gaming_ai_analytics_spark.sources import star

    key = (spark.sparkContext.applicationId, "_mem", "events")
    star._TABLE_CACHE[key] = df
    try:
        out = q_stat_regression(spark, "_mem").collect()[0]
    finally:
        del star._TABLE_CACHE[key]
    assert out["slope"] == 2.0 and out["intercept"] == 1.0
    assert out["r2"] == 1.0


def test_source_lang_entropy_bounds(spark, sf_dir):
    import math

    from gaming_ai_analytics_spark.queries_analytics import (
        q_source_lang_entropy,
    )

    for r in q_source_lang_entropy(spark, sf_dir).collect():
        # 0 ≤ H ≤ ln(n_langs); uniform mix reaches the upper bound
        assert 0.0 <= r["entropy_nats"] <= math.log(r["n_langs"]) + 1e-6


def test_bm25_zero_for_docs_without_terms_and_monotonic(spark):
    from gaming_ai_analytics_spark.queries_llm import q_bm25_term_scores
    from gaming_ai_analytics_spark.sources import star

    df = spark.createDataFrame(
        [
            (1, "spark spark spark filler filler", "en", "s", 30),
            (2, "spark filler filler filler filler", "en", "s", 30),
            (3, "filler only no match here at all", "en", "s", 30),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    key = (spark.sparkContext.applicationId, "_mem", "documents")
    star._TABLE_CACHE[key] = df
    try:
        out = {r["doc_id"]: r["bm25"] for r in
               q_bm25_term_scores(spark, "_mem").collect()}
    finally:
        del star._TABLE_CACHE[key]
    assert 3 not in out          # no query term → score 0 → filtered
    assert out[1] > out[2] > 0   # higher tf → higher score


def test_dedup_survivors_keeps_canonical_and_unique(spark):
    from gaming_ai_analytics_spark.queries_analytics import q_dedup_survivors
    from gaming_ai_analytics_spark.sources import star

    near = " ".join(f"w{i}" for i in range(30))
    rows = [
        (1, near, "en", "s", 100),                    # cluster {1,2}: canon
        (2, near + " tail", "en", "s", 105),          # near-dup of 1: dropped
        (3, "completely different text here now", "en", "s", 34),  # unique
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
        "n_chars long"
    )
    key = (spark.sparkContext.applicationId, "_mem", "documents")
    star._TABLE_CACHE[key] = df
    try:
        out = {r.doc_id: r.keep_reason
               for r in q_dedup_survivors(spark, "_mem").collect()}
    finally:
        del star._TABLE_CACHE[key]
    assert out == {1: "canonical", 3: "unique"}


def test_trending_daily_topk_ranks_within_day(spark):
    import datetime as dt

    from gaming_ai_analytics_spark.queries_analytics import (
        q_trending_daily_topk,
    )
    from gaming_ai_analytics_spark.sources import star

    d1 = dt.datetime(2024, 1, 1, 12)
    rows = []
    eid = 0
    for etype, n in (("a", 5), ("b", 3), ("c", 2), ("d", 1)):
        for _ in range(n):
            rows.append((eid, d1, 1, etype, 1.0, "{}"))
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string"
    )
    key = (spark.sparkContext.applicationId, "_mem", "events")
    star._TABLE_CACHE[key] = df
    try:
        out = [(r.rank, r.event_type, r.n)
               for r in q_trending_daily_topk(spark, "_mem")
               .orderBy("rank").collect()]
    finally:
        del star._TABLE_CACHE[key]
    # top-3 only: 'd' (n=1) must be cut
    assert out == [(1, "a", 5), (2, "b", 3), (3, "c", 2)]


def test_customer_rfm_segments_partition_customers_exactly_once(spark, sf_dir):
    from gaming_ai_analytics_spark.queries_ext import q_customer_rfm_segments
    from gaming_ai_analytics_spark.sources.star import load_table

    rows = q_customer_rfm_segments(spark, sf_dir).collect()
    segs = {r.segment for r in rows}
    assert segs <= {"champion", "loyal", "big_spender", "casual"}
    n_cust = (
        load_table(spark, sf_dir, "orders").select("o_custkey").distinct().count()
    )
    assert sum(r.n_customers for r in rows) == n_cust
    by = {r.segment: r for r in rows}
    if "champion" in by and "casual" in by:  # medians must order the corners
        assert by["champion"].avg_spend > by["casual"].avg_spend
        assert by["champion"].avg_orders > by["casual"].avg_orders


def test_lang_confusion_matrix_counts_every_doc(spark, sf_dir):
    from gaming_ai_analytics_spark.queries_llm import q_lang_confusion_matrix
    from gaming_ai_analytics_spark.sources.star import load_table

    rows = q_lang_confusion_matrix(spark, sf_dir).collect()
    total = sum(r.n for r in rows)
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql import functions as FF

    expect = docs.filter(
        FF.col("text").isNotNull() & (FF.length(FF.trim("text")) > 0)
    ).count()
    assert total == expect
    assert all(r.guessed in ("en", "es", "fr", "de", "und") for r in rows)


def test_weekly_active_users_rolling_union(spark):
    import datetime as dt

    from gaming_ai_analytics_spark.queries_analytics import (
        q_weekly_active_users,
    )
    from gaming_ai_analytics_spark.sources import star

    def ev(i, day, user):
        return (i, dt.datetime(2024, 1, day, 10), user, "a", 1.0, "{}")

    # day 1: users {1,2}; day 5: {2,3}; day 20: {9}
    rows = [ev(0, 1, 1), ev(1, 1, 2), ev(2, 5, 2), ev(3, 5, 3), ev(4, 20, 9)]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string"
    )
    key = (spark.sparkContext.applicationId, "_mem", "events")
    star._TABLE_CACHE[key] = df
    try:
        out = {str(r.day): (r.dau, r.wau)
               for r in q_weekly_active_users(spark, "_mem").collect()}
    finally:
        del star._TABLE_CACHE[key]
    assert out["2024-01-01"] == (2, 2)
    # day 5 window covers days 1-5 → users {1,2,3}
    assert out["2024-01-05"] == (2, 3)
    # day 20 is isolated
    assert out["2024-01-20"] == (1, 1)
    assert set(out) == {"2024-01-01", "2024-01-05", "2024-01-20"}


def test_user_lifetime_value_planted_profile(spark):
    import datetime as dt

    from gaming_ai_analytics_spark.queries_analytics import (
        q_user_lifetime_value,
    )
    from gaming_ai_analytics_spark.sources import star

    rows = [
        (0, dt.datetime(2024, 1, 1, 9), 7, "a", 10.0, "{}"),
        (1, dt.datetime(2024, 1, 1, 17), 7, "a", 5.0, "{}"),
        (2, dt.datetime(2024, 1, 10, 12), 7, "b", 1.5, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string"
    )
    key = (spark.sparkContext.applicationId, "_mem", "events")
    star._TABLE_CACHE[key] = df
    try:
        r = q_user_lifetime_value(spark, "_mem").collect()[0]
    finally:
        del star._TABLE_CACHE[key]
    assert (r.n_events, r.total_value, r.n_active_days) == (3, 16.5, 2)
    assert r.span_days == 10 and r.events_per_active_day == 1.5


def _star_finishes(monkeypatch):
    """Yield once per finish of ``connected_components_star``: the
    default driver union-find, then the log-round loop forced by a
    local-finish bound of 0."""
    from gaming_ai_analytics_spark.operators import graph

    yield "local"
    monkeypatch.setattr(graph, "LOCAL_FINISH_MAX_EDGES", 0)
    yield "loop"


def test_star_cc_matches_hashmin_on_random_graphs(spark, monkeypatch):
    """large-star/small-star must produce exactly hash-min's labels on
    arbitrary graphs (random edge sets, multiple components, hubs) —
    through the local finish and through the forced round loop."""
    import random

    from gaming_ai_analytics_spark.operators.graph import (
        connected_components_star,
    )

    rng = random.Random(7)
    graphs = []
    for _ in range(3):
        edges = [
            (rng.randrange(40), rng.randrange(40)) for _ in range(30)
        ]
        graphs.append([(a, b) for a, b in edges if a != b])
    refs = [
        {
            r.node: r.component
            for r in connected_components(
                spark.createDataFrame(g, ["id_a", "id_b"])
            ).collect()
        }
        for g in graphs
    ]
    for finish in _star_finishes(monkeypatch):
        for trial, (g, ref) in enumerate(zip(graphs, refs)):
            df = spark.createDataFrame(g, ["id_a", "id_b"])
            got = {
                r.node: r.component
                for r in connected_components_star(df).collect()
            }
            assert got == ref, f"{finish} trial {trial}"


def test_star_cc_labels_self_loop_only_nodes(spark, monkeypatch):
    """A node whose only edge is a self-loop is a singleton component.
    hash-min labels it (the self-edge survives into its node list);
    the star loop filters self-loops out of the edge set, so its
    node list must come from the UNFILTERED input or the node
    silently vanishes from the labeling — in both finishes."""
    from gaming_ai_analytics_spark.operators.graph import (
        connected_components_star,
    )

    df = spark.createDataFrame(
        [(1, 2), (7, 7), (3, 3), (3, 4)], ["id_a", "id_b"]
    )
    ref = {r.node: r.component for r in connected_components(df).collect()}
    assert ref == {1: 1, 2: 1, 3: 3, 4: 3, 7: 7}
    for finish in _star_finishes(monkeypatch):
        got = {
            r.node: r.component
            for r in connected_components_star(df).collect()
        }
        assert got == ref, finish


def test_star_cc_local_finish_matches_forced_loop(spark, monkeypatch):
    """The driver union-find finish (the default for every raw edge
    list at or under LOCAL_FINISH_MAX_EDGES) is label-identical to the
    star round loop, self-loop singletons included, and returns an
    Arrow LocalRelation with the edge id type. ``max_iter`` bounds only
    the loop: a graph it cannot converge raises once the loop is
    forced."""
    import pytest as _pytest

    from gaming_ai_analytics_spark.operators.graph import (
        connected_components_star,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (9, 9)], ["id_a", "id_b"]
    )
    local_df = connected_components_star(edges, max_iter=0)
    assert "LocalRelation" in str(
        local_df._jdf.queryExecution().optimizedPlan()
    )
    assert local_df.schema["node"].dataType == edges.schema["id_a"].dataType
    local = sorted(map(tuple, local_df.collect()))
    assert dict(local) == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5, 9: 9}
    from gaming_ai_analytics_spark.operators import graph

    monkeypatch.setattr(graph, "LOCAL_FINISH_MAX_EDGES", 0)
    loop = sorted(map(tuple, connected_components_star(edges).collect()))
    assert loop == local
    with _pytest.raises(RuntimeError):
        connected_components_star(edges, max_iter=0)


def test_dedup_clusters_explicit_zero_cap_raises(spark, monkeypatch):
    """max_iter=0 is a 'must already be converged' probe, not a
    request for the default cap — on a non-trivial graph it raises.
    The star case forces its round loop: ``max_iter`` bounds only the
    loop, and the local finish would label this graph without one."""
    import pytest as _pytest

    from gaming_ai_analytics_spark.operators import graph

    monkeypatch.setattr(graph, "LOCAL_FINISH_MAX_EDGES", 0)
    pairs = spark.createDataFrame([(1, 2)], ["id_a", "id_b"])
    for algo in ("star", "hashmin"):
        with _pytest.raises(RuntimeError):
            dedup_clusters(pairs, max_iter=0, algorithm=algo).collect()


def test_star_cc_long_chain_logarithmic_rounds(spark, monkeypatch):
    """A 120-link chain: hash-min needs diameter sweeps (raises at a
    low cap); the forced star loop converges in O(log n) rounds under
    the same cap."""
    import pytest as _pytest

    from gaming_ai_analytics_spark.operators import graph

    chain = [(i, i + 1) for i in range(120)]
    df = spark.createDataFrame(chain, ["id_a", "id_b"])
    with _pytest.raises(RuntimeError):
        connected_components(df, max_iter=10)
    monkeypatch.setattr(graph, "LOCAL_FINISH_MAX_EDGES", 0)
    out = {
        r.node: r.component
        for r in graph.connected_components_star(df, max_iter=10).collect()
    }
    assert out == {i: 0 for i in range(121)}


def test_star_cc_second_construction_runs_three_jobs(spark):
    """Building ``dedup_cluster_assign_star`` runs the near-dup pair
    pipeline once and finishes on the driver: on a second
    construction in the session, at most the pipeline's three jobs
    (doc-id widening shuffle, posting broadcast, and the result stage
    that feeds the bounded edge collect) — the round loop ran 12."""
    from conftest import SF_ORACLE

    import __spark_entry__

    fn = __spark_entry__.queries()["dedup_cluster_assign_star"]
    fn(spark, SF_ORACLE)
    sc = spark.sparkContext
    group = "test_star_cc_second_construction"
    sc.setJobGroup(group, group)
    try:
        df = fn(spark, SF_ORACLE)
    finally:
        sc._jsc.clearJobGroup()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= 3, len(jobs)
    assert "LocalRelation" in str(df._jdf.queryExecution().optimizedPlan())


def test_recursive_spine_covers_every_day_once(spark, sf_dir):
    from gaming_ai_analytics_spark.queries_analytics import (
        q_recursive_cte_spine,
    )
    from gaming_ai_analytics_spark.sources.star import load_events
    from pyspark.sql import functions as F

    rows = q_recursive_cte_spine(spark, sf_dir).collect()
    days = [r.day for r in rows]
    assert len(days) == len(set(days))
    # contiguous calendar: row count equals the span, endpoints match
    lo, hi = min(days), max(days)
    assert len(days) == (hi - lo).days + 1
    # zero-filled days carry 0, and the total equals the event count
    ev = load_events(spark, sf_dir)
    assert sum(r.n_events for r in rows) == ev.count()
    bounds = ev.agg(
        F.min(F.to_date("ts")).alias("lo"), F.max(F.to_date("ts")).alias("hi")
    ).first()
    assert (lo, hi) == (bounds.lo, bounds.hi)


def test_value_range_frame_matches_bruteforce(spark, sf_dir):
    from gaming_ai_analytics_spark.queries_analytics import (
        q_window_value_range_frame,
    )
    from gaming_ai_analytics_spark.sources.star import load_table

    rows = q_window_value_range_frame(spark, sf_dir).collect()
    got = {r.o_orderkey: (r.n_price_peers, round(r.peer_price_total, 2)) for r in rows}
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    ).collect()
    by_status = {}
    for r in orders:
        by_status.setdefault(r.o_orderstatus, []).append(r)
    import decimal

    for st, group in by_status.items():
        for r in group:
            c = round(r.o_totalprice * 100)
            peers = [
                g for g in group
                if abs(round(g.o_totalprice * 100) - c) <= 25000
            ]
            total = sum(
                decimal.Decimal(f"{g.o_totalprice:.2f}") for g in peers
            )
            assert got[r.o_orderkey] == (len(peers), round(float(total), 2))


def test_order_aging_report_consistency(spark, sf_dir):
    from gaming_ai_analytics_spark.queries_analytics import (
        q_order_aging_report,
    )
    from gaming_ai_analytics_spark.sources.star import load_table

    rows = q_order_aging_report(spark, sf_dir).collect()
    orders = load_table(spark, sf_dir, "orders")
    assert sum(r.n_orders for r in rows) == orders.count()
    qs = [r.order_quarter for r in rows]
    assert len(qs) == len(set(qs))
    # ages strictly decrease for later quarters
    by_q = sorted(rows, key=lambda r: r.order_quarter)
    ages = [r.avg_age_months for r in by_q]
    assert ages == sorted(ages, reverse=True)
    # month-end NDV per quarter ≤ 3 (one per month)
    assert all(1 <= r.n_month_ends <= 3 for r in rows)


def test_pagerank_matches_numpy_power_iteration(spark):
    """Five DataFrame rounds over a small weighted digraph must match
    the dense NumPy power iteration of the same recurrence."""
    import numpy as np

    from gaming_ai_analytics_spark.operators.graph import pagerank

    edges = [
        ("a", "b", 2.0), ("a", "c", 1.0), ("b", "c", 1.0),
        ("c", "a", 1.0), ("d", "a", 3.0), ("d", "b", 1.0),
    ]
    df = spark.createDataFrame(edges, "src string, dst string, w double")
    got = {
        r.node: r.r for r in pagerank(df, "src", "dst", "w", 5).collect()
    }

    names = ["a", "b", "c", "d"]
    idx = {n: i for i, n in enumerate(names)}
    P = np.zeros((4, 4))
    out = {}
    for s, d, w in edges:
        out[s] = out.get(s, 0.0) + w
    for s, d, w in edges:
        P[idx[d], idx[s]] += w / out[s]
    r = np.full(4, 0.25)
    for _ in range(5):
        r = (1.0 - 0.85) / 4 + 0.85 * (P @ r)
    for n in names:
        assert abs(got[n] - r[idx[n]]) < 1e-12, (n, got[n], r[idx[n]])
    # 'd' has no in-edges: pinned at the teleport floor every round
    assert abs(got["d"] - 0.15 / 4) < 1e-12


def test_pagerank_symmetric_graph_mass_conserved(spark):
    """On a symmetrized edge list (no dangling mass) the ranks stay a
    probability distribution: sum == 1 to fp tolerance."""
    from gaming_ai_analytics_spark.operators.graph import pagerank

    fwd = [("a", "b", 1.0), ("b", "c", 2.0), ("c", "d", 1.0)]
    sym = fwd + [(d, s, w) for s, d, w in fwd]
    df = spark.createDataFrame(sym, "src string, dst string, w double")
    total = sum(r.r for r in pagerank(df, "src", "dst", "w", 5).collect())
    assert abs(total - 1.0) < 1e-9


def test_triangle_counts_known_graph(spark):
    """A 4-clique plus a pendant edge: each clique node closes C(3,2)=3
    triangles, the pendant closes none (and is absent from the output)."""
    from gaming_ai_analytics_spark.operators.graph import triangle_counts

    edges = [
        ("a", "b"), ("a", "c"), ("a", "d"),
        ("b", "c"), ("b", "d"), ("c", "d"),
        ("d", "e"),
    ]
    df = spark.createDataFrame(edges, "a string, b string")
    got = {r.node: r.triangles for r in triangle_counts(df).collect()}
    assert got == {"a": 3, "b": 3, "c": 3, "d": 3}


def test_triangle_counts_matches_bruteforce_random(spark):
    """Degree-ordered orientation must agree with the O(n³) brute force
    on a seeded random graph (30 nodes, p=0.25) — including hubs, whose
    wedge dedup is where orientation schemes typically double-count."""
    import itertools
    import random

    from gaming_ai_analytics_spark.operators.graph import triangle_counts

    rng = random.Random(7)
    nodes = [f"n{i:02d}" for i in range(30)]
    edges = [
        (u, v)
        for u, v in itertools.combinations(nodes, 2)
        if rng.random() < 0.25
    ]
    adj = {n: set() for n in nodes}
    for u, v in edges:
        adj[u].add(v)
        adj[v].add(u)
    expected: dict[str, int] = {}
    for u, v, w in itertools.combinations(nodes, 3):
        if v in adj[u] and w in adj[u] and w in adj[v]:
            for x in (u, v, w):
                expected[x] = expected.get(x, 0) + 1
    df = spark.createDataFrame(edges, "a string, b string")
    got = {r.node: r.triangles for r in triangle_counts(df).collect()}
    assert got == expected
    # sanity: the fixture actually exercised triangles
    assert sum(expected.values()) > 0


def test_frequent_itemset_pairs_bruteforce(spark, sf_dir):
    """The a-priori + array-HOF plan must reproduce the brute-force
    per-basket pair enumeration: identical support counts and lift on
    the real fixture (top-100 slice, the registered contract)."""
    import itertools
    from collections import Counter

    from gaming_ai_analytics_spark.queries_analytics import (
        q_frequent_itemset_pairs,
    )

    rows = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .collect()
    )
    baskets: dict[int, set] = {}
    for r in rows:
        baskets.setdefault(r.l_orderkey, set()).add(r.l_partkey)
    item_sup = Counter(p for b in baskets.values() for p in b)
    pair_sup: Counter = Counter()
    for b in baskets.values():
        kept = sorted(p for p in b if item_sup[p] >= 2)
        if 2 <= len(kept) <= 50:
            pair_sup.update(itertools.combinations(kept, 2))
    n = len(baskets)
    expected = sorted(
        (
            (pa, pb, c, item_sup[pa], item_sup[pb])
            for (pa, pb), c in pair_sup.items()
            if c >= 2
        ),
        key=lambda t: (-t[2], t[0], t[1]),
    )[:100]
    got = q_frequent_itemset_pairs(spark, sf_dir).collect()
    assert [
        (r.part_a, r.part_b, r.pair_support, r.support_a, r.support_b)
        for r in got
    ] == expected
    for r in got:
        ref = round(
            (r.pair_support * n) / (r.support_a * r.support_b), 6
        )
        assert abs(r.lift - ref) < 1e-12


def test_audience_overlap_sketch_exact_and_flagged(spark):
    """Inclusion-exclusion over HLL sketches must flag within-tolerance
    on a controlled overlap: types X and Y share exactly 60 of 100
    users each. Runs the registered query's building blocks directly
    on a synthetic frame via a temp parquet fixture."""
    import tempfile

    from gaming_ai_analytics_spark.queries_analytics import (
        q_audience_overlap_sketch,
    )

    rows = [("X", u) for u in range(100)] + [
        ("Y", u) for u in range(40, 140)
    ]
    df = spark.createDataFrame(rows, "event_type string, user_id long")
    with tempfile.TemporaryDirectory() as d:
        # events loader reads {sf_dir}/events.parquet and needs ts/value
        (
            df.withColumn("event_id", F.monotonically_increasing_id())
            .withColumn("ts", F.to_timestamp(F.lit("2024-01-01 00:00:00")))
            .withColumn("value", F.lit(1.0))
            .withColumn("props", F.lit("{}"))
            .write.parquet(f"{d}/events.parquet")
        )
        got = q_audience_overlap_sketch(spark, d).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.type_a, r.type_b, r.overlap_exact) == ("X", "Y", 60)
    assert r.sketch_ok is True


def test_blocking_snm_window_semantics(spark, tmp_path):
    """SNM finds near-dups adjacent in sort order within the window,
    misses pairs more than w apart, and never crosses a 2-char block
    boundary — the documented trade of windowed blocking."""
    from gaming_ai_analytics_spark.queries_llm import (
        q_blocking_snm_candidates,
    )

    mk = lambda i, t: (i, t)
    docs = [
        # block 'aa': four records sharing a 12-char prefix; with w=3
        # the (1,5) pair is rank-distance 4 → NOT emitted
        mk(1, "aaqqqqqqqqqq alpha"),
        mk(2, "aaqqqqqqqqqq bravo"),
        mk(3, "aaqqqqqqqqqq charlie"),
        mk(4, "aaqqqqqqqqqq delta"),
        mk(5, "aaqqqqqqqqqq echo"),
        # same 12-prefix but different 2-char block cannot happen by
        # construction (block = prefix of key); a *different* prefix in
        # the same block is adjacent but must not confirm:
        mk(6, "aazzzzzzzzzz foxtrot"),
        # too short to confirm → dropped up front
        mk(7, "short"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    df = df.withColumn("lang", F.lit("en")).withColumn(
        "source", F.lit("s")
    ).withColumn("n_chars", F.length("text"))
    df.write.parquet(str(tmp_path / "documents.parquet"))
    got = sorted(
        (r.doc_a, r.doc_b)
        for r in q_blocking_snm_candidates(spark, str(tmp_path)).collect()
    )
    # keys sort as: aaqqq...alpha(1) < ...bravo(2) < ...charlie(3)
    # < ...delta(4) < ...echo(5) < aazzz...(6)
    expected = [
        (1, 2), (1, 3), (1, 4),
        (2, 3), (2, 4), (2, 5),
        (3, 4), (3, 5),
        (4, 5),
    ]
    assert got == expected


def test_user_value_decay_hand_computed(spark, tmp_path):
    """Decayed sum matches the hand computation on a pinned fixture,
    and recency dominates magnitude (τ=7d: a 100-value event 21 days
    old is worth less than a 10-value event today)."""
    import math

    from gaming_ai_analytics_spark.queries_analytics import (
        q_user_value_decay,
    )

    rows = [
        (1, "2024-02-01 10:00:00", 10.0),   # Δ0
        (1, "2024-01-25 10:00:00", 14.0),   # Δ7
        (2, "2024-01-11 10:00:00", 100.0),  # Δ21
    ]
    df = spark.createDataFrame(rows, "user_id long, ts string, value double")
    (
        df.select(
            "user_id",
            F.to_timestamp("ts").alias("ts"),
            "value",
            F.monotonically_increasing_id().alias("event_id"),
            F.lit("view").alias("event_type"),
            F.lit("{}").alias("props"),
        ).write.parquet(f"{tmp_path}/events.parquet")
    )
    got = {
        r.user_id: r.decayed_value
        for r in q_user_value_decay(spark, str(tmp_path)).collect()
    }
    exp1 = round(10.0 + 14.0 * math.exp(-1.0) + 5e-10, 4)
    exp2 = round(100.0 * math.exp(-3.0) + 5e-10, 4)
    assert got == {1: exp1, 2: exp2}
    assert got[2] < got[1]  # 21-day-old 100 < today's 10 + decayed 14


def _write_events(spark, path, rows):
    (
        spark.createDataFrame(
            rows, "user_id long, event_type string, value double"
        )
        .withColumn("event_id", F.monotonically_increasing_id())
        .withColumn("ts", F.to_timestamp(F.lit("2024-03-01 00:00:00")))
        .withColumn("props", F.lit("{}"))
        .write.parquet(f"{path}/events.parquet")
    )


def test_ab_ztest_known_statistic(spark, tmp_path):
    """8/10 vs 2/10 conversion: z = 0.6/sqrt(0.5*0.5*0.2) ≈ 2.6833,
    significant at 95%."""
    import math

    from gaming_ai_analytics_spark.queries_analytics import (
        q_ab_conversion_ztest,
    )

    rows = []
    for u in range(20):  # even users = arm A
        arm_a = u % 2 == 0
        idx = u // 2
        converts = idx < 8 if arm_a else idx < 2
        rows.append((u, "purchase", 500.0 if converts else 50.0))
        rows.append((u, "view", 1.0))
    _write_events(spark, tmp_path, rows)
    r = q_ab_conversion_ztest(spark, str(tmp_path)).collect()[0]
    assert (r.n_a, r.conv_a, r.n_b, r.conv_b) == (10, 8, 10, 2)
    z_ref = 0.6 / math.sqrt(0.5 * 0.5 * 0.2)
    assert abs(r.z_stat - round(z_ref + 5e-10, 4)) < 1e-9
    assert r.significant_95 is True


def test_ab_ztest_zero_variance_guard(spark, tmp_path):
    """Every user converts: pooled variance is 0, z is NULL, the
    significance call is False — not a DIVIDE_BY_ZERO crash (ANSI)."""
    from gaming_ai_analytics_spark.queries_analytics import (
        q_ab_conversion_ztest,
    )

    rows = [(u, "purchase", 500.0) for u in range(10)]
    _write_events(spark, tmp_path, rows)
    r = q_ab_conversion_ztest(spark, str(tmp_path)).collect()[0]
    assert r.z_stat is None
    assert r.significant_95 is False


def test_funnel_attribution_edges(spark, tmp_path):
    """A converter whose FIRST event is the qualifying purchase has no
    touchpoints and contributes no credit; a two-touch converter
    splits credit 0.5/0.5; post-conversion events earn nothing."""
    from gaming_ai_analytics_spark.queries_analytics import (
        q_funnel_attribution,
    )

    rows = [
        # user 1: signup, error, then qualifying purchase, then more
        (1, 1, "signup", 0.0), (2, 1, "error", 0.0),
        (3, 1, "purchase", 150.0), (4, 1, "click", 0.0),
        # user 2: converts on their very first event
        (5, 2, "purchase", 200.0), (6, 2, "signup", 0.0),
        # user 3: never qualifies (low-value purchase only)
        (7, 3, "signup", 0.0), (8, 3, "purchase", 50.0),
    ]
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = [(e, base, u, t, v) for e, u, t, v in rows]
    (
        spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long,"
            " event_type string, value double"
        ).write.parquet(f"{tmp_path}/events.parquet")
    )
    got = {r.event_type: (r.users_touched, r.credit)
           for r in q_funnel_attribution(spark, str(tmp_path)).collect()}
    assert got == {"signup": (1, 0.5), "error": (1, 0.5)}


def test_cuped_reduces_variance_on_correlated_users(spark, tmp_path):
    """CUPED must (a) keep the estimand — per-variant adjusted means
    equal raw post-period means up to the mean-zero correction — and
    (b) actually shrink variance when users have persistent spending
    levels (pre strongly predicts post).  Fixture: user u spends
    ~u per purchase in BOTH halves of January, so var(post) is
    dominated by between-user spread and theta ~ cov/var ~ 1."""
    import datetime as dt

    from gaming_ai_analytics_spark.queries_analytics import (
        q_cuped_adjusted_lift,
    )

    rows = []
    eid = 0
    for u in range(40):
        base = 10.0 * (u + 1)  # persistent per-user level
        for day, jitter in ((3, 1.0), (10, -1.0), (20, 0.5), (27, -0.5)):
            rows.append(
                (eid, dt.datetime(2024, 1, day, 12), u, "purchase",
                 base + jitter)
            )
            eid += 1
    (
        spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long,"
            " event_type string, value double"
        ).write.parquet(f"{tmp_path}/events.parquet")
    )
    out = {r.variant: r for r in
           q_cuped_adjusted_lift(spark, str(tmp_path)).collect()}
    assert set(out) == {0, 1}
    for r in out.values():
        assert r.n_users == 20
        # the covariate is ~perfectly informative: variance collapses
        assert r.var_reduction < 0.05, r
    # the correction is mean-zero over ALL users, so the pooled mean
    # is preserved (estimand unchanged)...
    pooled_raw = (out[0].mean_post + out[1].mean_post) / 2
    pooled_adj = (out[0].mean_cuped + out[1].mean_cuped) / 2
    assert abs(pooled_adj - pooled_raw) < 1e-6
    # ...while the per-variant means ABSORB the pre-existing covariate
    # imbalance (even users spend exactly 10 more by construction and
    # there is NO true treatment effect): the raw lift reads the
    # imbalance (~10), the CUPED lift reads ~0 — the whole point
    raw_lift = out[1].mean_post - out[0].mean_post
    cuped_lift = out[1].mean_cuped - out[0].mean_cuped
    assert abs(raw_lift) > 5.0, raw_lift
    assert abs(cuped_lift) < 1.0, cuped_lift


def test_dau_mau_stickiness_planted_cohort(spark, tmp_path):
    """Hand-checkable fixture: user 0 active on day 1 only, user 1
    active on days 1 and 20.  DAU(d1)=2, MAU28(d1)=2; on day 20 user
    0's 28-day coverage (days 1..28) still includes d20, so
    DAU(d20)=1, MAU28(d20)=2, stickiness 0.5; on day 30 user 0's
    coverage has lapsed (1+27=28 < 30) but user 1's day-20 coverage
    holds — yet day 30 has no active user, so it does NOT appear
    (DAU-bearing days only)."""
    import datetime as dt

    from gaming_ai_analytics_spark.queries_analytics import (
        q_dau_mau_stickiness,
    )

    rows = [
        (0, dt.datetime(2024, 1, 1, 9), 0, "view", 1.0),
        (1, dt.datetime(2024, 1, 1, 10), 1, "view", 1.0),
        (2, dt.datetime(2024, 1, 20, 11), 1, "click", 1.0),
    ]
    (
        spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long,"
            " event_type string, value double"
        ).write.parquet(f"{tmp_path}/events.parquet")
    )
    out = {str(r.d): (r.dau, r.mau28, r.stickiness)
           for r in q_dau_mau_stickiness(spark, str(tmp_path)).collect()}
    assert out == {
        "2024-01-01": (2, 2, 1.0),
        "2024-01-20": (1, 2, 0.5),
    }


def test_ab_srm_check_flags_planted_imbalance(spark, tmp_path):
    """A deliberately starved odd arm (1000 vs 700 users) must flag
    SRM (chisq ~52.9 >> 10.828); a balanced 500/500 must not. Repeat
    events per user must not double-count (distinct-user basis)."""
    import datetime as dt

    from gaming_ai_analytics_spark.queries_analytics import q_ab_srm_check

    ts = dt.datetime(2024, 1, 1)

    def write(path, even_n, odd_n):
        rows = []
        eid = 0
        for u in range(even_n):
            for _ in range(2):  # repeat events: distinct basis check
                eid += 1
                rows.append((eid, ts, 2 * u, "view", 1.0))
        for u in range(odd_n):
            eid += 1
            rows.append((eid, ts, 2 * u + 1, "view", 1.0))
        spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long,"
            " event_type string, value double"
        ).write.parquet(f"{path}/events.parquet")

    write(f"{tmp_path}/biased", 1000, 700)
    r = q_ab_srm_check(spark, f"{tmp_path}/biased").collect()[0]
    assert (r.n_a, r.n_b) == (1000, 700)
    # expected arm size 850 → chisq = 2 * 150^2 / 850 = 52.9412 at 4dp
    assert r.srm_chisq == round(2 * 150**2 / 850 + 5e-10, 4)
    assert r.srm_flag

    write(f"{tmp_path}/balanced", 500, 500)
    r2 = q_ab_srm_check(spark, f"{tmp_path}/balanced").collect()[0]
    assert (r2.n_a, r2.n_b) == (500, 500)
    assert r2.srm_chisq == 0.0 and not r2.srm_flag


def test_ab_mde_known_arithmetic(spark, tmp_path):
    """Pinned arithmetic on a planted frame: 200+200 users, pooled
    conversion 0.25 → MDE_abs = 2.801585*sqrt(2*.25*.75/200) =
    0.121373... → 0.1214 at 4dp; relative = MDE/p."""
    import datetime as dt

    from gaming_ai_analytics_spark.queries_analytics import (
        q_ab_minimum_detectable_effect,
    )

    ts = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for u in range(400):  # 200 even / 200 odd; every 4th user converts
        eid += 1
        conv = u % 4 == 0
        rows.append((
            eid, ts, u, "purchase" if conv else "view",
            150.0 if conv else 1.0,
        ))
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long,"
        " event_type string, value double"
    ).write.parquet(f"{tmp_path}/events.parquet")
    r = q_ab_minimum_detectable_effect(spark, str(tmp_path)).collect()[0]
    assert (r.n_a, r.n_b) == (200, 200)
    assert r.base_rate == 0.25
    import math
    want = (1.959964 + 0.841621) * math.sqrt(2 * 0.25 * 0.75 / 200)
    assert r.mde_abs == round(want + 5e-10, 4)
    assert r.mde_rel == round(want / 0.25 + 5e-10, 4)


def test_winsorized_stats_planted_percentile_geometry(spark, monkeypatch):
    """One group holding exactly the integers 1..100: the [p05, p95]
    cut interpolates to (5.95, 95.05), clipping five values on each
    side; trimmed and winsorized means are computable by hand."""
    from gaming_ai_analytics_spark import registry

    registry.queries()
    import gaming_ai_analytics_spark.queries_core as qc

    li = spark.createDataFrame(
        [("A", float(i)) for i in range(1, 101)],
        ["l_returnflag", "l_extendedprice"],
    )
    monkeypatch.setattr(qc, "load_table", lambda s, d, t: li)
    rows = qc.q_agg_winsorized_stats(spark, "ignored").collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.n_rows == 100
    assert r.p05 == 5.95 and r.p95 == 95.05
    assert r.n_clipped == 10  # 1..5 and 96..100
    assert r.mean_raw == 50.5
    # trimmed = mean(6..95); winsorized replaces each tail value with
    # its cut: (5*5.95 + sum(6..95) + 5*95.05) / 100 = 50.5
    assert r.mean_trimmed == 50.5
    assert r.mean_winsorized == 50.5


def test_winsorized_stats_outliers_move_raw_not_robust(spark, monkeypatch):
    """Planted heavy outliers shift the raw mean but leave the
    trimmed/winsorized means near the bulk — the operator's reason to
    exist, pinned."""
    from gaming_ai_analytics_spark import registry

    registry.queries()
    import gaming_ai_analytics_spark.queries_core as qc

    bulk = [("B", 100.0)] * 98
    outl = [("B", 1_000_000.0), ("B", -1_000_000.0)]
    li = spark.createDataFrame(
        bulk + outl, ["l_returnflag", "l_extendedprice"]
    )
    monkeypatch.setattr(qc, "load_table", lambda s, d, t: li)
    r = qc.q_agg_winsorized_stats(spark, "ignored").collect()[0]
    assert r.mean_raw == 98.0  # ±1e6 cancel, but dilute the bulk
    assert r.n_clipped == 2
    assert r.mean_trimmed == 100.0
    assert abs(r.mean_winsorized - 100.0) < 1e-6


def test_forecast_seasonal_backtest_planted_seasonality(spark, monkeypatch):
    """A perfectly weekly-periodic series backtests to ZERO error:
    21 train days + 7 test days where each day-of-week always carries
    the same revenue — MAE, WAPE and bias must all be 0.  A second
    event type with a one-off test-week spike must show exactly that
    spike as MAE and bias."""
    import datetime as dtm

    from gaming_ai_analytics_spark import registry

    registry.queries()
    import gaming_ai_analytics_spark.queries_analytics as qa

    base = dtm.datetime(2024, 1, 1, 12)  # Monday
    rows = []
    eid = 0
    for d in range(28):  # days 0..20 train, 21..27 test
        day = base + dtm.timedelta(days=d)
        dow_rev = float(10 + (d % 7))  # value depends only on dow
        rows.append((eid, day, 1, "periodic", dow_rev, None))
        eid += 1
        spike = 5.0 if d >= 21 else 0.0
        rows.append((eid, day, 1, "spiky", 20.0 + spike, None))
        eid += 1
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string",
    )
    monkeypatch.setattr(qa, "load_events", lambda s, d: ev)
    got = {
        r.event_type: r
        for r in qa.q_forecast_seasonal_backtest(spark, "ignored").collect()
    }
    p = got["periodic"]
    assert p.n_test_days == 7
    assert p.mae == 0.0 and p.wape == 0.0 and p.bias == 0.0
    s = got["spiky"]
    assert s.n_test_days == 7
    assert s.mae == 5.0
    assert s.bias == -5.0  # forecast UNDER-predicts the spike
    assert s.wape == round(5.0 / 25.0 + 5e-10, 4)


def test_dedup_survivors_quality_keeps_best_not_min_id(spark, monkeypatch):
    """Planted cluster where the MIN-ID member is the WORST copy: the
    quality-ranked pass must keep the high-quality duplicate (unlike
    `dedup_survivors`, which keeps the min id) and pass the
    unclustered doc through as 'unique'."""
    from gaming_ai_analytics_spark import registry

    registry.queries()
    import gaming_ai_analytics_spark.queries_analytics as qa
    from gaming_ai_analytics_spark.functions.text import quality_score
    from pyspark.sql import functions as F

    # docs 1 and 2 are near-dups (same shingles); doc 1 (min id) is
    # degraded with a punctuation run — both clear the 400-char
    # length cap, so the punct penalty alone separates the scores
    shared = " ".join(
        ["the quick brown fox jumps over the lazy dog and then some"] * 8
    )
    junk = " " + "!@#$%" * 30  # one extra token, 150 punct chars
    rows = [
        (1, shared + junk, "en", "srcA", 1),
        (2, shared, "en", "srcA", 1),
        (3, " ".join(f"u{i}" for i in range(30)), "en", "srcB", 1),
    ]
    docs = spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"]
    )
    qmap = {
        r.doc_id: r.q
        for r in docs.select(
            "doc_id", quality_score(F.col("text")).alias("q")
        ).collect()
    }
    assert qmap[2] > qmap[1], "fixture must degrade the min-id copy"
    monkeypatch.setattr(qa, "load_table", lambda s, d, t: docs)
    out = {
        r.doc_id: r.keep_reason
        for r in qa.q_dedup_survivors_quality(spark, "ignored").collect()
    }
    assert out == {2: "best_quality", 3: "unique"}, out
