"""Physical-plan audits — the 100 TB checklist (SURVEY §4, BASELINE.md).

These tests pin the *plan shape*, not just results: filters reach the
parquet scan, projections prune columns, dim joins broadcast, no
Python UDF appears in built-in-only paths, aggregations are partial
(map-side) before the shuffle.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from gaming_ai_analytics_spark.plans.flagship import flagship_star_metrics
from gaming_ai_analytics_spark.queries_core import (
    q_filter_numeric_conjunction,
    q_project_rename,
)
from gaming_ai_analytics_spark.queries_llm import q_text_analysis_profile


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    jvm = df.sparkSession._jvm
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    plan = _formatted(q_filter_numeric_conjunction(spark, sf_dir))
    assert "PushedFilters:" in plan
    assert "GreaterThan(l_quantity,45.0)" in plan


def test_column_pruning_reaches_scan(spark, sf_dir):
    plan = _formatted(q_project_rename(spark, sf_dir))
    # ReadSchema must carry only the 5 projected columns
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_orderkey" in read and "l_shipdate" not in read


def test_flagship_broadcasts_dims(spark, sf_dir):
    plan = _plan(flagship_star_metrics(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3  # customer, nation, region


def test_flagship_partial_aggregation(spark, sf_dir):
    # map-side partial agg before the shuffle: the exchange carries one
    # row per (partition, group), not per input row. The default plan
    # uses the built-in percentile aggregate, whose buffer is a
    # value→count map that partial-merges — bounded for the
    # 50-distinct-value l_quantity (plans/flagship.py docstring).
    plan = _plan(flagship_star_metrics(spark, sf_dir))
    assert "partial_count" in plan and "partial_sum" in plan
    assert "partial_percentile" in plan  # the median partial-aggregates too


def test_scan_stays_in_codegen(spark, sf_dir):
    plan = _formatted(q_filter_numeric_conjunction(spark, sf_dir))
    assert "codegen id" in plan  # whole-stage codegen spans the filter


def test_text_analysis_has_no_python_udf(spark, sf_dir):
    plan = _plan(q_text_analysis_profile(spark, sf_dir))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_anti_join_prunes_probe_side(spark, sf_dir):
    from gaming_ai_analytics_spark.queries_core import q_join_anti_incremental

    plan = _plan(q_join_anti_incremental(spark, sf_dir))
    assert "LeftAnti" in plan


def test_simhash_fingerprints_are_map_only(spark, sf_dir):
    """SimHash must compute per-row like MinHash: no aggregation (and
    no hash-partitioned exchange) anywhere in the fingerprint plan —
    the only allowed exchange is the small-scan round-robin widening,
    which disappears at real scale."""
    from gaming_ai_analytics_spark.operators.dedup import simhash_fingerprints

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(simhash_fingerprints(docs, "doc_id", "text"))
    assert "Aggregate" not in plan
    assert "hashpartitioning" not in plan


def test_topk_tournament_shape_when_forced(spark, sf_dir):
    """At scale the scored set must never be sorted in |probes|
    partitions: level 1 ranks within (probe_id, _bkt) —
    |probes|·n_buckets reducers — and only the k-per-bucket survivors
    hit the per-probe merge window. Forced here (the auto path
    rightly skips the tournament for a toy corpus, tested below)."""
    from gaming_ai_analytics_spark.operators.similarity import _topk_per_probe

    scored = spark.createDataFrame(
        [(1, i, float(i % 7)) for i in range(50)],
        ["probe_id", "vec_id", "cosine"],
    )
    plan = _plan(_topk_per_probe(scored, 5, n_buckets=32))
    assert plan.count("row_number()") >= 2
    win_lines = [ln for ln in plan.splitlines() if "row_number()" in ln]
    assert any("_bkt" in ln for ln in win_lines), win_lines


def test_topk_auto_single_window_on_small_corpus(spark, sf_dir):
    """Catalyst-size-stat adaptivity: a corpus far below the
    tournament gate takes ONE ranking window (the second stage is
    pure overhead at toy scale — measured +35% on the sf0.1 bench)."""
    from gaming_ai_analytics_spark.queries_llm import q_similarity_topk

    plan = _plan(q_similarity_topk(spark, sf_dir))
    assert "_bkt" not in plan


def test_pii_redact_is_map_only_codegen(spark, sf_dir):
    """PII scrub: pure regexp_replace chain — no exchange, no Python."""
    from gaming_ai_analytics_spark.queries_traindata import q_pii_redact

    plan = _plan(q_pii_redact(spark, sf_dir))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_quality_repetition_never_shuffles_the_corpus(spark, sf_dir):
    """Repetition metrics fold per row (sorted-array run length) — the
    only allowed exchange is the small-scan round-robin widening,
    never a hash partitioning or aggregate."""
    from gaming_ai_analytics_spark.queries_traindata import (
        q_quality_repetition,
    )

    plan = _plan(q_quality_repetition(spark, sf_dir))
    assert "Aggregate" not in plan
    assert "hashpartitioning" not in plan


def test_decontamination_broadcasts_eval_postings(spark, sf_dir):
    """The train postings must join the (tiny) eval side broadcast —
    the train corpus itself never hash-shuffles for the join; the only
    hash exchange is the per-doc overlap aggregation AFTER the join
    has pruned to contaminated rows."""
    from gaming_ai_analytics_spark.queries_traindata import (
        q_decontaminate_eval_overlap,
    )

    plan = _plan(q_decontaminate_eval_overlap(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_export_shards_single_shuffle_on_shard_key(spark, sf_dir):
    """Export layout = one hash exchange on the shard key + in-partition
    sort — the repartition+sortWithinPartitions write shape."""
    from gaming_ai_analytics_spark.queries_traindata import q_export_shards

    plan = _plan(q_export_shards(spark, sf_dir))
    assert plan.count("hashpartitioning") == 1


def test_funnel_single_user_shuffle_no_join(spark, sf_dir):
    """The funnel fold must be one user-key shuffle over the events:
    no shuffle joins, no window sorts, step filter pushed to the scan.
    (The only join allowed is the broadcast of the tiny literal step
    spine onto the already-aggregated per-step counts.)"""
    from gaming_ai_analytics_spark.queries_analytics import (
        q_funnel_conversion,
    )

    plan = _plan(q_funnel_conversion(spark, sf_dir))
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "Window" not in plan
    # exactly one data shuffle: the user-key hash partitioning for the
    # fold (the step-spine broadcast adds no exchange on the big side)
    assert plan.count("hashpartitioning(_id") == 1
    formatted = _formatted(q_funnel_conversion(spark, sf_dir))
    assert "PushedFilters" in formatted and "In(event_type" in formatted


def test_zscore_broadcasts_stats_no_group_window(spark, sf_dir):
    """Group stats join back via broadcast; the big side must not
    funnel through a Window.partitionBy(event_type)."""
    from gaming_ai_analytics_spark.queries_analytics import q_anomaly_zscore

    plan = _plan(q_anomaly_zscore(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan


def test_rolling_window_uses_range_frame(spark, sf_dir):
    from gaming_ai_analytics_spark.queries_analytics import (
        q_window_rolling_7d,
    )

    plan = _plan(q_window_rolling_7d(spark, sf_dir))
    assert "RangeFrame" in plan and "-604800" in plan


def test_latest_per_key_is_partial_max_not_window(spark, sf_dir):
    """Latest-snapshot must be a partial-aggregated max, never a
    row_number window (which sorts every group)."""
    from gaming_ai_analytics_spark.queries_analytics import (
        q_latest_event_per_user,
    )

    plan = _plan(q_latest_event_per_user(spark, sf_dir))
    # struct max compiles to a SortAggregate (struct buffers aren't
    # hash-aggregable) — still partial/map-side, so the exchange
    # carries one row per (partition, key), unlike a window plan
    # which would shuffle every input row.
    assert "partial_max" in plan
    assert "Window" not in plan


def test_curation_pipeline_single_shuffle(spark, sf_dir):
    """Score+filter ride the scan; only the dedup-key window pays a
    shuffle. ensure_parallelism may add ONE round-robin exchange on
    tiny inputs — what must not appear is a second hash exchange
    beyond the window's."""
    from gaming_ai_analytics_spark.queries_traindata import (
        q_traindata_curation_pipeline,
    )

    plan = _plan(q_traindata_curation_pipeline(spark, sf_dir))
    assert plan.count("hashpartitioning") == 1  # the dedup window only
    assert "BatchEvalPython" not in plan  # scoring is all built-ins


def test_sql_ai_functions_arrow_batched(spark, sf_dir):
    """The SQL-registered scorer/translator must hit the Arrow path
    (vectorized pandas UDF), never row-at-a-time Python eval."""
    from gaming_ai_analytics_spark.queries_ext import q_sql_ai_functions

    plan = _plan(q_sql_ai_functions(spark, sf_dir))
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan


def test_token_budget_single_partition_only_on_band_totals(spark, sf_dir):
    """The two-level cumsum's scale contract: the corpus-wide window
    partitions on the quality band (hash exchange), and the only
    SinglePartition exchange in the plan feeds the ≤20-row band-totals
    prefix window — never the corpus."""
    from gaming_ai_analytics_spark.queries_traindata import (
        q_token_budget_select,
    )

    plan = _plan(q_token_budget_select(spark, sf_dir))
    # corpus window keyed on the band
    assert "windowspecdefinition(_b" in plan
    # exactly one single-partition exchange (the tiny prefix frame),
    # sitting under a BroadcastExchange on its way back to the corpus
    assert plan.count("Exchange SinglePartition") == 1
    assert "BroadcastExchange" in plan


def test_global_rank_single_partition_only_on_prefix_frame(spark, sf_dir):
    """Global ranking must never sort the corpus in one reducer: the
    r6 form scores once into a local checkpoint, then the only corpus
    movement is the bucket-keyed window exchange — no range sampling,
    no single-partition window, no prefix-frame join (offsets ride as
    an inline array literal)."""
    from gaming_ai_analytics_spark.queries_traindata import (
        q_global_quality_rank,
    )

    plan = _plan(q_global_quality_rank(spark, sf_dir))
    # corpus window keys on the quality bucket, not empty (global) keys
    assert "windowspecdefinition(_bkt" in plan
    assert "Exchange SinglePartition" not in plan
    # scoring ran exactly once, into checkpoint blocks — the executed
    # plan reads the checkpointed relation, not the parquet text
    assert "documents.parquet" not in plan
    assert "ExistingRDD" in plan or "Scan" in plan


def test_skew_top_keys_uses_take_ordered(spark, sf_dir):
    """Top-k must be TakeOrderedAndProject over partial counts — a
    global sort of all keys would be the single-reducer funnel the
    diagnostic exists to prevent."""
    from gaming_ai_analytics_spark.queries_ext import q_skew_top_keys

    plan = _plan(q_skew_top_keys(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "partial_count" in plan


def test_fillna_join_preaggregates_below_join(spark, sf_dir):
    """fillna_after_left_join must aggregate orders per custkey BELOW
    the join (one partial-agg shuffle of per-key rows) and never
    re-aggregate after it — the round-3 perf-weak shape joined raw
    orders first and grouped the fan-out back down."""
    from gaming_ai_analytics_spark.queries_core import q_fillna_after_left_join

    df = q_fillna_after_left_join(spark, sf_dir)
    plan = _plan(df)
    join_pos = plan.find("Join")
    agg_positions = [
        i for i in range(len(plan)) if plan.startswith("HashAggregate", i)
    ]
    assert join_pos != -1 and agg_positions
    # plan strings print top-down: anything BEFORE the join line is
    # above it in the tree. No aggregate may sit above the join.
    assert all(pos > join_pos for pos in agg_positions), (
        "aggregate above the join — orders must pre-aggregate below it"
    )


def test_bnl_streamed_side_is_parallel_everywhere(spark, sf_dir):
    """Planted-regression guard (VERDICT r4 #8): broadcast-nested-loop
    parallelism equals the STREAMED side's partition count, so a
    1-2-split scan under a multi-row broadcast serializes O(n·|bcast|)
    work onto 1-2 cores — the `topk_similar` sf1 regression (6.8 s on
    ~2 cores), invisible to correctness tests twice. Sweep EVERY
    registered batch query's physical plan: each BNL must either
    stream ≥ min(cores, 8) partitions or carry a single-row broadcast
    side (a global ``keys=[]`` aggregate — a map-like annotate whose
    parallelism rightly follows the scan, e.g. the 1-row stat frames
    under crossJoin). Streaming entries execute eagerly when called,
    so they are skipped — their plans contain no BNL by construction
    (stream-stream joins must be equi-joins)."""
    from gaming_ai_analytics_spark import registry

    def nodes(n):
        yield n
        cs = n.children()
        for i in range(cs.length()):
            yield from nodes(cs.apply(i))

    floor = min(spark.sparkContext.defaultParallelism, 8)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        offenders = []
        for name, fn in registry.queries().items():
            if name.startswith("events_stream"):
                continue
            plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan()
            for node in nodes(plan):
                if "BroadcastNestedLoopJoin" not in node.nodeName():
                    continue
                kids = [
                    node.children().apply(i)
                    for i in range(node.children().length())
                ]
                sidx = 1 if node.buildSide().toString() == "BuildLeft" else 0
                streamed, bcast = kids[sidx], kids[1 - sidx]
                if "keys=[]" in bcast.treeString():  # 1-row broadcast
                    continue
                parts = streamed.execute().getNumPartitions()
                if parts < floor:
                    offenders.append((name, parts))
        assert not offenders, (
            f"BNL joins with a serialized streamed side (< {floor} "
            f"partitions): {offenders}"
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_scale_sketches_has_no_expand(spark, sf_dir):
    """agg_scale_sketches must keep each aggregate in its own plan —
    mixing distinct + non-distinct object aggregates in one agg()
    plans an Expand that multiplies the percentile map state through
    every row (measured 170 s / 256 MB allocations at sf1)."""
    from gaming_ai_analytics_spark.queries_core import q_agg_scale_sketches

    plan = _plan(q_agg_scale_sketches(spark, sf_dir))
    assert "Expand" not in plan


def test_tpch_sweep_plan_shapes(spark, sf_dir):
    """Plan pins for the late-r5 TPC-H completion sweep: the
    correlated shapes must decorrelate into aggregate-joins (no
    nested-loop anywhere), dims must broadcast, and Q21's
    EXISTS/NOT-EXISTS rewrite must shuffle lineitem on the order key
    exactly once for the statistics side (no correlated self-join
    probes)."""
    from gaming_ai_analytics_spark.queries_warehouse import (
        q_customer_order_distribution,
        q_min_cost_supplier,
        q_sole_return_suppliers,
        q_supplier_part_variety,
        q_top_supplier_revenue,
    )

    # Q2: correlated-min via window over the aggregated offers — hash
    # joins only, part broadcast, fact scanned EXACTLY ONCE (the
    # aggregate-and-join-back form silently double-scanned: exchange
    # reuse breaks once unrelated broadcast joins sit above it)
    p = _plan(q_min_cost_supplier(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p
    assert p.count("lineitem.parquet") == 1, p

    # Q15: scalar max via empty-partition window — one fact scan
    p = _plan(q_top_supplier_revenue(spark, sf_dir))
    assert "CartesianProduct" not in p
    assert p.count("lineitem.parquet") == 1, p

    # Q16: NOT IN over non-null keys must be a broadcast anti join
    p = _plan(q_supplier_part_variety(spark, sf_dir))
    assert "LeftAnti" in p and "BroadcastHashJoin" in p

    # Q13: outer join preserved (zero bucket) + two-level regroup
    p = _plan(q_customer_order_distribution(spark, sf_dir))
    assert "LeftOuter" in p

    # Q21 r6 rewrite: ONE fact scan, ONE fact-scale exchange — the
    # order-key repartition satisfies both the (order, supplier)
    # aggregate's and the window's clustering requirement, so neither
    # adds an exchange; no self-join probe pair, no join-back
    p = _plan(q_sole_return_suppliers(spark, sf_dir))
    assert p.count("lineitem.parquet") == 1, p
    assert "BroadcastNestedLoopJoin" not in p
    assert "Window" in p, p

    # Q11 / Q20: scalar-share patterns — fact scanned exactly once
    from gaming_ai_analytics_spark.queries_warehouse import (
        q_dominant_part_suppliers,
        q_supplier_value_concentration,
    )

    for fn in (q_supplier_value_concentration, q_dominant_part_suppliers):
        p = _plan(fn(spark, sf_dir))
        assert p.count("lineitem.parquet") == 1, (fn.__name__, p)


def test_parameterized_sql_binds_and_pushes_down(spark, sf_dir):
    """Named SQL parameters must bind as typed literals at parse time
    so the bound predicate constant-folds into a parquet PushedFilter
    — a parameter that survives as a placeholder would disable scan
    pruning entirely."""
    from gaming_ai_analytics_spark.queries_ext import q_parameterized_sql

    plan = _formatted(q_parameterized_sql(spark, sf_dir))
    assert "PushedFilters:" in plan
    assert "GreaterThan(o_totalprice,250000.0)" in plan
    assert "EqualTo(o_orderstatus,F)" in plan


def test_fact_scan_counts_in_scalar_stat_queries(spark, sf_dir):
    """Every query that derives a global statistic from its own fact
    must scan that fact only its intrinsic number of times (AQE off so
    the executed-plan text counts real scans, not reprinted reused
    subtrees). Cross-branch exchange reuse proved unreliable under
    broadcast subtrees (late-r5 audit), so these shapes are
    single-reference by construction — this pin catches any future
    edit that silently reintroduces a double scan."""
    from gaming_ai_analytics_spark.queries_ext import (
        q_approx_topk_contract,
        q_skew_top_keys,
    )
    from gaming_ai_analytics_spark.queries_llm import q_corpus_drift_kl
    from gaming_ai_analytics_spark.queries_traindata import (
        q_mixture_rebalance,
    )

    from gaming_ai_analytics_spark.sources.star import load_table

    cases = [
        (q_skew_top_keys, "events.parquet", 1),
        (q_corpus_drift_kl, "documents.parquet", 1),
        (q_approx_topk_contract, "lineitem.parquet", 2),  # sketch+counts
        (q_mixture_rebalance, "documents.parquet", 2),  # stats+output
    ]
    # toggle AQE on the session the cached tables EXECUTE in (load_table
    # may hand back a DataFrame bound to a child session), mirroring
    # test_runtime_bloom_filter_prunes_fact_join
    exec_spark = load_table(spark, sf_dir, "events").sparkSession
    exec_spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for fn, tbl, want in cases:
            plan = _plan(fn(spark, sf_dir))
            assert plan.count(tbl) == want, (fn.__name__, plan)
    finally:
        exec_spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_activity_queries_single_reference_fact(spark, sf_dir):
    """weekly_active_users derives DAU, WAU, and the day spine from
    ONE grouped pass (events scanned once; DAU is a plain conditional
    sum over the already-distinct pairs, so the aggregate stays on the
    no-Expand single-distinct path); timeseries_gap_fill builds its
    spine from the per-category bounds of one pass plus the intrinsic
    filtered-counts pass (two scans)."""
    from gaming_ai_analytics_spark.queries_analytics import (
        q_timeseries_gap_fill,
        q_weekly_active_users,
    )
    from gaming_ai_analytics_spark.sources.star import load_table

    exec_spark = load_table(spark, sf_dir, "events").sparkSession
    exec_spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        p = _plan(q_weekly_active_users(spark, sf_dir))
        assert p.count("events.parquet") == 1, p
        assert "Expand" not in p, p
        p = _plan(q_timeseries_gap_fill(spark, sf_dir))
        assert p.count("events.parquet") == 2, p
    finally:
        exec_spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_join_strategy_hints_are_honored(spark, sf_dir):
    """User-facing join-strategy hints (the escape hatch when the
    cost model guesses wrong on a real cluster): BROADCAST must force
    a broadcast join even where sizes wouldn't pick it, MERGE must
    force sort-merge even for a broadcastable side, and the AQE
    REBALANCE hint must insert a rebalance-mode exchange."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")

    p = _plan(
        li.join(orders.hint("merge"), li.l_orderkey == orders.o_orderkey)
    )
    assert "SortMergeJoin" in p, p

    p = _plan(
        li.join(
            orders.hint("broadcast"), li.l_orderkey == orders.o_orderkey
        )
    )
    assert "BroadcastHashJoin" in p, p

    p = li.hint("rebalance")._jdf.queryExecution().optimizedPlan().toString()
    assert "rebalance" in p.lower(), p


def test_pareto_window_is_bounded_and_exchange_reused(spark, sf_dir):
    """VERDICT r7 ask #5: the Pareto report must not move the
    unbounded |suppliers| relation to one partition.  Pinned shape:
    top-20 via TakeOrderedAndProject (per-partition heaps), the
    rank/running-share window consuming the 20-row post-limit frame
    (the window's child subtree contains the limit), and the grand
    total riding the SAME supplier-agg exchange (ReusedExchange in the
    final AQE plan — exactly one executed fact scan)."""
    from gaming_ai_analytics_spark.queries_analytics import (
        q_pareto_revenue_share,
    )

    df = q_pareto_revenue_share(spark, sf_dir)
    df.collect()  # ReusedExchange only appears in the FINAL AQE plan
    plan = _plan(df)
    assert "TakeOrderedAndProject(limit=20" in plan
    assert "ReusedExchange" in plan
    # the window is fed by the limit, not the full supplier relation:
    # in the tree string the Window's subtree (everything after it up
    # to the sibling total branch) must hit TakeOrderedAndProject
    # before any full-relation Sort
    win_at = plan.index("Window [row_number()")
    take_at = plan.index("TakeOrderedAndProject", win_at)
    assert "Sort [" not in plan[win_at:take_at], (
        "global sort feeds the pareto window"
    )


def test_quantile_normalize_window_is_bucketed(spark, sf_dir):
    """VERDICT r8 ask #3: the per-source quantile normalization must
    NOT sort a whole source's corpus slice in one reducer.  Pinned
    shape: the only window is keyed on (source, _bkt) — the exact
    integer-bucket range partitioning — its feeding exchange hashes
    both keys, and the prefix offsets arrive via BroadcastExchange
    (never a shuffle join).  A percent_rank window or any
    source-only partitioning is the r8 scale hazard reappearing."""
    from gaming_ai_analytics_spark.queries_traindata import (
        q_quality_quantile_normalize,
    )

    df = q_quality_quantile_normalize(spark, sf_dir)
    df.collect()
    plan = _plan(df)
    assert "percent_rank" not in plan
    win_at = plan.index("Window [row_number()")
    spec = plan[win_at:plan.index("\n", win_at)]
    assert "source" in spec and "_bkt" in spec, spec
    assert "BroadcastExchange" in plan
    # every corpus exchange must carry the bucket key — a
    # source-only hashpartitioning is the one-task-per-source sort
    import re

    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "_bkt" in m.group(1), m.group(0)


def test_funnel_attribution_single_scan_bounded_state(spark, sf_dir):
    """r9 plan pin: one events scan, no self-join back to the corpus
    (the r8 shape), and — the skew guard — a PARTIAL (user, type)
    aggregate sits BELOW the first exchange, so a hot user's raw
    event history reduces map-side to ≤|event_types| rows before
    anything shuffles or windows (a conditional-min window over raw
    events would buffer the whole history in one task)."""
    from gaming_ai_analytics_spark.queries_analytics import (
        q_funnel_attribution,
    )

    df = q_funnel_attribution(spark, sf_dir)
    plan = _formatted(df)
    # one Location line per distinct file scan in the formatted dump
    assert plan.count("Location: InMemoryFileIndex") == 1, plan
    assert "Join" not in plan  # no self-join back to the corpus
    # the map-side combine: a partial_min keyed on (user, type)
    # appears in the plan (Spark only emits partial_* below the
    # aggregate's exchange, so its presence IS the skew guard)
    assert "partial_min(event_id" in plan, plan
    # no Window sits below the partial aggregate in the tree: in the
    # top-down numbered tree the Scan is the LAST node and the
    # windows sit strictly above the first HashAggregate/Exchange
    # pair, i.e. every Window index is smaller than the partial
    # aggregate's index (tree prints parents before children)
    tree = plan.split("\n\n")[0]
    assert tree.rindex("Window") < tree.index("HashAggregate (2)"), tree
    import re

    # the corpus-side exchange carries the aggregated relation: an
    # exchange keyed (user_id, event_type) exists
    args = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
    assert any(
        "user_id" in a and "event_type" in a for a in args
    ), args


def test_dau_mau_sweep_line_no_explode(spark, sf_dir):
    """r10 plan pin (winning arm of the VERDICT r9 A/B,
    tools/exp_dau_mau_ab.py — 3.36x at sf10): the trailing MAU is a
    sweep-line over per-user coverage islands, NOT the r9
    explode-every-active-day-into-28 shape.  Pinned: zero Generate
    (explode) nodes anywhere — no 28x shuffle amplification — and the
    island window is partitioned per user, so the only unpartitioned
    window (the prefix sum) runs AFTER the per-day delta reduce, over
    a calendar-bounded point frame."""
    from gaming_ai_analytics_spark.queries_analytics import (
        q_dau_mau_stickiness,
    )

    df = q_dau_mau_stickiness(spark, sf_dir)
    df.collect()
    plan = _plan(df)
    assert "Generate" not in plan, "explode re-entered the MAU path"
    # the per-user island window exists and is keyed on user_id
    lag_at = plan.index("Window [lag(")
    spec = plan[lag_at:plan.index("\n", lag_at)]
    assert "user_id" in spec, spec
    # the prefix-sum window is fed by a per-day aggregate (the delta
    # reduce), never by a data-sized frame: its subtree must contain
    # a HashAggregate keyed on the day before any scan
    psum_at = plan.index("Window [sum(_dd")
    agg_at = plan.index("HashAggregate", psum_at)
    assert agg_at > psum_at, "prefix sum not fed by the delta reduce"


def test_corpus_pair_overlap_merge_pinned_above_gate(
    spark, sf_dir, monkeypatch
):
    """r11 plan pin: above the planner-trust gate the shingle
    self-join must be SORT-MERGE, never a static broadcast — Catalyst
    costs it from PRE-explode scan bytes, the r7/r11 OOM class
    (BASELINE.md §3: merge vs shuffle_hash tie at sf10, merge kept as
    the spill-safe arm for two FULL frames).  The gate is forced by
    zeroing the trust threshold; at toy scale the planner's broadcast
    is deliberately left alone (the gate's other half)."""
    from gaming_ai_analytics_spark import registry

    registry.queries()
    from gaming_ai_analytics_spark.operators import gates
    from gaming_ai_analytics_spark.queries_traindata import (
        q_corpus_pair_overlap,
    )

    monkeypatch.setitem(gates.THRESHOLDS, "planner-trust", 0)
    plan = _plan(q_corpus_pair_overlap(spark, sf_dir))
    smj_at = plan.find("SortMergeJoin")
    assert smj_at != -1, "self-join not merge-pinned above the gate"
    # the equi-key of the merge join is the shingle column
    assert "s#" in plan[smj_at : plan.index("\n", smj_at)]


def test_winsorized_cuts_inlined_no_join(spark, sf_dir):
    """r11 plan pin (BASELINE.md §3 decomposition): the clip pass
    carries the per-group cuts as CASE literals — composing it as
    join(broadcast(cuts)) re-costs the whole percentile stage
    (1.40–1.75 s vs 0.55 s at sf1).  Pinned: the RETURNED plan has no
    join at all and exactly one aggregation pair over the scan."""
    from gaming_ai_analytics_spark.queries_core import (
        q_agg_winsorized_stats,
    )

    df = q_agg_winsorized_stats(spark, sf_dir)
    df.collect()
    plan = _plan(df)
    assert "Join" not in plan, "clip pass re-grew a join"
    assert "percentile" not in plan.lower(), (
        "percentile re-entered the returned plan — cuts must be "
        "pre-resolved literals"
    )


def test_unimax_single_scan_compact_windows(spark, sf_dir):
    """r11 plan pin: UniMax waterfilling reads the corpus ONCE (the
    per-cell token-count aggregate) and every window layer runs over
    the |cells|-row frame — no second documents scan, no Generate.
    Read from the static plan (the AQE final-plan string repeats the
    scan text once per query stage even for a single executed scan)."""
    from gaming_ai_analytics_spark import registry

    registry.queries()
    from gaming_ai_analytics_spark.queries_traindata import (
        q_mixture_unimax_budget,
    )

    plan = _plan(q_mixture_unimax_budget(spark, sf_dir))
    assert plan.count("documents.parquet") <= 1, "second corpus scan"
    assert "Generate" not in plan, "explode entered the token count"


def test_pq_plan_broadcasts_candidates_and_avoids_cartesian(
    spark, sf_dir, monkeypatch
):
    """PQ ANN plan shape (r13): the refine join must BROADCAST the
    bounded candidate frame onto the raw corpus (never shuffle or
    nested-loop the corpus side), the ADC stage must carry no Python
    eval (codes + lookup tables are pure Catalyst expressions on the
    small-fixture path), and no CartesianProduct may appear anywhere —
    the probe fan-out is a literal-array explode, not a join."""
    from conftest import ABOVE_ANY_ESTIMATE

    from gaming_ai_analytics_spark.operators import gates
    from gaming_ai_analytics_spark.operators.similarity import (
        topk_similar_pq,
        train_pq_codebooks,
    )
    from gaming_ai_analytics_spark.sources.star import load_table

    monkeypatch.setitem(gates.THRESHOLDS, "arrow-fanout", ABOVE_ANY_ESTIMATE)
    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    books = train_pq_codebooks(emb, dim=64, m=8, ksub=16)
    df = topk_similar_pq(emb, probes, k=5, dim=64, codebooks=books)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan  # candidates onto raw corpus
    assert "PythonUDF" not in plan  # small-side encoder is pure Catalyst
    # probe fan-out rides a literal explode, not a probe-table join
    assert plan.count("BroadcastHashJoin") == 1


def _final_plan(df) -> str:
    df.collect()  # the AQE final plan exists only after execution
    return _plan(df).split("== Initial Plan ==")[0]


def test_ngram_jaccard_pair_count_rides_the_join_partitioning(spark, sf_dir):
    """Below planner-trust the posting join broadcasts one side, and
    the corpus is widened by hash of the doc id, so the streamed side
    already clusters the (id_a, id_b, …) pair-count aggregate: no
    Exchange between the posting join and the aggregate."""
    import __spark_entry__

    plan = _final_plan(
        __spark_entry__.queries()["dedup_ngram_jaccard"](spark, sf_dir)
    )
    agg_at = plan.index("functions=[count(1)]")
    join_at = plan.index("HashJoin [_sh", agg_at)
    assert "Exchange" not in plan[agg_at:join_at], plan


def test_minhash_band_entries_computed_once(spark, sf_dir):
    """Both sides of the band-entry self-join read ONE (band, bucket)
    exchange: the 64-hash signatures are computed by one stage, and
    the other join side reuses its output."""
    import __spark_entry__

    plan = _final_plan(
        __spark_entry__.queries()["dedup_minhash_lsh"](spark, sf_dir)
    )
    band = "Exchange hashpartitioning(band"
    lines = [ln for ln in plan.splitlines() if band in ln]
    reused = [ln for ln in lines if "ReusedExchange" in ln]
    assert len(lines) == 2 and len(reused) == 1, lines
