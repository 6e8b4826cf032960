"""Registry-wide physical-plan anti-pattern audit.

Sweeps every registered batch query (plan construction only — no
execution, AQE off so the executed-plan text shows real scans rather
than reprinted reused subtrees) and reports findings.  Documented
construction-time execution exceptions (VERDICT r12 ask #3 — every
other query constructs side-effect-free):

- `agg_winsorized_stats` collects its percentile cuts at
  DataFrame-construction time (bounded: one 2-row quantile pass); its
  RETURNED plan is a single literal-inlined lineitem scan, which is
  exactly what the audit should see and why it carries no
  MULTI_SCAN_JUSTIFIED entry (ADVICE r11).
- `similarity_topk_pq_recall` trains its PQ codebooks at most once
  per (session, sf_dir) during construction (`artifacts.once`): one
  count + one bounded ≤PQ_TRAIN_SAMPLE_ROWS sample collect, then numpy
  Lloyd's on the driver — the winsorized-cuts class of bounded
  plan-time execution, with no filesystem side effects.
- `similarity_topk_pq_saved` / `similarity_topk_ivf_saved` encode (or
  train) and PERSIST their index tables on FIRST construction per
  (session, sf_dir) (`artifacts.once`, guarded on the tables still
  existing — the curation-v2 cached-or-build class); every later
  construction, including this audit's, reuses the loaded index.
- `traindata_curation_v2` / `curation_funnel_v2` /
  `traindata_curation_v2_incremental`: the FIRST construction per
  (process, sf_dir) runs the rule gate + ExactSubstr span-removal
  job(s) and the BPE train, materializing the pipeline's
  stage-boundary tables (the incremental additionally builds its
  persisted corpus state: gram presence set, survivor MinHash index,
  packing offsets).  All builds go through `artifacts.once`, keyed on
  the source-parquet fingerprint (queries_traindata.py
  `_cv2_cleaned` / `_cv2_priced_vocab` / `_cv2i_state` /
  `_cv2i_inc_cleaned`), so the queries share the tables instead of
  racing on the write path, and every construction after the first —
  including this audit's — is plan-only reads of the materialized
  tables.

It reports:

- **multi-scan**: the same source table scanned more than once in one
  query. Re-referencing a fact subplan across branches depends on
  Catalyst cross-branch exchange reuse, which silently stops matching
  once an unrelated broadcast join sits above the pattern (late-r5
  minimal repro) — every multi-scan must therefore be either
  rewritten single-reference or explicitly justified here as
  intrinsic (self-joins, two-operator contracts, deliberate
  multi-pass statistics).
- **serialized BNL**: a BroadcastNestedLoopJoin whose streamed side
  has fewer partitions than min(cores, 8) — the r4 `topk_similar`
  regression shape (BNL parallelism equals the streamed side's file
  splits; a 2-split scan serializes the whole O(n·p·d) job).
- **cartesian**: a CartesianProduct node anywhere (a broadcast 1-row
  stat frame plans as BroadcastNestedLoopJoin with `keys=[]`, which
  is fine; a true cartesian is not).
- **unpartitioned window**: a Window with an empty partition spec —
  Spark's "No Partition Defined for Window" warning: every input row
  moves to one partition and one task.  Each query that has one is
  listed in UNPARTITIONED_WINDOW, either as bounded (the window runs
  over an aggregate-sized frame) or as a follow-up (its frame grows
  with the data; reported, not failed, until its plan is reworked).

Exit code 1 if any UNJUSTIFIED finding remains, so the audit can gate
a round. Run: ``python tools/plan_audit.py [sf_dir] [--json out]``.
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

#: Queries whose multi-scan counts are INTRINSIC, with the reason the
#: extra passes exist. A query listed here may scan each table at most
#: the stated number of times — exceeding it still fails the audit, so
#: a justified query cannot silently regress further.
MULTI_SCAN_JUSTIFIED: dict[str, tuple[dict[str, int], str]] = {
    "dq_referential_orphans": (
        {"orders": 2},
        "the two remaining orders scans probe DIFFERENT FK columns "
        "(o_orderkey against lineitem in the full-outer edge pass, "
        "o_custkey against customer in the anti-join), each pruned "
        "to its one int column — r9 folded the two orderkey-edge "
        "checks into one full-outer pass, taking lineitem 2→1 and "
        "orders 3→2 (queries_ext.py)",
    ),
    "cuped_adjusted_lift": (
        {"events": 2},
        "the pre/post boundary (corpus MIN/MAX date) is a broadcast "
        "1-row stat frame over the pruned (ts) projection — same "
        "intrinsic second reference as user_value_decay's decay "
        "watermark (queries_analytics.py)",
    ),
    "temporal_embargo_split": (
        {"events": 2},
        "the embargo boundary (corpus MAX date) is a broadcast 1-row "
        "stat frame over the pruned (ts) projection — the cuped/"
        "user_value_decay watermark class (queries_traindata.py)",
    ),
    "decontaminate_fuzzy": (
        {"documents": 4},
        "two corpora (train/eval source slices) x two map-only frames "
        "each (band entries + hashed shingle arrays) — the same "
        "candidate+verify contract as the self-join LSH tiers, split "
        "across corpus sides; the eval side broadcasts so only the "
        "two train passes touch data at scale, and materializing a "
        "shared frame is the 100 TB checkpoint trap "
        "(operators/dedup.py cross_corpus_minhash)",
    ),
    "contamination_span_lengths": (
        {"documents": 2},
        "train/eval source slices of the one documents table — the "
        "eval distinct-gram frame BROADCASTS (train grams never "
        "shuffle for the match) and the train side streams once into "
        "the islands window; the decontaminate_eval_overlap "
        "two-corpora class (queries_traindata.py)",
    ),
    "decontaminate_fuzzy_incremental": (
        {"documents": 2},
        "the eval slice shingles into the persisted index BUILD and "
        "the train increment slice probes it — two corpus sides of "
        "one table per invocation; production builds once and the "
        "nightly cost is the probe alone (exp_incremental_fuzzy "
        "decomposition), the in-query build keeps the oracle "
        "self-contained (queries_traindata.py)",
    ),
    "duplicate_span_removal": (
        {"documents": 2},
        "span REMOVAL must hold the token-position frame on BOTH "
        "anti-join sides: one derivation reduces to flagged-gram "
        "coverage (covered positions), the other re-emits the "
        "surviving tokens — re-deriving the text through the "
        "coverage explode would multiply it per gram instead; both "
        "sides stream from the scan with no unbounded state "
        "(queries_llm.py)",
    ),
    "dedup_survivors_quality": (
        {"documents": 3},
        "three DIFFERENT corpus projections, each feeding its own "
        "shuffle: the shingle explode for pair generation, the "
        "(doc_id, quality) projection the tiny cluster frame joins "
        "for the argmax, and the full-width final keep — the "
        "survivor set must exist before any row can be dropped (the "
        "winsorized bound-first class), and checkpointing a shared "
        "frame is the 100 TB trap (queries_analytics.py)",
    ),
    "metric_view_curation": (
        {"documents": 2},
        "BPE train word-count collapse + the measure scan — the "
        "train-once/consume-once two-scan contract shared with "
        "packing_bpe_budget and bpe_compression_by_source "
        "(plans/metric_view.py consumer over queries_traindata)",
    ),
    "user_value_decay": (
        {"events": 2},
        "the decay watermark (corpus MAX date) is a broadcast 1-row "
        "stat frame over the narrow (user,date,value) projection — "
        "intrinsic second reference (queries_analytics.py)",
    ),
    "frequent_itemset_pairs": (
        {"lineitem": 2},
        "total-basket lift denominator is a 1-row stat frame over a "
        "single-column pruned rescan — measured at sf1 this beats "
        "sharing a localCheckpoint of the 6M-row distinct-items "
        "relation by ~4 s (docstring, queries_analytics.py)",
    ),
    "dedup_incremental_index": (
        {"documents": 2},
        "corpus/increment split IS the operator: the corpus slice is "
        "indexed once (save_minhash_index) and the increment slice "
        "probes it — the registered query does both ends of the "
        "build-once/probe-many contract in one run so the oracle can "
        "check it; production runs them on different nights "
        "(operators/dedup.py, measured in tools/exp_incremental_dedup.py)",
    ),
    "join_skew_isolated": (
        {"lineitem": 2, "supplier": 2},
        "hot/cold branch split IS the operator: the hot slice joins a "
        "broadcast dim subset, the cold slice joins normally — the "
        "second scan is the documented price of avoiding salting's "
        "|dim| x buckets replication (operators/skew.py, measured in "
        "tools/exp_skew_strategies.py)",
    ),
    "agg_incremental_merge": (
        {"lineitem": 2},
        "two disjoint halves aggregated independently IS the operator "
        "(incremental maintenance demo; oracle computes the one-shot)",
    ),
    "agg_scale_sketches": (
        {"lineitem": 4},
        "each sketch aggregate runs in its own cheapest plan — mixing "
        "them planned an Expand carrying object-agg state through "
        "multiplied rows (170 s vs 2.8 s at sf1, r4 measurement)",
    ),
    "agg_sketch_rollup": (
        {"events": 2},
        "build-then-merge demo: per-day sketch build and the rollup "
        "merge are separate passes by design",
    ),
    "anomaly_mad": (
        {"events": 3},
        "exact MAD is intrinsically two statistic passes (median, then "
        "median of absolute deviations) plus the output filter",
    ),
    "anomaly_zscore": (
        {"events": 2},
        "broadcast-stats join: one stats pass, one output pass — the "
        "alternative (window) shuffles the full fact",
    ),
    "approx_topk_contract": (
        {"lineitem": 2},
        "sketch pass + exact counts pass — comparing two aggregation "
        "strategies is the contract",
    ),
    "bm25_term_scores": (
        {"documents": 2},
        "corpus statistics pass + scoring pass (BM25 needs global df/"
        "avgdl before any doc scores)",
    ),
    "decontaminate_eval_overlap": (
        {"documents": 2},
        "train side and eval side both derive from the one fixture "
        "table — distinct corpora in production",
    ),
    "dedup_embedding_cosine": (
        {"embeddings": 2},
        "all-pairs self-join (a × b on id<) is two references of the "
        "same table by definition",
    ),
    "dedup_embedding_lsh": (
        {"embeddings": 4},
        "recall contract: the LSH tier (self-join, 2 refs) is compared "
        "against the exact tier (self-join, 2 refs)",
    ),
    "dedup_semantic": (
        {"embeddings": 5},
        "soundness+recall contract: the k-means-blocked tier (cell "
        "self-join, 2 refs) vs the exact tier (self-join, 2 refs) "
        "plus the corpus-count stat frame (1 ref)",
    ),
    "dedup_minhash_lsh": (
        {"documents": 2},
        "banded candidate self-join: signature relation referenced "
        "twice (a × b) by definition",
    ),
    "dedup_containment_lsh": (
        {"documents": 2},
        "same banded candidate self-join shape as dedup_minhash_lsh "
        "(band relation a × b); only the verify arithmetic differs",
    ),
    "dedup_containment_prefix": (
        {"documents": 2},
        "prefix and full posting sides reference the ranked posting "
        "relation twice by definition; above the toy gate a "
        "localCheckpoint of the hashed-shingle arrays collapses ALL "
        "branches to one physical corpus scan (operators/dedup.py)",
    ),
    "distribution_moments": (
        {"orders": 2},
        "two-pass centered moments by construction: pass 1 is the "
        "5-row broadcast mean frame (rounded so the centering "
        "constant is engine-portable), pass 2 the centered power "
        "sums — raw one-pass power sums cancel catastrophically",
    ),
    "hard_negative_mining": (
        {"embeddings": 2},
        "corpus and probe set both come from the embeddings fixture "
        "(same intrinsic shape as similarity_topk)",
    ),
    "dedup_simhash_pairs": (
        {"documents": 2},
        "recall contract: SimHash candidates vs exact Jaccard pairs — "
        "two operators over the same corpus",
    ),
    "events_asof_enrich": (
        {"events": 2},
        "as-of self-join: probe and reference sides are the same table "
        "in the fixture",
    ),
    "events_range_join": (
        {"events": 2},
        "interval self-join: both sides from the one events table",
    ),
    "idle_rich_customers": (
        {"customer": 2},
        "scalar average over the customer DIM (tiny) + the main pass — "
        "dims are broadcast-cheap; the fact (orders) scans once",
    ),
    "join_null_safe": (
        {"documents": 2},
        "null-safe self-join demo: both sides are the same table",
    ),
    "market_share": (
        {"nation": 2},
        "TPC-H Q8 joins nation twice by definition (customer nation "
        "and supplier nation) — a 25-row broadcast dim",
    ),
    "mixture_rebalance": (
        {"documents": 2},
        "statistics pass (per-source rates) + output filter pass",
    ),
    "scd2_customer_segment": (
        {"customer": 12},
        "SCD2 apply over a DIM: dim + two update batches derive from "
        "the one fixture table, and close/reopen/no-op branches each "
        "reference them — a managed dim table in production",
    ),
    "set_except_all": (
        {"orders": 2},
        "multiset EXCEPT ALL of two filtered branches of the same "
        "table — the set-op surface demo",
    ),
    "set_intersect_all": (
        {"orders": 2},
        "multiset INTERSECT ALL of two branches — as above",
    ),
    "similarity_topk": (
        {"embeddings": 2},
        "corpus and probe set both come from the embeddings fixture",
    ),
    "similarity_topk_ivf_recall": (
        {"embeddings": 4},
        "recall contract: exact tier (2 refs) vs IVF tier (2 refs)",
    ),
    "similarity_topk_pq_recall": (
        {"embeddings": 4},
        "recall contract: exact tier (2 refs) vs PQ tier (encode scan "
        "+ exact re-rank scan; probes ride pre-collected rows)",
    ),
    "similarity_topk_pq_saved": (
        {"embeddings": 4},
        "recall contract: exact tier (2 refs) vs the saved-index probe "
        "(the ADC stage reads the persisted codes table, not the "
        "fixture; 1 raw-vector ref for the bounded re-rank join + 1 "
        "for the probe batch)",
    ),
    "similarity_topk_lsh_recall": (
        {"embeddings": 3},
        "recall contract: exact tier (2 refs) vs map-side LSH tier "
        "(1 ref)",
    ),
    "similarity_topk_ivf_saved": (
        {"embeddings": 3},
        "recall contract: exact tier (2 refs) vs the saved-index probe "
        "(1 ref for the probe batch; the corpus side reads the "
        "persisted cell-bucketed index, not the fixture)",
    ),
    "small_quantity_revenue": (
        {"lineitem": 2},
        "per-part average threshold: the aggregate-join form scans "
        "twice but shuffles only the compact aggregate; the windowed "
        "alternative shuffles the ENTIRE fact by part key",
    ),
    "tf_idf": (
        {"documents": 3},
        "corpus-statistic passes shuffle compact aggregates; the "
        "window formulation would shuffle the full token relation and "
        "funnel N through one reducer (docstring)",
    ),
    "timeseries_gap_fill": (
        {"events": 2},
        "unfiltered spine-bounds pass + filtered counts pass — the "
        "spine must cover categories/days the filter removes",
    ),
    "token_budget_select": (
        {"documents": 2},
        "banded cumulative-sum two-level plan: band statistics pass + "
        "output pass",
    ),
    "union_by_name_evolution": (
        {"orders": 2},
        "schema-evolution union of two differently-projected branches "
        "of the same table — the surface demo",
    ),
    "doc_rarity_score": (
        {"documents": 1},
        "single-scan by construction (shingle relation feeds df index "
        "and sizes)",
    ),
}


#: Queries with Windows over an empty partition spec: (at most this
#: many such Windows, "bounded" | "follow-up", why). "bounded": the
#: window's input is already reduced to an aggregate-sized frame, so
#: the single partition holds O(groups) rows, never O(data).
#: "follow-up": the single-partition frame grows with the data.
UNPARTITIONED_WINDOW: dict[str, tuple[int, str, str]] = {
    "benford_price_digits": (
        1, "bounded", "leading-digit shares over the 9-row digit counts",
    ),
    "dau_mau_stickiness": (
        1,
        "bounded",
        "MAU prefix sum over the island-edge day points: at most "
        "2x|calendar days| rows, never the activity frame",
    ),
    "forecast_seasonal_backtest": (
        1,
        "bounded",
        "split day (global max) over the |event types| x |days| daily "
        "frame",
    ),
    "mixture_rebalance": (
        1, "bounded", "corpus totals over the |sources|-row counts",
    ),
    "mixture_temperature_weights": (
        2,
        "bounded",
        "share and temperature normalisers over the |sources|-row "
        "token counts",
    ),
    "mixture_unimax_budget": (
        3,
        "bounded",
        "rank, prefix sum and totals over the |sources| x |langs| "
        "cell counts",
    ),
    "pareto_revenue_share": (
        1,
        "bounded",
        "rank and running share over the 20-row post-limit frame",
    ),
    "quality_classifier_distill": (
        1,
        "bounded",
        "AUC negatives-below prefix over the <= 10^d + 1 rounded-score "
        "rows (operators/classifier.py)",
    ),
    "quality_psi_drift": (
        1, "bounded", "bin shares over the 10 PSI bins",
    ),
    "timeseries_gap_fill": (
        1,
        "bounded",
        "global spine bounds over the |categories|-row per-category "
        "bounds (operators/analytics.py)",
    ),
    "token_budget_select": (
        1,
        "bounded",
        "band prefix sum over the <= 20 quality-band totals",
    ),
    "approx_topk_contract": (
        1,
        "follow-up",
        "global row_number over one row per supplier key: grows with "
        "the supplier dimension (10k per SF)",
    ),
    "supplier_value_concentration": (
        1,
        "follow-up",
        "grand total over one row per supplier key: grows with the "
        "supplier dimension; a 1-row aggregate broadcast back must "
        "still scan the fact once",
    ),
    "top_supplier_revenue": (
        1,
        "follow-up",
        "max over one row per supplier key: as "
        "supplier_value_concentration",
    ),
    "doc_rarity_score": (
        1,
        "follow-up",
        "document count N over the per-document relation: one row per "
        "document, data-sized",
    ),
}


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    json_out = None
    if "--json" in sys.argv:
        json_out = sys.argv[sys.argv.index("--json") + 1]

    from gaming_ai_analytics_spark.session import get_spark
    from gaming_ai_analytics_spark import registry

    spark = get_spark("plan_audit")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    floor = min(spark.sparkContext.defaultParallelism, 8)

    findings: list[dict] = []
    justified: list[dict] = []
    windows: dict[str, list[dict]] = {"bounded": [], "follow-up": []}
    n_checked = 0

    def jnodes(n):
        yield n
        cs = n.children()
        for i in range(cs.length()):
            yield from jnodes(cs.apply(i))

    for name, fn in sorted(registry.queries().items()):
        if name.startswith("events_stream") or "streaming" in name:
            continue  # streaming plans need a sink; audited in tests
        try:
            df = fn(spark, sf_dir)
            qe = df._jdf.queryExecution()
            plan = qe.executedPlan()
            p = plan.toString()
        except Exception as e:  # audit must not die on one query
            findings.append(
                {"query": name, "kind": "error", "detail": f"{type(e).__name__}: {e}"[:200]}
            )
            continue
        n_checked += 1

        # multi-scan
        counts: dict[str, int] = {}
        for tbl in re.findall(r"/([a-z_0-9]+)\.parquet", p):
            counts[tbl] = counts.get(tbl, 0) + 1
        multi = {t: c for t, c in counts.items() if c > 1}
        if multi:
            allowed, reason = MULTI_SCAN_JUSTIFIED.get(name, ({}, ""))
            over = {t: c for t, c in multi.items() if c > allowed.get(t, 1)}
            if over:
                findings.append(
                    {"query": name, "kind": "multi-scan", "detail": over}
                )
            else:
                justified.append(
                    {"query": name, "kind": "multi-scan", "detail": multi, "reason": reason}
                )

        # serialized BNL + cartesian + unpartitioned windows
        n_global = 0
        for node in jnodes(plan):
            nn = node.nodeName()
            if nn == "Window" and node.partitionSpec().isEmpty():
                n_global += 1
            if nn == "CartesianProduct":
                findings.append(
                    {"query": name, "kind": "cartesian", "detail": nn}
                )
            if "BroadcastNestedLoopJoin" in nn:
                kids = [
                    node.children().apply(i)
                    for i in range(node.children().length())
                ]
                sidx = 1 if node.buildSide().toString() == "BuildLeft" else 0
                streamed, bcast = kids[sidx], kids[1 - sidx]
                if "keys=[]" in bcast.treeString():
                    continue  # 1-row stat broadcast — fine
                parts = streamed.execute().getNumPartitions()
                if parts < floor:
                    findings.append(
                        {
                            "query": name,
                            "kind": "serialized-bnl",
                            "detail": f"streamed side {parts} < {floor} partitions",
                        }
                    )

        if n_global:
            allowed, kind, reason = UNPARTITIONED_WINDOW.get(name, (0, "", ""))
            if n_global > allowed:
                findings.append(
                    {"query": name, "kind": "unpartitioned-window", "detail": n_global}
                )
            else:
                windows[kind].append(
                    {"query": name, "windows": n_global, "reason": reason}
                )

    spark.conf.set("spark.sql.adaptive.enabled", "true")

    report = {
        "checked": n_checked,
        "findings": findings,
        "justified_multi_scan": justified,
        "bounded_unpartitioned_window": windows["bounded"],
        "follow_up_unpartitioned_window": windows["follow-up"],
    }
    for f in findings:
        print(f"[FINDING] {f['query']}: {f['kind']} {f['detail']}")
    for w in windows["follow-up"]:
        print(f"[FOLLOW-UP] {w['query']}: {w['windows']} unpartitioned window(s)")
    print(
        f"{n_checked} queries audited; {len(findings)} unjustified findings; "
        f"{len(justified)} justified multi-scan queries; "
        f"{len(windows['bounded'])} bounded and {len(windows['follow-up'])} "
        "follow-up unpartitioned-window queries"
    )
    if json_out:
        with open(json_out, "w") as fh:
            json.dump(report, fh, indent=1)
        print(f"wrote {json_out}")
    return 1 if findings else 0


if __name__ == "__main__":
    raise SystemExit(main())
