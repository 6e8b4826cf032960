"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Method: each query runs cold once (plan + JIT + file-index), then the
MEDIAN of three warm runs is recorded (steady-state, per BASELINE.md).
A single warm run proved noisy round-to-round (±25% on sub-second
queries — JIT still compiling, OS scheduling); the median is the
steady-state answer. Both engines are measured the same way.
Materialization is Arrow ``toPandas()`` — the like-for-like analog of
the oracle's ``fetchall()`` (both sides pay full execution PLUS client
result materialization), and unlike the previous noop-v2-write sink it
doesn't understate row-heavy queries DuckDB must materialize
(``join_chain_left``: noop 0.15 s vs toPandas 0.26 s).

Methodology note (r5): each run constructs a FRESH DataFrame.
Re-running an action on a RETAINED DataFrame object lets the DAG
scheduler skip its already-computed shuffle map stages (same lineage →
same shuffle IDs), which measured ``agg_percentile`` at 0.42 s when
its honest fresh-lineage cost is ~1.15 s — a 3× flattering artifact,
not a plan property. Fresh construction per run is what a user's
repeated query actually pays.

``value`` is the SEQUENTIAL warm total (comparable across rounds).
Two extra measurements contextualize it (see BASELINE.md §3):

- ``concurrent_wall_s``: wall-clock for the same 13 queries submitted
  together on a thread pool. Spark's ~0.35 s/query scheduling floor
  (AQE re-plans, codegen, task launch) overlaps across concurrent
  jobs exactly as it does across a real cluster's concurrent users —
  this is the throughput view of the same engine and config.
- ``duckdb_total_warm`` / ``duckdb_concurrent_wall_s``: the oracle
  engine measured the SAME two ways on the same parquet (threads=32),
  so both latency and throughput ratios are like-for-like.
  ``similarity_topk_lsh`` reuses the exact brute-force twin (ANN is
  not SQL-expressible; same caveat as BASELINE.md).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor

WARM_RUNS = 3


try:  # sampled at import, before any engine starts
    _LOAD_AT_START = round(os.getloadavg()[0], 2)
except OSError:  # platform without getloadavg
    _LOAD_AT_START = None

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from gaming_ai_analytics_spark.session import (  # noqa: E402
    codegen_compiles,
    cpus,
)

#: Representative heavy paths across the operator surface.
HEADLINE = [
    "flagship_star_metrics",
    "join_chain_left",
    "fillna_after_left_join",
    "agg_percentile",
    "window_topk_per_group",
    "agg_rollup",
    "fact_build_transform",
    "text_analysis_profile",
    "dedup_minhash_lsh",
    "similarity_topk",
    "similarity_topk_lsh",
    "events_session_window",
    "metric_view_region",
]

#: Second measured tier (r6, VERDICT r5 ask #6): the tier-1 list
#: predates ~170 of the 187 registered queries, so the heavy late
#: additions had no round-over-round number. Tier 1 is UNCHANGED for
#: comparability; tier 2 adds the judge-named heavy paths (global
#: rank without a single-reducer sort, blocking-key fuzzy join,
#: log-n star connected components, TPC-H Q21 analog, shingle-idf
#: rarity), measured the same way and reported under separate keys.
TIER2 = [
    "global_quality_rank",
    "fuzzy_part_name_pairs",
    "dedup_cluster_assign_star",
    "sole_return_suppliers",
    "doc_rarity_score",
]

_DUCK_TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

#: r14 (VERDICT r13 ask #5): a scale tier where the engine's
#: data-proportional work dominates the per-query scheduling floor —
#: at sf0.1 all 13 tier-1 scaling ratios read ≈1 (8 cores ≈ 32), and
#: even sf1 under-reports data-proportional optimizations.  Queries:
#: the two heavy LLM-pipeline paths that stay single-host-feasible at
#: sf10 (5 M docs).  ``dedup_cluster_assign_star`` is deliberately
#: EXCLUDED: its exact pair tier's enumeration mass grows with
#: Σ df(s)² ≈ 1.27 M × (100)² ≈ 1.3e10 joined rows at sf10 (~8.6e9
#: distinct pairs, a >300 GB pair exchange) — beyond single-host
#: disk, the regime the MinHash tier exists for (see
#: containment_pairs_prefix's fixture-honesty note).  DuckDB twins
#: are likewise omitted at this tier: the sf1 star-CC twin alone ran
#: 95-222 s; the sf10 exact twins would exceed the child cap by
#: orders of magnitude.  One cold + one timed warm run per query
#: (entries run tens of seconds — long enough to average a steal
#: burst out, the sf1 tier-2 rationale).
SF10 = [
    "dedup_minhash_lsh",
    "duplicate_span_removal",
]


def materialize(df) -> None:
    """Full execution + Arrow client materialization (see module doc)."""
    df.toPandas()


def duckdb_totals(
    sf_dir: str,
    oracles: dict[str, str],
    warm_runs: int = WARM_RUNS,
    names: list[str] | None = None,
    concurrent: bool = True,
) -> tuple[float, float | None, dict[str, float]]:
    """Warm sequential + concurrent totals (and per-query times) for
    the oracle engine over ``names`` (default: tier-1 HEADLINE)."""
    import duckdb

    names = HEADLINE if names is None else names
    sql = dict(oracles)
    sql["similarity_topk_lsh"] = sql["similarity_topk"]  # exact twin
    con = duckdb.connect()
    # r14: honor the driver's core-count knob in the comparator too —
    # a hardcoded 32 made the c8 run's DuckDB twins a 32-core
    # comparator against 8-core Spark (VERDICT r13 "what's wrong" #6)
    con.execute(f"SET threads={cpus()}")
    for t in _DUCK_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    for name in names:  # cold
        con.execute(sql[name]).fetchall()
    per_query: dict[str, float] = {}
    for name in names:
        runs = []
        for _ in range(warm_runs):
            t0 = time.perf_counter()
            con.execute(sql[name]).fetchall()
            runs.append(time.perf_counter() - t0)
        per_query[name] = statistics.median(runs)
    seq = sum(per_query.values())
    if not concurrent:
        return round(seq, 3), None, {
            k: round(v, 3) for k, v in per_query.items()
        }

    def run(name: str) -> None:
        con.cursor().execute(sql[name]).fetchall()

    t0 = time.perf_counter()
    with ThreadPoolExecutor(len(names)) as ex:
        list(ex.map(run, names))
    per_query = {k: round(v, 3) for k, v in per_query.items()}
    return round(seq, 3), round(time.perf_counter() - t0, 3), per_query


def _parse_duck_child_stdout(
    stdout: str,
) -> tuple[float | None, dict[str, float] | None, bool]:
    """Parse a DuckDB sf1 child's stdout: the final summary line when
    the child finished, else the per-query lines it streamed before a
    timeout killed it — ``(total, queries, partial)``; ``total`` is
    None when partial so a truncated sum can never masquerade as the
    full-tier comparator."""
    lines = [ln for ln in stdout.strip().splitlines() if ln.strip()]
    final = {}
    if lines:
        try:
            final = json.loads(lines[-1])
        except ValueError:
            final = {}
    if "total" in final:
        return final["total"], final["queries"], False
    partial: dict[str, float] = {}
    for ln in lines:
        try:
            row = json.loads(ln)
        except ValueError:
            continue
        if "q" in row:
            partial[row["q"]] = row["s"]
    return None, (partial or None), True


def _sf1_dir(errors: dict[str, str]) -> str | None:
    """The derived 10× scale-up of sf0.1 (tools/make_scaled_sf.py) —
    the regime where per-query scheduling floors amortize and the
    engine ratio reflects data-proportional work (BASELINE.md §3).
    Built on first use (a failed build lands in ``errors["sf1_error"]``);
    opt out with SPARK_GRAFT_SF1=0."""
    if os.environ.get("SPARK_GRAFT_SF1", "1") == "0":
        return None
    out = os.path.join(REPO, ".benchdata", "sf1")
    if not os.path.isdir(out):
        try:
            sys.path.insert(0, os.path.join(REPO, "tools"))
            from make_scaled_sf import make_scaled

            make_scaled("/root/testdata/sf0.1", out, 10)
        except Exception as e:
            errors["sf1_error"] = repr(e)
            return None
    return out


def _sf10_dir() -> str | None:
    """The derived 100× scale-up of sf0.1 — the sf10 tier's data
    (see the SF10 list). Never built inside a bench run (the 100×
    derivation takes minutes and would contaminate every timing that
    follows): the tier runs only when the directory already exists —
    build it once with tools/make_scaled_sf.py. Opt out with
    SPARK_GRAFT_SF10=0."""
    if os.environ.get("SPARK_GRAFT_SF10", "1") == "0":
        return None
    out = os.path.join(REPO, ".benchdata", "sf10")
    return out if os.path.isdir(out) else None


def _settle_host(ceiling: float = 1.0, max_wait_s: int = 120) -> float:
    """Wait (bounded) for the 1-min load average to drop below
    ``ceiling`` before measuring. Round 5 showed ±40% on BOTH engines'
    totals from carryover load (a test suite finishing seconds before
    the bench starts); a short settle loop makes round-over-round
    numbers comparable. Returns seconds waited (recorded in the JSON).
    Opt out with SPARK_GRAFT_SETTLE=0."""
    if os.environ.get("SPARK_GRAFT_SETTLE", "1") == "0":
        return 0.0
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < max_wait_s:
        try:
            if os.getloadavg()[0] < ceiling:
                break
        except OSError:
            break
        time.sleep(5)
    return round(time.perf_counter() - t0, 1)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from gaming_ai_analytics_spark.session import get_spark
    from gaming_ai_analytics_spark import registry

    settle_wait_s = _settle_host()
    try:
        load_after_settle = round(os.getloadavg()[0], 2)
    except OSError:
        load_after_settle = None

    # "<tier>_error" -> repr of the exception that cost that tier, so a
    # crashed tier reads differently from an absent one
    errors: dict[str, str] = {}
    at_default_sf = sf_dir.rstrip("/").endswith("sf0.1")
    sf1_dir = _sf1_dir(errors) if at_default_sf else None

    # DuckDB first, before the Spark JVM exists: measured in-process
    # after Spark, the resident JVM inflates DuckDB ~30% — that bias
    # would flatter the Spark/DuckDB ratio, so avoid it. Reference
    # numbers are context; never let their failure cost the Spark run.
    try:
        duck_seq, duck_conc, duck_queries = duckdb_totals(
            sf_dir, registry.oracle_sql()
        )
    except Exception as e:
        errors["duckdb_error"] = repr(e)
        duck_seq = duck_conc = duck_queries = None
    try:  # tier 2 twins, same no-JVM conditions; failure costs only tier 2
        duck2_seq, _, duck2_queries = duckdb_totals(
            sf_dir, registry.oracle_sql(), names=TIER2, concurrent=False
        )
    except Exception as e:
        errors["tier2_duckdb_error"] = repr(e)
        duck2_seq = duck2_queries = None

    spark = get_spark("bench")
    qs = dict(registry.queries())
    # retired from the registry r7 (rows-only; evidence rides the
    # _recall twin) but still benched — tier-1 HEADLINE is frozen
    from gaming_ai_analytics_spark.queries_llm import q_similarity_topk_lsh

    qs.setdefault("similarity_topk_lsh", q_similarity_topk_lsh)

    # "<tier>_codegen_compiles" -> Janino compilations during that
    # tier's timed runs (warm passes and cold runs excluded): a warm
    # run that compiles is a generated-class cache miss
    compiles: dict[str, int] = {}

    def timed(tier: str, run) -> float:
        """Seconds of one timed ``run()``, counting its compilations
        into ``compiles``."""
        c0 = codegen_compiles(spark)
        t0 = time.perf_counter()
        run()
        dt = time.perf_counter() - t0
        key = f"{tier}_codegen_compiles"
        compiles[key] = compiles.get(key, 0) + codegen_compiles(spark) - c0
        return dt

    # global warm pass FIRST: plan construction, parquet footer index,
    # and — the big one — JIT compilation of the shared codegen/shuffle/
    # scan machinery. Measuring each query right after only its own
    # cold run under-warms whichever queries go first (the flagship ran
    # ~20% slower purely by being HEADLINE[0]).
    for name in HEADLINE:
        materialize(qs[name](spark, sf_dir))

    timings: dict[str, float] = {}
    for name in HEADLINE:
        fn = qs[name]
        runs = [  # warm: steady state
            timed("tier1", lambda: materialize(fn(spark, sf_dir)))
            for _ in range(WARM_RUNS)
        ]
        timings[name] = round(statistics.median(runs), 3)

    # context measurement — a concurrency hiccup must not cost the
    # sequential `value` already collected above
    try:
        def submit_all() -> None:
            with ThreadPoolExecutor(len(HEADLINE)) as ex:
                list(
                    ex.map(
                        lambda n: materialize(qs[n](spark, sf_dir)), HEADLINE
                    )
                )

        concurrent_wall = round(timed("concurrent", submit_all), 3)
    except Exception as e:
        errors["concurrent_error"] = repr(e)
        concurrent_wall = None

    # tier 2 (sequential only — the concurrency view stays tier-1 for
    # round-over-round comparability); failure costs only tier 2
    tier2_timings: dict[str, float] | None = None
    try:
        for name in TIER2:  # global warm pass, same rationale as tier 1
            materialize(qs[name](spark, sf_dir))
        tier2_timings = {}
        for name in TIER2:
            fn = qs[name]
            runs = [
                timed("tier2", lambda: materialize(fn(spark, sf_dir)))
                for _ in range(WARM_RUNS)
            ]
            tier2_timings[name] = round(statistics.median(runs), 3)
    except Exception as e:
        errors["tier2_error"] = repr(e)
        tier2_timings = None

    # sf1 row: cold + MEDIAN of three warm runs per query (r13: the
    # single-warm-run protocol recorded similarity_topk at 14.8 s
    # where interleaved re-probes read a 1.2–2.6 s steady state — one
    # host steal-burst landing on the one timed run poisoned the row;
    # the median absorbs it. Old single-run numbers stand in
    # BENCH_r12/BENCH_LOCAL_r12. The DuckDB sf1 children stay at one
    # warm run: their slowest twins already brush the 1800 s child
    # cap, and tripling them would trade comparator coverage for
    # stability — documented asymmetry, per-query ratios remain the
    # round-over-round signal.)
    sf1_timings: dict[str, float] | None = None
    if sf1_dir:
        try:
            sf1_timings = {}
            for name in HEADLINE:
                fn = qs[name]
                materialize(fn(spark, sf1_dir))  # cold
                runs = [
                    timed("sf1", lambda: materialize(fn(spark, sf1_dir)))
                    for _ in range(WARM_RUNS)
                ]
                sf1_timings[name] = round(statistics.median(runs), 3)
        except Exception as e:
            errors["sf1_error"] = repr(e)
            sf1_timings = None
    # tier 2 keeps the single warm run: its sf1 entries run 2–115 s,
    # long enough to average a steal burst out within the run, and
    # tripling the ~2-minute star-CC query would add more wall than
    # the whole tier-1 median upgrade
    sf1_tier2: dict[str, float] | None = None
    if sf1_dir:
        try:
            sf1_tier2 = {}
            for name in TIER2:
                fn = qs[name]
                materialize(fn(spark, sf1_dir))  # cold
                sf1_tier2[name] = round(
                    timed("sf1_tier2", lambda: materialize(fn(spark, sf1_dir))),
                    3,
                )
        except Exception as e:
            errors["sf1_tier2_error"] = repr(e)
            sf1_tier2 = None

    # sf10 tier (r14): one cold + one timed warm run per query, no
    # DuckDB twins — rationale on the SF10 list above. Sink is the
    # NOOP write (guide §1.4), NOT toPandas: duplicate_span_removal
    # re-emits ~5 M cleaned documents at this SF, so toPandas would
    # time a multi-GB driver transfer instead of the computation.
    # This is a new additions-only tier defining its own sink; every
    # pre-existing tier keeps the toPandas contract unchanged.
    sf10_timings: dict[str, float] | None = None
    sf10_dir = _sf10_dir() if at_default_sf else None
    if sf10_dir:
        try:
            sf10_timings = {}
            for name in SF10:
                fn = qs[name]
                sink = (
                    lambda df: df.write.format("noop")
                    .mode("overwrite")
                    .save()
                )
                sink(fn(spark, sf10_dir))  # cold
                sf10_timings[name] = round(
                    timed("sf10", lambda: sink(fn(spark, sf10_dir))), 3
                )
        except Exception as e:
            errors["sf10_error"] = repr(e)
            sf10_timings = None

    # DuckDB sf1 LAST, in a SUBPROCESS. Measured in-process before the
    # JVM, its ~100 s of 32-thread churn (the exact minhash twin at
    # 600k docs) degrades the OS/memory state enough to inflate the
    # subsequent Spark sf0.1 medians ~25% (measured round 3: total
    # 8.0 s with the in-process phase vs 6.4 s without; every inflated
    # query recovered). A subprocess returns its memory at exit and
    # runs after every Spark number is already collected; the child
    # has no JVM of its own, so the DuckDB measurement stays honest.
    duck_sf1 = duck_sf1_queries = None
    duck_sf1_t2 = duck_sf1_t2_queries = None
    if sf1_dir:
        import subprocess

        def duck_child(flag: str):
            """Run one DuckDB sf1 child; on timeout, salvage the
            per-query lines it already streamed (r13: the tier-2 child
            hit the 1800 s cap on a slow host and lost ALL its rows —
            the child now prints each query as it completes, so a
            timeout costs only the unfinished tail). Returns
            (total_or_None, queries, partial: bool); ``total`` is None
            when partial so a truncated sum can never masquerade as
            the full-tier comparator."""
            try:
                proc = subprocess.run(
                    [sys.executable, os.path.abspath(__file__), flag, sf1_dir],
                    capture_output=True, text=True, timeout=1800,
                )
                stdout = proc.stdout
            except subprocess.TimeoutExpired as exc:
                stdout = exc.stdout or ""
                if isinstance(stdout, bytes):
                    stdout = stdout.decode("utf-8", "replace")
            return _parse_duck_child_stdout(stdout)

        try:
            duck_sf1, duck_sf1_queries, duck_sf1_partial = duck_child(
                "--duck-sf1"
            )
        except Exception as e:
            errors["sf1_duckdb_error"] = repr(e)
            duck_sf1 = duck_sf1_queries = None
            duck_sf1_partial = False
        try:  # separate child: a tier-2 timeout must not cost tier 1
            duck_sf1_t2, duck_sf1_t2_queries, duck_sf1_t2_partial = (
                duck_child("--duck-sf1-t2")
            )
        except Exception as e:
            errors["sf1_tier2_duckdb_error"] = repr(e)
            duck_sf1_t2 = duck_sf1_t2_queries = None
            duck_sf1_t2_partial = False

    def ratios(
        spark_q: dict[str, float], duck_q: dict[str, float] | None
    ) -> dict[str, float] | None:
        """Per-query Spark/DuckDB ratio, both engines measured in THIS
        process on THIS box — the round-over-round comparable number
        (absolute seconds drift ±25% with host load, BASELINE.md; the
        same-run ratio does not)."""
        if not duck_q:
            return None
        return {
            k: round(spark_q[k] / duck_q[k], 2)
            for k in spark_q
            if duck_q.get(k)
        }

    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    out = {
        "metric": "headline_queries_total_warm",
        # 1-min load BEFORE this process's own Spark phase is the
        # contamination tell: a loaded box inflates both engines ~2×
        # (measured r4: 13.5 s vs 7.1 s total with concurrent suites).
        "load_avg_start": _LOAD_AT_START,
        "load_after_settle": load_after_settle,
        "settle_wait_s": settle_wait_s,
        # host facts: absolute seconds only compare on like hosts
        "host_cpus": cpus(),
        "host_mem_gb": round(
            os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30,
            1,
        ),
        "spark_version": spark.version,
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf else None,
        "concurrent_wall_s": concurrent_wall,
        "duckdb_total_warm": duck_seq,
        "duckdb_concurrent_wall_s": duck_conc,
        "duckdb_queries": duck_queries,
        "ratio_queries": ratios(timings, duck_queries),
        "ratio_total": (
            round(sum(timings.values()) / duck_seq, 2) if duck_seq else None
        ),
    }
    if tier2_timings:
        out["tier2_total_warm"] = round(sum(tier2_timings.values()), 3)
        out["tier2_queries"] = tier2_timings
        out["tier2_duckdb_total_warm"] = duck2_seq
        out["tier2_duckdb_queries"] = duck2_queries
        out["tier2_ratio_queries"] = ratios(tier2_timings, duck2_queries)
        out["tier2_ratio_total"] = (
            round(sum(tier2_timings.values()) / duck2_seq, 2)
            if duck2_seq
            else None
        )
    if sf1_timings:
        out["sf1_total_warm"] = round(sum(sf1_timings.values()), 3)
        out["sf1_queries"] = sf1_timings
        out["sf1_duckdb_total_warm"] = duck_sf1
        out["sf1_duckdb_queries"] = duck_sf1_queries
        if duck_sf1_partial:
            out["sf1_duckdb_partial"] = True
        out["sf1_ratio_queries"] = ratios(sf1_timings, duck_sf1_queries)
        out["sf1_ratio_total"] = (
            round(sum(sf1_timings.values()) / duck_sf1, 2)
            if duck_sf1
            else None
        )
    if sf1_tier2:
        out["sf1_tier2_total_warm"] = round(sum(sf1_tier2.values()), 3)
        out["sf1_tier2_queries"] = sf1_tier2
        out["sf1_tier2_duckdb_total_warm"] = duck_sf1_t2
        out["sf1_tier2_duckdb_queries"] = duck_sf1_t2_queries
        if duck_sf1_t2_partial:
            out["sf1_tier2_duckdb_partial"] = True
        out["sf1_tier2_ratio_queries"] = ratios(
            sf1_tier2, duck_sf1_t2_queries
        )
        out["sf1_tier2_ratio_total"] = (
            round(sum(sf1_tier2.values()) / duck_sf1_t2, 2)
            if duck_sf1_t2
            else None
        )
    if sf10_timings:
        out["sf10_total_warm"] = round(sum(sf10_timings.values()), 3)
        out["sf10_queries"] = sf10_timings
    out.update(compiles)
    out.update(errors)
    try:  # end-of-run load closes the contamination bracket
        out["load_avg_end"] = round(os.getloadavg()[0], 2)
    except OSError:
        out["load_avg_end"] = None
    print(json.dumps(out))
    # ALSO persist the full result next to the driver's BENCH_r{N}
    # capture: the driver keeps only the last 2000 chars of stdout,
    # which truncated the r4 JSON to an unparseable tail — the on-disk
    # twin keeps every per-query table round-over-round comparable.
    # Never let a write failure cost the stdout contract above.
    try:
        with open(_local_out_path(), "w") as f:
            json.dump(out, f, indent=1)
            f.write("\n")
    except OSError:
        pass


def _local_out_path() -> str:
    """``BENCH_LOCAL_r{N}.json`` with N = the round the driver will
    record next (one past the newest ``BENCH_r*.json`` it committed)."""
    import glob
    import re

    rounds = [
        int(m.group(1))
        for p in glob.glob(os.path.join(REPO, "BENCH_r*.json"))
        if (m := re.search(r"BENCH_r(\d+)\.json$", p))
    ]
    return os.path.join(
        REPO, f"BENCH_LOCAL_r{max(rounds, default=0) + 1:02d}.json"
    )


def duck_sf1_child(sf1_dir: str, names: list[str] | None = None) -> None:
    """Subprocess entry: one warm DuckDB run at sf1 (the floor is
    noise at this volume and the exact-plan twins are slow — one run
    keeps bench wall-time bounded). Importing registry never starts a
    JVM — only ``get_spark`` does — so this process measures DuckDB
    with no resident JVM, same conditions as the sf0.1 phase."""
    from gaming_ai_analytics_spark import registry

    import duckdb

    oracles = registry.oracle_sql()
    names = HEADLINE if names is None else names
    sql = dict(oracles)
    sql["similarity_topk_lsh"] = sql["similarity_topk"]  # exact twin
    con = duckdb.connect()
    con.execute(f"SET threads={cpus()}")
    for t in _DUCK_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf1_dir}/{t}.parquet'"
        )
    queries: dict[str, float] = {}
    # per query: one cold run, then the timed warm run (same warm
    # number as before — DuckDB has no cross-query JIT, so the global
    # cold pass bought nothing a per-query cold run doesn't), STREAMED
    # as it completes so the parent can salvage finished rows if this
    # child hits its timeout (a slow host lost the whole tier-2
    # comparator to one 1800 s cap).
    for name in names:
        con.execute(sql[name]).fetchall()  # cold
        t0 = time.perf_counter()
        con.execute(sql[name]).fetchall()
        queries[name] = round(time.perf_counter() - t0, 3)
        print(json.dumps({"q": name, "s": queries[name]}), flush=True)
    print(json.dumps(
        {"total": round(sum(queries.values()), 3), "queries": queries}
    ))


if __name__ == "__main__":
    if len(sys.argv) == 3 and sys.argv[1] == "--duck-sf1":
        duck_sf1_child(sys.argv[2])
    elif len(sys.argv) == 3 and sys.argv[1] == "--duck-sf1-t2":
        duck_sf1_child(sys.argv[2], names=TIER2)
    else:
        main()
