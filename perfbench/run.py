"""Benchmark of the spark-graft engine.

    python3 perfbench/run.py --workload {dashboard,curation} --seed N \\
        --seconds S --trace {0,1}

Run from the root of a checkout. One run is one process: it starts a
SparkSession (``session.get_spark``), takes its inputs from the sf0.1
fixture (``datagen``; curation writes its corpus under
``.perfbench_work/``), warms up, measures whole dashboard decks or
curation batches for at least ``--seconds``, checks the outputs against
DuckDB oracles and prints every metric with its unit. The last stdout
line is a JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end metrics (``--trace 0``) or the per-layer
metrics (``--trace 1``). The exit code is 0 only when every check
passed and no operation failed.

Workloads (see ``workloads.py``):

- ``dashboard``: analyst traffic, 2 closed-loop clients over the
  sf0.1 fixture (``fixture/sf0.1``, read as given), ``toPandas()``
  sink. The seed draws the clients' query order. One operation is one
  query request.
- ``curation``: the nightly batch over a corpus made from the fixture
  (``datagen.write_corpus``; with one replica it is the fixture's own
  and the seed changes nothing): the ``plans.pipeline`` DAG (build,
  idempotent re-run) then six LLM-data curation queries, ``noop`` sink.
  One operation is one of those eight calls; a batch is all eight.

End-to-end metrics (``E2E``) are measured with tracing off. Their names
are the same for both workloads, because every run reports every
metric, and ``latency_p50_s`` is each workload's own request: a
dashboard query, a whole curation batch. (A curation window holds one
pipeline build, whose latency spread more than a quarter across runs;
its steps are reported per layer as ``plans.pipeline.*``.) With
``--seconds 8`` a window is one deck per dashboard client (24 requests)
or one curation batch, too few samples for a steady tail percentile:
the latency tail is printed, not reported. (Two decks per client did
not narrow the run-to-run spread, which comes from the whole run being
faster or slower.) A traced run measures an untraced window and a traced window
of the same length, the traced one first on odd seeds and second on
even seeds; per-layer metrics (``_layers``) come from the traced
window, and the difference between the two windows' end-to-end values
is printed as the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

#: curation corpus: ``REPLICAS`` density-preserving replicas of the
#: fixture's documents and embeddings. One keeps a curation run near a
#: minute on a 4-core host (two replicas: about 82 s); the tests check
#: that replicas add near-duplicate pairs linearly.
REPLICAS = 1
#: warm-up: one deck per dashboard client, one curation batch (which
#: collects the step outputs for the check)
WARMUP_DECKS, WARMUP_BATCHES = 1, 1


def session_conf(work: str) -> dict[str, str]:
    """Confs the benchmark adds to ``session.get_spark``'s: files stay
    under ``work``, every job and stage of the run stays in the status
    store, no console progress bar."""
    tmp = os.path.join(work, "tmp")
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Duser.timezone=UTC -Djava.io.tmpdir={tmp} "
            f"-Dderby.system.home={work} -XX:-UsePerfData"
        ),
    }


#: (name, unit, better, what it is)
E2E = [
    ("setup_s", "s", "lower",
     "session start + input generation + warm-up"),
    ("latency_p50_s", "s", "lower",
     "dashboard: median query latency, construction through toPandas; "
     "curation: median latency of a whole nightly batch"),
    ("throughput_per_s", "1/s", "higher",
     "dashboard: completed queries per second; curation: corpus "
     "documents per second of batch time"),
]

DASH, CUR = "dashboard", "curation"
P50, TPUT = "latency_p50_s", "throughput_per_s"


def _layers():
    """(name, unit, better, {workload: end-to-end metric it should move}).

    Counts, bytes and seconds are per operation unit: per dashboard
    request, per curation batch. ``q.<query>.*`` are medians over that
    query's calls. A metric of a layer the workload does not use reads 0
    (e.g. ``arrow.*`` on curation, ``plans.pipeline.*`` on dashboard)."""
    from workloads import CURATION_STEPS, DASHBOARD_QUERIES

    both_tput = {DASH: TPUT, CUR: TPUT}
    rows = [
        ("session.start_s", "s", "lower", {DASH: "setup_s", CUR: "setup_s"}),
        ("session.jvm_rss_peak_mb", "MB", "lower", {DASH: "setup_s", CUR: "setup_s"}),
        ("setup.datagen_s", "s", "lower", {CUR: "setup_s"}),
        ("setup.warmup_s", "s", "lower", {DASH: "setup_s", CUR: "setup_s"}),
        ("registry.construct_p50_s", "s", "lower", {DASH: P50, CUR: TPUT}),
        ("registry.construct_s", "s", "lower", {DASH: TPUT, CUR: TPUT}),
        ("registry.construct_jobs", "count", "lower", {DASH: P50, CUR: TPUT}),
        ("spark.exec_s", "s", "lower", {DASH: P50, CUR: TPUT}),
        ("spark.jobs", "count", "lower", {DASH: TPUT, CUR: TPUT}),
        ("spark.stages", "count", "lower", {DASH: TPUT, CUR: TPUT}),
        ("spark.tasks", "count", "lower", {DASH: TPUT, CUR: TPUT}),
        ("spark.failed_tasks", "count", "lower", both_tput),
        ("spark.task_s", "s", "lower", both_tput),
        ("spark.cpu_s", "s", "lower", both_tput),
        ("spark.core_busy_ratio", "ratio", "higher", both_tput),
        ("spark.shuffle_write_bytes", "bytes", "lower", both_tput),
        ("spark.spill_bytes", "bytes", "lower", both_tput),
        ("spark.task_skew", "ratio", "lower", {DASH: P50, CUR: TPUT}),
        ("arrow.transfer_s", "s", "lower", {DASH: P50}),
        ("arrow.rows", "count", "lower", {DASH: P50}),
        ("sources.input_bytes", "bytes", "lower", {DASH: P50, CUR: TPUT}),
        ("sources.io.output_bytes", "bytes", "lower", {CUR: TPUT}),
        ("sources.io.output_rows", "count", "lower", {CUR: TPUT}),
        ("sources.io.write_task_s", "s", "lower", {CUR: TPUT}),
    ]
    rows += [
        (f"plans.pipeline.{s}_s", "s", "lower", {CUR: TPUT})
        for s in ("build_dims", "build_fact", "run_quality", "build_metric_layer", "rerun")
    ]
    rows += [
        ("operators.dedup.pairs_per_doc", "ratio", "lower", {CUR: TPUT}),
        ("operators.dedup.lsh_candidate_precision", "ratio", "higher", {CUR: TPUT}),
        ("run.failed_ratio", "ratio", "lower", {DASH: TPUT, CUR: TPUT}),
    ]
    for q in DASHBOARD_QUERIES:
        rows += [
            (f"q.{q}.construct_s", "s", "lower", {DASH: P50}),
            (f"q.{q}.exec_s", "s", "lower", {DASH: P50}),
            (f"q.{q}.transfer_s", "s", "lower", {DASH: P50}),
        ]
    for q in CURATION_STEPS:
        rows += [
            (f"q.{q}.construct_s", "s", "lower", {CUR: TPUT}),
            (f"q.{q}.exec_s", "s", "lower", {CUR: TPUT}),
            (f"q.{q}.shuffle_write_bytes", "bytes", "lower", {CUR: TPUT}),
            (f"q.{q}.spill_bytes", "bytes", "lower", {CUR: TPUT}),
        ]
    return rows


def e2e_metrics(workload: str, win, setup_s: float, corpus_docs: int) -> dict:
    if workload == DASH:
        lat = [o.latency_s for o in win.ops if o.ok]
        tput = len(lat) / win.elapsed_s if win.elapsed_s else 0.0
    else:
        lat = win.units
        tput = corpus_docs / statistics.median(lat) if lat else 0.0
    return {
        "setup_s": setup_s,
        P50: statistics.median(lat) if lat else 0.0,
        TPUT: tput,
    }


def host_facts(spark) -> dict:
    import duckdb
    import pyarrow

    jvm = spark.sparkContext._jvm
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {
        "cpus": os.cpu_count(),
        "memory_gb": round(mem_kb / 1024 / 1024, 1),
        "python": platform.python_version(),
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "duckdb": duckdb.__version__,
        "pyarrow": pyarrow.__version__,
    }


def layer_metrics(workload, win, probe, spans, cores, setup, pairs) -> dict:
    """Per-layer metrics of a traced window (see ``_layers``)."""
    from probe import StageStats, distinct_output_rows, median
    from workloads import PIPELINE_STEPS

    probe.drain()
    units = len(win.units) or 1
    registry_ops = [o for o in win.ops if not o.name.startswith("pipeline.")]
    total = StageStats()
    construct_jobs = 0
    per_q: dict[str, list[tuple]] = {}
    for op in win.ops:
        if op.group is None or not op.ok:
            continue
        construct_jobs += len(probe.job_ids(op.group + ":c"))
        # pipeline steps tag their jobs per step (see PipelineTracer)
        xgroups = [op.group + ":x"] + [f"{op.group}:x:{s}" for s in PIPELINE_STEPS]
        xjobs = sorted({j for g in xgroups for j in probe.job_ids(g)})
        st = probe.stats(xjobs)
        total.add(st)
        per_q.setdefault(op.name, []).append((op, st, xjobs))

    m = {name: 0.0 for name, *_ in _layers()}
    m["session.start_s"] = setup["session_s"]
    m["session.jvm_rss_peak_mb"] = setup["jvm_rss_peak_mb"]
    m["setup.datagen_s"] = setup["datagen_s"]
    m["setup.warmup_s"] = setup["warmup_s"]
    m["registry.construct_p50_s"] = median([o.construct_s for o in registry_ops if o.ok])
    m["registry.construct_s"] = sum(o.construct_s for o in registry_ops if o.ok) / units
    m["registry.construct_jobs"] = construct_jobs / units
    m["spark.exec_s"] = total.span_s / units
    for f in ("jobs", "stages", "tasks", "failed_tasks", "task_s", "cpu_s",
              "shuffle_write_bytes", "spill_bytes"):
        m[f"spark.{f}"] = getattr(total, f) / units
    m["spark.core_busy_ratio"] = total.task_s / (win.elapsed_s * cores) if win.elapsed_s else 0.0
    m["spark.task_skew"] = total.task_skew
    m["sources.input_bytes"] = total.input_bytes / units
    m["sources.io.output_bytes"] = total.output_bytes / units
    m["sources.io.output_rows"] = total.output_rows / units
    m["sources.io.write_task_s"] = total.write_task_s / units
    m["run.failed_ratio"] = len(win.failed) / len(win.ops) if win.ops else 0.0
    if workload == DASH:
        transfer = [o.sink_s - st.span_s for q in per_q.values() for o, st, _ in q]
        m["arrow.transfer_s"] = sum(transfer) / units
        m["arrow.rows"] = sum(o.rows for o in win.ops if o.ok) / units
        for q, rows in per_q.items():
            m[f"q.{q}.construct_s"] = median([o.construct_s for o, _, _ in rows])
            m[f"q.{q}.exec_s"] = median([st.span_s for _, st, _ in rows])
            m[f"q.{q}.transfer_s"] = median([o.sink_s - st.span_s for o, st, _ in rows])
    else:
        for s in PIPELINE_STEPS:
            m[f"plans.pipeline.{s}_s"] = median(spans.get(f"build.{s}"))
        m["plans.pipeline.rerun_s"] = median(
            [o.sink_s for o, _, _ in per_q.get("pipeline.rerun", [])]
        )
        for q, rows in per_q.items():
            if q.startswith("pipeline."):
                continue
            m[f"q.{q}.construct_s"] = median([o.construct_s for o, _, _ in rows])
            m[f"q.{q}.exec_s"] = median([st.span_s for _, st, _ in rows])
            m[f"q.{q}.shuffle_write_bytes"] = median([st.shuffle_write_bytes for _, st, _ in rows])
            m[f"q.{q}.spill_bytes"] = median([st.spill_bytes for _, st, _ in rows])
        m["operators.dedup.pairs_per_doc"] = pairs.get("pairs_per_doc", 0.0)
        lsh = per_q.get("dedup_minhash_lsh", [])
        if lsh and pairs.get("pairs"):
            # the LSH plan's distinct over band collisions: its candidates
            counts = [distinct_output_rows(g) for g in probe.plan_graphs(lsh[-1][2])]
            candidates = next((c for c in counts if c is not None), 0)
            if candidates:
                m["operators.dedup.lsh_candidate_precision"] = pairs["pairs"] / candidates
    return m


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - last resort, never leave it running
            proc.kill()
            proc.wait()


def _prepare_env(work: str) -> None:
    """Keep every file the run writes inside ``work`` and let Spark's
    Python workers import the program."""
    import tempfile

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # measure the driver heap the program ships with (session.get_spark's
    # default), whatever the caller's environment asks for
    os.environ.pop("SPARK_GRAFT_DRIVER_MEM", None)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    tempfile.tempdir = tmp


def run(args) -> int:
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools"), HERE]
    try:
        import gaming_ai_analytics_spark  # noqa: F401
        import verify_local  # noqa: F401
    except ImportError as ex:
        print(f"perfbench: the program is not importable here: {ex}", file=sys.stderr)
        return 2

    work = os.path.join(WORK, str(os.getpid()))
    _prepare_env(work)
    try:
        return _run(args, work)
    except Exception as ex:  # noqa: BLE001 - a crash is reported, never absent
        import traceback

        traceback.print_exc()
        print(f"perfbench: workload {args.workload} crashed: {type(ex).__name__}: {ex}")
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if os.path.isdir(WORK) and not os.listdir(WORK):
            os.rmdir(WORK)


def _run(args, work: str) -> int:
    import check
    import datagen
    import workloads
    from gaming_ai_analytics_spark import registry
    from gaming_ai_analytics_spark.session import get_spark
    from probe import Spans, StatusProbe, jvm_peak_rss_mb

    wl = args.workload
    print(f"perfbench workload={wl} seed={args.seed} seconds={args.seconds} trace={args.trace}")
    print(f"load average at start: {os.getloadavg()}")
    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=session_conf(work))
    session_s = time.perf_counter() - t0
    try:
        facts = host_facts(spark)
        print("host: " + json.dumps(facts))
        confs = {k: v for k, v in spark.sparkContext.getConf().getAll()
                 if k.startswith("spark.") and "extraJavaOptions" not in k}
        print("spark confs: " + json.dumps(dict(sorted(confs.items()))))
        queries, oracles = registry.queries(), registry.oracle_sql()

        t1 = time.perf_counter()
        data, corpus = datagen.FIXTURE, None
        if wl == CUR:
            data = os.path.join(work, "data")
            corpus = datagen.write_corpus(data, args.seed, REPLICAS)
        datagen_s = time.perf_counter() - t1
        print(f"inputs ({os.path.relpath(data, ROOT)}): {json.dumps(datagen.table_rows(data))}")

        t2 = time.perf_counter()
        warehouses = os.path.join(work, "warehouses")
        os.makedirs(warehouses)
        if wl == DASH:
            warm = workloads.dashboard(spark, queries, data, args.seed, decks=WARMUP_DECKS)
        else:
            warm = workloads.curation(spark, queries, data, warehouses,
                                      batches=WARMUP_BATCHES, capture=True)
        warmup_s = time.perf_counter() - t2
        setup_s = time.perf_counter() - t0
        setup = {
            "session_s": session_s,
            "datagen_s": datagen_s,
            "warmup_s": warmup_s,
            "jvm_rss_peak_mb": 0.0,
        }
        print(f"warm-up: {len(warm.ops)} operations in {warmup_s:.2f} s ("
              + (f"{WARMUP_DECKS} deck(s) per client" if wl == DASH
                 else f"{WARMUP_BATCHES} batch(es)") + ")")

        def measure(probe=None, tracer=None):
            if wl == DASH:
                return workloads.dashboard(spark, queries, data, args.seed,
                                           seconds=args.seconds, probe=probe)
            return workloads.curation(spark, queries, data, warehouses,
                                      seconds=args.seconds, probe=probe, tracer=tracer)

        def measure_traced():
            tracer = workloads.PipelineTracer(spans, probe)
            undo = tracer.patch()
            try:
                return measure(probe, tracer)
            finally:
                undo()

        layers = None
        traced_first = bool(args.trace and args.seed % 2)
        if args.trace:
            probe, spans = StatusProbe(spark), Spans()
        if traced_first:
            twin = measure_traced()
        win = measure()
        if args.trace and not traced_first:
            twin = measure_traced()
        docs = corpus["documents"] if corpus else 0
        e2e = e2e_metrics(wl, win, setup_s, docs)
        windows = [warm, win] + ([twin] if args.trace else [])
        if args.trace:
            setup["jvm_rss_peak_mb"] = jvm_peak_rss_mb(spark)
        # ---- output checks: outside the timed windows and setup_s ----
        t3 = time.perf_counter()
        problems: list[str] = []
        pairs: dict = {}
        if wl == DASH:
            from pyspark.sql.pandas.types import to_arrow_schema

            outputs = {}
            for name, (df, pdf) in {**warm.outputs, **win.outputs}.items():
                # the Arrow schema DataFrame.toArrow() would give, without a job
                schema = to_arrow_schema(df.schema, error_on_duplicated_field_names_in_struct=True)
                outputs[name] = check.Captured.from_pandas(pdf, schema)
            problems += check.check_queries(outputs, oracles, data, workloads.DASHBOARD_QUERIES)
        else:
            outputs = {k: check.Captured.from_arrow(v) for k, v in warm.outputs.items()}
            problems += check.check_queries(outputs, oracles, data, workloads.CURATION_STEPS)
            runs = [r for w in windows for r in w.pipeline_runs]
            problems += check.check_pipeline(runs, windows[-1].warehouses[-1], data)
            if "dedup_minhash_lsh" in outputs:
                lsh = outputs["dedup_minhash_lsh"].collect()
                pairs = check.pairs_report(lsh, docs, corpus["stride"])
                print(
                    f"corpus: {docs} docs = {REPLICAS} replica(s) x {docs // REPLICAS}; "
                    "near-dup pairs "
                    f"{pairs['pairs']} (replica 0: {pairs['pairs_replica0']}, across replicas: "
                    f"{pairs['pairs_cross_replica']}); pairs per doc {pairs['pairs_per_doc']:.4f}"
                )
        print(f"checks took {time.perf_counter() - t3:.2f} s")
        if args.trace:
            layers = layer_metrics(wl, twin, probe, spans, facts["cpus"], setup, pairs)
            traced = e2e_metrics(wl, twin, setup_s, docs)
            order = "first" if traced_first else "second"
            print(f"tracing overhead (traced - untraced; the traced window ran {order}, "
                  "so warm-up drift is mixed in): " + json.dumps(
                      {k: round(traced[k] - e2e[k], 4) for k in e2e if k != "setup_s"}))
    finally:
        _stop_spark(spark)

    attempted = sum(len(w.ops) for w in windows)
    failed_ops = [o for w in windows for o in w.failed]
    for o in failed_ops:
        print(f"FAILED {o.name}: {o.error}")
    for p in problems:
        print(f"CHECK FAILED {p}")
    print(f"checks: {'all outputs match their oracles' if not problems else f'{len(problems)} failed'}")
    lat = sorted(o.latency_s for o in win.ops if o.ok)
    print(f"measured: {len(win.ops)} operations, {len(win.units)} "
          f"{'requests' if wl == DASH else 'batches'} in {win.elapsed_s:.2f} s; "
          f"failed ratio {len(failed_ops) / attempted if attempted else 0.0:.4f}; "
          f"latency p75 {lat[(3 * len(lat)) // 4] if lat else 0.0:.3f} s and max "
          f"{lat[-1] if lat else 0.0:.3f} s over {len(lat)} operations")
    print("measured operations (name construct_s sink_s): " + "; ".join(
        f"{o.name} {o.construct_s:.3f} {o.sink_s:.3f}" for o in win.ops))
    print(f"setup: {json.dumps({k: round(v, 3) for k, v in setup.items()})}")
    print(f"load average at end: {os.getloadavg()}")
    metrics = {}
    if layers is None:
        for name, unit, _better, what in E2E:
            metrics[name] = {"value": e2e[name], "unit": unit}
            print(f"  {name} = {e2e[name]:.6g} {unit}  ({what})")
    else:
        print("end-to-end (untraced): " + json.dumps({k: round(v, 4) for k, v in e2e.items()}))
        for name, unit, _better, moves in _layers():
            metrics[name] = {"value": layers[name], "unit": unit}
            print(f"  {name} = {layers[name]:.6g} {unit}  (moves "
                  f"{', '.join(f'{w}:{e}' for w, e in moves.items())})")
    correct = not problems
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": len(failed_ops),
        "metrics": metrics,
    }))
    return 0 if correct and not failed_ops else 1


def main(argv=None) -> int:
    # SIGTERM unwinds like an exception, so the JVM is stopped and the
    # work directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=[DASH, CUR], required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
