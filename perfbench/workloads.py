"""The two workloads: request loops that call into the program and
record one :class:`Op` per call.

- ``dashboard``: a closed loop of ``CLIENTS`` threads over the star
  schema. Each client draws its next query from a seeded shuffled deck
  of the 12 dashboard queries and sinks it with Arrow ``toPandas()``.
  Windows end on deck boundaries, so every seed measures the same mix.
- ``curation``: one client running the nightly batch over the corpus:
  the ``plans.pipeline`` DAG into a fresh warehouse, its
  idempotent re-run, then six LLM-data curation queries with a
  ``noop`` sink.

Every operation is attempted inside ``try``; an exception is a failed
operation whose message is kept, never a silent gap.
"""

from __future__ import annotations

import random
import tempfile
import threading
import time
from dataclasses import dataclass, field

DASHBOARD_QUERIES = [
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
CURATION_STEPS = [
    "text_analysis_profile",
    "dedup_exact_canonical",
    "dedup_cluster_assign_star",
    "dedup_minhash_lsh",
    "duplicate_span_removal",
    "similarity_topk",
]
PIPELINE_STEPS = ["build_dims", "build_fact", "run_quality", "build_metric_layer"]
CLIENTS = 2


@dataclass
class Op:
    """One call into the program: construction, then the sink."""

    name: str
    construct_s: float = 0.0
    sink_s: float = 0.0
    rows: int = 0
    error: str | None = None
    #: job-group prefix when traced (``<group>:c`` / ``<group>:x``)
    group: str | None = None

    @property
    def ok(self) -> bool:
        return self.error is None

    @property
    def latency_s(self) -> float:
        return self.construct_s + self.sink_s


@dataclass
class Window:
    """The operations of one measured (or warm-up) window."""

    ops: list[Op] = field(default_factory=list)
    #: seconds of each whole unit of work (a dashboard request, a
    #: curation batch)
    units: list[float] = field(default_factory=list)
    elapsed_s: float = 0.0
    #: last successful result per query, for the output check
    outputs: dict = field(default_factory=dict)
    #: (build, re-run) PipelineResult per curation batch
    pipeline_runs: list = field(default_factory=list)
    warehouses: list[str] = field(default_factory=list)

    @property
    def failed(self) -> list[Op]:
        return [o for o in self.ops if not o.ok]


class Caller:
    """Times one query call: construction (``fn(spark, sf_dir)``) and
    sink, tagging each phase's jobs when a probe is given."""

    def __init__(self, spark, probe=None):
        self.spark = spark
        self.probe = probe
        self._n = 0
        self._lock = threading.Lock()

    def _group(self, name: str) -> str | None:
        if self.probe is None:
            return None
        with self._lock:
            self._n += 1
            return f"pb{self._n}:{name}"

    def call(self, name, fn, sf_dir, sink) -> tuple[Op, object]:
        op = Op(name, group=self._group(name))
        out = None
        try:
            if op.group:
                self.probe.set_group(op.group + ":c")
            t0 = time.perf_counter()
            df = fn(self.spark, sf_dir)
            t1 = time.perf_counter()
            op.construct_s = t1 - t0
            if op.group:
                self.probe.set_group(op.group + ":x")
            out = sink(df)
            op.sink_s = time.perf_counter() - t1
            op.rows = out[1] if isinstance(out, tuple) else 0
        except Exception as ex:  # noqa: BLE001 - every failure is recorded
            op.error = f"{type(ex).__name__}: {str(ex).splitlines()[0] if str(ex) else ''}"
        finally:
            if op.group:
                self.probe.set_group(None)
        return op, out


def pandas_sink(df):
    pdf = df.toPandas()
    return (df, pdf), len(pdf)


def arrow_sink(df):
    table = df.toArrow()
    return table, table.num_rows


def noop_sink(df):
    df.write.format("noop").mode("overwrite").save()
    return None


def _deck(rng: random.Random):
    while True:
        deck = list(DASHBOARD_QUERIES)
        rng.shuffle(deck)
        yield from deck


def dashboard(spark, queries, sf_dir, seed, seconds=None, decks=None, probe=None) -> Window:
    """Run the closed loop in whole decks, so that every query is
    requested equally often: each client stops at the first deck
    boundary after ``seconds`` have passed, or after ``decks`` decks."""
    win = Window()
    lock = threading.Lock()
    caller = Caller(spark, probe)
    t_start = time.perf_counter()
    deadline = t_start + seconds if seconds is not None else None

    def client(i: int) -> None:
        rng = random.Random(f"{seed}:{i}:{decks is None}")
        draws = _deck(rng)
        n = 0
        while True:
            if n and n % len(DASHBOARD_QUERIES) == 0:
                if deadline is not None and time.perf_counter() >= deadline:
                    return
                if decks is not None and n >= decks * len(DASHBOARD_QUERIES):
                    return
            name = next(draws)
            n += 1
            op, out = caller.call(name, queries[name], sf_dir, pandas_sink)
            with lock:
                win.ops.append(op)
                if op.ok:
                    win.units.append(op.latency_s)
                    win.outputs[name] = out[0]

    threads = [threading.Thread(target=client, args=(i,)) for i in range(CLIENTS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    win.elapsed_s = time.perf_counter() - t_start
    return win


def curation(
    spark, queries, corpus_dir, work_dir, seconds=None, batches=None,
    capture=False, probe=None, tracer=None,
) -> Window:
    """Run whole nightly batches. A batch starts only while it is
    expected to end inside ``seconds`` (always at least one), or until
    ``batches`` have run. ``capture`` collects step outputs through
    Arrow instead of the ``noop`` sink, for the output check."""
    from gaming_ai_analytics_spark.config import PipelineConfig
    from gaming_ai_analytics_spark.plans import pipeline

    win = Window()
    caller = Caller(spark, probe)
    t_start = time.perf_counter()
    sink = arrow_sink if capture else noop_sink
    n = 0
    while True:
        done = time.perf_counter() - t_start
        if batches is not None and n >= batches:
            break
        if seconds is not None and win.units and done + win.units[-1] > seconds:
            break
        n += 1
        b0 = time.perf_counter()
        wh = tempfile.mkdtemp(prefix="warehouse_", dir=work_dir)
        win.warehouses.append(wh)
        cfg = PipelineConfig(warehouse_dir=wh)
        results = []
        for phase in ("build", "rerun"):

            def run_dag(_, phase=phase):
                if tracer is not None:
                    tracer.begin(phase)
                return pipeline.run_pipeline(spark, corpus_dir, cfg)

            # the DAG builds and runs in one eager call: all of it is sink time
            op, out = caller.call(f"pipeline.{phase}", _no_frame, corpus_dir, run_dag)
            win.ops.append(op)
            results.append(out)
        win.pipeline_runs.append(tuple(results))
        for name in CURATION_STEPS:
            op, out = caller.call(name, queries[name], corpus_dir, sink)
            win.ops.append(op)
            if op.ok and capture:
                win.outputs[name] = out[0]
        win.units.append(time.perf_counter() - b0)
    win.elapsed_s = time.perf_counter() - t_start
    return win


def _no_frame(spark, sf_dir):
    return None


class PipelineTracer:
    """Wraps ``plans.pipeline``'s public step functions with spans named
    ``<phase>.<step>``. Each wrapper also tags the step's jobs with
    ``<group>:<step>`` in whichever thread runs it (dims and fact run
    on two pool threads, which do not inherit the caller's group)."""

    def __init__(self, spans, probe):
        self.spans = spans
        self.probe = probe
        self.phase = "build"
        self.group: str | None = None

    def begin(self, phase: str) -> None:
        """Called in the thread about to run ``run_pipeline``."""
        self.phase = phase
        self.group = self.probe.sc.getLocalProperty("spark.jobGroup.id")

    def patch(self):
        """Install the wrappers; returns the callable that removes them."""
        from gaming_ai_analytics_spark.plans import pipeline

        saved = {name: getattr(pipeline, name) for name in PIPELINE_STEPS}
        for name, fn in saved.items():
            setattr(pipeline, name, self._wrap(name, fn))

        def undo():
            for name, fn in saved.items():
                setattr(pipeline, name, fn)

        return undo

    def _wrap(self, name, fn):
        def wrapped(*args, **kwargs):
            self.probe.set_group(f"{self.group}:{name}")
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.spans.add(f"{self.phase}.{name}", time.perf_counter() - t0)

        return wrapped
