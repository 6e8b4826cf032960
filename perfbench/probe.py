"""Per-layer measurement from outside the program.

Two sources, both read after the timed window has ended:

- spans recorded by the benchmark around its calls into the program
  (:class:`Spans`);
- Spark's own status stores, reached through the py4j gateway. The
  application status store holds per-job and per-stage task metrics
  (``sc._jsc.sc().statusStore()``); the SQL status store holds each
  execution's plan graph with its SQL metrics
  (``sparkSession.sharedState().statusStore()``). Both are filled by
  listeners and exist with ``spark.ui.enabled=false``.

Jobs are attributed to benchmark operations through job groups: the
benchmark sets a group (a thread-local Spark property) before each call
into the program and lists the group's job ids afterwards.
"""

from __future__ import annotations

import statistics
import threading
from dataclasses import dataclass, field, fields

from py4j.protocol import Py4JJavaError


#: stages whose longest task is shorter than this cannot hold a result
#: up noticeably; they are left out of ``task_skew``
SKEW_MIN_TASK_S = 0.1


@dataclass
class StageStats:
    """Sums over distinct stages. ``task_skew`` is the worst stage's
    max ÷ median task run time, over stages with at least two tasks
    and a task of at least ``SKEW_MIN_TASK_S``."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    task_s: float = 0.0
    cpu_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    output_bytes: int = 0
    output_rows: int = 0
    write_task_s: float = 0.0
    task_skew: float = 0.0
    #: wall seconds from the first job's submission to the last job's end
    span_s: float = 0.0

    def add(self, other: "StageStats") -> None:
        for f in fields(self):
            if f.name == "task_skew":
                self.task_skew = max(self.task_skew, other.task_skew)
            else:
                setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))


class StatusProbe:
    """Reads jobs, stages and SQL plan metrics of one SparkSession."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._ssc = self.sc._jsc.sc()
        self._store = self._ssc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._tracker = self.sc.statusTracker()
        gw = self.sc._gateway
        self._quantiles = gw.new_array(gw.jvm.double, 2)
        self._quantiles[0] = 0.5
        self._quantiles[1] = 1.0

    def set_group(self, group: str | None) -> None:
        """Tag the calling thread's next jobs (``None`` clears)."""
        self.sc.setLocalProperty("spark.jobGroup.id", group)

    def drain(self) -> None:
        """Wait until the listeners have processed every posted event."""
        self._ssc.listenerBus().waitUntilEmpty()

    def job_ids(self, group: str) -> list[int]:
        return sorted(self._tracker.getJobIdsForGroup(group))

    def stats(self, job_ids: list[int]) -> StageStats:
        out = StageStats(jobs=len(job_ids))
        starts, ends, seen = [], [], set()
        for jid in job_ids:
            job = self._store.job(jid)
            if job.submissionTime().isDefined():
                starts.append(job.submissionTime().get().getTime())
            if job.completionTime().isDefined():
                ends.append(job.completionTime().get().getTime())
            info = self._tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                if sid not in seen:
                    seen.add(sid)
                    self._add_stage(out, sid)
        if starts and ends:
            out.span_s = (max(ends) - min(starts)) / 1000.0
        return out

    def _add_stage(self, out: StageStats, sid: int) -> None:
        try:
            st = self._store.lastStageAttempt(sid)
        except Py4JJavaError:  # evicted or never submitted
            return
        if st.status().toString() == "SKIPPED":
            return
        out.stages += 1
        out.tasks += st.numTasks()
        out.failed_tasks += st.numFailedTasks()
        run_s = st.executorRunTime() / 1000.0
        out.task_s += run_s
        out.cpu_s += st.executorCpuTime() / 1e9
        out.shuffle_write_bytes += st.shuffleWriteBytes()
        out.spill_bytes += st.diskBytesSpilled()
        out.input_bytes += st.inputBytes()
        if st.outputBytes() > 0 or st.outputRecords() > 0:
            out.output_bytes += st.outputBytes()
            out.output_rows += st.outputRecords()
            out.write_task_s += run_s
        if st.numTasks() >= 2:
            summary = self._store.taskSummary(sid, st.attemptId(), self._quantiles)
            if summary.isDefined():
                run = summary.get().executorRunTime()
                med, top = float(run.apply(0)), float(run.apply(1))
                if med > 0 and top >= SKEW_MIN_TASK_S * 1000:
                    out.task_skew = max(out.task_skew, top / med)

    def plan_graphs(self, job_ids: list[int]) -> list[dict[int, "PlanNode"]]:
        """The final plan graph of every SQL execution that ran
        ``job_ids``: node id → node, root first."""
        wanted = set(job_ids)
        graphs = []
        execs = self._sql.executionsList()
        for i in range(execs.size()):
            ex = execs.apply(i)
            jobs = ex.jobs().keySet()
            if not any(jobs.contains(j) for j in wanted):
                continue
            eid = ex.executionId()
            values = self._sql.executionMetrics(eid)
            graph = self._sql.planGraph(eid)
            nodes: dict[int, PlanNode] = {}
            graph_nodes = graph.allNodes()
            for n in range(graph_nodes.size()):
                node = graph_nodes.apply(n)
                metrics = {}
                ms = node.metrics()
                for m in range(ms.size()):
                    metric = ms.apply(m)
                    value = values.get(metric.accumulatorId())
                    if value.isDefined():
                        metrics[metric.name()] = value.get()
                nodes[node.id()] = PlanNode(node.name(), node.desc(), metrics)
            edges = graph.edges()
            for e in range(edges.size()):
                edge = edges.apply(e)  # child → parent
                nodes[edge.toId()].children.append(edge.fromId())
            graphs.append(nodes)
        return graphs


@dataclass
class PlanNode:
    name: str
    desc: str
    metrics: dict[str, str]
    children: list[int] = field(default_factory=list)


def distinct_output_rows(graph: dict[int, PlanNode]) -> int | None:
    """Rows out of the distinct nearest the root of ``graph``: the
    output of its final aggregate, the key-only ``HashAggregate`` that
    reads a shuffle. The partial aggregate below the shuffle is left
    out: it emits each key once per task, not once. ``None`` when the
    plan has no such aggregate."""
    for node in graph.values():
        if node.name != "HashAggregate" or "functions=[]" not in node.desc:
            continue
        below = node
        while len(below.children) == 1:
            below = graph[below.children[0]]
            if below.name == "Exchange":
                return metric_count(node.metrics.get("number of output rows", "0"))
            if below.name == "HashAggregate":
                break
    return None


def metric_count(text: str) -> int:
    """A SQL metric's rendered count (``"1,234"``) as an int; summed
    metrics render as ``"total (min, med, max ...)"``."""
    head = text.strip().split("\n")[-1].split(" (")[0]
    return int(head.replace(",", "")) if head.replace(",", "").isdigit() else 0


def jvm_peak_rss_mb(spark) -> float:
    """The Spark JVM's peak resident set (VmHWM) in MiB."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


@dataclass
class Spans:
    """Thread-safe named durations, kept in memory until the run ends."""

    _lock: threading.Lock = field(default_factory=threading.Lock)
    _spans: dict[str, list[float]] = field(default_factory=dict)

    def add(self, name: str, seconds: float) -> None:
        with self._lock:
            self._spans.setdefault(name, []).append(seconds)

    def get(self, name: str) -> list[float]:
        with self._lock:
            return list(self._spans.get(name, ()))


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0
