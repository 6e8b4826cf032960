"""The benchmark's own tests: metric names, the output check and
failure accounting. No SparkSession is started.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys

import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
for p in (ROOT, os.path.join(ROOT, "tools"), BENCH):
    if p not in sys.path:
        sys.path.insert(0, p)

import check  # noqa: E402
import datagen  # noqa: E402
import duckdb  # noqa: E402
import run  # noqa: E402
import verify_local  # noqa: E402
import workloads  # noqa: E402
from probe import PlanNode, StageStats, distinct_output_rows  # noqa: E402


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_emitted_names_match_benchmark_json():
    spec = _spec()
    assert [w["name"] for w in spec["workloads"]] == [run.DASH, run.CUR]
    assert [(m["name"], m["unit"], m["better"]) for m in spec["end_to_end"]] == [
        (n, u, b) for n, u, b, _ in run.E2E
    ]
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == [
        (n, u, b) for n, u, b, _ in run._layers()
    ]


class _FakeProbe:
    """Every op ran one job with fixed stage statistics."""

    def drain(self):
        pass

    def job_ids(self, group):
        return [1] if group.endswith((":c", ":x")) else []

    def stats(self, job_ids):
        return StageStats(jobs=len(job_ids), stages=1, tasks=2, task_s=0.5, span_s=0.2)

    def plan_graphs(self, job_ids):
        return [_distinct_plan(partial_rows=40, final_rows=4)]


def _distinct_plan(partial_rows, final_rows):
    """``distinct()`` over a join, as AQE plans it: a partial
    aggregate per task, a shuffle, the final aggregate."""
    rows = "number of output rows"
    keys = "HashAggregate(keys=[id_a#1L, id_b#2L], functions=[])"
    return {
        0: PlanNode("HashAggregate", keys, {rows: f"{final_rows:,}"}, [1]),
        1: PlanNode("AQEShuffleRead", "AQEShuffleRead coalesced", {}, [2]),
        2: PlanNode("Exchange", "Exchange hashpartitioning(id_a#1L, id_b#2L, 4)", {}, [3]),
        3: PlanNode("HashAggregate", keys, {rows: f"{partial_rows:,}"}, [4]),
        4: PlanNode("Project", "Project [_id#6L AS id_a#1L]", {}, [5]),
        5: PlanNode("BroadcastHashJoin", "BroadcastHashJoin [band#17]", {rows: "7,282"}, [6, 7]),
        6: PlanNode("Scan parquet", "FileScan parquet", {}, []),
        7: PlanNode("Scan parquet", "FileScan parquet", {}, []),
    }


def test_distinct_rows_come_from_the_final_aggregate():
    assert distinct_output_rows(_distinct_plan(partial_rows=1_600, final_rows=512)) == 512
    plan = _distinct_plan(partial_rows=9, final_rows=5)
    del plan[0], plan[1], plan[2]
    assert distinct_output_rows(plan) is None


@pytest.mark.parametrize("workload", [run.DASH, run.CUR])
def test_each_run_emits_every_metric(workload):
    names = workloads.DASHBOARD_QUERIES if workload == run.DASH else workloads.CURATION_STEPS
    win = workloads.Window(elapsed_s=2.0)
    for i, name in enumerate(names):
        win.ops.append(workloads.Op(name, 0.1, 0.3, rows=5, group=f"g{i}"))
        win.units.append(0.4)
    setup = {"session_s": 1.0, "datagen_s": 1.0, "warmup_s": 1.0, "jvm_rss_peak_mb": 1.0}
    e2e = run.e2e_metrics(workload, win, 3.0, 100)
    assert list(e2e) == [n for n, *_ in run.E2E]
    assert all(v > 0 for v in e2e.values())
    layers = run.layer_metrics(
        workload, win, _FakeProbe(), None if workload == run.DASH else _Spans(),
        4, setup, {"pairs": 2, "pairs_per_doc": 0.02},
    )
    assert list(layers) == [n for n, *_ in run._layers()]
    if workload == run.CUR:
        assert layers["operators.dedup.lsh_candidate_precision"] == 2 / 4


class _Spans:
    def get(self, name):
        return [0.1]


def test_corrupted_result_fails_the_oracle_check():
    from gaming_ai_analytics_spark import registry

    data = datagen.FIXTURE
    oracles = registry.oracle_sql()
    name = "agg_rollup"
    con = verify_local.duck_connect(data)
    good = con.sql(oracles[name]).arrow()
    assert check.check_queries({name: check.Captured.from_arrow(good)}, oracles, data, [name]) == []

    col = next(
        i for i, f in enumerate(good.schema)
        if pa.types.is_integer(f.type) or pa.types.is_floating(f.type)
    )
    values = good.column(col).to_pylist()
    values[0] = (values[0] or 0) + 1
    bad = good.set_column(col, good.schema.field(col), [values])
    problems = check.check_queries({name: check.Captured.from_arrow(bad)}, oracles, data, [name])
    assert len(problems) == 1 and "values differ" in problems[0]

    missing = check.check_queries({}, oracles, data, [name])
    assert missing == [f"{name}: no successful output to check"]


class _Frame:
    def __init__(self, n):
        self.n = n

    def toPandas(self):  # noqa: N802 - DataFrame's spelling
        import pandas as pd

        return pd.DataFrame({"x": range(self.n)})


def test_raising_query_counts_as_failed_operation():
    def raising(spark, sf_dir):
        raise RuntimeError("boom\nsecond line")

    queries = {q: (lambda spark, sf_dir: _Frame(3)) for q in workloads.DASHBOARD_QUERIES}
    queries["agg_rollup"] = raising
    win = workloads.dashboard(None, queries, "unused", seed=1, decks=1)
    per_client = len(workloads.DASHBOARD_QUERIES)
    assert len(win.ops) == workloads.CLIENTS * per_client
    failed = win.failed
    assert [o.name for o in failed] == ["agg_rollup"] * workloads.CLIENTS
    assert all(o.error == "RuntimeError: boom" for o in failed)
    assert "agg_rollup" not in win.outputs
    assert len(win.units) == len(win.ops) - len(failed)


def test_same_seed_same_inputs(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    for d in (a, b):
        datagen.write_corpus(str(d), seed=3, k=2)
    for t in ("documents", "embeddings"):
        assert (a / f"{t}.parquet").read_bytes() == (b / f"{t}.parquet").read_bytes()


def test_corpus_pairs_grow_linearly_with_replicas(tmp_path):
    from gaming_ai_analytics_spark.functions.text_sql import JACCARD_PAIRS_SQL

    reports = {}
    for k in (1, 3):
        d = str(tmp_path / str(k))
        c = datagen.write_corpus(d, seed=5, k=k)
        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet'")
        pairs = con.sql(JACCARD_PAIRS_SQL).fetchall()
        reports[k] = check.pairs_report(pairs, c["documents"], c["stride"])
    base = reports[1]["pairs"]
    assert base > 0
    assert reports[3]["pairs_replica0"] == base
    assert reports[3]["pairs_cross_replica"] == 0
    assert reports[3]["pairs"] == 3 * base
