"""Output checks, run after the timed window and outside ``setup_s``.

Query results are compared with their DuckDB oracle
(``registry.oracle_sql()``) by ``tools/verify_local.compare`` — row
count, column names, per-column type class and order-insensitive
values. The results checked are the ones the workload produced: a
dashboard query's last ``toPandas()`` frame, a curation step's output
collected through Arrow during warm-up. :class:`Captured` lets
``compare`` read such a materialized result as it reads a DataFrame.

The pipeline is checked by assertion: every build appends one fact row
per corpus document, every re-run appends none, and the metric layer
equals a DuckDB rollup of the same metric-view spec over the fact table
the build wrote. The metric layer is no registered query and has no
type contract with DuckDB (Spark types ``x * 1.0 / n`` as decimal,
DuckDB as double), so its decimal columns are compared as doubles.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

class Captured:
    """A materialized result with the three members ``compare`` reads:
    ``columns``, ``collect()`` and ``limit(0).toArrow()``."""

    def __init__(self, table: pa.Table, schema: pa.Schema | None = None):
        self._table = table
        self._schema = schema or table.schema
        self.columns = list(table.column_names)

    @classmethod
    def from_arrow(cls, table: pa.Table) -> "Captured":
        return cls(_naive_timestamps(table), table.schema)

    @classmethod
    def from_pandas(cls, pdf, schema: pa.Schema) -> "Captured":
        """``schema`` is Spark's Arrow schema for the frame; the pandas
        values (``NaN`` for a null int, nanosecond timestamps) are cast
        back to it."""
        naive = pa.schema(
            [f.with_type(_drop_tz(f.type)) for f in schema]
        )
        table = pa.Table.from_pandas(pdf, schema=naive, preserve_index=False)
        return cls(table, schema)

    def collect(self) -> list[tuple]:
        cols = [c.to_pylist() for c in self._table.columns]
        return list(zip(*cols)) if cols else []

    def limit(self, n: int) -> "Captured":
        return Captured(self._table.slice(0, n), self._schema)

    def toArrow(self) -> pa.Table:  # noqa: N802 - DataFrame's spelling
        return self._schema.empty_table()


def _drop_tz(t: pa.DataType) -> pa.DataType:
    return pa.timestamp(t.unit) if pa.types.is_timestamp(t) else t


def _naive_timestamps(table: pa.Table) -> pa.Table:
    """Spark's ``collect()`` yields session-zone (UTC) naive datetimes;
    cast tz-aware Arrow timestamps to the same."""
    return table.cast(pa.schema([f.with_type(_drop_tz(f.type)) for f in table.schema]))


def check_queries(outputs: dict, oracles: dict, data_dir: str, names) -> list[str]:
    """Compare each of ``names``' captured output with its oracle;
    returns one message per mismatch (empty when all agree)."""
    from verify_local import compare, duck_connect

    con = duck_connect(data_dir)
    problems = []
    for name in names:
        if name not in outputs:
            problems.append(f"{name}: no successful output to check")
            continue
        if name not in oracles:
            problems.append(f"{name}: no oracle registered")
            continue
        res: list = []
        if not compare(name, outputs[name], con, oracles[name], res):
            problems.append(f"{name}: {'; '.join(res[-1][2])}")
    return problems


def pairs_report(pairs, docs: int, stride: int) -> dict:
    """Near-duplicate ``(id_a, id_b, ...)`` pairs of a corpus of
    replicas ``stride`` ids apart, split into pairs inside replica 0
    and pairs across replicas (which the generator makes absent)."""
    replica = [(a // stride, b // stride) for a, b, *_ in pairs]
    return {
        "docs": docs,
        "pairs": len(replica),
        "pairs_replica0": sum(1 for ra, rb in replica if ra == rb == 0),
        "pairs_cross_replica": sum(1 for ra, rb in replica if ra != rb),
        "pairs_per_doc": len(replica) / docs if docs else 0.0,
    }


def metric_layer_sql(fact_glob: str) -> str:
    """The pipeline's metric-view rollup, compiled for DuckDB from the
    same spec (``review_metric_spec``) over the written fact table."""
    from gaming_ai_analytics_spark.plans.pipeline import review_metric_spec

    spec = review_metric_spec()
    dims = ["language", "sponsored"]
    measures = ["review_count", "avg_weighted_score", "positive_review_pct"]
    select = [f"{spec.dimensions[d]} AS {d}" for d in dims]
    select += [f"{spec.measures[m]} AS {m}" for m in measures]
    where = f"WHERE {spec.filter}" if spec.filter else ""
    return (
        f"SELECT {', '.join(select)} FROM read_parquet('{fact_glob}') "
        f"AS {spec.source} {where} GROUP BY {', '.join(dims)}"
    )


def check_pipeline(runs, warehouse: str, data_dir: str) -> list[str]:
    """``runs``: (build, re-run) PipelineResult pairs, one per batch;
    ``warehouse``: the last batch's warehouse."""
    from verify_local import compare, duck_connect

    con = duck_connect(data_dir)
    docs = con.sql(
        "SELECT COUNT(*) FROM documents WHERE text IS NOT NULL AND n_chars > 0"
    ).fetchone()[0]
    problems = []
    for i, (build, rerun) in enumerate(runs):
        if build is None or rerun is None:
            problems.append(f"batch {i}: pipeline failed")
            continue
        if build.fact_rows_appended != docs:
            problems.append(
                f"batch {i}: build appended {build.fact_rows_appended}, corpus has {docs}"
            )
        if rerun.fact_rows_appended != 0:
            problems.append(f"batch {i}: re-run appended {rerun.fact_rows_appended}")
    fact = os.path.join(warehouse, "fact_reviews", "*.parquet")
    metric = pq.read_table(os.path.join(warehouse, "metric_review_summary"))
    metric = metric.cast(pa.schema(
        [f.with_type(pa.float64()) if pa.types.is_decimal(f.type) else f for f in metric.schema]
    ))
    groups = con.sql(
        f"SELECT COUNT(*) FROM ({metric_layer_sql(fact)}) m"
    ).fetchone()[0]
    for i, (build, rerun) in enumerate(runs):
        for phase, result in (("build", build), ("re-run", rerun)):
            if result is not None and result.metric_rows != groups:
                problems.append(
                    f"batch {i} {phase}: metric layer has {result.metric_rows} rows, "
                    f"the rollup {groups}"
                )
    res: list = []
    if not compare(
        "metric_layer", Captured.from_arrow(metric), con, metric_layer_sql(fact), res
    ):
        problems.append(f"metric layer: {'; '.join(res[-1][2])}")
    return problems
