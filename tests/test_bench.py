"""Bench-harness tests.

The r13 host regime exposed a harness robustness hole: the sf1 DuckDB
tier-2 child hit its 1800 s subprocess cap and the parent lost EVERY
tier-2 comparator row to one exception. The child now streams one JSON
line per finished query; the parent salvages those on timeout. The
parser tests (no Spark session) pin the salvage parser's three regimes;
the last test pins that a tier which raises is reported, not dropped,
and that the run records its host facts and tier-1 codegen count.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from bench import _parse_duck_child_stdout  # noqa: E402


def test_parse_complete_child_uses_final_summary():
    stdout = "\n".join(
        [
            json.dumps({"q": "a", "s": 1.0}),
            json.dumps({"q": "b", "s": 2.0}),
            json.dumps({"total": 3.0, "queries": {"a": 1.0, "b": 2.0}}),
        ]
    )
    total, queries, partial = _parse_duck_child_stdout(stdout)
    assert total == 3.0
    assert queries == {"a": 1.0, "b": 2.0}
    assert partial is False


def test_parse_timed_out_child_salvages_streamed_rows():
    # killed mid-stream: no summary line, possibly a truncated last line
    stdout = "\n".join(
        [
            json.dumps({"q": "a", "s": 1.0}),
            json.dumps({"q": "b", "s": 2.0}),
            '{"q": "c", "s": 4.',  # truncated by the kill
        ]
    )
    total, queries, partial = _parse_duck_child_stdout(stdout)
    assert total is None  # a partial sum must never pose as the total
    assert queries == {"a": 1.0, "b": 2.0}
    assert partial is True


def test_parse_empty_child_output():
    total, queries, partial = _parse_duck_child_stdout("")
    assert total is None
    assert queries is None
    assert partial is True


def test_raising_tier_records_its_error(
    spark, sf_dir, monkeypatch, tmp_path, capsys
):
    """A tier that raises leaves ``<tier>_error`` in the bench JSON
    next to the tiers that ran (here: tier 2 names an unregistered
    query, so both its Spark and DuckDB halves raise KeyError)."""
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", sf_dir)
    monkeypatch.setenv("SPARK_GRAFT_SETTLE", "0")
    monkeypatch.setattr(bench, "HEADLINE", ["agg_rollup"])
    monkeypatch.setattr(bench, "TIER2", ["no_such_query"])
    # an unwritable result file warns on stderr; stdout still carries
    # the JSON line
    unwritable = tmp_path / "missing" / "bench.json"
    monkeypatch.setattr(bench, "LOCAL_OUT", str(unwritable))
    bench.main()
    captured = capsys.readouterr()
    assert f"could not write {unwritable}" in captured.err
    out = json.loads(captured.out.strip().splitlines()[-1])
    assert set(out["queries"]) == {"agg_rollup"}
    assert "tier2_queries" not in out
    assert out["tier2_error"].startswith("KeyError")
    assert out["tier2_duckdb_error"].startswith("KeyError")
    assert "duckdb_error" not in out and "concurrent_error" not in out
    assert out["host_cpus"] >= 1 and out["host_mem_gb"] > 0
    assert out["spark_version"] == spark.version
    assert isinstance(out["tier1_codegen_compiles"], int)
    assert out["tier1_codegen_compiles"] >= 0
