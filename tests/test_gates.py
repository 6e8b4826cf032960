"""Size gates forced the other way, against the oracle.

At ``SF_ORACLE`` every registered query's gates take their natural
side (the one ``test_registry.py`` checks). Here each (query, gate)
pair is run with that gate forced to the other side — a bound of 0 —
and compared against the same DuckDB oracle, so both branches of every
gate a registered query reaches are oracle-checked.

:data:`CONSULTS` is kept honest from both ends:
``test_registry.py::test_query_matches_oracle`` fails when a query
consults a gate not listed for it (or takes a gate's large side at
``SF_ORACLE``), and a forced run here fails when its gate is no longer
consulted.
"""

from __future__ import annotations

import pathlib
import sys

import pytest

import __spark_entry__
from conftest import SF_ORACLE
from gaming_ai_analytics_spark import artifacts
from gaming_ai_analytics_spark.operators import gates

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent / "tools"))

import verify_local  # noqa: E402

#: Gates each registered query consults at SF_ORACLE, all on their
#: small side there. ``arrow-exact-max`` is a refusal bound, not a
#: branch: its large side raises, and
#: ``test_dedup_similarity.py::test_exact_cosine_pairs_refuses_corpus_scale``
#: covers it.
CONSULTS: dict[str, tuple[str, ...]] = {
    "flagship_star_metrics": ("flagship-broadcast",),
    "dedup_ngram_jaccard": ("planner-trust",),
    "dedup_minhash_lsh": ("planner-trust",),
    "dedup_incremental_index": ("planner-trust",),
    "dedup_simhash_pairs": ("planner-trust",),
    "dedup_embedding_cosine": ("arrow-exact-max", "arrow-fanout"),
    "dedup_embedding_lsh": (
        "arrow-exact-max", "arrow-fanout", "arrow-signature", "planner-trust",
    ),
    "dedup_semantic": ("arrow-exact-max", "arrow-fanout", "planner-trust"),
    "similarity_topk": ("arrow-fanout", "tournament"),
    "hard_negative_mining": ("arrow-fanout", "tournament"),
    "similarity_topk_lsh_recall": (
        "arrow-fanout", "arrow-signature", "tournament", "widen",
    ),
    "similarity_topk_ivf_recall": ("arrow-fanout", "tournament"),
    "similarity_topk_ivf_saved": ("arrow-fanout", "tournament"),
    "dup_similarity_histogram": ("planner-trust",),
    "dedup_containment": ("containment-prefix", "planner-trust"),
    "dedup_containment_prefix": ("planner-trust",),
    "dedup_containment_lsh": ("planner-trust",),
    "duplicate_span_removal": ("planner-trust",),
    "similarity_topk_pq_recall": ("arrow-fanout", "tournament"),
    "similarity_topk_pq_saved": ("arrow-fanout", "tournament"),
    "decontaminate_fuzzy": ("planner-trust",),
    "decontaminate_fuzzy_incremental": ("planner-trust",),
    "corpus_pair_overlap": ("planner-trust",),
    "traindata_curation_v2": ("planner-trust",),
    "curation_funnel_v2": ("planner-trust",),
    "traindata_curation_v2_incremental": ("planner-trust",),
    "curation_funnel_v2_incremental": ("planner-trust",),
    "dedup_cluster_assign": ("planner-trust",),
    "dedup_cluster_assign_star": ("planner-trust",),
    "dedup_survivors": ("planner-trust",),
    "dedup_survivors_quality": ("planner-trust",),
}

FORCED = [
    (name, gate)
    for name, gs in CONSULTS.items()
    for gate in gs
    if gate != "arrow-exact-max"
]


def gate_consults(monkeypatch) -> list[tuple[str, bool]]:
    """Record every ``gates.large`` decision as (gate, large)."""
    seen: list[tuple[str, bool]] = []
    decide = gates.large

    def large(gate, df, *args, **kwargs):
        side = decide(gate, df, *args, **kwargs)
        seen.append((gate, side))
        return side

    monkeypatch.setattr(gates, "large", large)
    return seen


def unlisted_consults(name: str, seen: list[tuple[str, bool]]) -> set:
    """Consults of a natural SF_ORACLE run that CONSULTS does not hold."""
    listed = {(g, False) for g in CONSULTS.get(name, ())}
    return set(seen) - listed


@pytest.fixture(scope="module")
def duck():
    con = verify_local.duck_connect(SF_ORACLE)
    yield con
    con.close()


@pytest.mark.parametrize("name,gate", FORCED, ids=[f"{n}-{g}" for n, g in FORCED])
def test_gate_forced_other_way_matches_oracle(spark, duck, name, gate, monkeypatch):
    seen = gate_consults(monkeypatch)
    monkeypatch.setitem(gates.THRESHOLDS, gate, 0)
    oracle = __spark_entry__.oracle_sql()[name]
    out: list = []
    # cached artifacts were built on the natural side; rebuild them
    # forced, and drop the forced ones for later tests
    artifacts.clear()
    try:
        sdf = __spark_entry__.queries()[name](spark, SF_ORACLE)
        assert verify_local.compare(name, sdf, duck, oracle, out), out[-1][2]
    finally:
        artifacts.clear()
    assert (gate, True) in seen, f"{name} no longer consults {gate}"
