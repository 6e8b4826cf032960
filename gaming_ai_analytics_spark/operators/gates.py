"""Size gates: every physical-strategy choice made from Catalyst's estimate.

The dedup ladder, the similarity tiers and the flagship join each pick a
plan by comparing one number — Catalyst's ``sizeInBytes`` estimate of a
frame's optimized plan — against a measured crossover. This module holds
that number (:func:`estimate`), every crossover (:data:`THRESHOLDS`) and
the one comparison (:func:`large`) the decision sites call, so a test
forces either side of any gate with
``monkeypatch.setitem(gates.THRESHOLDS, gate, 0)`` (large) or a bound
above ``Long.MaxValue`` (small).

The estimate is driver-side metadata — an optimizer pass, no job. For a
parquet scan it is the (compressed) file bytes scaled through the plan;
it cannot see the fan-out of an ``explode``. A frame Catalyst cannot size
— ``createDataFrame`` on a Python list, an RDD — estimates
``Long.MaxValue`` and so takes the large side of every strategy gate:
the scale-safe plan. That is also why unit tests on such inputs
exercise the large side while the sf0.01/sf0.1 parquet runs exercise
the small side. Arrow-built frames (``createDataFrame`` on a pandas
frame or a ``pyarrow.Table``, so every driver-built result routed
through ``sources.local.local_frame``) are ``LocalRelation``s and carry
their real size. A refusal bound (:data:`REFUSALS`) raises on its large
side instead of choosing a plan, so an unknown size never reaches it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

THRESHOLDS: dict[str, int] = {
    # Below this estimate of the SOURCE frame, join strategy is left to
    # the planner: even a ~20× exploded broadcast build is then
    # ≤ ~100 MB and measured faster (BASELINE.md §3: minhash sf0.1
    # 1.0 s planner vs 1.8 s hinted). At or above it the estimate can
    # no longer be trusted THROUGH an explode (fan-out is invisible to
    # sizeInBytes, so the planner broadcast a ~3.3 GiB exploded posting
    # frame at sf10 and OOMed): every corpus self-join in
    # operators/dedup.py is pinned shuffle_hash (or merge), and the
    # prefix tier checkpoints its shingle arrays.
    "planner-trust": 4 << 20,
    # Source size from which exact containment delegates to the lossless
    # PPJoin prefix tier: that tier pays a fixed corpus-wide window +
    # checkpoint overhead, but its candidate/verify cost grows with the
    # PRUNED candidate set, while the count-from-join tier's pair
    # aggregate grows with EVERY colliding pair (no sound length filter
    # exists for the asymmetric measure). Measured crossover on this
    # corpus family sits between sf0.1 (estimate 0.59 MB, files 26 MB:
    # 1.88 s count-from-join vs 2.73 s prefix) and sf1 (estimate 5.8 MB,
    # files 260 MB: 49.3 s vs 21.6 s); 4 MB splits it, and matching
    # planner-trust means the prefix tier engages exactly where the
    # dedup module stops trusting toy-size planning.
    "containment-prefix": 4 << 20,
    # Input size from which a dense-vector fan-out (dot of every row
    # against a driver-side matrix) routes through an Arrow matmul
    # kernel instead of the interpreted Catalyst higher-order fold. The
    # fold is CodegenFallback — k dots of dim d cost k·d interpreted
    # lambda evals per row; measured crossover ≈10⁴ rows (~2.5 MB at
    # 64-dim float32). 4 MB keeps sf0.01/sf0.1 oracle-parity paths on
    # the exact sequential fold and switches the 10×-up regime.
    "arrow-fanout": 4 << 20,
    # Refusal bound of the exact O(n²) cosine tier: its Arrow form
    # collects the corpus to the driver, which stays cheap only to
    # ~10⁵ 64-dim vectors ≈ 50 MB. Past it the exact tier is the wrong
    # tool regardless — the LSH variant is the scale path — so
    # embedding_cosine_pairs raises instead of running an all-pairs BNL.
    "arrow-exact-max": 256 << 20,
    # Estimated ROWS (estimate / the 4·dim-byte row lower bound) above
    # which the Arrow SRP signature kernel wins over the interpreted
    # expression fold; below it Arrow transfer + Python worker dispatch
    # dominate. Measured on the 64-dim × 16-plane battery: Arrow is
    # already 2× faster at 2k rows (the per-row work — n_planes
    # interpreted dot folds — is heavy), so the crossover sits low.
    "arrow-signature": 2_000,
    # Input size below which ensure_parallelism's widening is skipped:
    # the round-robin shuffle it inserts is then the single most
    # expensive stage of the query (~one extra AQE stage for <1 MB of
    # rows whose downstream per-row CPU totals a few ms). At real scale
    # the input has many splits and widening is a no-op anyway.
    "widen": 1 << 20,
    # Corpus size from which top-k ranks in a two-level tournament;
    # below it per-probe candidate spaces of a few hundred thousand
    # rows sort fine in ONE window reducer each, and the extra ranking
    # stage costs more than it saves (measured +35% on the sf0.1 bench).
    "tournament": 64 << 20,
    # Largest orders-scan estimate whose enriched join side is statically
    # broadcast in the flagship query (r11 sf1 decomposition, BASELINE.md
    # §3): Catalyst sizes the join OUTPUT far above the real 2-column
    # projection, so the static planner picks SortMergeJoin and AQE's
    # later broadcast conversion still pays both shuffle writes
    # (measured 25% of the sf1 query: 1.90 s -> 1.42 s hinted). The
    # enriched frame has exactly |orders| rows, so the honest size is
    # the orders scan estimate of the two surviving columns times a
    # measured ~8× parquet->HashedRelation expansion, which must clear
    # the session's 64 MB broadcast threshold: sf1's 4 MB estimate
    # passes; a 10×-up orders (41 MB -> 330 MB in memory) keeps the
    # unhinted SMJ/AQE plan, the right fact⋈fact shape at 100 TB.
    "flagship-broadcast": (64 << 20) // 8,
}

#: Gates whose large side starts just above the bound; the large side
#: of every other gate starts at the bound.
_ABOVE = frozenset({"arrow-signature", "flagship-broadcast"})

#: Gates whose large side refuses the input rather than picking a plan:
#: they take it only on a KNOWN size, never on Catalyst's unknown.
REFUSALS = frozenset({"arrow-exact-max"})

#: Catalyst's estimate of a frame it cannot size.
UNKNOWN = (1 << 63) - 1


def estimate(df: DataFrame) -> int:
    """Catalyst's size estimate (bytes) of ``df``'s optimized plan."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def large(gate: str, df: DataFrame, per_row: int = 1) -> bool:
    """True when ``df`` takes ``gate``'s large side. ``per_row`` turns a
    bound counted in rows into bytes (the row-size lower bound)."""
    est, bound = estimate(df), THRESHOLDS[gate] * per_row
    if gate in REFUSALS and est == UNKNOWN:
        return False
    return est > bound if gate in _ABOVE else est >= bound
