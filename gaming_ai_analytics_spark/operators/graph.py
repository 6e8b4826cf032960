"""Iterative graph operator: connected components over a pair list.

Completes the dedup ladder (``operators/dedup.py``): the pair
operators (exact Jaccard, MinHash-LSH, SimHash, embedding-LSH) emit
*edges*; turning near-dup edges into keep/drop decisions needs the
transitive closure — every document in a duplicate *cluster* mapped to
one canonical id. That closure is a connected-components computation,
genuinely iterative (not expressible as a fixed-depth SQL plan), so it
runs as a driver-side loop of DataFrame steps — the standard hash-min
label propagation used by GraphFrames/Pregel-style systems:

    label(v) ← min(label(v), min over neighbors' labels), to fixpoint.

Scale notes (100 TB): each sweep is one shuffle join (flat edge list ⋈
labels on the src key) + one min-aggregate — both map-side combinable;
rounds needed = graph diameter, and near-dup clusters are
short-diameter blobs in practice (pairs within a cluster mostly all
collide, so 2-4 sweeps). The edge list stays FLAT on purpose: a
per-node ``collect_set`` adjacency would hold a hub node's entire
neighborhood in one unbounded array/row (near-dup graphs have hubs —
one boilerplate page matching 10⁶ docs), a straggler-by-construction.
Flat rows stream through the join and partially aggregate map-side, so
a hub costs rows, never one giant row, and AQE's skew-join splitting
applies. State per round is materialized via ``localCheckpoint`` to
truncate lineage — without it the plan doubles per iteration and the
driver, not the data, becomes the bottleneck. For adversarial
long-chain graphs swap the sweep for the large-star/small-star
alternating rounds of Kiveris et al., "Connected Components in
MapReduce and Beyond" (SOCC'14) — same join+min building blocks,
O(log n) rounds.

The star scheme (the ``dedup_clusters`` default) first measures its
edge list: a raw edge list of at most ``LOCAL_FINISH_MAX_EDGES`` pairs
— every near-dup graph of the registered scales — is labeled by
union-find on the driver and returned as an Arrow ``LocalRelation``,
so no round barrier runs and executing the result runs no Spark task
beyond a local scan. Only larger graphs run the round loop.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gaming_ai_analytics_spark.sources.local import local_frame


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Label every node reachable through ``edges`` with the minimum
    node id of its component. Returns ``(node, component)``, one row
    per distinct node appearing in the edge list.

    Runs hash-min sweeps until no label changes (checked with a
    cheap ``limit(1).count`` existence probe — the one intentional
    driver action per round). Raises if ``max_iter`` sweeps don't
    reach the fixpoint: labels advance one hop per sweep, so a
    diameter > max_iter component (a 25+-link near-dup chain) would
    otherwise silently split into several "components" — raise the
    cap or switch to the log-round large-star/small-star scheme.
    """
    e = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
    # flat symmetric edge list, materialized once and re-joined every
    # sweep — no per-node neighbor arrays (see module scale notes)
    sym = e.union(
        e.select(F.col("_d").alias("_s"), F.col("_s").alias("_d"))
    ).localCheckpoint(eager=False)
    labels = (
        sym.select(F.col("_s").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )

    for _ in range(max_iter):
        # propagate: each edge carries its src's current label to dst;
        # min per dst partially aggregates map-side before the shuffle.
        incoming = (
            sym.join(labels, sym["_s"] == labels["node"])
            .select(F.col("_d").alias("node"), "component")
            .groupBy("node")
            .agg(F.min("component").alias("_in"))
        )
        updated = (
            labels.join(incoming, "node", "left")
            .select(
                "node",
                F.least(
                    "component", F.coalesce("_in", "component")
                ).alias("component"),
                (F.coalesce("_in", "component") < F.col("component")).alias(
                    "_chg"
                ),
            )
            .localCheckpoint(eager=True)  # truncate per-round lineage
        )
        changed = updated.where("_chg").limit(1).count()
        labels = updated.select("node", "component")
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} sweeps; "
        "the graph has a component with diameter > max_iter"
    )


#: Largest raw edge list :func:`connected_components_star` finishes on
#: the driver instead of in star rounds: 10⁶ long id pairs are 16 MB of
#: Arrow, and union-find over 10⁶ random edges takes ~2.7 s in CPython,
#: while every star round costs two checkpoint jobs plus one action.
LOCAL_FINISH_MAX_EDGES = 1_000_000


def _union_find(rows: Iterable[tuple]) -> list[tuple]:
    """``(node, component)`` for every endpoint of the collected
    ``(_s, _d)`` rows, component = min node id of its connected
    component — the labels the distributed schemes produce. Unions
    keep the smaller root, so each root IS its component's minimum;
    self-loops and null endpoints only register the node."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for a, b in rows:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        if a is None or b is None:
            continue
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return [(n, find(n)) for n in parent]


def connected_components_star(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 40,
) -> DataFrame:
    """Connected components in O(log n) rounds — the alternating
    large-star/small-star scheme of Kiveris et al., "Connected
    Components in MapReduce and Beyond" (SOCC'14) — for graphs whose
    diameter makes per-hop hash-min sweeps (:func:`connected_components`)
    too many rounds (long chains; adversarial near-dup link farms).

    The raw edge list is checkpointed once and probed with one bounded
    collect. At or under :data:`LOCAL_FINISH_MAX_EDGES` raw edges the
    collected list IS the graph: union-find labels it on the driver
    and the result is an Arrow ``LocalRelation``
    (:func:`~gaming_ai_analytics_spark.sources.local.local_frame`):
    building the frame runs the upstream pair pipeline once, the
    bounded collect riding its result stage, and executing it runs no
    Python worker. Above the bound the log-round loop below runs, and
    ``max_iter`` bounds only that loop.

    Each round is two join+min-aggregate steps over the flat edge
    list (the same building blocks and scale properties as hash-min —
    map-side combinable, no adjacency arrays, AQE skew-splitting
    applies):

    - **large-star**: every node connects its strictly-larger
      neighbors to the minimum of its closed neighborhood;
    - **small-star**: on the larger→smaller orientation, every node
      connects its ≤-neighbors (and itself) to that minimum.

    The edge set converges to stars centered at each component's
    minimum id; output is ``(node, component)`` like hash-min (equality
    on arbitrary graphs — including self-loop-only nodes — is
    test-pinned for both finishes). Per round the driver pays two
    checkpoint materializations (each star output — both are multiply
    referenced downstream, so eager is the cheaper trade) and ONE
    action (an aggregate returning the new edge count + total):
    convergence is ``nxt ⊆ e ∧ |nxt| = |e| ⟺ nxt = e``, with the
    membership flag folded into the materialized frame by a join
    against the previous round's set — no separate count/except
    probes. Rounds are O(log n) regardless of diameter — a 200-link
    chain converges in ~6 rounds where hash-min needs 200 sweeps.
    """
    # checkpoint the RAW edge list first: the bounded collect, the
    # filtered working set and the node universe all derive from it,
    # and without the checkpoint each derivation re-runs the entire
    # upstream pair pipeline (a full MinHash pass when called from
    # dedup_clusters). Lazy: the collect's one job materializes it;
    # an eager checkpoint would be a second job over the same stage
    raw = edges.select(
        F.col(src).alias("_s"), F.col(dst).alias("_d")
    ).localCheckpoint(eager=False)
    probe = raw.limit(LOCAL_FINISH_MAX_EDGES + 1).toArrow()
    if probe.num_rows <= LOCAL_FINISH_MAX_EDGES:
        rows = zip(probe.column(0).to_pylist(), probe.column(1).to_pylist())
        node_type = raw.select("_s").union(raw.select("_d")).schema[0].dataType
        return local_frame(
            raw.sparkSession,
            _union_find(rows),
            T.StructType(
                [
                    T.StructField("node", node_type),
                    T.StructField("component", node_type),
                ]
            ),
        )
    e = (
        raw.where(F.col("_s") != F.col("_d"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # nodes come from the UNFILTERED edge list: a self-loop-only node
    # has no surviving edge but is still a (singleton) component —
    # hash-min labels it, so the star scheme must too.
    all_nodes = (
        raw.select(F.col("_s").alias("node"))
        .union(raw.select(F.col("_d").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def star(frame: DataFrame, large: bool) -> DataFrame:
        # orient: large-star sees the full symmetric neighborhood;
        # small-star only the larger→smaller orientation
        sym = frame.union(
            frame.select(F.col("_d").alias("_s"), F.col("_s").alias("_d"))
        )
        nbrs = sym if large else sym.where(F.col("_d") <= F.col("_s"))
        m = nbrs.groupBy("_s").agg(
            F.least(F.min("_d"), F.first("_s")).alias("_m")
        )
        joined = nbrs.join(m, "_s")
        if large:
            out = joined.where(F.col("_d") > F.col("_s")).select(
                F.col("_d").alias("_s"), F.col("_m").alias("_d")
            )
        else:
            out = joined.select(
                F.col("_d").alias("_s"), F.col("_m").alias("_d")
            ).union(
                m.select(F.col("_s"), F.col("_m").alias("_d"))
            )
        return out.where(F.col("_s") != F.col("_d")).distinct()

    n_edges = e.count()
    for _ in range(max_iter):
        # eager: the large-star frame feeds small-star FOUR times (two
        # union branches × aggregate + join); a lazy checkpoint would
        # recompute it per reference under a cache race (measured 2.5×
        # slower on the sf1 graph), so one standalone materialization
        # job per round is the cheaper trade
        half = star(e, large=True).localCheckpoint(eager=True)
        nxt = (
            star(half, large=False)
            .join(
                e.select("_s", "_d", F.lit(1).alias("_old")),
                ["_s", "_d"],
                "left",
            )
            .select("_s", "_d", F.col("_old").isNull().alias("_new"))
            .localCheckpoint(eager=True)
        )
        n, n_new = nxt.agg(
            F.count(F.lit(1)), F.count(F.when(F.col("_new"), 1))
        ).first()
        converged = n_new == 0 and n == n_edges
        e, n_edges = nxt.select("_s", "_d"), n
        if converged:
            break
    else:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iter} "
            "rounds"
        )
    # stars: every non-center node points at its component min
    labels = e.select(
        F.col("_s").alias("node"), F.col("_d").alias("component")
    ).distinct()
    centers = all_nodes.join(
        labels.select("node"), "node", "left_anti"
    ).withColumn("component", F.col("node"))
    return labels.union(centers)


def dedup_clusters(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int | None = None,
    algorithm: str = "star",
) -> DataFrame:
    """Near-dup pair list → ``(doc_id, cluster_id)`` with cluster_id =
    min doc id of the connected component; the canonical survivor of
    each cluster is the row where ``doc_id == cluster_id``.

    ``algorithm``: ``star`` (default — a driver union-find finish for
    edge lists up to ``LOCAL_FINISH_MAX_EDGES``, else O(log n) rounds,
    measured 1.9× faster than hash-min on the sf1 near-dup graph and
    diameter-independent) or ``hashmin`` (one hop per sweep; fine for
    short-diameter blobs, simplest plan per round). ``max_iter`` bounds
    the round loop of either."""
    if algorithm == "star":
        cc, default_cap = connected_components_star, 40
    elif algorithm == "hashmin":
        cc, default_cap = connected_components, 25
    else:
        raise ValueError(f"unknown algorithm: {algorithm!r}")
    # explicit None check: `max_iter or 40` would silently turn an
    # intentional max_iter=0 (a "must already be converged" probe)
    # into the default cap
    cap = default_cap if max_iter is None else max_iter
    return cc(pairs, src, dst, max_iter=cap).select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    iterations: int = 5,
    damping: float = 0.85,
) -> DataFrame:
    """Weighted PageRank by fixed-round power iteration (Page et al.
    1999; the GraphFrames/Pregel formulation re-expressed as plain
    DataFrame steps). Returns ``(node, r)`` for every node appearing
    in the edge list:

        r₀(v) = 1/N
        rₖ₊₁(v) = (1−d)/N + d · Σ_{(u,v)∈E} rₖ(u) · w(u,v)/W(u)

    where W(u) is u's total out-weight. Dangling-node mass is dropped
    (the standard simplification — feed a symmetrized edge list if
    every participant should both emit and receive rank).

    Scale shape (the same discipline as :func:`connected_components`):
    the edge list stays FLAT — a hub node costs rows, never one giant
    adjacency array — and is normalized ONCE (w/W(u)) then
    ``localCheckpoint``-ed, so the per-round work is exactly one
    shuffle join (edges ⋈ ranks on the out-node key) and one map-side-
    combinable sum by in-node; the corpus-sized edge frame is never
    rescanned from source inside the loop. Ranks are O(N-nodes) rows;
    the per-round left join back to the node list keeps in-edge-less
    nodes at the teleport floor. A fixed round count (not a
    convergence test) keeps the plan deterministic and oracle-
    replayable; production callers pick iterations ~ O(log N) or stop
    on an L1-delta threshold.
    """
    w = F.col(weight).cast("double") if weight else F.lit(1.0)
    e = edges.select(
        F.col(src).alias("_s"), F.col(dst).alias("_d"), w.alias("_w")
    )
    wsum = e.groupBy("_s").agg(F.sum("_w").alias("_ws"))
    enorm = (
        e.join(wsum, "_s")
        .select("_s", "_d", (F.col("_w") / F.col("_ws")).alias("_p"))
        .localCheckpoint()
    )
    nodes = (
        enorm.select(F.col("_s").alias("node"))
        .union(enorm.select("_d"))
        .distinct()
        .localCheckpoint()
    )
    n = nodes.count()
    base = (1.0 - damping) / n
    ranks = nodes.select("node", F.lit(1.0 / n).alias("r"))
    for _ in range(iterations):
        contrib = (
            enorm.join(ranks, enorm["_s"] == ranks["node"])
            .groupBy("_d")
            .agg(F.sum(F.col("r") * F.col("_p")).alias("_c"))
        )
        ranks = (
            nodes.join(contrib, nodes["node"] == contrib["_d"], "left")
            .select(
                "node",
                (
                    F.lit(base)
                    + F.lit(damping) * F.coalesce(F.col("_c"), F.lit(0.0))
                ).alias("r"),
            )
        )
    return ranks


def triangle_counts(
    edges: DataFrame, a: str = "a", b: str = "b"
) -> DataFrame:
    """Per-node triangle counts by degree-ordered edge orientation
    (the MapReduce triangle-counting scheme of Suri & Vassilvitskii,
    WWW'11). Input is an UNDIRECTED simple edge list — one row per
    edge, no self-loops, each pair in exactly one orientation (the
    caller's ``a < b`` dedup is enough). Returns ``(node, triangles)``
    for every node that closes at least one triangle.

    Scale shape: the naive wedge join explodes on hub nodes — a
    degree-d node contributes C(d, 2) wedges, quadratic in the hub's
    degree. Orienting every edge from its lower-(degree, id) endpoint
    to its higher one makes each node's OUT-degree at most O(√m), so
    total wedge volume is bounded by O(m^1.5) regardless of skew
    (each triangle is generated exactly once, at its lowest-ordered
    corner). The plan is three shuffles: degree aggregation, the
    wedge self-join on the oriented source, and the closure join of
    wedge endpoints against the oriented edge list; per-node counts
    ride a map-side explode of the three corners. No driver
    collection at any size; the oriented frame is localCheckpoint-ed
    so the loop-free plan scans the (possibly expensive) upstream
    edge derivation once.
    """
    e = edges.select(F.col(a).alias("_a"), F.col(b).alias("_b"))
    deg = (
        e.select(F.col("_a").alias("node"))
        .unionAll(e.select("_b"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("_deg"))
    )
    da, db = deg.alias("da"), deg.alias("db")
    keyed = (
        e.join(da, e["_a"] == F.col("da.node"))
        .join(db, e["_b"] == F.col("db.node"))
        .select(
            "_a",
            "_b",
            F.col("da._deg").alias("_dega"),
            F.col("db._deg").alias("_degb"),
        )
    )
    lower_first = F.struct("_dega", "_a") < F.struct("_degb", "_b")
    oriented = keyed.select(
        F.when(lower_first, F.col("_a")).otherwise(F.col("_b")).alias("src"),
        F.when(lower_first, F.col("_b")).otherwise(F.col("_a")).alias("dst"),
        F.when(lower_first, F.col("_degb"))
        .otherwise(F.col("_dega"))
        .alias("ddeg"),
    ).localCheckpoint()
    x, y = oriented.alias("x"), oriented.alias("y")
    wedges = x.join(
        y,
        (F.col("x.src") == F.col("y.src"))
        & (
            F.struct(F.col("x.ddeg"), F.col("x.dst"))
            < F.struct(F.col("y.ddeg"), F.col("y.dst"))
        ),
    ).select(
        F.col("x.src").alias("u"),
        F.col("x.dst").alias("v"),
        F.col("y.dst").alias("w"),
    )
    closing = oriented.select(
        F.col("src").alias("v"), F.col("dst").alias("w")
    )
    tri = wedges.join(closing, ["v", "w"])
    return (
        tri.select(
            F.explode(F.array("u", "v", "w")).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
