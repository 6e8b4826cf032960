from __future__ import annotations

import pytest
from conftest import ABOVE_ANY_ESTIMATE
from pyspark.sql import functions as F

from gaming_ai_analytics_spark.operators import gates
from gaming_ai_analytics_spark.operators.dedup import (
    embedding_cosine_pairs,
    embedding_cosine_pairs_lsh,
    exact_dedup_canonical,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_fingerprints,
    simhash_near_pairs,
)
from gaming_ai_analytics_spark.operators.multimodal import (
    FakeDecoder,
    extract_features,
    make_assets,
    sample_frames,
)
from gaming_ai_analytics_spark.operators.similarity import (
    topk_similar,
    topk_similar_lsh,
)
from gaming_ai_analytics_spark.sources.star import load_table

SF = "/root/testdata/sf0.01"  # documents/embeddings are small at every sf


def _pairs(df):
    return {(r.id_a, r.id_b) for r in df.collect()}


def test_exact_dedup_keeps_lowest_id(spark):
    df = spark.createDataFrame(
        [(3, "fast table scan"), (1, "fast table scan"), (2, "other text")],
        "doc_id long, text string",
    )
    out = exact_dedup_canonical(df, "doc_id", "text")
    assert {r.doc_id for r in out.collect()} == {1, 2}


def test_minhash_lsh_recall_equals_exact(spark):
    """At the fixtures' similarity gap (planted ≥0.9, noise <0.3),
    banded MinHash must find every exact-Jaccard pair."""
    docs = load_table(spark, SF, "documents")
    exact = _pairs(ngram_jaccard_pairs(docs, "doc_id", "text", 3, 0.5))
    lsh = _pairs(minhash_lsh_pairs(docs, "doc_id", "text", 3, 0.5))
    assert exact, "fixture should contain planted near-dups"
    assert lsh == exact


def test_simhash_identical_text_same_fingerprint(spark):
    df = spark.createDataFrame(
        [(1, "fast table scan merge"), (2, "fast table scan merge"), (3, "zzz qqq")],
        "doc_id long, text string",
    )
    fps = {r.doc_id: r.simhash for r in simhash_fingerprints(df, "doc_id", "text").collect()}
    assert fps[1] == fps[2]
    assert fps[1] != fps[3]


def test_simhash_finds_planted_neardups(spark):
    """Planted Jaccard-0.9 pairs must appear among Hamming-≤8 pairs."""
    docs = load_table(spark, SF, "documents")
    exact = _pairs(ngram_jaccard_pairs(docs, "doc_id", "text", 3, 0.9))
    sim = _pairs(simhash_near_pairs(docs, "doc_id", "text", max_hamming=8))
    assert exact
    missed = exact - sim
    assert len(missed) <= len(exact) * 0.2  # simhash is lossy; ≥80% recall here


def test_embedding_lsh_recall(spark):
    emb = load_table(spark, SF, "embeddings")
    exact = _pairs(embedding_cosine_pairs(emb, "vec_id", "embedding", 0.5))
    lsh = _pairs(embedding_cosine_pairs_lsh(emb, "vec_id", "embedding", 0.5))
    assert exact
    assert lsh == exact  # high-cosine pairs collide in some band at 4×4 bits


def test_topk_lsh_mapside_matches_join_path(spark):
    """The map-side probe-literal tier (``probe_rows`` supplied) must
    return the IDENTICAL result set as the join-based path: same
    signature chunks (the driver-side sequential fold reproduces the
    JVM kernel bit-for-bit), same candidates, same ranking. Guards the
    one-shuffle rewrite against any drift in either path."""
    emb = load_table(spark, SF, "embeddings")
    probes = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    join_path = topk_similar_lsh(emb, probes, k=5, dim=64)
    prows = [(r.probe_id, list(r.embedding)) for r in probes.collect()]
    mapside = topk_similar_lsh(emb, probes, k=5, dim=64, probe_rows=prows)
    assert sorted(map(tuple, join_path.collect())) == sorted(
        map(tuple, mapside.collect())
    )


def test_topk_lsh_recall_vs_exact(spark):
    emb = load_table(spark, SF, "embeddings")
    probes = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    exact = topk_similar(emb, probes, k=5).collect()
    ann = topk_similar_lsh(emb, probes, k=5).collect()
    exact_set = {(r.probe_id, r.vec_id) for r in exact}
    ann_set = {(r.probe_id, r.vec_id) for r in ann}
    # ANN is approximate, and the fixture corpus is adversarial for
    # LSH: vectors are random, so true top-5 neighbors sit at cosine
    # ~0.2 where hyperplane agreement is barely above chance (recall
    # here ≈ 1-(1-p⁴)⁴, p≈0.56 → ~0.35). Real embedding corpora have
    # high-cosine neighbors where banding recall → 1 (see
    # test_embedding_lsh_recall, which hits 100% on the planted pair).
    assert len(ann_set & exact_set) >= len(exact_set) * 0.2
    # the REGISTERED configuration (48 planes / 12 bands — the r6
    # recall-contract tier) must carry its 0.7 floor
    ann48 = topk_similar_lsh(
        emb, probes, k=5, dim=64, n_planes=48, bands=12
    ).collect()
    ann48_set = {(r.probe_id, r.vec_id) for r in ann48}
    assert len(ann48_set & exact_set) >= len(exact_set) * 0.7
    # and every probe returns k results
    by_probe = {}
    for r in ann:
        by_probe.setdefault(r.probe_id, []).append(r.rank)
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in by_probe.values())


def test_multimodal_features_shape_and_determinism(spark):
    docs = load_table(spark, SF, "documents").limit(50)
    feats = extract_features(make_assets(docs), FakeDecoder())
    rows = feats.collect()
    assert len(rows) == 50
    for r in rows:
        assert len(r.features) == 16
        assert abs(sum(r.features) - 1.0) < 1e-3  # L1-normalized histogram
        assert r.kind in {"image", "audio", "video"}
    again = {r.asset_id: list(r.features) for r in feats.collect()}
    assert all(list(r.features) == again[r.asset_id] for r in rows)


def test_multimodal_empty_and_null_payload_invariants(spark):
    """The registered multimodal oracles pin feat_l1=1.0 / feat_dim=16
    / resized_len=32 as CONSTANTS for every row. That is only safe if
    a null/empty text keeps the invariants: FakeDecoder substitutes a
    single zero byte, so the histogram still carries unit L1 mass and
    the resize still pads to the fixed length. Pin it on a synthetic
    frame so a decoder change that breaks the invariant fails HERE,
    not as a driver hash mismatch on some future fixture."""
    from gaming_ai_analytics_spark.operators.multimodal import (
        TARGET_SAMPLES,
        resize_assets,
    )

    docs = spark.createDataFrame(
        [(0, None, None, 0), (1, "", "en", 0), (2, "abc", "en", 3)],
        ["doc_id", "text", "lang", "n_chars"],
    )
    assets = make_assets(docs)
    feats = {r.asset_id: r for r in extract_features(assets).collect()}
    assert set(feats) == {0, 1, 2}
    for r in feats.values():
        assert len(r.features) == 16
        assert abs(sum(r.features) - 1.0) < 1e-3
    assert feats[0].n_bytes == 0 and feats[1].n_bytes == 0
    resized = {r.asset_id: r for r in resize_assets(assets).collect()}
    assert all(
        len(r.resized) == TARGET_SAMPLES for r in resized.values()
    )
    assert resized[0].orig_bytes == 0 and resized[1].orig_bytes == 0


def test_multimodal_invariants_hold_for_empty_decoding_decoder(spark):
    """r6: the L1=1 / fixed-resized-length invariants are enforced at
    the OPERATOR level, not delegated to decoder behavior — a decoder
    that returns an EMPTY buffer (unlike FakeDecoder's 1-byte
    substitute) must still satisfy the registered oracles' pinned
    constants."""
    import numpy as np

    from gaming_ai_analytics_spark.operators.multimodal import (
        TARGET_SAMPLES,
        resize_assets,
    )

    class EmptyDecoder:
        def decode(self, payload):
            return np.empty(0, dtype=np.uint8)

    docs = spark.createDataFrame(
        [(0, "whatever", "en", 8)], ["doc_id", "text", "lang", "n_chars"]
    )
    assets = make_assets(docs)
    (feat,) = extract_features(assets, EmptyDecoder()).collect()
    assert len(feat.features) == 16
    assert abs(sum(feat.features) - 1.0) < 1e-3
    (res,) = resize_assets(assets, EmptyDecoder()).collect()
    assert len(res.resized) == TARGET_SAMPLES


def test_exact_cosine_pairs_refuses_corpus_scale(spark, monkeypatch):
    """r6 (verdict soft spot #8b): above the arrow-exact-max bound the
    exact tier must FAIL LOUDLY toward the LSH tier rather than fall
    through to the O(n²) theta self-join."""
    emb = load_table(spark, SF, "embeddings")
    monkeypatch.setitem(gates.THRESHOLDS, "arrow-exact-max", 1)
    with pytest.raises(ValueError, match="embedding_cosine_pairs_lsh"):
        embedding_cosine_pairs(emb, "vec_id", "embedding", 0.5)


def test_cosine_pairs_arrow_tier_matches_expression_tier(spark, monkeypatch):
    """embedding_cosine_pairs picks its physical strategy by corpus
    size (expression-fold BNL vs sparse Arrow matmul). Both tiers must
    return the identical pair set — the same (rounded cosine ≥
    threshold) decision is applied JVM-side on both paths, so a
    boundary pair cannot split them. Also pinned at the 10× sweep
    scale once (r5: 91400 identical pairs, 111 s → 1.5 s)."""
    emb = load_table(spark, SF, "embeddings")
    expr_pairs = sorted(
        map(tuple, embedding_cosine_pairs(emb, "vec_id", "embedding", 0.5).collect())
    )
    monkeypatch.setitem(gates.THRESHOLDS, "arrow-fanout", 0)
    arrow_pairs = sorted(
        map(tuple, embedding_cosine_pairs(emb, "vec_id", "embedding", 0.5).collect())
    )
    assert expr_pairs == arrow_pairs
    assert expr_pairs  # the fixture plants at least one near-dup pair


def test_frame_sampling_only_video(spark):
    docs = load_table(spark, SF, "documents").limit(60)
    frames = sample_frames(make_assets(docs))
    rows = frames.collect()
    assert rows
    assert all(r.asset_id % 3 == 2 for r in rows)  # video kind
    assert all(len(r.frame_bytes) <= 64 for r in rows)


def test_rhp_arrow_kernel_matches_expression_form(spark, sf_dir, monkeypatch):
    """The Arrow matmul signature and the interpreted expression fold
    must bucket identically on the fixture (sign flips are possible
    only at |v·p| ≈ ulp, and exact-cosine verification absorbs them) —
    the verified pair set must be equal either way."""
    from gaming_ai_analytics_spark.operators.dedup import (
        _hyperplanes,
        _rhp_signature,
        _rhp_signature_arrow,
        embedding_cosine_pairs_lsh,
    )
    from pyspark.sql import functions as F

    # sf0.01: the smallest fixture with planted near-dup pairs
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    planes = _hyperplanes(64, 16)
    sigs = emb.select(
        _rhp_signature(F.col("embedding"), planes).alias("s_expr"),
        _rhp_signature_arrow(F.col("embedding"), planes).alias("s_arrow"),
    )
    assert sigs.filter(F.col("s_expr") != F.col("s_arrow")).count() == 0

    def pairs(bound):
        monkeypatch.setitem(gates.THRESHOLDS, "arrow-signature", bound)
        return {
            (r.id_a, r.id_b)
            for r in embedding_cosine_pairs_lsh(
                emb, "vec_id", "embedding", threshold=0.5, dim=64
            ).collect()
        }

    expr_pairs = pairs(ABOVE_ANY_ESTIMATE)
    arrow_pairs = pairs(0)
    assert expr_pairs == arrow_pairs
    assert arrow_pairs  # non-trivial


def test_lsh_plan_construction_runs_no_job(spark, sf_dir, monkeypatch):
    """With ``dim`` supplied, building the LSH plans must not trigger
    any Spark action (the old code probed the vector length with
    ``.first()`` — a job inside plan construction)."""
    from pyspark.sql import DataFrame

    from gaming_ai_analytics_spark.operators.dedup import embedding_cosine_pairs_lsh
    from gaming_ai_analytics_spark.operators.similarity import topk_similar_lsh

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    probes = emb.filter("vec_id < 5").withColumnRenamed("vec_id", "probe_id")

    def boom(*a, **k):  # any action during plan construction fails the test
        raise AssertionError("action triggered during plan construction")

    for action in ("first", "collect", "take", "head", "count"):
        monkeypatch.setattr(DataFrame, action, boom)
    embedding_cosine_pairs_lsh(emb, "vec_id", "embedding", dim=64)
    topk_similar_lsh(emb, probes, k=5, dim=64)


def test_frame_sampling_non_ascii_uses_char_offsets(spark):
    """Frame count and slice boundaries use character positions
    consistently — a multi-byte payload must not produce extra frames
    from byte-length counting (the oracle measures LENGTH(text) in
    chars)."""
    docs = spark.createDataFrame(
        [(2, "é" * 100, "fr", 100)], ["doc_id", "text", "lang", "n_chars"]
    )
    rows = sample_frames(make_assets(docs)).collect()
    # 100 chars (200 UTF-8 bytes) at 64-char stride → frames 0 and 1
    assert sorted(r.frame_no for r in rows) == [0, 1]
    assert [len(r.frame_bytes) for r in sorted(rows, key=lambda r: r.frame_no)] == [64, 36]


def test_ivf_recall_vs_exact(spark, sf_dir):
    from gaming_ai_analytics_spark.operators.similarity import (
        topk_similar,
        topk_similar_ivf,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    probes = emb.filter("vec_id < 5").withColumnRenamed("vec_id", "probe_id")
    exact = {(r.probe_id, r.vec_id) for r in topk_similar(emb, probes, k=5).collect()}
    ivf = {
        (r.probe_id, r.vec_id)
        for r in topk_similar_ivf(emb, probes, k=5, n_probe=6).collect()
    }
    assert len(exact & ivf) / len(exact) >= 0.6
    # every IVF hit is a real vector with a true cosine — no fabrication
    assert all(pid != vid for pid, vid in ivf)
    # the REGISTERED configuration (n_probe=8 — the r6 recall-contract
    # tier) must carry its 0.75 floor
    ivf8 = {
        (r.probe_id, r.vec_id)
        for r in topk_similar_ivf(emb, probes, k=5, n_probe=8).collect()
    }
    assert len(exact & ivf8) / len(exact) >= 0.75


def test_resize_assets_fixed_length_and_deterministic(spark, sf_dir):
    from gaming_ai_analytics_spark.operators.multimodal import (
        StubDecoder,
        make_assets,
        resize_assets,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    assets = make_assets(docs)
    out1 = {r.asset_id: r.resized for r in resize_assets(assets).collect()}
    out2 = {r.asset_id: r.resized for r in resize_assets(assets).collect()}
    assert out1 == out2
    assert all(len(v) == 32 for v in out1.values())
    assert len(out1) == 50

    import pytest

    with pytest.raises(Exception, match="NotImplementedError|codecs"):
        resize_assets(assets, decoder=StubDecoder()).collect()


def test_ivf_index_persist_roundtrip(spark, tmp_path):
    """Build-once/probe-many: a saved+reloaded IVF index answers
    identically to the in-memory build (same quantizer seed), with the
    cell assignment riding a _cell-bucketed table."""
    from gaming_ai_analytics_spark.operators.similarity import (
        build_ivf_index,
        ivf_probe,
        load_ivf_index,
        save_ivf_index,
        topk_similar_ivf,
    )
    from gaming_ai_analytics_spark.sources.io import TableStore
    from gaming_ai_analytics_spark.sources.star import load_table

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings")
    probes = emb.limit(4).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )

    direct = topk_similar_ivf(emb, probes, k=3)

    store = TableStore(spark, str(tmp_path / "wh"))
    assigned, cents = build_ivf_index(emb)
    save_ivf_index(store, "gold", "emb_ivf", assigned, cents)
    l_assigned, l_cents, meta = load_ivf_index(spark, store, "gold", "emb_ivf")
    assert (meta["n_clusters"], meta["dim"]) == cents.shape
    from_index = ivf_probe(l_assigned, l_cents, probes, k=3)

    a = sorted(tuple(r) for r in direct.collect())
    b = sorted(tuple(r) for r in from_index.collect())
    assert a == b and len(a) == 12

    # the saved-probe wrapper answers identically and its parameter-
    # meta guard rejects out-of-range n_probe and wrong-dim probes
    from gaming_ai_analytics_spark.operators.similarity import (
        topk_similar_ivf_saved,
    )

    c = sorted(
        tuple(r)
        for r in topk_similar_ivf_saved(
            (l_assigned, l_cents, meta), probes, k=3, n_probe=4
        ).collect()
    )
    assert c == a
    with pytest.raises(ValueError, match="exceeds the saved quantizer"):
        topk_similar_ivf_saved(
            (l_assigned, l_cents, meta), probes, k=3, n_probe=999
        )
    bad_dim = probes.select(
        "probe_id", F.slice("embedding", 1, 3).alias("embedding")
    )
    with pytest.raises(ValueError, match="dim"):
        topk_similar_ivf_saved(
            (l_assigned, l_cents, meta), bad_dim, k=3, n_probe=4
        )


def test_dedup_rate_by_source_counts_exact_dups(spark):
    from gaming_ai_analytics_spark.queries_llm import q_dedup_rate_by_source
    from gaming_ai_analytics_spark.sources import star

    rows = [
        (1, "Same Text!", "en", "a", 10),
        (2, "same text",  "en", "a", 9),    # normalizes identically → dup
        (3, "different entirely", "en", "a", 18),
        (4, "unique here", "en", "b", 11),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
        "n_chars long"
    )
    key = (spark.sparkContext.applicationId, "_mem", "documents")
    star._TABLE_CACHE[key] = df
    try:
        out = {r.source: (r.n_docs, r.n_distinct, r.dup_rate)
               for r in q_dedup_rate_by_source(spark, "_mem").collect()}
    finally:
        del star._TABLE_CACHE[key]
    assert out["a"] == (3, 2, round(1 - 2 / 3, 6))
    assert out["b"] == (4 - 3, 1, 0.0)


def test_dup_similarity_histogram_bands_planted_pair(spark):
    from gaming_ai_analytics_spark.queries_llm import (
        q_dup_similarity_histogram,
    )
    from gaming_ai_analytics_spark.sources import star

    base = [f"w{i}" for i in range(20)]
    near = base[:-1] + ["zz"]  # high-Jaccard neighbor of base
    rows = [
        (1, " ".join(base), "en", "s", 99),
        (2, " ".join(near), "en", "s", 99),
        (3, " ".join(f"q{i}" for i in range(20)), "en", "s", 99),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
        "n_chars long"
    )
    key = (spark.sparkContext.applicationId, "_mem", "documents")
    star._TABLE_CACHE[key] = df
    try:
        out = {r.band: r.n_pairs
               for r in q_dup_similarity_histogram(spark, "_mem").collect()}
    finally:
        del star._TABLE_CACHE[key]
    # exactly one candidate pair, landing in a single ≥0.3 band
    assert sum(out.values()) == 1
    assert all(b >= 0.3 for b in out)


def test_fuzzy_pairs_blocked_no_cartesian(spark, sf_dir):
    """Fuzzy name matching must candidate-generate via the blocking-key
    equi-join — never a cross/nested-loop join — and every emitted
    pair must respect the ordering and distance contracts."""
    from gaming_ai_analytics_spark.queries_ext import q_fuzzy_part_name_pairs

    df = q_fuzzy_part_name_pairs(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    rows = df.collect()
    # symmetric-dedup contract: each unordered pair appears once;
    # identical names never pair with themselves (strict <)
    assert all(r.name_a < r.name_b for r in rows)
    assert all(1 <= r.dist <= 3 for r in rows)


def test_embedding_lsh_subset_of_exact_two_sfs(spark):
    """Precision invariant behind the dedup_embedding_lsh recall
    contract: LSH candidates are exact-cosine-verified, so the
    emitted pair set must be a SUBSET of the exact tier's at every
    scale factor — including sf0.1, whose all-borderline corpus is
    where recall (deliberately) drops and where a banding bug that
    ADMITS false pairs would otherwise hide."""
    from gaming_ai_analytics_spark.operators.dedup import (
        embedding_cosine_pairs,
        embedding_cosine_pairs_lsh,
    )

    for sf in (SF, "/root/testdata/sf0.1"):
        emb = load_table(spark, sf, "embeddings")
        exact = _pairs(embedding_cosine_pairs(emb, "vec_id", "embedding", 0.5))
        lsh = _pairs(
            embedding_cosine_pairs_lsh(
                emb, "vec_id", "embedding", 0.5, dim=64
            )
        )
        assert set(lsh) <= set(exact), sf
        assert len(lsh) >= 0.4 * len(exact), sf
        # the REGISTERED banding (48/12 — the r6 recall-contract tier):
        # same subset invariant, and the 0.85 floor holds even on
        # sf0.1's all-borderline corpus (θ=60° pairs; measured 13/14)
        lsh48 = _pairs(
            embedding_cosine_pairs_lsh(
                emb, "vec_id", "embedding", 0.5,
                n_planes=48, bands=12, dim=64,
            )
        )
        assert set(lsh48) <= set(exact), sf
        assert len(lsh48) >= 0.85 * len(exact), sf


def test_self_join_hint_gate_paths_agree(spark, monkeypatch):
    """The shuffle_hash-vs-planner gate (planner-trust) is a
    physical-plan choice only: force BOTH paths on the same parquet
    corpus and require identical pair sets, and pin that the gate
    actually selects the intended path for each source class
    (tiny parquet scan → planner; createDataFrame → hint)."""
    docs = load_table(spark, SF, "documents")
    # gate selection: sf0.01 parquet is far below the gate → planner
    assert not gates.large("planner-trust", docs)
    # Catalyst cannot size a createDataFrame frame: it estimates
    # Long.MaxValue and so takes the large side of every strategy
    # gate — but never of a refusal bound, which needs a known size
    local = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    assert gates.estimate(local) == (1 << 63) - 1
    assert all(
        gates.large(g, local) != (g in gates.REFUSALS)
        for g in gates.THRESHOLDS
    )

    planner = _pairs(minhash_lsh_pairs(docs, "doc_id", "text", 3, 0.5))
    planner_j = _pairs(ngram_jaccard_pairs(docs, "doc_id", "text", 3, 0.5))
    monkeypatch.setitem(gates.THRESHOLDS, "planner-trust", 0)  # hint path
    assert _pairs(minhash_lsh_pairs(docs, "doc_id", "text", 3, 0.5)) == planner
    assert _pairs(ngram_jaccard_pairs(docs, "doc_id", "text", 3, 0.5)) == planner_j


def test_incremental_lsh_matches_full_cross_pairs(spark, sf_dir, tmp_path):
    """Dedup-the-increment against a persisted LSH index must find
    exactly the cross-split subset of the full-corpus near-dup pairs —
    the corpus side served entirely from the bucketed index tables."""
    import uuid

    from gaming_ai_analytics_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_lsh_pairs_incremental,
        save_minhash_index,
    )
    from gaming_ai_analytics_spark.sources.io import TableStore

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        "text IS NOT NULL"
    )
    corpus = docs.filter("doc_id % 10 != 0")
    inc = docs.filter("doc_id % 10 = 0")
    store = TableStore(spark, str(tmp_path))
    name = f"docs_{uuid.uuid4().hex[:8]}"
    t_bands, t_sh = save_minhash_index(
        store, "t", name, corpus, "doc_id", "text", num_buckets=8
    )
    try:
        got = {
            (r.id_new, r.id_corpus, r.jaccard)
            for r in minhash_lsh_pairs_incremental(
                store, "t", name, inc, "doc_id", "text"
            ).collect()
        }
        full = minhash_lsh_pairs(docs, "doc_id", "text").collect()
        want = {
            (r.id_a, r.id_b, r.jaccard)
            if r.id_a % 10 == 0
            else (r.id_b, r.id_a, r.jaccard)
            for r in full
            if (r.id_a % 10 == 0) != (r.id_b % 10 == 0)
        }
        assert got == want
        assert want  # fixture plants cross-split near-dups
    finally:
        for t in (t_bands, t_sh):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_semantic_dedup_drops_all_but_lowest_id(spark):
    """Planted identical-triples: within each triple every pair is at
    cosine 1.0 and trivially shares a cell, so exactly the two larger
    ids of each triple are dropped (keep-lowest-id rule). Cross-group
    cosines on random 64-d unit vectors never reach 0.9."""
    import numpy as np

    from gaming_ai_analytics_spark.operators.similarity import semantic_dedup

    rng = np.random.RandomState(7)
    base = rng.randn(4, 64)
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    rows = [
        (g * 3 + i, [float(x) for x in base[g]])
        for g in range(4)
        for i in range(3)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    dropped = {
        r.vec_id
        for r in semantic_dedup(
            df, threshold=0.9, n_clusters=2, n_assign=2, seed=1
        ).collect()
    }
    assert dropped == {1, 2, 4, 5, 7, 8, 10, 11}


def test_semantic_dedup_sound_and_recall_vs_exact(spark):
    """Fixture contract twin of the registered query: the k-means
    blocking must drop ONLY docs the exact tier deems droppable
    (soundness is structural — same rounded cosine test) and ≥85% of
    them at n_assign=3 (the sf0.1 corpus is all boundary pairs)."""
    from gaming_ai_analytics_spark.operators.similarity import semantic_dedup

    emb = load_table(spark, SF, "embeddings")
    droppable = {
        r.id_b
        for r in embedding_cosine_pairs(
            emb, "vec_id", "embedding", 0.5
        ).collect()
    }
    dropped = {
        r.vec_id
        for r in semantic_dedup(
            emb, threshold=0.5, n_clusters=16, n_assign=3
        ).collect()
    }
    assert droppable, "fixture should contain droppable near-dups"
    assert dropped <= droppable
    assert len(dropped) >= 0.85 * len(droppable)


def test_containment_catches_asymmetric_quote(spark):
    """A short doc quoted verbatim inside a much larger one:
    containment(small→big) == 1.0 while Jaccard sits far below any
    dedup threshold — the case the directed measure exists for."""
    from gaming_ai_analytics_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    quote = " ".join(f"q{i}" for i in range(10))
    filler = " ".join(f"w{i}" for i in range(90))
    rows = [
        (1, quote),
        (2, filler + " " + quote),
        (3, "totally unrelated text about nothing shared here at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.id_contained, r.id_container): r.containment
        for r in containment_pairs(
            df, "doc_id", "text", threshold=0.8
        ).collect()
    }
    assert got == {(1, 2): 1.0}
    # Jaccard misses it: |A∩B| = 8 shingles, |A∪B| = 98 → ~0.08
    jac = ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.5).collect()
    assert jac == []


def test_containment_mutual_direction_emitted_once_each(spark):
    """Two identical docs contain each other: both directed rows
    emitted, each exactly once, containment 1.0."""
    from gaming_ai_analytics_spark.operators.dedup import containment_pairs

    text = "alpha beta gamma delta epsilon zeta"
    df = spark.createDataFrame(
        [(1, text), (2, text)], "doc_id long, text string"
    )
    got = sorted(
        (r.id_contained, r.id_container, r.containment)
        for r in containment_pairs(df, "doc_id", "text").collect()
    )
    assert got == [(1, 2, 1.0), (2, 1, 1.0)]


def test_duplicate_ngram_spans_planted(spark, tmp_path):
    """Planted cross-doc span: docs 1 and 2 share one 8-word span
    inside otherwise-unique text; doc 3 shares nothing.  The shared
    span's 8-grams must be flagged in BOTH carriers, the unique
    doc must read 0.0, and a doc shorter than 8 words must be absent."""
    from gaming_ai_analytics_spark.queries_llm import (
        q_duplicate_ngram_spans,
    )

    span = "alpha beta gamma delta epsilon zeta eta theta"  # 8 words
    rows = [
        (1, f"one two three {span} four five six"),
        (2, f"seven eight nine ten {span} eleven"),
        (3, "completely different words with no shared span at all x y z"),
        (4, "too short"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string").select(
        "doc_id", "text",
        F.lit("en").alias("lang"), F.lit("s").alias("source"),
        F.length("text").alias("n_chars"),
    )
    df.write.parquet(f"{tmp_path}/documents.parquet")
    out = {r.doc_id: r for r in q_duplicate_ngram_spans(
        spark, str(tmp_path)
    ).collect()}
    assert set(out) == {1, 2, 3}  # doc 4: < 8 words, no spans
    # docs 1/2: exactly ONE shared 8-gram (the planted span); every
    # other 8-gram straddles unique context words
    assert out[1].n_dup_spans == 1 and out[2].n_dup_spans == 1
    assert out[3].n_dup_spans == 0
    assert out[3].dup_span_frac == 0.0
    assert 0 < out[1].dup_span_frac < 1


def test_duplicate_ngram_spans_skew_guard(sf_dir):
    """ADVICE r10 guard metric: `duplicate_ngram_spans` attaches df
    with an aggregate window partitioned by the raw 8-gram — a
    documented trade (2x cheaper than the join form at sf10) whose
    residual risk is a degenerate boilerplate gram funnelling
    df/|corpus| rows through one task AQE cannot skew-split.  This
    pins the fixture-side precondition: the hottest gram may cover at
    most 5% of documents.  A regenerated fixture (or upstream corpus)
    that breaches it fails HERE with the remedy named — switch the
    query to the join-back form (A/B'd in BASELINE.md §3) or strip
    the boilerplate first — instead of silently serializing the
    window stage at scale."""
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    max_df, n_docs = con.execute(
        """
        WITH toks AS (
          SELECT doc_id, string_split_regex(TRIM(text), ' +') AS t
          FROM documents
          WHERE text IS NOT NULL AND LENGTH(TRIM(text)) > 0),
        g AS (
          SELECT DISTINCT doc_id,
                 t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
                   || ' ' || t[i+4] || ' ' || t[i+5] || ' ' || t[i+6]
                   || ' ' || t[i+7] AS g
          FROM (SELECT doc_id, t,
                       unnest(generate_series(1, len(t) - 7)) AS i
                FROM toks WHERE len(t) >= 8))
        SELECT MAX(df), (SELECT COUNT(*) FROM toks)
        FROM (SELECT g, COUNT(*) AS df FROM g GROUP BY 1)
        """
    ).fetchone()
    assert max_df <= 0.05 * n_docs, (
        f"hottest 8-gram appears in {max_df}/{n_docs} docs — the "
        "gram-window form of duplicate_ngram_spans would funnel that "
        "share of the corpus through one unsplittable task; use the "
        "join-back form or strip the boilerplate"
    )


def test_duplicate_span_removal_planted(spark, tmp_path):
    """Planted removal: docs 1 and 2 share one 8-word span — exactly
    those 8 tokens must be removed from BOTH carriers and the
    surrounding unique context kept in order; an untouched doc
    re-emits its (whitespace-normalized) text verbatim; a sub-8-word
    doc is kept whole; a doc that is NOTHING BUT the shared span
    vanishes from the cleaned corpus."""
    from gaming_ai_analytics_spark.queries_llm import (
        q_duplicate_span_removal,
    )

    span = "alpha beta gamma delta epsilon zeta eta theta"  # 8 words
    rows = [
        (1, f"one two three {span} four five six"),
        (2, f"seven eight nine ten {span} eleven"),
        (3, "completely different words with no shared span at all"),
        (4, "too short"),
        (5, span),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string").select(
        "doc_id", "text",
        F.lit("en").alias("lang"), F.lit("s").alias("source"),
        F.length("text").alias("n_chars"),
    )
    df.write.parquet(f"{tmp_path}/documents.parquet")
    out = {r.doc_id: r for r in q_duplicate_span_removal(
        spark, str(tmp_path)
    ).collect()}
    assert set(out) == {1, 2, 3, 4}  # doc 5 fully covered -> vanishes
    assert out[1].cleaned_text == "one two three four five six"
    assert out[1].n_removed == 8 and out[1].n_tokens == 14
    assert out[2].cleaned_text == "seven eight nine ten eleven"
    assert out[3].cleaned_text == rows[2][1] and out[3].n_removed == 0
    assert out[4].cleaned_text == "too short" and out[4].n_removed == 0


@pytest.mark.parametrize("ansi", ["true", "false"])
def test_span_removal_interval_complement_edges(spark, ansi):
    """r14: the coverage aggregate collects distinct STARTS and the
    kept positions are rebuilt as a map-side interval complement
    (dedup.remove_duplicate_spans). Pin the complement's edge cases
    against hand-computed truth at k=2: a covered HEAD at position 0
    (no head range — and Spark's sequence(a,b) DESCENDS when b<a, so
    an unguarded head would emit [0,-1]), an OVERLAPPING start chain
    collapsing to one interval, a TAIL gap after the last interval,
    full coverage (doc vanishes), and an untouched doc (null-join
    path keeps everything). Run with ANSI mode on and off: the
    untouched doc's empty-starts path must not raise in either."""
    from gaming_ai_analytics_spark.operators.dedup import (
        remove_duplicate_spans,
    )

    rows = [
        (1, "a b c d e"),    # starts {0,1,2} overlap-chain -> kept "e"
        (2, "a b x y z"),    # head covered at 0 -> kept "x y z"
        (3, "p q r a b"),    # tail covered -> kept "p q r"
        (4, "a b"),          # fully covered -> vanishes
        (5, "m n o"),        # unique -> untouched
        (6, "a b c x"),      # two adjacent starts -> kept "x"
        (7, "b c d x"),      # duplicated "b c","c d" -> kept "x"
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    old = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", ansi)
    try:
        got = {
            r.doc_id: (r.n_tokens, r.n_kept, r.n_removed, r.cleaned_text)
            for r in remove_duplicate_spans(
                df, "doc_id", "text", k=2
            ).collect()
        }
    finally:
        spark.conf.set("spark.sql.ansi.enabled", old)
    assert got == {
        1: (5, 1, 4, "e"),
        2: (5, 3, 2, "x y z"),
        3: (5, 3, 2, "p q r"),
        5: (3, 3, 0, "m n o"),
        6: (4, 1, 3, "x"),
        7: (4, 1, 3, "x"),
    }


def test_cross_corpus_minhash_hint_gate(spark, monkeypatch, sf_dir):
    """Both planner-trust gate paths of the fuzzy-decontamination
    verify join must agree on values, and the forced-hint path must
    plan the train shingle-array join as a ShuffledHashJoin — at
    scale Catalyst's pre-explode size estimate statically broadcast
    the corpus-sized array frame (the r8 heap-OOM class; fixed r10)."""
    from gaming_ai_analytics_spark.operators import dedup as D

    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("source") != "src0")
    ev = docs.filter(F.col("source") == "src0")

    planner = sorted(map(tuple, D.cross_corpus_minhash(
        train, ev, "doc_id", "text", k=3, threshold=0.5
    ).collect()))
    monkeypatch.setitem(gates.THRESHOLDS, "planner-trust", 0)
    hinted_df = D.cross_corpus_minhash(
        train, ev, "doc_id", "text", k=3, threshold=0.5
    )
    plan = hinted_df._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan, plan[:1500]
    assert sorted(map(tuple, hinted_df.collect())) == planner


# ---------------------------------------------------------------------------
# product quantization (r13)
# ---------------------------------------------------------------------------
def test_pq_codebooks_deterministic_and_shaped(spark):
    """Same corpus + seed → byte-identical codebooks; shape is
    (m, ksub, dim/m); the hash-stride sample keeps the collect
    bounded even when sample_rows < corpus."""
    import numpy as np

    from gaming_ai_analytics_spark.operators.similarity import (
        train_pq_codebooks,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    b1 = train_pq_codebooks(emb, dim=64, m=8, ksub=16)
    b2 = train_pq_codebooks(emb, dim=64, m=8, ksub=16)
    assert b1.shape == (8, 16, 8)
    assert np.array_equal(b1, b2)
    # bounded-sample path: stride > 1 still trains every subspace
    b3 = train_pq_codebooks(emb, dim=64, m=8, ksub=16, sample_rows=100)
    assert b3.shape == (8, 16, 8)
    import pytest

    with pytest.raises(ValueError, match="not divisible"):
        train_pq_codebooks(emb, dim=64, m=7)


def test_pq_encode_codes_in_range_and_kernel_parity(spark, monkeypatch):
    """Both encoders emit m codes in [0, ksub); the Arrow kernel and
    the expression form agree (identical distance geometry — ties on
    the fixture's continuous data are measure-zero)."""
    from gaming_ai_analytics_spark.operators.similarity import (
        pq_encode,
        train_pq_codebooks,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    books = train_pq_codebooks(emb, dim=64, m=8, ksub=16)

    def codes(bound):
        monkeypatch.setitem(gates.THRESHOLDS, "arrow-fanout", bound)
        return {
            r.vec_id: tuple(r._codes) for r in pq_encode(emb, books).collect()
        }

    expr = codes(ABOVE_ANY_ESTIMATE)
    arrow = codes(0)
    assert expr == arrow
    assert all(
        len(c) == 8 and all(0 <= x < 16 for x in c) for c in expr.values()
    )


def test_pq_recall_vs_exact_and_refine_exactness(spark):
    """The REGISTERED configuration (m=16, ksub=32, refine=20) must
    carry its 0.8 floor, and every PQ hit's cosine must EQUAL the
    exact tier's value for that (probe, vec) — the re-rank stage
    scores candidates with the same rounded fold, so a divergence is
    a refine-path bug, not quantization error."""
    from gaming_ai_analytics_spark.operators.similarity import (
        topk_similar,
        topk_similar_pq,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    probes = emb.filter("vec_id < 5").withColumnRenamed("vec_id", "probe_id")
    exact = {
        (r.probe_id, r.vec_id): r.cosine
        for r in topk_similar(emb, probes, k=5).collect()
    }
    pq_rows = topk_similar_pq(
        emb, probes, k=5, dim=64, m=16, ksub=32, refine=20
    ).collect()
    pq = {(r.probe_id, r.vec_id): r.cosine for r in pq_rows}
    hits = set(exact) & set(pq)
    assert len(hits) / len(exact) >= 0.8
    assert all(exact[h] == pq[h] for h in hits)
    assert all(pid != vid for pid, vid in pq)
    # determinism: a second run returns the identical result set
    pq2 = {
        (r.probe_id, r.vec_id): r.cosine
        for r in topk_similar_pq(
            emb, probes, k=5, dim=64, m=16, ksub=32, refine=20
        ).collect()
    }
    assert pq == pq2


def test_pq_index_persist_roundtrip_and_meta_guard(spark, tmp_path):
    """Build-once/probe-many: a saved+reloaded PQ index answers
    IDENTICALLY to the in-memory build (same codebooks by seed, codes
    persisted verbatim), and the meta guard rejects a torn index and
    a wrong-dimensionality probe frame."""
    import pytest

    from gaming_ai_analytics_spark.operators.similarity import (
        load_pq_index,
        pq_encode,
        save_pq_index,
        topk_similar_pq,
        topk_similar_pq_saved,
        train_pq_codebooks,
    )
    from gaming_ai_analytics_spark.sources.io import TableStore
    from gaming_ai_analytics_spark.sources.star import load_table

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings")
    probes = emb.filter("vec_id < 4").select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    books = train_pq_codebooks(emb, dim=64, m=8, ksub=16)
    direct = {
        (r.probe_id, r.rank, r.vec_id, r.cosine)
        for r in topk_similar_pq(
            emb, probes, k=3, dim=64, codebooks=books
        ).collect()
    }

    store = TableStore(spark, str(tmp_path / "wh"))
    save_pq_index(store, "gold", "emb_pq", pq_encode(emb, books), books)
    coded, l_books, meta = load_pq_index(spark, store, "gold", "emb_pq")
    assert meta["m"] == 8 and meta["ksub"] == 16 and meta["dsub"] == 8
    import numpy as np

    assert np.array_equal(books, l_books)
    saved = {
        (r.probe_id, r.rank, r.vec_id, r.cosine)
        for r in topk_similar_pq_saved(
            (coded, l_books, meta), emb, probes, k=3
        ).collect()
    }
    assert saved == direct

    # wrong-dim probe frame fails loudly before any scan
    bad = probes.select(
        "probe_id", F.slice("embedding", 1, 32).alias("embedding")
    )
    with pytest.raises(ValueError, match="dim 32"):
        topk_similar_pq_saved((coded, l_books, meta), emb, bad, k=3)

    # torn index (codebook rows missing) fails the meta cross-check —
    # materialize the truncated rows first (overwriting a table from
    # a plan that reads the same path is a read-under-write)
    torn = store.load("gold", "emb_pq_codebooks").filter("j > 0").collect()
    store.save(
        "gold",
        "emb_pq_codebooks",
        spark.createDataFrame(torn, ["j", "c", "centroid"]),
    )
    with pytest.raises(ValueError, match="inconsistent"):
        load_pq_index(spark, store, "gold", "emb_pq")


def test_pq_saved_concurrent_construction_builds_once(spark):
    """The cached-or-build race pin (the curation-v2 discipline):
    constructing the PQ recall query and its saved-index twin
    CONCURRENTLY must share ONE codebook train and ONE index persist
    under artifacts.once — not race the sample collect or the codes-table
    write — and a second construction round is plan-only."""
    import concurrent.futures

    from gaming_ai_analytics_spark import artifacts
    from gaming_ai_analytics_spark import queries_llm as ql
    from gaming_ai_analytics_spark.operators import similarity as sim

    trains, saves = [], []
    orig_train, orig_save = sim.train_pq_codebooks, sim.save_pq_index

    def counting_train(*a, **kw):
        trains.append(1)
        return orig_train(*a, **kw)

    def counting_save(*a, **kw):
        saves.append(1)
        return orig_save(*a, **kw)

    sf = "/root/testdata/sf0.001"
    # force a fresh build for this sf_dir regardless of earlier tests
    artifacts.clear()
    sim.train_pq_codebooks, sim.save_pq_index = counting_train, counting_save
    try:
        with concurrent.futures.ThreadPoolExecutor(2) as ex:
            f1 = ex.submit(ql.q_similarity_topk_pq_recall, spark, sf)
            f2 = ex.submit(ql.q_similarity_topk_pq_saved, spark, sf)
            df1, df2 = f1.result(), f2.result()
        assert len(trains) == 1, trains
        assert len(saves) == 1, saves
        assert df1.count() == 1 and df2.count() == 1
        trains.clear(), saves.clear()
        ql.q_similarity_topk_pq_recall(spark, sf)
        ql.q_similarity_topk_pq_saved(spark, sf)
        assert trains == [] and saves == [], (trains, saves)
    finally:
        sim.train_pq_codebooks, sim.save_pq_index = orig_train, orig_save


def test_topk_arrow_pruned_path_matches_bnl(spark, monkeypatch):
    """The r13 in-kernel pruned Arrow fan-out must return EXACTLY the
    BNL expression-fold path's rows: the kernel keeps every row whose
    raw cosine is within 2e-6 of its batch's k-th best, so no row that
    could enter the global top-k under (round(cosine,6) DESC, vec_id)
    is ever dropped, and rounding/ranking stay JVM-side on both paths.
    The self row (vec_id == probe_id) is excluded in-kernel and must
    not count toward the batch's k."""
    emb = load_table(spark, SF, "embeddings")
    probes = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    bnl = sorted(map(tuple, topk_similar(emb, probes, k=5).collect()))
    monkeypatch.setitem(gates.THRESHOLDS, "arrow-fanout", 0)
    arrow = sorted(map(tuple, topk_similar(emb, probes, k=5).collect()))
    assert bnl == arrow
    assert len(bnl) == 5 * 5  # every probe returns k rows


def test_exact_cosine_pairs_accepts_in_memory_frame(spark):
    """An in-memory frame has no Catalyst size (Long.MaxValue). The
    ``arrow-exact-max`` refusal raises only on a KNOWN size, so a
    2-row frame returns its pair instead of being refused as corpus
    scale."""
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    assert gates.estimate(emb) == (1 << 63) - 1
    out = embedding_cosine_pairs(emb, "vec_id", "embedding", 0.9).collect()
    assert [tuple(r) for r in out] == [(1, 2, 1.0)]
