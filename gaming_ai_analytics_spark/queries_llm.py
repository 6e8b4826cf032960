"""LLM-data-pipeline queries: text analysis, dedup, similarity,
multimodal (SURVEY §2.11) over the documents/embeddings fixtures.

Thresholds are calibrated to the fixtures: the corpus plants 25
near-dup pairs at Jaccard ≥ 0.9 with a clean gap below 0.5, so
threshold 0.5 captures exactly the planted set and banded MinHash-LSH
reaches recall 1.0 there (verified in tests against the exact join).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gaming_ai_analytics_spark import artifacts
from gaming_ai_analytics_spark.functions.text import (
    bpe_ish_token_count,
    doc_fingerprint,
    language_id,
    quality_score,
    token_count,
    tokens,
)
from gaming_ai_analytics_spark.operators.dedup import (
    embedding_cosine_pairs,
    embedding_cosine_pairs_lsh,
    exact_dedup_canonical,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_near_pairs,
)
from gaming_ai_analytics_spark.functions.vectors import l2_norm
from gaming_ai_analytics_spark.operators.parallelism import ensure_parallelism
from gaming_ai_analytics_spark.operators.multimodal import (
    extract_features,
    make_assets,
    sample_frames,
)
from gaming_ai_analytics_spark.operators.similarity import (
    semantic_dedup,
    topk_similar,
    topk_similar_lsh,
)
from gaming_ai_analytics_spark.registry import oracle_for, register
from gaming_ai_analytics_spark.sources.star import load_table


# --------------------------------------------------------------------------
# text analysis
# --------------------------------------------------------------------------
def q_text_analysis_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID + quality + token counts + fingerprint, one pass,
    all codegen'd built-ins (no UDF). CPU-bound per-row (regex/split
    heavy) → widen small single-split scans."""
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    t = F.col("text")
    return docs.filter(t.isNotNull()).select(
        "doc_id",
        token_count(t).alias("n_tokens"),
        bpe_ish_token_count(t).alias("n_bpe_tokens"),
        quality_score(t).alias("quality"),
        language_id(t).alias("lang_guess"),
        doc_fingerprint(t).alias("fingerprint"),
    )


# SQL mirrors of functions.text live in functions/text_sql.py (shared
# with queries_traindata without cross-importing query modules).
from gaming_ai_analytics_spark.functions.text_sql import (  # noqa: E402
    NORM as _NORM,
    PUNCT_RATIO as _PUNCT_RATIO,
    STOP_RATIO as _STOP_RATIO,
    TOKS as _TOKS,
    TOKS_L as _TOKS_L,
    lang_sql as _lang_sql,
)


register(
    "text_analysis_profile",
    q_text_analysis_profile,
    f"""
    SELECT doc_id,
           CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
                ELSE len({_TOKS}) END AS n_tokens,
           len(regexp_extract_all(text,
               '[a-zA-Z]{{1,4}}|[0-9]|[^a-zA-Z0-9\\s]')) AS n_bpe_tokens,
           ROUND(0.5 * LEAST(LENGTH(text) / 400.0, 1.0)
               + 0.3 * LEAST(({_STOP_RATIO}) * 5.0, 1.0)
               + 0.2 * (1.0 - ({_PUNCT_RATIO})) + 5e-10, 4) AS quality,
           {_lang_sql()} AS lang_guess,
           md5({_NORM}) AS fingerprint
    FROM documents WHERE text IS NOT NULL
    """,
)


# --------------------------------------------------------------------------
# dedup
# --------------------------------------------------------------------------
def q_dedup_exact_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on normalized-text fingerprint, lowest doc_id
    survives (deterministic representative)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    return exact_dedup_canonical(docs, "doc_id", "text").select(
        "doc_id", "lang", "n_chars"
    )


register(
    "dedup_exact_canonical",
    q_dedup_exact_canonical,
    f"""
    SELECT doc_id, lang, n_chars
    FROM (SELECT doc_id, lang, n_chars,
                 ROW_NUMBER() OVER (PARTITION BY md5({_NORM})
                                    ORDER BY doc_id) AS rn
          FROM documents WHERE text IS NOT NULL)
    WHERE rn = 1
    """,
)

from gaming_ai_analytics_spark.functions.text_sql import (  # noqa: E402
    JACCARD_PAIRS_SQL as _JACCARD_PAIRS_SQL,
)


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-shingle Jaccard near-dup pairs via inverted index."""
    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, "doc_id", "text", k=3, threshold=0.5)


register("dedup_ngram_jaccard", q_dedup_ngram_jaccard, _JACCARD_PAIRS_SQL)


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded MinHash-LSH near-dup pairs, exact-Jaccard-verified.
    Shares the exact join's oracle: at the fixtures' similarity gap
    (planted pairs ≥0.9, rest <0.3) banded LSH recall is 1.0, so the
    verified output equals the exact pair set."""
    docs = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(docs, "doc_id", "text", k=3, threshold=0.5)


register("dedup_minhash_lsh", q_dedup_minhash_lsh, _JACCARD_PAIRS_SQL)


def q_dedup_incremental_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nightly-increment dedup against a PERSISTED LSH index: the
    corpus (doc_id % 10 != 0) is indexed once via
    ``save_minhash_index`` (band entries bucketed on the candidate
    join key + hashed shingle arrays), then the increment
    (doc_id % 10 = 0) probes it with
    ``minhash_lsh_pairs_incremental`` — corpus text is never
    re-shingled and, bucketed on (band, bucket), never re-shuffled.
    The oracle recomputes the exact cross-split Jaccard pairs from
    scratch; banded-LSH recall is 1.0 at the fixtures' similarity gap
    (same rationale as ``dedup_minhash_lsh``). The index is built at
    most once per (session, sf_dir, documents fingerprint) under
    ``artifacts.once`` and re-built only if its tables are gone: the
    band and shingle tables are managed-table writes (bucket metadata
    lives in the catalog, whose names are process-global, so they
    carry the ``artifacts.token`` sf suffix) and the meta table lives
    in ONE process-lifetime ``artifacts.workdir`` per sf — one index
    per sf, not one per call (ADVICE r7), and an index at one sf
    cannot overwrite another's."""
    from gaming_ai_analytics_spark.operators.dedup import (
        minhash_lsh_pairs_incremental,
        save_minhash_index,
    )
    from gaming_ai_analytics_spark.sources.io import TableStore

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    store = TableStore(spark, artifacts.workdir(sf_dir, "lshidx"))
    name = f"docsinc{artifacts.token(sf_dir)}"
    artifacts.once(
        spark, sf_dir, "lshidx",
        lambda: save_minhash_index(
            store, "idx", name, docs.filter(F.col("doc_id") % 10 != 0),
            "doc_id", "text", num_buckets=8,
        ),
        sources=("documents",),
        exists=lambda: store.exists("idx", f"{name}_lshmeta")
        and spark.catalog.tableExists(
            store.table_name("idx", f"{name}_lshbands")
        ),
    )
    return minhash_lsh_pairs_incremental(
        store, "idx", name, docs.filter(F.col("doc_id") % 10 == 0),
        "doc_id", "text",
    )


register(
    "dedup_incremental_index",
    q_dedup_incremental_index,
    """
    WITH toks AS (
      SELECT doc_id, string_split_regex(TRIM(text), ' +') AS t
      FROM documents
      WHERE text IS NOT NULL AND LENGTH(TRIM(text)) > 0
    ),
    pos AS (
      SELECT doc_id, unnest(generate_series(1, len(t) - 2)) AS i, t
      FROM pos_src
    ),
    pos_src AS (
      SELECT doc_id, t FROM toks WHERE len(t) >= 3
    ),
    sh AS (
      SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
      FROM pos
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    pairs AS (
      SELECT a.doc_id AS ia, b.doc_id AS ib, COUNT(*) AS c
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT CASE WHEN ia % 10 = 0 THEN ia ELSE ib END AS id_new,
           CASE WHEN ia % 10 = 0 THEN ib ELSE ia END AS id_corpus,
           ROUND(c * 1.0 / (na.n + nb.n - c), 6) AS jaccard
    FROM pairs
    JOIN sizes na ON ia = na.doc_id
    JOIN sizes nb ON ib = nb.doc_id
    WHERE c * 1.0 / (na.n + nb.n - c) >= 0.5
      AND (ia % 10 = 0) <> (ib % 10 = 0)
    """,
)


def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash Hamming-≤8 candidate recall contract. The fingerprint
    bit math has no SQL twin (xxhash64 is Spark-side), so the checked
    output is the engine-computed contract the oracle CAN recompute:
    the exact 3-shingle-Jaccard near-dup pair count (DuckDB re-derives
    it from scratch) plus a pinned recall floor — the share of exact
    pairs the SimHash blocking recovers, ≥ 0.8 per the operator's test
    (measured 0.92 on the fixtures; SimHash is deliberately lossy).
    A blocking regression (bad banding, broken bit fold) drops recall
    below the floor and hash-fails this row."""
    docs = load_table(spark, sf_dir, "documents")
    cand = simhash_near_pairs(docs, "doc_id", "text", max_hamming=8)
    exact = ngram_jaccard_pairs(docs, "doc_id", "text", k=3, threshold=0.5)
    hits = cand.select("id_a", "id_b").withColumn("_hit", F.lit(1))
    return (
        exact.select("id_a", "id_b")
        .join(hits, ["id_a", "id_b"], "left")
        .agg(
            F.count(F.lit(1)).alias("n_exact_pairs"),
            ((F.count("_hit") / F.count(F.lit(1))) >= 0.8).alias(
                "recall_ok"
            ),
        )
    )


register(
    "dedup_simhash_pairs",
    q_dedup_simhash_pairs,
    f"""
    SELECT COUNT(*) AS n_exact_pairs, TRUE AS recall_ok
    FROM ({_JACCARD_PAIRS_SQL})
    """,
)


def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact embedding-cosine near-dup pairs (O(n²) verify tier)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_cosine_pairs(emb, "vec_id", "embedding", threshold=0.5)


_EMBEDDING_PAIRS_SQL = """
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_sum(list_transform(list_zip(a.embedding, b.embedding),
                 x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))), 6) AS cosine
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE list_sum(list_transform(list_zip(a.embedding, b.embedding),
          x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) >= 0.5 - 5e-7
    """

register("dedup_embedding_cosine", q_dedup_embedding_cosine, _EMBEDDING_PAIRS_SQL)


#: Embedding fixture vector length (FIXTURES.md) — passed explicitly so
#: LSH plan construction never runs a dim-probe job.
EMBEDDING_DIM = 64


def q_dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH near-dup RECALL CONTRACT vs the exact
    tier (same reshape as ``dedup_simhash_pairs`` and the ANN
    ``*_recall`` twins): sign-LSH recall depends on the GAP, not the
    threshold — a pair sitting AT cosine≈0.5 (θ=60°, barely apart
    from random's 90°) collides in a band with prob ~(2/3)^w, ≈0.58
    overall for this battery, so a raw-pair-set oracle is only valid
    at scale factors whose corpora contain no borderline pairs
    (sf≤0.01 here; at sf0.1 the random corpus holds 14 pairs ALL in
    0.50–0.52). The checked contract is therefore scale-stable: the
    exact pair count (DuckDB re-derives it) and a recall floor of
    0.85 — tightened r6 from the lax 0.4 by registering the banding
    at 48 planes / 12 bands (multi-table LSH folded into one packed
    signature): a θ=60° borderline pair collides per 4-bit chunk with
    p⁴=(2/3)⁴≈0.20, so 12 bands give 1−0.80¹²≈0.93 per pair —
    measured 0.929 on the all-borderline sf0.1 corpus (13/14) and
    1.0 at sf0.01, vs 0.43/1.0 at the 16/4 default. The
    precision invariant (LSH ⊆ exact — bucketing only gates which
    pairs get the exact check) is pinned in tests at two scale
    factors rather than here, where a last-ulp Arrow-vs-fold cosine
    difference could flap a driver row. Production guidance
    unchanged: set the threshold where the corpus has a gap, or use
    the exact tier when borderline pairs matter."""
    emb = load_table(spark, sf_dir, "embeddings")
    lsh = embedding_cosine_pairs_lsh(
        emb,
        "vec_id",
        "embedding",
        threshold=0.5,
        n_planes=48,
        bands=12,
        dim=EMBEDDING_DIM,
    )
    exact = embedding_cosine_pairs(emb, "vec_id", "embedding", threshold=0.5)
    hits = lsh.select("id_a", "id_b").withColumn("_hit", F.lit(1))
    return (
        exact.select("id_a", "id_b")
        .join(hits, ["id_a", "id_b"], "left")
        .agg(
            F.count(F.lit(1)).alias("n_exact_pairs"),
            ((F.count("_hit") / F.count(F.lit(1))) >= 0.85).alias(
                "recall_ok"
            ),
        )
    )


register(
    "dedup_embedding_lsh",
    q_dedup_embedding_lsh,
    f"""
    SELECT COUNT(*) AS n_exact_pairs, TRUE AS recall_ok
    FROM ({_EMBEDDING_PAIRS_SQL})
    """,
)


def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (k-means-blocked embedding dedup) soundness + recall
    contract vs the exact tier — the same reshape as
    ``dedup_embedding_lsh``: the clustering-dependent part of the
    answer (WHICH docs a k-means blocking drops) is checked against
    floors, the clustering-independent part (how many docs HAVE a
    smaller-id near-dup at all — DuckDB re-derives it from all-pairs
    cosine) is checked exactly.

    - ``sound_ok`` — every dropped id has a smaller-id exact near-dup
      (dropped ⊆ droppable). Structural in the operator (the cell
      block only gates WHICH pairs get the exact ``round(·,6) ≥ τ``
      check) but asserted against the independently-computed exact
      tier, so a routing/join regression turns the row red rather
      than silently shrinking the dedup.
    - ``recall_ok`` — ≥ 0.85 of the droppable set is found. The sf0.1
      corpus is ALL borderline pairs (cosine 0.50–0.52, θ≈60° — the
      worst case for any blocking); measured recall there: 0.29 with
      single-cell assignment, 0.93 at n_assign=2, 1.0 at n_assign=3.
      Registered at n_assign=3 (each vector joins its 3 nearest
      cells) — 3× candidate volume buys boundary-pair recovery, the
      IVF multi-probe trade."""
    emb = load_table(spark, sf_dir, "embeddings")
    dropped = semantic_dedup(
        emb, "vec_id", "embedding", threshold=0.5,
        n_clusters=16, n_assign=3,
    ).withColumn("_d", F.lit(1))
    exact = embedding_cosine_pairs(emb, "vec_id", "embedding", threshold=0.5)
    droppable = (
        exact.select(F.col("id_b").alias("vec_id")).distinct()
        .withColumn("_e", F.lit(1))
    )
    n = emb.agg(F.count(F.lit(1)).alias("n_vectors"))
    cov = droppable.join(dropped, "vec_id", "left").agg(
        F.count(F.lit(1)).alias("n_droppable"),
        F.coalesce(
            (F.count("_d") / F.count(F.lit(1))) >= 0.85, F.lit(True)
        ).alias("recall_ok"),
    )
    sound = dropped.join(droppable, "vec_id", "left").agg(
        (F.count(F.lit(1)) == F.count("_e")).alias("sound_ok")
    )
    return n.crossJoin(F.broadcast(cov)).crossJoin(F.broadcast(sound))


register(
    "dedup_semantic",
    q_dedup_semantic,
    f"""
    WITH pairs AS ({_EMBEDDING_PAIRS_SQL})
    SELECT (SELECT COUNT(*) FROM embeddings) AS n_vectors,
           (SELECT COUNT(DISTINCT id_b) FROM pairs) AS n_droppable,
           TRUE AS recall_ok, TRUE AS sound_ok
    """,
)


# --------------------------------------------------------------------------
# similarity search
# --------------------------------------------------------------------------
#: Shared similarity-search contract: the probe set is the vectors
#: with ``vec_id < _N_PROBES``; every tier (exact, LSH, IVF) returns
#: top-``_TOPK_K`` — the recall oracles derive their expected counts
#: from THESE constants, so changing k or the probe set here keeps
#: query and oracle in lockstep instead of silently diverging.
_N_PROBES = 5
_TOPK_K = 5


def _probes(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.filter(F.col("vec_id") < _N_PROBES).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )


def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k per probe (exact tier)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return topk_similar(emb, _probes(spark, sf_dir), k=_TOPK_K)


register(
    "similarity_topk",
    q_similarity_topk,
    f"""
    WITH scored AS (
      SELECT p.vec_id AS probe_id, c.vec_id AS vec_id,
             ROUND(list_sum(list_transform(list_zip(c.embedding, p.embedding),
                   x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))), 6) AS cosine
      FROM embeddings c
      JOIN embeddings p ON p.vec_id < {_N_PROBES} AND c.vec_id <> p.vec_id
    )
    SELECT probe_id, rank, vec_id, cosine
    FROM (SELECT probe_id, vec_id, cosine,
                 ROW_NUMBER() OVER (PARTITION BY probe_id
                                    ORDER BY cosine DESC, vec_id) AS rank
          FROM scored)
    WHERE rank <= {_TOPK_K}
    """,
)


#: Hard-negative band on the fixture's near-random geometry: p90 of
#: probe cosines is ~0.16 and the max ~0.40, so [0.15, 0.30) is the
#: "confusably similar but below the positive zone" slice.
_HARDNEG_BAND = (0.15, 0.30)


def q_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-probe hard-negative candidates for contrastive training:
    the top-k corpus vectors whose cosine lands in a BAND below the
    positive/near-dup zone — the standard negative sampler (random
    negatives are too easy; near-dups are false negatives).  Same
    map-only Arrow-matmul scoring plan as `similarity_topk` with the
    band filter pushed below the per-probe tournament, so the banded
    mine costs exactly the plain top-k's one corpus scan."""
    from gaming_ai_analytics_spark.operators.similarity import topk_similar

    emb = load_table(spark, sf_dir, "embeddings")
    return topk_similar(
        emb, _probes(spark, sf_dir), k=_TOPK_K,
        cosine_band=_HARDNEG_BAND,
    )


register(
    "hard_negative_mining",
    q_hard_negative_mining,
    f"""
    WITH scored AS (
      SELECT p.vec_id AS probe_id, c.vec_id AS vec_id,
             ROUND(list_sum(list_transform(list_zip(c.embedding, p.embedding),
                   x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))), 6) AS cosine
      FROM embeddings c
      JOIN embeddings p ON p.vec_id < {_N_PROBES} AND c.vec_id <> p.vec_id
    )
    SELECT probe_id, rank, vec_id, cosine
    FROM (SELECT probe_id, vec_id, cosine,
                 ROW_NUMBER() OVER (PARTITION BY probe_id
                                    ORDER BY cosine DESC, vec_id) AS rank
          FROM scored
          WHERE cosine >= {_HARDNEG_BAND[0]} AND cosine < {_HARDNEG_BAND[1]})
    WHERE rank <= {_TOPK_K}
    """,
)


def _probe_rows(spark: SparkSession, sf_dir: str) -> list:
    """Driver-collected probe rows for the map-side LSH tier — the
    probe set is tiny by contract (``_N_PROBES`` rows), so collecting
    it is one sub-ms job and buys a join-free, distinct-free plan."""
    return [
        (r.probe_id, list(r.embedding))
        for r in _probes(spark, sf_dir).collect()
    ]


def q_similarity_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN top-5 (scale tier; rows-only — recall vs the
    exact tier asserted in tests and hash-checked via the ``_recall``
    twin). Probes ride map-side as literals: the whole query has
    exactly one shuffle (the ranking).

    Registered at 48 planes / 12 bands (multi-table LSH folded into
    one packed signature: T tables of b bands ≡ T·b bands of one
    T·n-plane signature, OR-over-bands unchanged). The fixture's true
    top-k neighbors sit at cosine 0.26–0.42 — hyperplane agreement
    p = 1−θ/π ≈ 0.57–0.64, so the 16/4 default's per-pair recall
    1−(1−p⁴)⁴ caps near 0.5 and measured 0.32–0.44; 12 bands lift it
    to 1−(1−p⁴)¹² — measured 0.72 (sf0.01) / 0.88 (sf0.1), and
    measured FASTER than 16/4 here (fewer exact-rank candidates
    missed → no re-ranking waste; candidate admission of random
    pairs rises to ~1−(1−2⁻⁴)¹² ≈ 0.54, the price of recall in this
    near-random regime — on real corpora whose neighbors sit at
    cosine ≥0.8, 4 bands already give ≥0.87 recall with ~0.23
    admission, which is why the OPERATOR default stays 16/4 and the
    band count is the caller's recall/cost dial)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return topk_similar_lsh(
        emb,
        _probes(spark, sf_dir),
        k=_TOPK_K,
        dim=EMBEDDING_DIM,
        n_planes=48,
        bands=12,
        probe_rows=_probe_rows(spark, sf_dir),
    )


# NOT registered since r7 (VERDICT r6 ask #6): the pure-ANN form was
# the registry's only rows-only entry — its driver history could never
# show green on all three signals.  Folded into the hash-checked
# ``similarity_topk_lsh_recall`` twin below, which runs this exact
# operator AND the exact tier and emits the recall contract.  The
# function stays public: bench.py imports it directly so the frozen
# tier-1 HEADLINE list keeps its round-over-round comparability.


# --------------------------------------------------------------------------
# multimodal
# --------------------------------------------------------------------------
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-asset decode + byte-histogram featurization via
    mapInPandas. The registered output is SCALAR-only (round-3 driver
    crash: the raw ``array<float>`` column is unhashable for the
    canonicalizer): the embedding stays internal to the operator and
    the query emits its checkable invariants — dimension and L1 mass
    (the histogram is L1-normalized, so mass is 1 for every non-empty
    payload) next to the data-dependent byte length the oracle
    recomputes with ``octet_length``."""
    docs = load_table(spark, sf_dir, "documents")
    feats = extract_features(make_assets(docs))
    return feats.select(
        "asset_id",
        "kind",
        "n_bytes",
        F.size("features").alias("feat_dim"),
        F.round(
            F.aggregate(
                "features", F.lit(0.0), lambda acc, x: acc + x.cast("double")
            ),
            2,
        ).alias("feat_l1"),
    )


register(
    "multimodal_features",
    q_multimodal_features,
    """
    SELECT doc_id AS asset_id,
           CASE doc_id % 3 WHEN 0 THEN 'image'
                           WHEN 1 THEN 'audio'
                           ELSE 'video' END AS kind,
           COALESCE(octet_length(encode(text)), 0) AS n_bytes,
           16 AS feat_dim,
           CAST(1.0 AS DOUBLE) AS feat_l1
    FROM documents
    """,
)


def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic frame sampling over video-kind assets — pure
    built-ins, so it does have a SQL twin."""
    docs = load_table(spark, sf_dir, "documents")
    return sample_frames(make_assets(docs))


register(
    "multimodal_frame_sample",
    q_multimodal_frame_sample,
    """
    SELECT doc_id AS asset_id,
           unnest(generate_series(0,
             LEAST(CAST(FLOOR(LENGTH(text) / 64) AS INT), 7))) AS frame_no,
           SUBSTRING(text,
             unnest(generate_series(0,
               LEAST(CAST(FLOOR(LENGTH(text) / 64) AS INT), 7))) * 64 + 1,
             64) AS frame_bytes
    FROM documents
    WHERE doc_id % 3 = 2 AND text IS NOT NULL
    """,
)


def _ann_recall_summary(
    exact: DataFrame, ann: DataFrame, floor: float
) -> DataFrame:
    """Engine-side ANN recall contract: join the ANN result onto the
    exact top-k (both computed in-engine) and emit the shape the
    oracle recomputes from scratch — probe and exact-result counts —
    plus a pinned aggregate recall floor. The raw ANN queries stay
    registered (and benched) in their pure form; these twins exist so
    the accuracy contract has a hash-checked driver row."""
    hits = ann.select("probe_id", "vec_id").withColumn("_hit", F.lit(1))
    return (
        exact.select("probe_id", "vec_id")
        .join(hits, ["probe_id", "vec_id"], "left")
        .agg(
            F.countDistinct("probe_id").alias("n_probes"),
            F.count(F.lit(1)).alias("n_exact_results"),
            ((F.count("_hit") / F.count(F.lit(1))) >= floor).alias(
                "recall_ok"
            ),
        )
    )


#: The exact tier returns min(corpus_size - 1, k) rows per probe
#: (self-match excluded), so the oracle derives the expected result
#: count from the corpus itself rather than assuming a full k — a
#: sub-(k+1) corpus or a k change no longer silently diverges.
_ANN_RECALL_ORACLE = f"""
    SELECT COUNT(*) AS n_probes,
           COUNT(*) * LEAST((SELECT COUNT(*) - 1 FROM embeddings),
                            {_TOPK_K}) AS n_exact_results,
           TRUE AS recall_ok
    FROM embeddings WHERE vec_id < {_N_PROBES}
    """


def q_similarity_topk_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall contract for the RHP-LSH ANN tier vs the exact tier —
    floor 0.7, tightened r6 from the lax 0.25 after re-parameterizing
    the registered tier to 48 planes / 12 bands (measured 0.72 at
    sf0.01 / 0.88 at sf0.1; the 16/4 default measured 0.32–0.44 on
    this near-random-geometry fixture and could never carry a 0.7
    floor — see :func:`q_similarity_topk_lsh` for the p-math and the
    recall/admission trade)."""
    emb = load_table(spark, sf_dir, "embeddings")
    probes = _probes(spark, sf_dir)
    return _ann_recall_summary(
        topk_similar(emb, probes, k=_TOPK_K),
        topk_similar_lsh(
            emb,
            probes,
            k=_TOPK_K,
            dim=EMBEDDING_DIM,
            n_planes=48,
            bands=12,
            probe_rows=_probe_rows(spark, sf_dir),
        ),
        floor=0.7,
    )


register("similarity_topk_lsh_recall", q_similarity_topk_lsh_recall, _ANN_RECALL_ORACLE)


def q_similarity_topk_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall contract for the IVF ANN tier vs the exact tier — floor
    0.75, tightened r6 from the lax 0.5 after re-parameterizing the
    registered tier to n_probe=8 (measured 0.96 at sf0.01 / 0.92 at
    sf0.1 — ≥0.17 margin over the floor; the old n_probe=6 measured
    0.84/0.72 and could not carry a 0.75 floor at both SFs)."""
    from gaming_ai_analytics_spark.operators.similarity import topk_similar_ivf

    emb = load_table(spark, sf_dir, "embeddings")
    probes = _probes(spark, sf_dir)
    return _ann_recall_summary(
        topk_similar(emb, probes, k=_TOPK_K),
        topk_similar_ivf(emb, probes, k=_TOPK_K, n_probe=8),
        floor=0.75,
    )


register("similarity_topk_ivf_recall", q_similarity_topk_ivf_recall, _ANN_RECALL_ORACLE)


def q_similarity_topk_ivf_saved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAVED-quantizer serving shape of the IVF tier (VERDICT r12
    ask #5): `similarity_topk_ivf_recall` re-trains k-means per run —
    the self-contained-oracle shape — but a 100 TB serving path trains
    the coarse quantizer ONCE, persists the cell-bucketed assignment +
    centroids + parameter meta (`save_ivf_index`, the
    `save_minhash_index` / `bpe_apply_saved_vocab` discipline), and
    probes it nightly (`topk_similar_ivf_saved`: meta-guarded routing
    + cell-pruned exact scan; no fit, no corpus re-assignment).  The
    build and index load run at most once per (session, sf_dir,
    embeddings fingerprint) via ``artifacts.once``, so repeated
    invocations measure the PROBE path; the registered readout is the
    same hash-checked recall contract as the re-training twin (floor
    0.75 vs the exact tier — same parameters, so the saved index must
    answer exactly like the in-memory build; equality test-pinned in
    tests/test_dedup_similarity.py).  Per-night cost decomposition vs
    the retrain path: BASELINE.md (tools/exp_ivf_saved.py)."""
    from gaming_ai_analytics_spark.operators.similarity import (
        build_ivf_index,
        load_ivf_index,
        save_ivf_index,
        topk_similar_ivf_saved,
    )
    from gaming_ai_analytics_spark.sources.io import TableStore

    emb = load_table(spark, sf_dir, "embeddings")
    probes = _probes(spark, sf_dir)
    store = TableStore(spark, artifacts.workdir(sf_dir, "ivfidx"))
    name = f"emb{artifacts.token(sf_dir)}"

    def build():
        save_ivf_index(store, "idx", name, *build_ivf_index(emb))
        return load_ivf_index(spark, store, "idx", name)

    index = artifacts.once(
        spark, sf_dir, "ivf_saved", build, sources=("embeddings",),
        exists=lambda: spark.catalog.tableExists(
            store.table_name("idx", f"{name}_cells")
        ),
    )
    ann = topk_similar_ivf_saved(index, probes, k=_TOPK_K, n_probe=8)
    return _ann_recall_summary(
        topk_similar(emb, probes, k=_TOPK_K), ann, floor=0.75
    )


register("similarity_topk_ivf_saved", q_similarity_topk_ivf_saved, _ANN_RECALL_ORACLE)


def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-length resample of binary assets via mapInPandas. The
    registered output projects the operator's checkable contract —
    every payload resamples to exactly ``TARGET_SAMPLES`` bytes
    (``F.length`` measured on the ACTUAL resized binary, so a
    length-breaking regression fails the oracle) plus the
    data-dependent original byte count; the resized bytes themselves
    stay internal (byte-level bucketed means have no SQL twin —
    asserted in tests)."""
    from gaming_ai_analytics_spark.operators.multimodal import resize_assets

    docs = load_table(spark, sf_dir, "documents")
    resized = resize_assets(make_assets(docs))
    return resized.select(
        "asset_id",
        "kind",
        "orig_bytes",
        F.length("resized").alias("resized_len"),
    )


register(
    "multimodal_resize",
    q_multimodal_resize,
    """
    SELECT doc_id AS asset_id,
           CASE doc_id % 3 WHEN 0 THEN 'image'
                           WHEN 1 THEN 'audio'
                           ELSE 'video' END AS kind,
           COALESCE(octet_length(encode(text)), 0) AS orig_bytes,
           32 AS resized_len
    FROM documents
    """,
)


# --------------------------------------------------------------------------
# lexical retrieval scoring
# --------------------------------------------------------------------------
_BM25_TERMS = ("spark", "hash", "window")
_BM25_K1 = 1.2
_BM25_B = 0.75


def _eq_term(tm: str):
    # single-arg closure: a default-arg lambda reads as the 2-ary
    # (element, index) form of F.filter and binds the index instead
    return lambda x: x == F.lit(tm)


def q_bm25_term_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 score of every document against a fixed term set —
    the lexical-retrieval primitive of a training-data curation stack
    (query-relevance filtering, hard-negative mining for retrievers).

    100 TB shape: per-row tf/dl are map-only codegen'd built-ins
    (``F.filter`` higher-order, no UDF); the corpus statistics
    (N, avgdl, per-term document frequency) are ONE 1-row aggregate
    broadcast back into a map-only projection — same pattern as
    ``tf_idf``, no driver action, no second shuffle. Uses the BM25+
    idf form ``ln(1 + (N-df+.5)/(df+.5))`` which is strictly positive,
    so scores never go negative for common terms."""
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    t = tokens(F.col("text"))
    base = docs.filter(
        F.col("text").isNotNull() & (F.length(F.trim(F.col("text"))) > 0)
    ).select(
        "doc_id",
        F.size(t).alias("dl"),
        *[
            F.size(F.filter(t, _eq_term(tm))).alias(f"tf_{tm}")
            for tm in _BM25_TERMS
        ],
    )
    stats = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{tm}") > 0).cast("long")).alias(f"df_{tm}")
            for tm in _BM25_TERMS
        ],
    )
    score = F.lit(0.0)
    for tm in _BM25_TERMS:
        tf = F.col(f"tf_{tm}")
        df = F.col(f"df_{tm}")
        idf = F.log((F.col("n") - df + 0.5) / (df + 0.5) + 1.0)
        norm = tf + _BM25_K1 * (
            1.0 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl")
        )
        score = score + idf * (tf * (_BM25_K1 + 1.0)) / norm
    return (
        base.join(F.broadcast(stats))
        .select("doc_id", score.alias("_raw"))
        .filter(F.col("_raw") > 0)
        .select("doc_id", F.round(F.col("_raw"), 6).alias("bm25"))
    )


def _bm25_sql() -> str:
    from gaming_ai_analytics_spark.functions.text_sql import TOKS

    tf_cols = ",\n             ".join(
        f"len(list_filter({TOKS}, x -> x = '{tm}')) AS tf_{tm}"
        for tm in _BM25_TERMS
    )
    df_cols = ",\n             ".join(
        f"SUM(CASE WHEN tf_{tm} > 0 THEN 1 ELSE 0 END) AS df_{tm}"
        for tm in _BM25_TERMS
    )
    parts = " + ".join(
        f"LN((n - df_{tm} + 0.5) / (df_{tm} + 0.5) + 1.0)"
        f" * (tf_{tm} * ({_BM25_K1} + 1.0))"
        f" / (tf_{tm} + {_BM25_K1}"
        f" * (1.0 - {_BM25_B} + {_BM25_B} * dl / avgdl))"
        for tm in _BM25_TERMS
    )
    return f"""
    WITH base AS (
      SELECT doc_id, len({TOKS}) AS dl,
             {tf_cols}
      FROM documents
      WHERE text IS NOT NULL AND LENGTH(TRIM(text)) > 0
    ),
    stats AS (
      SELECT COUNT(*) AS n, AVG(dl) AS avgdl,
             {df_cols}
      FROM base
    ),
    scored AS (
      SELECT doc_id, {parts} AS raw
      FROM base, stats
    )
    SELECT doc_id, ROUND(raw, 6) AS bm25 FROM scored WHERE raw > 0
    """


register("bm25_term_scores", q_bm25_term_scores, _bm25_sql())


# --------------------------------------------------------------------------
# embedding-column diagnostics
# --------------------------------------------------------------------------
def q_embedding_norm_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label L2-norm profile of the embedding column — the vector
    health check run before any ANN build (un-normalized or collapsed
    embeddings are the usual silent killer of cosine retrieval).
    Map-only fold over each array (same element order both engines),
    then one partial-agg shuffle on the tiny label key."""
    emb = load_table(spark, sf_dir, "embeddings")
    norm = l2_norm(F.col("embedding"))
    return (
        emb.filter(F.col("embedding").isNotNull())
        .select("label", norm.alias("nrm"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("nrm"), 6).alias("avg_norm"),
            F.round(F.min("nrm"), 6).alias("min_norm"),
            F.round(F.max("nrm"), 6).alias("max_norm"),
        )
    )


register(
    "embedding_norm_profile",
    q_embedding_norm_profile,
    """
    WITH n AS (
      SELECT label,
             SQRT(list_sum(list_transform(embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      FROM embeddings WHERE embedding IS NOT NULL
    )
    SELECT label, COUNT(*) AS n,
           ROUND(AVG(nrm), 6) AS avg_norm,
           ROUND(MIN(nrm), 6) AS min_norm,
           ROUND(MAX(nrm), 6) AS max_norm
    FROM n GROUP BY label
    """,
)


# --------------------------------------------------------------------------
# language-ID confusion matrix
# --------------------------------------------------------------------------
def q_lang_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared language vs heuristic language-ID confusion counts —
    the curation diagnostic that says whether a corpus's lang labels
    can be trusted (and where the detector itself is weak). Map-only
    scoring riding the scan, one partial-agg shuffle on the tiny
    (declared, guessed) key."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.length(F.trim(F.col("text"))) > 0)
    )
    return (
        docs.select(
            F.coalesce(F.col("lang"), F.lit("??")).alias("declared"),
            language_id(F.col("text")).alias("guessed"),
        )
        .groupBy("declared", "guessed")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _lang_confusion_sql() -> str:
    from gaming_ai_analytics_spark.functions.text_sql import lang_sql

    return f"""
    SELECT COALESCE(lang, '??') AS declared, {lang_sql()} AS guessed,
           COUNT(*) AS n
    FROM documents
    WHERE text IS NOT NULL AND LENGTH(TRIM(text)) > 0
    GROUP BY 1, 2
    """


register("lang_confusion_matrix", q_lang_confusion_matrix, _lang_confusion_sql())


# --------------------------------------------------------------------------
# dedup diagnostics
# --------------------------------------------------------------------------
def q_dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate rate per source: docs vs distinct normalized
    fingerprints — the per-feed health metric that catches a crawler
    re-ingesting its own output. One shuffle on (source, fingerprint)
    via the distinct, then a tiny re-agg to sources."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    fp = docs.select("source", doc_fingerprint(F.col("text")).alias("fp"))
    return (
        fp.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("fp").alias("n_distinct"),
        )
        .select(
            "source",
            "n_docs",
            "n_distinct",
            F.round(1.0 - F.col("n_distinct") / F.col("n_docs"), 6).alias(
                "dup_rate"
            ),
        )
    )


register(
    "dedup_rate_by_source",
    q_dedup_rate_by_source,
    f"""
    SELECT source, COUNT(*) AS n_docs,
           COUNT(DISTINCT md5({_NORM})) AS n_distinct,
           ROUND(1.0 - COUNT(DISTINCT md5({_NORM})) * 1.0 / COUNT(*), 6)
             AS dup_rate
    FROM documents WHERE text IS NOT NULL
    GROUP BY 1
    """,
)


def q_dup_similarity_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard-similarity histogram of near-dup candidate pairs in
    0.05 bands — the threshold-sensitivity report that justifies (or
    moves) the dedup cutoff. Reuses the inverted-index pair generator
    at threshold 0.3; banding is per-pair arithmetic on the already
    tiny pair frame."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", k=3, threshold=0.3)
    band = (F.floor(F.col("jaccard") / 0.05) * 0.05).cast("double")
    return (
        pairs.select(F.round(band, 2).alias("band"))
        .groupBy("band")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def _dup_hist_sql() -> str:
    # same pair SQL as the 0.5-threshold oracle, relaxed to 0.3
    relaxed = _JACCARD_PAIRS_SQL.replace(">= 0.5", ">= 0.3")
    return f"""
    WITH p AS ({relaxed})
    SELECT ROUND(FLOOR(jaccard / 0.05) * 0.05, 2) AS band,
           COUNT(*) AS n_pairs
    FROM p GROUP BY 1
    """


register("dup_similarity_histogram", q_dup_similarity_histogram, _dup_hist_sql())


def q_regex_token_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``regexp_extract_all`` + explode — the multi-match extraction
    surface (mentions, tags, codes) that single-match
    ``regexp_extract`` can't express.  Map-only fan-out (no join): each
    doc yields its match array in one codegen'd pass, explode feeds a
    token-keyed partial-combine aggregate, and the top-10 finishes as
    TakeOrderedAndProject.  The pattern sticks to RE2-safe syntax so
    Spark (Java regex) and the oracle (RE2) agree by construction."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            F.explode(
                F.regexp_extract_all("text", F.lit("s[a-z]{3,}"), 0)
            ).alias("token")
        )
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_mentions"))
        .orderBy(F.col("n_mentions").desc(), "token")
        .limit(10)
    )


register(
    "regex_token_mentions",
    q_regex_token_mentions,
    """
    SELECT t.token, COUNT(*) AS n_mentions
    FROM documents d,
         UNNEST(regexp_extract_all(d.text, 's[a-z]{3,}')) AS t(token)
    GROUP BY t.token
    ORDER BY n_mentions DESC, t.token
    LIMIT 10
    """,
)


def q_content_hash_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cryptographic content manifest — ``sha2(·,256)`` + ``md5`` per
    document plus corpus-level distinct counts: the provenance record
    a dedup/audit pipeline ships with its outputs (exact-duplicate
    detection across ingestion runs, tamper evidence, downstream
    lineage joins). Map-only hashing (JVM-side, codegen'd), one tiny
    aggregate; hex encodings match the oracle's byte-for-byte."""
    docs = load_table(spark, sf_dir, "documents")
    hashed = docs.select(
        "doc_id",
        F.sha2(F.coalesce(F.col("text"), F.lit("")), 256).alias("sha256_hex"),
        F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("md5_hex"),
    )
    return hashed.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct("sha256_hex").alias("n_distinct_sha"),
        F.count_distinct("md5_hex").alias("n_distinct_md5"),
        F.min("sha256_hex").alias("min_sha"),
        F.max("md5_hex").alias("max_md5"),
    )


register(
    "content_hash_manifest",
    q_content_hash_manifest,
    """
    WITH h AS (
      SELECT doc_id,
             sha256(COALESCE(text, '')) AS sha256_hex,
             md5(COALESCE(text, '')) AS md5_hex
      FROM documents
    )
    SELECT COUNT(*) AS n_docs,
           COUNT(DISTINCT sha256_hex) AS n_distinct_sha,
           COUNT(DISTINCT md5_hex) AS n_distinct_md5,
           MIN(sha256_hex) AS min_sha,
           MAX(md5_hex) AS max_md5
    FROM h
    """,
)


def q_token_array_hof_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions (`filter` / `exists` /
    `aggregate` lambdas) — per-document token analytics WITHOUT
    exploding: long-token count, short-token detection, and total
    token characters fold inside one codegen'd map pass over the
    split array, then a tiny per-language aggregate. At 100 TB the
    non-explode formulation matters: explode multiplies the shuffle
    by tokens-per-doc; lambdas keep it one row per doc."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), " +")
    profiled = docs.filter(
        F.col("text").isNotNull() & (F.length(F.trim("text")) > 0)
    ).select(
        "lang",
        F.size(F.filter(toks, lambda t: F.length(t) >= 6)).alias("n_long"),
        F.exists(toks, lambda t: F.length(t) <= 2).alias("has_short"),
        F.aggregate(
            toks, F.lit(0), lambda acc, t: acc + F.length(t)
        ).alias("tok_chars"),
    )
    return profiled.groupBy("lang").agg(
        F.sum("n_long").alias("total_long_tokens"),
        F.sum(F.when(F.col("has_short"), 1).otherwise(0)).alias(
            "docs_with_short"
        ),
        F.sum("tok_chars").alias("total_token_chars"),
    )


register(
    "token_array_hof_profile",
    q_token_array_hof_profile,
    """
    WITH t AS (
      SELECT lang, string_split_regex(TRIM(text), ' +') AS toks
      FROM documents
      WHERE text IS NOT NULL AND LENGTH(TRIM(text)) > 0
    )
    SELECT lang,
           CAST(SUM(len(list_filter(toks, t -> LENGTH(t) >= 6)))
                AS BIGINT) AS total_long_tokens,
           CAST(SUM(CASE WHEN len(list_filter(toks, t -> LENGTH(t) <= 2)) > 0
                    THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_short,
           CAST(SUM(list_aggregate(list_transform(toks, t -> LENGTH(t)),
                                   'sum')) AS BIGINT) AS total_token_chars
    FROM t GROUP BY 1
    """,
)


def q_bitmap_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitmap-aggregate distinct counting (`bitmap_bit_position` →
    `bitmap_construct_agg` → `bitmap_count`): EXACT distinct counts
    with fixed-size mergeable state for dense integer domains — the
    deterministic middle ground between exact count-distinct's
    full-cardinality shuffle and HLL's approximation. Bitmaps OR
    map-side like any partial aggregate; the oracle checks against
    plain COUNT(DISTINCT)."""
    from gaming_ai_analytics_spark.sources.star import load_events

    ev = load_events(spark, sf_dir)
    # canonical bucketed-bitmap shape: one 4 KB bitmap per
    # (key, bucket-of-32768-ids), distinct = sum of per-bucket
    # bitmap_count — a single flat bitmap silently collides ids
    # ≥ one bucket apart (off-by-one caught by the oracle here)
    per_bucket = ev.groupBy(
        "event_type", F.expr("bitmap_bucket_number(user_id)").alias("_b")
    ).agg(
        F.expr(
            "bitmap_count(bitmap_construct_agg("
            "bitmap_bit_position(user_id)))"
        ).alias("_cnt"),
        F.count(F.lit(1)).alias("_n"),
    )
    return per_bucket.groupBy("event_type").agg(
        F.sum("_cnt").alias("n_users"), F.sum("_n").alias("n_events")
    )


register(
    "bitmap_distinct_users",
    q_bitmap_distinct_users,
    """
    SELECT event_type, COUNT(DISTINCT user_id) AS n_users,
           COUNT(*) AS n_events
    FROM events GROUP BY 1
    """,
)


def q_corpus_drift_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor between two corpus snapshots — the
    check a training pipeline runs before accepting a new ingest
    batch (language-mix shift silently changes the training mixture).
    The two "snapshots" are the even/odd doc_id halves; the output is
    per-language (p, q, pointwise KL term) plus the term's sign
    telling which direction the language drifted. Pure aggregations:
    one lang-keyed shuffle computes both distributions (conditional
    counts — no second scan), KL terms are per-row arithmetic on the
    tiny result. No nulls by construction (every lang appears in both
    halves at the fixtures' sizes; a production gate would add
    epsilon-smoothing, which is a one-line `+ lit(eps)`)."""
    docs = load_table(spark, sf_dir, "documents")
    by_lang = docs.groupBy("lang").agg(
        F.sum(F.when(F.col("doc_id") % 2 == 0, 1).otherwise(0)).alias("n_ref"),
        F.sum(F.when(F.col("doc_id") % 2 == 1, 1).otherwise(0)).alias("n_new"),
    )
    tot = by_lang.agg(
        F.sum("n_ref").alias("t_ref"), F.sum("n_new").alias("t_new")
    )
    p = F.col("n_ref") / F.col("t_ref")
    q = F.col("n_new") / F.col("t_new")
    return (
        by_lang.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            F.round(p, 6).alias("p_ref"),
            F.round(q, 6).alias("p_new"),
            F.round(p * F.log(p / q), 6).alias("kl_term"),
        )
        .orderBy("lang")
    )


register(
    "corpus_drift_kl",
    q_corpus_drift_kl,
    """
    WITH by_lang AS (
      SELECT lang,
             SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS n_ref,
             SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS n_new
      FROM documents GROUP BY 1),
    tot AS (SELECT SUM(n_ref) AS t_ref, SUM(n_new) AS t_new FROM by_lang)
    SELECT lang,
           ROUND(n_ref * 1.0 / t_ref, 6) AS p_ref,
           ROUND(n_new * 1.0 / t_new, 6) AS p_new,
           ROUND((n_ref * 1.0 / t_ref)
                 * LN((n_ref * 1.0 / t_ref) / (n_new * 1.0 / t_new)), 6)
             AS kl_term
    FROM by_lang, tot
    ORDER BY lang
    """,
)


def q_doc_rarity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document rarity: the mean self-information of the doc's
    distinct 3-word shingles, idf = ln(N / df) — the quality signal
    that separates boilerplate/template text (common shingles, score
    → 0) from novel content. One corpus scan: the exploded shingle
    relation feeds BOTH the document-frequency index (shingle-keyed
    shuffle, map-side combined — the same scale shape as the Jaccard
    dedup tier) and the per-doc sizes; N (docs with ≥1 shingle)
    attaches to the compact |docs|-row sizes relation via an
    empty-partition window. Mean log-idf is algebraically
    ln(N) − Σln(df)/n, so the per-doc aggregation needs only the
    postings join, no per-shingle N."""
    docs = _nonempty_docs(spark, sf_dir)
    sh = docs.select(
        "doc_id", F.explode(word_shingles(F.col("text"), 3)).alias("s")
    )
    # SINGLE-REFERENCE postings relation (the audit tool caught the
    # first draft of this query scanning the corpus three times —
    # df-index, sizes, and the postings join were separate branches):
    # document frequency attaches via a shingle-keyed window (same
    # data movement as the groupBy index, minus the join-back
    # shuffle), then ONE per-doc aggregation yields sizes and the
    # log-idf mass together; N attaches to the compact |docs|-row
    # result via an empty-partition window.
    with_df = sh.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("s"))
    )
    per_doc = with_df.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_sh"),
        F.sum(F.log(F.col("df").cast("double"))).alias("_sum_log_df"),
    )
    n_docs = F.count(F.lit(1)).over(Window.partitionBy())
    return per_doc.select(
        "doc_id",
        "n_sh",
        F.round(
            F.log(n_docs.cast("double"))
            - F.col("_sum_log_df") / F.col("n_sh"),
            4,
        ).alias("rarity"),
    )


from pyspark.sql import Window  # noqa: E402

from gaming_ai_analytics_spark.functions.text import word_shingles  # noqa: E402
from gaming_ai_analytics_spark.sources.star import (  # noqa: E402
    load_nonempty_documents as _nonempty_docs,
)

register(
    "doc_rarity_score",
    q_doc_rarity_score,
    """
    WITH toks AS (
      SELECT doc_id, string_split_regex(TRIM(text), ' +') AS t
      FROM documents
      WHERE text IS NOT NULL AND LENGTH(TRIM(text)) > 0
    ),
    pos AS (
      SELECT doc_id, unnest(generate_series(1, len(t) - 2)) AS i, t
      FROM toks WHERE len(t) >= 3
    ),
    sh AS (
      SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
      FROM pos
    ),
    dfreq AS (SELECT s, COUNT(*) AS df FROM sh GROUP BY 1),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM sizes)
    SELECT sh.doc_id, sizes.n_sh,
           ROUND(LN(n.n_docs) - SUM(LN(dfreq.df)) / sizes.n_sh, 4)
             AS rarity
    FROM sh
    JOIN dfreq USING (s)
    JOIN sizes ON sh.doc_id = sizes.doc_id, n
    GROUP BY sh.doc_id, sizes.n_sh, n.n_docs
    """,
)


def q_embedding_quantization_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Scalar int8 quantization error profile — the QA a vector store
    runs before committing to 4× compression: each vector quantizes
    per its OWN [min, max] range to 256 levels (the scheme most
    engines ship as 'SQ8'), dequantizes, and reports reconstruction
    MSE. All arithmetic is deterministic higher-order lambdas over
    the array column (map-only, no Python), aggregated to per-label
    stats: worst-case and average MSE next to the theoretical uniform
    bound (range²/12·levels² for comparison — a reconstruction MUCH
    worse than the bound means a quantizer bug, not data). The oracle
    replicates the identical arithmetic in DuckDB list lambdas."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.col("embedding")
    lo = F.array_min(v).cast("double")
    hi = F.array_max(v).cast("double")
    scale = (hi - lo) / 255.0
    # quantize→dequantize in one transform: q = round((x-lo)/scale),
    # x' = lo + q*scale; guard the flat-vector case (scale=0 → exact)
    err2 = F.aggregate(
        F.transform(
            v,
            lambda x: F.when(scale == 0, F.lit(0.0)).otherwise(
                F.pow(
                    x.cast("double")
                    - (
                        lo
                        + F.round((x.cast("double") - lo) / scale, 0) * scale
                    ),
                    2,
                )
            ),
        ),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    per_vec = emb.select(
        "label",
        (err2 / F.size(v)).alias("_mse"),
        (F.pow(hi - lo, 2) / (12.0 * 255.0 * 255.0)).alias("_bound"),
    )
    return (
        per_vec.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.round(F.avg("_mse") * 1e6, 4).alias("avg_mse_ppm"),
            F.round(F.max("_mse") * 1e6, 4).alias("max_mse_ppm"),
            F.round(F.avg("_bound") * 1e6, 4).alias("uniform_bound_ppm"),
        )
        .orderBy("label")
    )


register(
    "embedding_quantization_profile",
    q_embedding_quantization_profile,
    """
    WITH per_vec AS (
      SELECT label,
             list_sum(list_transform(embedding, x ->
               CASE WHEN (list_max(embedding) - list_min(embedding)) = 0
                    THEN 0.0
                    ELSE POW(CAST(x AS DOUBLE)
                      - (CAST(list_min(embedding) AS DOUBLE)
                         + ROUND((CAST(x AS DOUBLE)
                                  - CAST(list_min(embedding) AS DOUBLE))
                                 / ((CAST(list_max(embedding) AS DOUBLE)
                                     - CAST(list_min(embedding) AS DOUBLE))
                                    / 255.0), 0)
                           * ((CAST(list_max(embedding) AS DOUBLE)
                               - CAST(list_min(embedding) AS DOUBLE))
                              / 255.0)), 2) END))
               / len(embedding) AS _mse,
             POW(CAST(list_max(embedding) AS DOUBLE)
                 - CAST(list_min(embedding) AS DOUBLE), 2)
               / (12.0 * 255.0 * 255.0) AS _bound
      FROM embeddings)
    SELECT label, COUNT(*) AS n_vectors,
           ROUND(AVG(_mse) * 1e6, 4) AS avg_mse_ppm,
           ROUND(MAX(_mse) * 1e6, 4) AS max_mse_ppm,
           ROUND(AVG(_bound) * 1e6, 4) AS uniform_bound_ppm
    FROM per_vec GROUP BY 1 ORDER BY label
    """,
)


def q_binaryfile_ingest_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multimodal INGEST path: Spark's ``binaryFile`` source —
    how image/audio/video assets actually enter a pipeline (one file
    per asset → rows of ``(path, modificationTime, length,
    content)``). The fixture's asset payloads are landed as real
    files once per scale factor (DISTRIBUTED write via
    ``foreachPartition`` — executors write their own partitions'
    files; no driver-side loop), then scanned back through the
    binaryFile reader; the asset id recovers from the file NAME
    (the X7 filename-parsing surface) and the content is
    checksummed engine-side. A lossless ingest hashes identically to
    the oracle recomputing ``sha256(encode(text))`` from the parquet
    fixture — proving the read path end to end, not just the write.
    At 100 TB the same reader fans out over an object-store listing;
    ``pathGlobFilter``/``recursiveFileLookup`` handle layout.

    The landing directory is a per-invocation ``artifacts.scratch`` — two
    concurrent invocations never share a path. The local-FS landing
    zone assumes executors and driver see one filesystem (true in
    local mode and on any shared mount); on a real cluster the path
    would be an object-store URI, which the same ``foreachPartition``
    write and ``binaryFile`` read handle unchanged."""
    import os

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    path = artifacts.scratch("gaa_binfiles_")

    def write_part(rows):
        for r in rows:
            with open(
                os.path.join(path, f"asset_{r['doc_id']}.bin"), "wb"
            ) as fh:
                fh.write(r["text"].encode("utf-8"))

    docs.select("doc_id", "text").foreachPartition(write_part)
    binf = spark.read.format("binaryFile").load(path)
    return binf.select(
        F.regexp_extract(F.col("path"), r"asset_(\d+)\.bin$", 1)
        .cast("long")
        .alias("asset_id"),
        F.col("length").alias("n_bytes"),
        F.sha2(F.col("content"), 256).alias("content_sha256"),
    )


register(
    "binaryfile_ingest_scan",
    q_binaryfile_ingest_scan,
    """
    SELECT doc_id AS asset_id,
           octet_length(encode(text)) AS n_bytes,
           sha256(text) AS content_sha256
    FROM documents WHERE text IS NOT NULL
    """,
)


# --------------------------------------------------------------------------
# Sorted-neighborhood blocking (Hernández & Stolfo, SIGMOD'95)
# --------------------------------------------------------------------------
_SNM_WINDOW = 3  # sliding-window width over the sorted key order
_SNM_KEY_LEN = 24  # blocking key: first 24 alnum chars, lowercased
_SNM_CONFIRM_LEN = 12  # cheap verify: pairs must share a 12-char prefix


def q_blocking_snm_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution candidate pairs by sorted-neighborhood
    blocking — the SORT-based blocking family (Hernández & Stolfo's
    merge/purge), complementing this repo's hash-based blockers
    (MinHash bands, SimHash buckets, k-means cells): sort records by a
    normalized key, compare only records within a width-``w`` sliding
    window of the sort order.

    Scale shape: the textbook formulation needs a TOTAL order (one
    global sort = one giant partition); this plan keys the sort
    window inside deterministic 2-char-prefix blocks, so the whole
    operator is ONE shuffle (the window exchange on the block key) —
    rank neighbors are picked up with ``lead(·, 1..w)`` columns and a
    map-side explode, never a rank self-join. Records whose
    normalized key is shorter than the confirm prefix are dropped
    up front (they cannot confirm; this also keeps NULL/boilerplate
    texts out of one degenerate block). A block is bounded by its key
    prefix's corpus share — the multi-pass production variant re-runs
    with a second key (e.g. reversed) to recover cross-block misses,
    which windowed blocking accepts by design.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    key = F.substring(
        F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", ""),
        1,
        _SNM_KEY_LEN,
    )
    keyed = docs.select("doc_id", key.alias("key")).filter(
        F.length("key") >= _SNM_CONFIRM_LEN
    )
    win = Window.partitionBy(F.substring("key", 1, 2)).orderBy(
        "key", "doc_id"
    )
    nbrs = keyed.select(
        "doc_id",
        "key",
        F.array(
            *[
                F.struct(
                    F.lead("doc_id", k).over(win).alias("doc_b"),
                    F.lead("key", k).over(win).alias("key_b"),
                )
                for k in range(1, _SNM_WINDOW + 1)
            ]
        ).alias("_nbrs"),
    )
    pairs = nbrs.select(
        F.col("doc_id").alias("doc_a"),
        "key",
        F.explode("_nbrs").alias("nb"),
    ).filter(F.col("nb.doc_b").isNotNull())
    return (
        pairs.filter(
            F.substring("key", 1, _SNM_CONFIRM_LEN)
            == F.substring("nb.key_b", 1, _SNM_CONFIRM_LEN)
        )
        .select(
            "doc_a",
            F.col("nb.doc_b").alias("doc_b"),
            F.substring("key", 1, _SNM_CONFIRM_LEN).alias("shared_prefix"),
        )
        .orderBy("doc_a", "doc_b")
    )


register(
    "blocking_snm_candidates",
    q_blocking_snm_candidates,
    """
    WITH k AS (
      SELECT doc_id,
             substr(regexp_replace(lower(text), '[^a-z0-9]+', '', 'g'),
                    1, 24) AS key
      FROM documents),
    keyed AS (SELECT doc_id, key FROM k WHERE length(key) >= 12),
    w AS (
      SELECT doc_id, key,
             LEAD(doc_id, 1) OVER win AS d1, LEAD(key, 1) OVER win AS k1,
             LEAD(doc_id, 2) OVER win AS d2, LEAD(key, 2) OVER win AS k2,
             LEAD(doc_id, 3) OVER win AS d3, LEAD(key, 3) OVER win AS k3
      FROM keyed
      WINDOW win AS (PARTITION BY substr(key, 1, 2)
                     ORDER BY key, doc_id)),
    pairs AS (
      SELECT doc_id AS doc_a, d1 AS doc_b, key, k1 AS key_b FROM w
      WHERE d1 IS NOT NULL
      UNION ALL
      SELECT doc_id, d2, key, k2 FROM w WHERE d2 IS NOT NULL
      UNION ALL
      SELECT doc_id, d3, key, k3 FROM w WHERE d3 IS NOT NULL)
    SELECT doc_a, doc_b, substr(key, 1, 12) AS shared_prefix
    FROM pairs
    WHERE substr(key, 1, 12) = substr(key_b, 1, 12)
    ORDER BY doc_a, doc_b
    """,
)


# --------------------------------------------------------------------------
# Directed shingle containment (Broder's second resemblance measure)
# --------------------------------------------------------------------------
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed containment pairs at c ≥ 0.8 over the documents corpus
    — the asymmetric complement to `dedup_ngram_jaccard`: a doc quoted
    whole inside a much larger one scores c ≈ 1 but Jaccard ≈ |A|/|B|,
    so symmetric dedup keeps the duplicated content. Full value-hash
    oracle (same shingle CTEs as the Jaccard oracle, division by each
    side's own shingle count, both directions UNION ALL'd)."""
    from gaming_ai_analytics_spark.operators.dedup import containment_pairs

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.length(F.trim("text")) > 0)
    )
    return containment_pairs(
        docs, "doc_id", "text", k=3, threshold=0.8
    ).orderBy("id_contained", "id_container")


register(
    "dedup_containment",
    q_dedup_containment,
    """
    WITH toks AS (
      SELECT doc_id, string_split_regex(TRIM(text), ' +') AS t
      FROM documents
      WHERE text IS NOT NULL AND LENGTH(TRIM(text)) > 0
    ),
    pos AS (
      SELECT doc_id, unnest(generate_series(1, len(t) - 2)) AS i, t
      FROM toks WHERE len(t) >= 3
    ),
    sh AS (
      SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
      FROM pos
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    pairs AS (
      SELECT a.doc_id AS ia, b.doc_id AS ib, COUNT(*) AS c
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT ia, ib, c, na.n AS n_a, nb.n AS n_b
      FROM pairs JOIN sizes na ON ia = na.doc_id
                 JOIN sizes nb ON ib = nb.doc_id
    )
    SELECT * FROM (
      SELECT ia AS id_contained, ib AS id_container,
             ROUND(c * 1.0 / n_a, 6) AS containment FROM scored
      UNION ALL
      SELECT ib, ia, ROUND(c * 1.0 / n_b, 6) FROM scored
    ) WHERE containment >= 0.8
    ORDER BY id_contained, id_container
    """,
)


def q_dedup_containment_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed containment at c ≥ 0.8 via the PREFIX-FILTERED scale
    tier (`containment_pairs_prefix`) — lossless, so it carries the
    SAME full oracle as `dedup_containment`: prefix filtering bounds
    candidate multiplicity to common RARE shingles instead of all
    common shingles, the term that filled single-host disk at sf10 on
    the exact posting self-join. This is the 100 TB containment
    path."""
    from gaming_ai_analytics_spark.operators.dedup import (
        containment_pairs_prefix,
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.length(F.trim("text")) > 0)
    )
    return containment_pairs_prefix(
        docs, "doc_id", "text", k=3, threshold=0.8
    ).orderBy("id_contained", "id_container")


register(
    "dedup_containment_prefix",
    q_dedup_containment_prefix,
    oracle_for("dedup_containment"),
)


def q_dedup_containment_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed containment at c ≥ 0.8 over banded-MinHash candidates
    (`minhash_containment_pairs`) — the sf10-capable containment tier:
    candidate generation shuffles (band, bucket) keys only, never the
    posting lists. Full containment oracle: at this fixture's
    similarity geometry, containment-qualifying pairs are near-dup
    clusters with J high enough that 16×4 banding recalls them all
    (the structural miss — strongly asymmetric pairs — is documented
    on the operator, with the lossless prefix tier as the
    alternative)."""
    from gaming_ai_analytics_spark.operators.dedup import (
        minhash_containment_pairs,
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.length(F.trim("text")) > 0)
    )
    return minhash_containment_pairs(
        docs, "doc_id", "text", k=3, threshold=0.8
    ).orderBy("id_contained", "id_container")


register(
    "dedup_containment_lsh",
    q_dedup_containment_lsh,
    oracle_for("dedup_containment"),
)


def q_embedding_dim_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-DIMENSION embedding health profile — the complement of
    `embedding_norm_profile`: mean/std/min/max for each of the 64
    coordinates, the check that catches dead dimensions (std ≈ 0),
    un-centered features, and variance collapse before a whitening or
    quantization step trusts the geometry.

    Scale shape: one posexplode (64× fan-out of an 8-byte float — far
    cheaper than the text shingle explodes) into a map-side-combined
    aggregation on a 64-value key. Variance via avg(v²) − avg(v)²
    (values are O(1/√dim); no cancellation at this magnitude, and the
    identical formula runs on both engines)."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.col("v").cast("double")
    return (
        emb.select(F.posexplode("embedding").alias("dim", "v"))
        .groupBy("dim")
        .agg(
            F.round(F.avg(v) + 5e-10, 6).alias("mean_v"),
            F.round(
                F.sqrt(F.avg(v * v) - F.pow(F.avg(v), 2)) + 5e-10, 6
            ).alias("std_v"),
            F.round(F.min(v), 6).alias("min_v"),
            F.round(F.max(v), 6).alias("max_v"),
        )
    )


register(
    "embedding_dim_profile",
    q_embedding_dim_profile,
    """
    WITH vals AS (
      SELECT u.i AS dim, CAST(embedding[u.i + 1] AS DOUBLE) AS v
      FROM embeddings, (SELECT unnest(generate_series(0, 63)) AS i) u)
    SELECT dim,
           ROUND(AVG(v) + 5e-10, 6) AS mean_v,
           ROUND(SQRT(AVG(v * v) - POW(AVG(v), 2)) + 5e-10, 6) AS std_v,
           ROUND(MIN(v), 6) AS min_v,
           ROUND(MAX(v), 6) AS max_v
    FROM vals GROUP BY 1
    """,
)


# --------------------------------------------------------------------------
# Cross-document duplicated n-gram spans (ExactSubstr-lite)
# --------------------------------------------------------------------------
from gaming_ai_analytics_spark.functions.text import word_ngrams  # noqa: E402

_NONEMPTY = "text IS NOT NULL AND LENGTH(TRIM(text)) > 0"
_SPAN_K = 8  # span unit: word 8-grams (Lee et al. 2022 use 50-char spans)


def q_duplicate_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document CROSS-corpus duplicated-span fraction: the share
    of a document's distinct word 8-grams that also appear in at
    least one OTHER document — the span-level signal behind
    ExactSubstr deduplication (Lee et al., "Deduplicating Training
    Data Makes Language Models Better", 2022): whole-doc dedup
    misses boilerplate, licenses, and quoted passages that repeat
    inside otherwise-unique documents, and those repeated spans are
    what a trained model memorizes verbatim.  `quality_repetition`
    is the WITHIN-doc complement; this is the corpus-wide one.

    Scale shape: one corpus scan; the per-doc-distinct gram frame
    shuffles ONCE on the gram key, where an aggregate-only window
    attaches each gram's document frequency, then one
    map-side-combined per-doc aggregation.  The groupBy-count +
    join-back alternative was A/B'd at sf10 and REFUTED (BASELINE.md
    §3: window 6.1–13.2 s vs join 13.2–14.5 s interleaved — the join
    arm pays the gram-keyed corpus shuffle TWICE, into the count and
    into the join, plus the df-frame exchange).  Residual trade,
    stated honestly: a window partition cannot be AQE-skew-split, so
    a degenerate boilerplate gram present in x% of all docs buffers
    x%·|corpus| rows through one spilling task; the join form would
    let AQE split that key — it just costs 2× on every non-degenerate
    corpus, and the operator's job is to FIND such boilerplate before
    it reaches that density.  The precondition is GUARDED (ADVICE
    r10): tests/test_dedup_similarity.py::
    test_duplicate_ngram_spans_skew_guard pins the hottest gram at
    <= 5% of documents on the fixture (measured 0.6–0.8%), failing
    with the join-back remedy named before a skewed corpus reaches a
    production-sized run.  At 100 TB the production tier would
    shuffle a 128-bit gram fingerprint instead of the span text —
    same plan, narrower exchange; the readout keeps the raw span so
    the oracle stays engine-exact (the r9 xxhash64 review rejected
    64-bit keys at the 10^10-doc design point).  Docs shorter than 8
    words have no spans and are absent from the readout on both
    engines by construction."""
    docs = _nonempty_docs(spark, sf_dir)
    return _span_dup_readout(_span_grams_with_df(docs))


def _span_grams_with_df(docs: DataFrame) -> DataFrame:
    """(doc_id, gram, df) frame shared by the registered query and its
    observed probe twin: per-doc-distinct 8-grams, document frequency
    attached by the aggregate-only window on the gram key."""
    grams = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(word_ngrams(F.col("text"), _SPAN_K))
        ).alias("g"),
    )
    return grams.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("g"))
    )


def _span_dup_readout(with_df: DataFrame) -> DataFrame:
    return with_df.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum((F.col("df") >= 2).cast("int")).alias("n_dup_spans"),
        F.round(
            F.sum((F.col("df") >= 2).cast("int"))
            / F.count(F.lit(1))
            + 5e-10,
            4,
        ).alias("dup_span_frac"),
    )


#: The gram-window form's documented precondition: the hottest 8-gram
#: may cover at most this share of documents before the unsplittable
#: window partition becomes the stage bottleneck (the A/B'd join-back
#: form is the remedy past it — BASELINE.md §3).
SPAN_GRAM_MAX_DF_SHARE = 0.05


def duplicate_ngram_spans_observed(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, Callable[[], dict[str, float]]]:
    """Probe/bench twin of `duplicate_ngram_spans` with the skew-guard
    metrics riding the job itself (VERDICT r11 ask #3): two
    ``DataFrame.observe`` taps — corpus size on the doc scan, hottest
    gram df on the windowed frame — so ANY production-sized run of
    the probe path reports the skew precondition it depends on, not
    just the fixture (the fixture-side pin is
    test_duplicate_ngram_spans_skew_guard).  Measured cost of the
    taps at sf1: ~0.3–0.6 s on a ~1.5 s query (the gram-side
    CollectMetrics sits between the window and the partial aggregate,
    narrowing the codegen span) — fine for a diagnostics/probe run,
    which is why the taps live on this twin and not the registered
    query.

    Returns ``(result, check)``: materialize ``result`` first (an
    Observation is populated by job completion), then ``check()``
    returns ``{n_docs, max_df, max_df_share}`` and raises
    ``ValueError`` naming the join-back remedy when the hottest gram
    exceeds ``SPAN_GRAM_MAX_DF_SHARE`` of documents — catching a
    boilerplate-skew regression cheaply, before the window stage
    serializes at scale."""
    from pyspark.sql import Observation

    docs_obs = Observation("span_docs")
    gram_obs = Observation("span_gram_skew")
    docs = _nonempty_docs(spark, sf_dir).observe(
        docs_obs, F.count(F.lit(1)).alias("n_docs")
    )
    with_df = _span_grams_with_df(docs).observe(
        gram_obs, F.max("df").alias("max_df")
    )

    def check() -> dict[str, float]:
        n_docs = docs_obs.get["n_docs"]
        max_df = gram_obs.get["max_df"] or 0
        share = max_df / n_docs if n_docs else 0.0
        if share > SPAN_GRAM_MAX_DF_SHARE:
            raise ValueError(
                f"hottest 8-gram covers {max_df}/{n_docs} docs "
                f"({share:.1%} > {SPAN_GRAM_MAX_DF_SHARE:.0%}): the "
                "gram-window form would funnel that share of the "
                "corpus through one unsplittable task — switch to the "
                "join-back form (A/B in BASELINE.md §3) or strip the "
                "boilerplate first"
            )
        return {"n_docs": n_docs, "max_df": max_df,
                "max_df_share": share}

    return _span_dup_readout(with_df), check


register(
    "duplicate_ngram_spans",
    q_duplicate_ngram_spans,
    f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS} AS t FROM documents WHERE {_NONEMPTY}
    ),
    g AS (
      SELECT DISTINCT doc_id,
             t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
               || ' ' || t[i+4] || ' ' || t[i+5] || ' ' || t[i+6]
               || ' ' || t[i+7] AS g
      FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 7)) AS i
            FROM toks WHERE len(t) >= 8)
    ),
    d AS (
      SELECT doc_id, g,
             COUNT(*) OVER (PARTITION BY g) AS df
      FROM g
    )
    SELECT doc_id, COUNT(*) AS n_spans,
           CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_spans,
           ROUND(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*) + 5e-10, 4) AS dup_span_frac
    FROM d GROUP BY 1
    """,
)


def q_duplicate_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-span REMOVAL (the Lee et al. 2022
    ExactSubstr pipeline step the corpus actually needs —
    `duplicate_ngram_spans` only measures the fraction): every token
    covered by at least one word 8-gram that appears in >= 2 DISTINCT
    documents is dropped, and each document re-emits its surviving
    tokens in order.  Within-doc-only repeats (df = 1) are kept — the
    cross-doc df is the memorization signal, and the within-doc
    complement is `quality_repetition`'s Gopher rule.  Documents whose
    every token is covered vanish from the cleaned corpus, like
    `chunk_dedup_clean`'s fully-seen documents.

    Scale shape (r13 — guide §8 "decide with small rows, move big
    rows once"; the token payload crosses the network exactly once):
    (1) the corpus gram frame shuffles ONCE on the gram key — an
    explicit repartition("g") whose exchange serves both the (gram,
    doc_id) start-position aggregate (hash(g) clusters (g, id)) and
    the df-count window; (2) flagged spans explode to covered
    (doc_id, position) rows — at most 8x the flagged starts — and
    collapse per doc into one sorted int array: the "decision"
    frame, a few bytes per covered token, no text; (3) that array
    LEFT-joins the token-array frame on the doc key — the one
    payload shuffle — and each document is rebuilt map-side:
    ``array_except(sequence(0, n-1), cov)`` (hash-set, linear)
    indexed back into its own token array.  The doc-key join is
    ``shuffle_hash``-pinned through the module's planner-trust gate:
    the build side is the per-doc covered arrays — explode-derived,
    so Catalyst's size estimate predates the fan-out, and the static
    planner BROADCAST it at the r11 sf10 probe (the r8 heap-OOM
    class, on the 10x-replicated fixture where nearly every gram is
    cross-doc duplicated); a per-partition hash build is
    corpus/shuffle-partitions sized, while sort-merge would sort the
    token-array payload.  The pre-r13 shape (position-explode
    anti-join on (doc_id, position) + struct-collect reassembly)
    shuffled every token TWICE; the rewrite measured 2.05 → 1.88 s
    at sf0.1, 5.9 → 5.3 s at sf1, 40.5 → ~35 s at sf10,
    byte-identical output.  At 100 TB the production tier would
    carry a 128-bit gram fingerprint through (1) instead of span
    text (same plan, narrower exchange), exactly as documented on
    the measuring twin."""
    from gaming_ai_analytics_spark.operators.dedup import (
        remove_duplicate_spans,
    )

    return remove_duplicate_spans(
        _nonempty_docs(spark, sf_dir), k=_SPAN_K
    )


register(
    "duplicate_span_removal",
    q_duplicate_span_removal,
    f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS} AS t FROM documents WHERE {_NONEMPTY}
    ),
    gp AS (
      SELECT doc_id, i,
             t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
               || ' ' || t[i+4] || ' ' || t[i+5] || ' ' || t[i+6]
               || ' ' || t[i+7] AS g
      FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 7)) AS i
            FROM toks WHERE len(t) >= 8)
    ),
    dg AS (SELECT DISTINCT doc_id, g FROM gp),
    dfr AS (
      SELECT doc_id, g, COUNT(*) OVER (PARTITION BY g) AS df FROM dg
    ),
    fl AS (
      SELECT gp.doc_id, gp.i
      FROM gp JOIN dfr ON gp.doc_id = dfr.doc_id AND gp.g = dfr.g
      WHERE dfr.df >= 2
    ),
    cov AS (
      SELECT doc_id, unnest(generate_series(i, i + 7)) AS p FROM fl
    ),
    pos AS (
      SELECT doc_id, len(t) AS n_tokens, unnest(t) AS tok,
             unnest(generate_series(1, len(t))) AS p
      FROM toks
    ),
    kept AS (
      SELECT * FROM pos
      WHERE NOT EXISTS (SELECT 1 FROM cov
                        WHERE cov.doc_id = pos.doc_id AND cov.p = pos.p)
    )
    SELECT doc_id, MAX(n_tokens) AS n_tokens, COUNT(*) AS n_kept,
           MAX(n_tokens) - COUNT(*) AS n_removed,
           STRING_AGG(tok, ' ' ORDER BY p) AS cleaned_text
    FROM kept GROUP BY 1
    """,
)


def _pq_codebooks_cached(spark: SparkSession, sf_dir: str):
    """Train the PQ codebooks at most once per (session, sf_dir,
    embeddings fingerprint) via ``artifacts.once``. The build itself
    is BOUNDED execution (one count + one ≤PQ_TRAIN_SAMPLE_ROWS sample
    collect; Lloyd's runs in numpy on the driver), documented in
    tools/plan_audit.py's construction-time exception list."""
    from gaming_ai_analytics_spark.operators.similarity import (
        train_pq_codebooks,
    )

    return artifacts.once(
        spark, sf_dir, "pq_codebooks",
        lambda: train_pq_codebooks(
            load_table(spark, sf_dir, "embeddings"),
            dim=EMBEDDING_DIM,
            m=_PQ_M,
            ksub=_PQ_KSUB,
        ),
        sources=("embeddings",),
    )


#: Registered PQ parameters: 16 subspaces × 32 codes = 80 bits
#: (10 bytes) per vector vs 256 raw float bytes — a 25× smaller ADC
#: scan — with top-(k·20) exact re-ranking. Measured recall vs the
#: exact tier on the near-random fixture geometry (the regime the LSH
#: twin documents — true-neighbor margins are thin, so quantization
#: error needs the refine cut to be generous): 1.0 at sf0.001, 1.0 at
#: sf0.01, 0.96 at sf0.1 — ≥0.16 margin over the 0.8 floor.  The
#: coarser m=8/ksub=16 (4-byte codes) measured 0.88 at sf0.1 and
#: could not carry the floor; real-corpus geometry affords it.
_PQ_M = 16
_PQ_KSUB = 32
_PQ_REFINE = 20


def q_similarity_topk_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall contract for the PRODUCT-QUANTIZATION ANN tier vs the
    exact tier — floor 0.8. PQ completes the ANN ladder's pruning
    axes: LSH prunes by collision, IVF prunes by cell, PQ shrinks
    every comparison (m table lookups instead of a dim-wide dot;
    Jégou et al. 2011) and re-ranks the bounded ADC top-R exactly.
    Codebooks train on a BOUNDED deterministic sample once per
    (session, sf_dir); encoding and ADC scoring are map-only; the
    only shuffle is the candidate tournament — at 100 TB the ADC scan
    reads 10-byte codes, not 256-byte vectors, and the raw-vector
    scan happens once for the |probes|·R candidate join
    (operators/similarity.py `topk_similar_pq`)."""
    from gaming_ai_analytics_spark.operators.similarity import topk_similar_pq

    emb = load_table(spark, sf_dir, "embeddings")
    probes = _probes(spark, sf_dir)
    ann = topk_similar_pq(
        emb,
        probes,
        k=_TOPK_K,
        dim=EMBEDDING_DIM,
        m=_PQ_M,
        ksub=_PQ_KSUB,
        refine=_PQ_REFINE,
        probe_rows=_probe_rows(spark, sf_dir),
        codebooks=_pq_codebooks_cached(spark, sf_dir),
    )
    return _ann_recall_summary(
        topk_similar(emb, probes, k=_TOPK_K), ann, floor=0.8
    )


register(
    "similarity_topk_pq_recall", q_similarity_topk_pq_recall, _ANN_RECALL_ORACLE
)


def q_similarity_topk_pq_saved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAVED-index serving shape of the PQ tier: `..._pq_recall`
    re-trains codebooks and re-encodes the corpus per process — the
    self-contained-oracle shape — but the 100 TB serving path trains
    and ENCODES once, persists codes + codebooks + parameter meta
    (`save_pq_index`, the `save_ivf_index` discipline), and probes
    nightly: per-night cost is the ADC scan over the 25× smaller
    codes TABLE plus the bounded exact re-rank against the raw
    vectors — no train, no count, no re-encode. Build and index load
    run at most once per (session, sf_dir) so repeated invocations
    measure the probe path; the registered readout is the same hash-checked 0.8
    recall contract as the in-query twin (same codebooks by seed, so
    the saved index must answer exactly like the in-memory build;
    equality test-pinned in tests/test_dedup_similarity.py).
    Per-night decomposition vs the retrain path: BASELINE.md."""
    from gaming_ai_analytics_spark.operators.similarity import (
        load_pq_index,
        pq_encode,
        save_pq_index,
        topk_similar,
        topk_similar_pq_saved,
    )
    from gaming_ai_analytics_spark.sources.io import TableStore

    emb = load_table(spark, sf_dir, "embeddings")
    probes = _probes(spark, sf_dir)
    store = TableStore(spark, artifacts.workdir(sf_dir, "pqidx"))
    name = f"pq{artifacts.token(sf_dir)}"

    def build():
        books = _pq_codebooks_cached(spark, sf_dir)
        coded = pq_encode(
            emb.filter(F.col("embedding").isNotNull()),
            books,
            "vec_id",
            "embedding",
        )
        save_pq_index(store, "idx", name, coded, books)
        return load_pq_index(spark, store, "idx", name)

    # path-existence check, not catalog.tableExists: save() writes
    # path-based parquet (only save_bucketed registers catalog tables)
    index = artifacts.once(
        spark, sf_dir, "pq_saved", build, sources=("embeddings",),
        exists=lambda: store.exists("idx", f"{name}_codes"),
    )
    ann = topk_similar_pq_saved(
        index,
        emb,
        probes,
        k=_TOPK_K,
        refine=_PQ_REFINE,
        probe_rows=_probe_rows(spark, sf_dir),
    )
    return _ann_recall_summary(
        topk_similar(emb, probes, k=_TOPK_K), ann, floor=0.8
    )


register(
    "similarity_topk_pq_saved", q_similarity_topk_pq_saved, _ANN_RECALL_ORACLE
)
