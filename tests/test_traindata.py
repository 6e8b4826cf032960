"""Training-data pipeline operator tests: chunking, vocabulary,
TF-IDF, deterministic sampling (queries_traindata) plus the reshape /
JSON queries in queries_ext."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gaming_ai_analytics_spark.functions.text import token_chunks

SF = "/root/testdata/sf0.001"


def test_token_chunks_cover_all_tokens_with_overlap(spark):
    text = " ".join(f"w{i}" for i in range(100))  # 100 tokens
    df = spark.createDataFrame([(1, text)], ["id", "text"])
    rows = (
        df.select(F.explode(token_chunks(F.col("text"), 32, 24)).alias("c"))
        .select("c.chunk_no", "c.chunk")
        .collect()
    )
    # 1 + ceil((100-32)/24) = 1 + 3 = 4 chunks
    assert [r.chunk_no for r in sorted(rows, key=lambda r: r.chunk_no)] == [0, 1, 2, 3]
    covered = set()
    for r in rows:
        toks = r.chunk.split(" ")
        assert len(toks) <= 32
        covered.update(toks)
    assert covered == {f"w{i}" for i in range(100)}  # full coverage
    # consecutive chunks overlap by size - stride = 8 tokens
    by_no = {r.chunk_no: r.chunk.split(" ") for r in rows}
    assert by_no[0][-8:] == by_no[1][:8]


def test_token_chunks_short_doc_single_chunk(spark):
    df = spark.createDataFrame([(1, "a b c")], ["id", "text"])
    rows = df.select(
        F.explode(token_chunks(F.col("text"), 32, 24)).alias("c")
    ).collect()
    assert len(rows) == 1 and rows[0].c.chunk == "a b c"


def test_chunk_dedup_clean_planted_duplicates(spark, monkeypatch):
    """C4-style span dedup on a planted corpus: a chunk repeated
    across documents (and again inside one document) survives only at
    its first (doc_id, chunk_no) occurrence; documents reassemble from
    surviving chunks in order; a document whose every chunk was seen
    earlier vanishes from the cleaned corpus."""
    from gaming_ai_analytics_spark import registry

    registry.queries()  # run _load_all first — a direct module import
    # here would re-enter queries_traindata half-initialized (the
    # registry's documented circular-import hazard)
    import gaming_ai_analytics_spark.queries_traindata as qt

    dup = " ".join(["dup"] * 16)  # one full 16-token chunk
    uniq_a = " ".join(f"a{i}" for i in range(16))
    uniq_b = " ".join(f"b{i}" for i in range(16))
    docs = spark.createDataFrame(
        [
            # doc 0: unique chunk + the dup chunk
            (0, uniq_a + " " + dup, "en", 32),
            # doc 1: dup chunk twice — both lose to doc 0's copy
            (1, dup + " " + dup, "en", 32),
            # doc 2: dup chunk + its own unique chunk
            (2, dup + " " + uniq_b, "en", 32),
        ],
        ["doc_id", "text", "lang", "n_chars"],
    )
    monkeypatch.setattr(qt, "_docs", lambda spark, sf_dir: docs)
    rows = {r.doc_id: r for r in qt.q_chunk_dedup_clean(spark, "ignored").collect()}
    assert set(rows) == {0, 2}  # doc 1 fully deduped away
    assert rows[0].n_chunks == 2 and rows[0].n_kept == 2
    assert rows[0].cleaned_text == uniq_a + " " + dup
    assert rows[2].n_chunks == 2 and rows[2].n_kept == 1
    assert rows[2].cleaned_text == uniq_b  # dup chunk stripped, order kept


def test_sample_stratified_deterministic_and_pushed_down(spark):
    from gaming_ai_analytics_spark.queries_traindata import q_sample_stratified

    a = {r.doc_id for r in q_sample_stratified(spark, SF).collect()}
    b = {r.doc_id for r in q_sample_stratified(spark, SF).collect()}
    assert a == b and a  # identical across reruns
    plan = (
        q_sample_stratified(spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # arithmetic predicate evaluates in the scan stage, not post-shuffle
    assert "Exchange" not in plan


def test_redact_pii_planted_strings(spark):
    """The fixture corpus has no PII, so the redaction behavior itself
    is pinned here on planted spans of every pattern class."""
    from gaming_ai_analytics_spark.functions.text import (
        pii_match_count,
        redact_pii,
    )

    cases = [
        (1, "contact bob.smith+spam@mail.example.org for details", 1,
         "contact <EMAIL> for details"),
        (2, "server at 192.168.001.12 timed out", 1,
         "server at <IP> timed out"),
        (3, "call +1 555 010 1234 today", 1, "call <PHONE> today"),
        (4, "no pii here at all", 0, "no pii here at all"),
        # email host contains dots but must count once (email wins first)
        (5, "a@b.co and 10.0.0.1 and 555-123-4567", 3,
         "<EMAIL> and <IP> and <PHONE>"),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t, _, _ in cases], ["id", "text"]
    )
    out = {
        r.id: (r.n, r.clean)
        for r in df.select(
            "id",
            pii_match_count(F.col("text")).alias("n"),
            redact_pii(F.col("text")).alias("clean"),
        ).collect()
    }
    for i, _, n, clean in cases:
        assert out[i] == (n, clean), (i, out[i])


def test_repetition_metrics_extremes(spark):
    from gaming_ai_analytics_spark.functions.text import repetition_metrics

    df = spark.createDataFrame(
        [
            (1, "spam " * 50),  # one bigram repeated: both fracs ~1
            (2, " ".join(f"w{i}" for i in range(50))),  # all unique: 0
            (3, "a b"),  # too short for trigrams
            (4, ""),  # empty
        ],
        ["id", "text"],
    )
    m = repetition_metrics(F.col("text"))
    out = {
        r.id: (r.d, r.t)
        for r in df.select(
            "id",
            m["dup_trigram_frac"].alias("d"),
            m["top_bigram_frac"].alias("t"),
        ).collect()
    }
    assert out[1][0] > 0.9 and out[1][1] == 1.0
    assert out[2] == (0.0, round(1 / 49, 4))  # every bigram unique
    assert out[3] == (0.0, 1.0)  # single bigram IS the mode
    assert out[4] == (0.0, 0.0)


def test_cross_corpus_overlap_planted(spark):
    from gaming_ai_analytics_spark.operators.dedup import cross_corpus_overlap

    leak = " ".join(f"t{i}" for i in range(12))  # 12-token shared span
    train = spark.createDataFrame(
        [(1, leak + " tail tail tail"), (2, "totally unrelated words only")],
        ["doc_id", "text"],
    )
    ev = spark.createDataFrame(
        [(100, "prefix words " + leak)], ["doc_id", "text"]
    )
    rows = cross_corpus_overlap(train, ev, "doc_id", "text", k=8).collect()
    assert len(rows) == 1 and rows[0].doc_id == 1
    # 12-token span → 5 distinct 8-grams shared, 1 eval doc
    assert rows[0].n_overlap_shingles == 5 and rows[0].n_eval_docs == 1


def test_export_shards_deterministic_partition_of_corpus(spark):
    from gaming_ai_analytics_spark.queries_traindata import q_export_shards

    rows = q_export_shards(spark, SF).collect()
    again = q_export_shards(spark, SF).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
    by_shard: dict[int, list[int]] = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append(r.seq)
    assert set(by_shard) <= set(range(8))
    for seqs in by_shard.values():  # dense 1..n per shard
        assert sorted(seqs) == list(range(1, len(seqs) + 1))


def test_tf_idf_no_driver_action_for_corpus_size(spark, monkeypatch):
    """N comes from a broadcast 1-row aggregate, never df.count()."""
    from pyspark.sql import DataFrame

    from gaming_ai_analytics_spark.queries_traindata import q_tf_idf

    def boom(*a, **k):
        raise AssertionError("driver action during plan construction")

    for action in ("count", "collect", "first", "take", "head"):
        monkeypatch.setattr(DataFrame, action, boom)
    q_tf_idf(spark, SF)  # plan construction only — must not act


# --------------------------------------------------------------------------
# round-3 additions: quality gate, token budget, bigrams, histogram
# --------------------------------------------------------------------------
def _inject_docs(spark, rows):
    from gaming_ai_analytics_spark.sources import star

    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    key = (spark.sparkContext.applicationId, "_mem", "documents")
    star._TABLE_CACHE[key] = df
    return key, star


def test_quality_gate_rules_flags_each_rule(spark):
    from gaming_ai_analytics_spark.queries_traindata import q_quality_gate_rules

    good = "the cat sat of the mat and then went to sleep in town"
    rows = [
        (1, good, "en", "s", len(good)),
        (2, "too short", "en", "s", 9),                     # n_tokens < 5
        (3, "!!! ??? ### $$$ %%% ^^^ &&& *** ((( )))", "en", "s", 40),  # punct
        (4, "zx qw er ty ui op as df gh jk", "en", "s", 30),  # no stopwords
    ]
    key, star = _inject_docs(spark, rows)
    try:
        out = {r.doc_id: r for r in
               q_quality_gate_rules(spark, "_mem").collect()}
    finally:
        del star._TABLE_CACHE[key]
    assert out[1].keep is True
    assert out[2].keep is False
    assert out[3].keep is False and out[3].punct_ratio >= 0.3
    assert out[4].keep is False and out[4].stop_ratio == 0.0


def test_token_budget_select_matches_global_cumsum(spark):
    """The two-level banded cumsum must equal the naive global-window
    answer (the oracle's formulation) on a corpus spanning many
    quality bands."""
    from pyspark.sql import Window

    from gaming_ai_analytics_spark.functions.text import (
        quality_score,
        token_count,
    )
    from gaming_ai_analytics_spark.queries_traindata import (
        q_token_budget_select,
    )

    rows = []
    for i in range(60):
        # vary length and stopword share → a spread of quality scores
        body = " ".join(["the cat sat of it"] * (1 + i % 7))
        filler = " ".join(["zzz"] * (i % 11))
        rows.append((i, f"{body} {filler}".strip(), "en", "s", 10))
    key, star = _inject_docs(spark, rows)
    try:
        got = {
            (r.doc_id, r.cum_tokens)
            for r in q_token_budget_select(spark, "_mem").collect()
        }
        scored = star._TABLE_CACHE[key].select(
            "doc_id",
            token_count(F.col("text")).cast("long").alias("n_tokens"),
            quality_score(F.col("text")).alias("quality"),
        )
        w = Window.orderBy(F.desc("quality"), "doc_id")
        want = {
            (r.doc_id, r.cum)
            for r in scored.withColumn("cum", F.sum("n_tokens").over(w))
            .filter(F.col("cum") <= 10_000)
            .collect()
        }
    finally:
        del star._TABLE_CACHE[key]
    assert got == want and got


def test_vocab_bigrams_counts_multiplicity(spark):
    from gaming_ai_analytics_spark.queries_traindata import q_vocab_bigrams

    rows = [(1, "a b a b", "en", "s", 7), (2, "a b c", "en", "s", 5)]
    key, star = _inject_docs(spark, rows)
    try:
        out = {r.bigram: r.n for r in q_vocab_bigrams(spark, "_mem").collect()}
    finally:
        del star._TABLE_CACHE[key]
    # doc1 bigrams: "a b", "b a", "a b"  → multiplicity kept
    assert out == {"a b": 3, "b a": 1, "b c": 1}


def test_token_length_histogram_buckets(spark):
    from gaming_ai_analytics_spark.queries_traindata import (
        q_token_length_histogram,
    )

    rows = [
        (1, " ".join(["w"] * 10), "en", "s", 19),   # bucket 0
        (2, " ".join(["w"] * 30), "en", "s", 59),   # bucket 1
        (3, " ".join(["w"] * 40), "en", "s", 79),   # bucket 1
    ]
    key, star = _inject_docs(spark, rows)
    try:
        out = {r.bucket: (r.n_docs, r.total_tokens)
               for r in q_token_length_histogram(spark, "_mem").collect()}
    finally:
        del star._TABLE_CACHE[key]
    assert out == {0: (1, 10), 1: (2, 70)}


def test_event_path_transitions_planted_sequences(spark):
    import datetime as dt

    from gaming_ai_analytics_spark.queries_analytics import (
        q_event_path_transitions,
    )
    from gaming_ai_analytics_spark.sources import star

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        # user 1: view → click → view;  user 2: view → click
        (1, t0, 1, "view", 1.0, "{}"),
        (2, t0 + dt.timedelta(minutes=1), 1, "click", 1.0, "{}"),
        (3, t0 + dt.timedelta(minutes=2), 1, "view", 1.0, "{}"),
        (4, t0, 2, "view", 1.0, "{}"),
        (5, t0 + dt.timedelta(minutes=1), 2, "click", 1.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string"
    )
    key = (spark.sparkContext.applicationId, "_mem", "events")
    star._TABLE_CACHE[key] = df
    try:
        out = {(r.prev_type, r.next_type): (r.n, r.share)
               for r in q_event_path_transitions(spark, "_mem").collect()}
    finally:
        del star._TABLE_CACHE[key]
    assert out[("view", "click")] == (2, 1.0)  # view always → click
    # user 2's click ends their path (lead = NULL, no transition), so
    # the only observed click transition is click → view
    assert out[("click", "view")] == (1, 1.0)
    assert len(out) == 2


def test_mixture_rebalance_rates_hit_uniform_target(spark):
    from gaming_ai_analytics_spark.queries_traindata import q_mixture_rebalance

    # 3 sources: 60 / 30 / 10 docs; uniform target = 100/3 ≈ 33.3 docs
    rows = []
    i = 0
    for src, n in (("big", 60), ("mid", 30), ("small", 10)):
        for _ in range(n):
            rows.append((i, "x", "en", src, 1))
            i += 1
    key, star = _inject_docs(spark, rows)
    try:
        out = q_mixture_rebalance(spark, "_mem").collect()
    finally:
        del star._TABLE_CACHE[key]
    rates = {r.source: r.rate for r in out}
    # under-target sources keep everything (rate capped at 1)
    assert rates.get("small") == 1.0 and rates.get("mid") == 1.0
    assert abs(rates["big"] - 100 / 3 / 60) < 1e-6
    kept = {s: sum(1 for r in out if r.source == s) for s in rates}
    assert kept["small"] == 10 and kept["mid"] == 30
    assert kept["big"] < 60  # over-represented source was downsampled


def test_anomaly_mad_robust_to_planted_spike(spark):
    import datetime as dt

    from gaming_ai_analytics_spark.queries_analytics import q_anomaly_mad
    from gaming_ai_analytics_spark.sources import star

    t0 = dt.datetime(2024, 1, 1)
    # 100 well-behaved values in [0, 10) plus one enormous spike
    rows = [
        (i, t0, 1, "a", float(i % 10), "{}") for i in range(100)
    ] + [(100, t0, 1, "a", 1e9, "{}")]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string"
    )
    key = (spark.sparkContext.applicationId, "_mem", "events")
    star._TABLE_CACHE[key] = df
    try:
        out = q_anomaly_mad(spark, "_mem").collect()[0]
    finally:
        del star._TABLE_CACHE[key]
    # the spike cannot drag the robust center/scale appreciably …
    assert out.med < 10 and out.mad < 10
    # … and is itself the single flagged outlier
    assert out.n_outliers == 1


def test_embedding_norm_profile_bounds(spark, sf_dir):
    from gaming_ai_analytics_spark.queries_llm import q_embedding_norm_profile

    for r in q_embedding_norm_profile(spark, sf_dir).collect():
        assert 0 < r.min_norm <= r.avg_norm <= r.max_norm


def test_dataset_hash_split_partitions_and_proportions(spark, sf_dir):
    """The 3-way hash split must PARTITION the corpus (every doc in
    exactly one split — counts sum to the table count) and land near
    the 90/5/5 design fractions; and the assignment must be stable
    across runs (pure arithmetic, no rand())."""
    from gaming_ai_analytics_spark.queries_traindata import (
        q_dataset_hash_split,
    )
    from gaming_ai_analytics_spark.sources.star import load_table

    rows = {r.split: r for r in q_dataset_hash_split(spark, sf_dir).collect()}
    assert set(rows) == {"train", "val", "test"}
    total = load_table(spark, sf_dir, "documents").count()
    assert sum(r.n_docs for r in rows.values()) == total
    train_frac = rows["train"].n_docs / total
    assert 0.85 <= train_frac <= 0.95
    again = {r.split: r.n_docs for r in q_dataset_hash_split(spark, sf_dir).collect()}
    assert again == {k: v.n_docs for k, v in rows.items()}


def test_leakage_safe_split_no_cluster_straddles(spark, tmp_path):
    """The r7 cluster-aware split's whole point: no exact-duplicate
    fingerprint may appear in more than one split. The shipped
    fixtures contain no EXACT duplicates (their planted near-dups
    differ post-normalization), so plant our own corpus: duplicate
    texts whose copies' doc_ids hash to DIFFERENT splits under the
    naive per-doc rule — proving the guard is not a no-op — then
    assert the operator binds every copy to its cluster
    representative's split and its summary matches an independent
    recomputation."""
    from gaming_ai_analytics_spark import registry  # noqa: F401 — full
    # registration first: a DIRECT queries_traindata import from a cold
    # process re-enters it half-built via queries_llm's _docs import
    from gaming_ai_analytics_spark.queries_traindata import (
        q_leakage_safe_split,
    )

    def split_of(key: int) -> str:
        b = (key * 1103515245 + 12345) % 10000
        return "train" if b < 9000 else ("val" if b < 9500 else "test")

    # 200 unique docs + 3 duplicate clusters of 4 copies each, copy
    # ids spread so the naive per-doc split straddles every cluster
    rows, by_text = [], {}
    for i in range(200):
        rows.append((i, f"unique document body number {i}", "en", "web", 30))
        by_text.setdefault(f"unique document body number {i}", []).append(i)
    nxt = 200
    for c in range(3):
        text = f"duplicated corpus text cluster {c}"
        ids = []
        while len(ids) < 4:  # pick ids so copies straddle splits
            if split_of(nxt) != split_of(nxt + 1) or len(ids) > 1:
                ids.append(nxt)
            nxt += 1
        for i in ids:
            rows.append((i, text, "en", "web", len(text)))
        by_text[text] = ids
    assert any(
        len({split_of(i) for i in ids}) > 1
        for ids in by_text.values()
        if len(ids) > 1
    ), "planted ids never exercise the leakage case"

    sf_dir = str(tmp_path)
    spark.createDataFrame(
        rows, "doc_id BIGINT, text STRING, lang STRING, "
        "source STRING, n_chars BIGINT"
    ).write.parquet(f"{sf_dir}/documents.parquet")

    got = {r.split: r for r in q_leakage_safe_split(spark, sf_dir).collect()}
    from collections import Counter

    cluster_split = {t: split_of(min(ids)) for t, ids in by_text.items()}
    want_clusters = Counter(cluster_split.values())
    want_docs = Counter()
    for t, ids in by_text.items():
        want_docs[cluster_split[t]] += len(ids)
    assert {k: r.n_clusters for k, r in got.items()} == dict(want_clusters)
    assert {k: r.n_docs for k, r in got.items()} == dict(want_docs)


def test_dq_observed_metrics_match_dedicated_scan(spark, sf_dir):
    """Observed (ride-along) metrics must equal a dedicated
    aggregation over the same table — the zero-extra-scan claim is
    only useful if the numbers are the same numbers."""
    from gaming_ai_analytics_spark.queries_ext import q_dq_observed_metrics
    from gaming_ai_analytics_spark.sources.star import load_table

    got = q_dq_observed_metrics(spark, sf_dir).collect()[0]
    docs = load_table(spark, sf_dir, "documents")
    want = docs.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("text").isNull().cast("long")).alias("null_text"),
        F.sum(F.col("lang").isNull().cast("long")).alias("null_lang"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    ).collect()[0]
    assert tuple(got) == tuple(want)


def test_sample_exact_k_per_group_quota_and_determinism(spark, sf_dir):
    """Exactly-k sampling: ≤10 rows per language (== 10 when the
    stratum has ≥10 docs), ranks are contiguous 1..n, and reruns pick
    the identical doc set (hash ranking, no nondeterminism)."""
    from collections import defaultdict

    from gaming_ai_analytics_spark.queries_traindata import (
        q_sample_exact_k_per_group,
    )

    rows = q_sample_exact_k_per_group(spark, sf_dir).collect()
    by_lang = defaultdict(list)
    for r in rows:
        by_lang[r.lang].append(r)
    for lang, picks in by_lang.items():
        assert len(picks) <= 10
        assert sorted(p.pick_rank for p in picks) == list(
            range(1, len(picks) + 1)
        )
    again = {(r.lang, r.doc_id) for r in q_sample_exact_k_per_group(spark, sf_dir).collect()}
    assert again == {(r.lang, r.doc_id) for r in rows}


def test_sample_weighted_matches_reference_and_avoids_global_sort(spark, sf_dir):
    """A-ES weighted sampling: the picked doc set must equal a
    sequential Python reference computing the identical keys
    (ln(hash-uniform)/weight, top-100), and the plan must be
    TakeOrderedAndProject — per-partition heaps, never a global sort
    shuffle."""
    import math

    from gaming_ai_analytics_spark.functions.text import quality_score
    from gaming_ai_analytics_spark.queries_traindata import q_sample_weighted
    from gaming_ai_analytics_spark.sources.star import load_table

    q = q_sample_weighted(spark, sf_dir)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan  # no full-sort fallback

    got = {r.doc_id for r in q.collect()}
    base = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull() & (F.length(F.trim("text")) > 0))
        .select("doc_id", quality_score(F.col("text")).alias("qs"))
        .collect()
    )
    keyed = sorted(
        (
            (
                math.log(((r.doc_id * 2654435761) % 1048576 + 0.5) / 1048576.0)
                / (r.qs + 0.01),
                -r.doc_id,
            ),
            r.doc_id,
        )
        for r in base
    )
    want = {d for _, d in keyed[-100:]}
    assert got == want


def test_sample_weighted_prefers_heavier_docs(spark):
    """The statistical contract on a synthetic frame where weight is
    the only signal: with ids 0..9999 and weight 10 for ids < 1000
    (1 for the rest), the heavy decile must dominate the sample far
    beyond its population share."""
    from gaming_ai_analytics_spark.operators.parallelism import (
        ensure_parallelism,
    )

    docs = ensure_parallelism(
        spark.range(10_000).select(
            F.col("id").alias("doc_id"),
            F.when(F.col("id") < 1_000, 10.0).otherwise(1.0).alias("w"),
        )
    )
    u = ((F.col("doc_id") * 2654435761) % 1048576 + 0.5) / 1048576.0
    key = F.ln(u) / F.col("w")
    picked = (
        docs.orderBy((key).desc(), "doc_id").limit(200).collect()
    )
    heavy = sum(1 for r in picked if r.doc_id < 1_000)
    # population share of heavy ids is 10%; weighted draw ~> 50%
    assert heavy > 100


def test_corpus_drift_halves_nonempty_per_lang(spark, sf_dir):
    """corpus_drift_kl's KL terms assume every language appears in
    BOTH doc_id-parity halves (else p/q divides by zero and the two
    engines disagree on Infinity handling). Assert the fixture
    invariant here so a future fixture change fails THIS test, not as
    a driver hash mismatch; the operator docstring documents the
    epsilon-smoothing one-liner a production gate would add."""
    from gaming_ai_analytics_spark.queries_llm import q_corpus_drift_kl

    for r in q_corpus_drift_kl(spark, sf_dir).collect():
        assert r.p_ref > 0 and r.p_new > 0, r
        assert r.kl_term is not None and abs(r.kl_term) < 10


def test_lm_bigrams_mapping_and_edges(spark):
    """OOV→'<unk>' mapping happens per token BEFORE pair formation;
    case-folds; one-token docs yield an empty bigram array."""
    from gaming_ai_analytics_spark.queries_traindata import _lm_bigrams

    df = spark.createDataFrame(
        [(1, "The cat the CAT"), (2, "solo"), (3, "x qqq x")],
        "doc_id long, text string",
    )
    vlit = F.lit(["the", "cat", "x"])
    out = {
        r.doc_id: [(g.w1, g.w2) for g in r.g]
        for r in df.select(
            "doc_id", _lm_bigrams(F.col("text"), vlit).alias("g")
        ).collect()
    }
    assert out[1] == [("the", "cat"), ("cat", "the"), ("the", "cat")]
    assert out[2] == []
    assert out[3] == [("x", "<unk>"), ("<unk>", "x")]


def test_lm_perplexity_reference_lang_scores_lowest(spark, sf_dir):
    """The en slice trains the model, so en documents must average the
    lowest perplexity of any language; and every score sits inside the
    model's possible range (1, V+1]."""
    from gaming_ai_analytics_spark.queries_traindata import (
        q_lm_perplexity_score,
    )
    from gaming_ai_analytics_spark.sources.star import load_table

    res = q_lm_perplexity_score(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    avg = {
        r.lang: r.a
        for r in res.join(docs, "doc_id")
        .groupBy("lang")
        .agg(F.avg("ppl").alias("a"))
        .collect()
    }
    assert all(avg["en"] < v for k, v in avg.items() if k != "en")
    assert (
        res.filter((F.col("ppl") <= 1.0) | (F.col("ppl") > 257.0)).count()
        == 0
    )


def _write_docs(spark, path, rows):
    (
        spark.createDataFrame(rows, "doc_id long, text string")
        .withColumn("lang", F.lit("en"))
        .withColumn("source", F.lit("s"))
        .withColumn("n_chars", F.length("text"))
        .write.parquet(f"{path}/documents.parquet")
    )


def test_psi_zero_when_slices_identical(spark, tmp_path):
    """Identical score distributions in both parity slices: every bin
    is balanced, so every PSI term is ~0."""
    from gaming_ai_analytics_spark.queries_traindata import (
        q_quality_psi_drift,
    )

    # doc 2k and 2k+1 share a text → ref/cur slices are distribution-
    # identical by construction
    texts = [
        " ".join(f"w{j}" for j in range(5 + 7 * i)) for i in range(40)
    ]
    rows = [(2 * i, t) for i, t in enumerate(texts)] + [
        (2 * i + 1, t) for i, t in enumerate(texts)
    ]
    _write_docs(spark, tmp_path, rows)
    got = q_quality_psi_drift(spark, str(tmp_path)).collect()
    assert sum(r.psi_term for r in got) < 0.01
    assert all(r.n_ref == r.n_cur for r in got)


def test_psi_flags_planted_shift(spark, tmp_path):
    """Current slice systematically longer texts → mass leaves the low
    bins for the high bins and total PSI crosses the 0.25 'shifted'
    threshold."""
    from gaming_ai_analytics_spark.queries_traindata import (
        q_quality_psi_drift,
    )

    rows = [
        (2 * i, " ".join(f"w{j}" for j in range(5 + i)))  # ref: short
        for i in range(50)
    ] + [
        (2 * i + 1, " ".join(f"w{j}" for j in range(200 + i)))  # cur: long
        for i in range(50)
    ]
    _write_docs(spark, tmp_path, rows)
    got = q_quality_psi_drift(spark, str(tmp_path)).collect()
    assert sum(r.psi_term for r in got) > 0.25
    assert all(r.psi_term >= 0 or abs(r.psi_term) < 1e-9 for r in got)


def test_inverted_index_bounded_head_and_exact_df(spark, tmp_path):
    """Posting heads are the FIRST k doc ids in sorted order while
    doc_freq stays the full count — the bounded-state contract."""
    from gaming_ai_analytics_spark.queries_traindata import (
        _POSTINGS_HEAD,
        q_inverted_index_postings,
    )

    # 'hot' appears in 30 docs (> head width), 'cold' in 3
    rows = [(i, "hot filler%d" % i) for i in range(30)] + [
        (100 + i, "cold other%d" % i) for i in range(3)
    ]
    _write_docs(spark, tmp_path, rows)
    got = {
        r.term: (r.doc_freq, r.postings_head)
        for r in q_inverted_index_postings(spark, str(tmp_path)).collect()
    }
    assert got["hot"][0] == 30
    assert got["hot"][1] == ",".join(str(i) for i in range(_POSTINGS_HEAD))
    assert got["cold"] == (3, "100,101,102")


def test_pmi_ranks_association_over_frequency(spark, tmp_path):
    """'zx zy' co-occurs 5× and NOWHERE else → near-max PMI; 'aa bb'
    co-occurs 5× but both words are everywhere → PMI ≈ 0 and ranks
    below. Hand-check the log-space arithmetic for the pure pair."""
    import math

    from gaming_ai_analytics_spark.queries_traindata import (
        q_pmi_collocations,
    )

    rows = [(i, "zx zy") for i in range(5)]
    rows += [(10 + i, "aa bb") for i in range(5)]
    rows += [(20 + i, "aa cc aa dd") for i in range(20)]
    rows += [(50 + i, "bb ee bb ff") for i in range(20)]
    _write_docs(spark, tmp_path, rows)
    got = {r.bigram: r for r in q_pmi_collocations(spark, str(tmp_path)).collect()}
    assert set(got) >= {"zx zy", "aa bb"}
    # corpus: T unigram tokens, B bigram tokens
    T = 5 * 2 + 5 * 2 + 20 * 4 + 20 * 4
    B = 5 * 1 + 5 * 1 + 20 * 3 + 20 * 3
    ref = math.log(5) + 2.0 * math.log(T) - math.log(B) - 2 * math.log(5)
    assert abs(got["zx zy"].pmi - round(ref + 5e-10, 4)) < 1e-9
    assert got["zx zy"].pmi > got["aa bb"].pmi


def test_benford_digit_extraction_exact_at_boundary(spark, tmp_path):
    """999.995 lifts to integer cents 100000 (round-half-up) → digit 1,
    where a log10(double) formulation can misfile it under 9."""
    from gaming_ai_analytics_spark.queries_warehouse import (
        q_benford_price_digits,
    )

    rows = [(1, 999.995), (2, 912.00), (3, 100.00), (4, 19.99)]
    (
        spark.createDataFrame(rows, "o_orderkey long, o_totalprice double")
        .write.parquet(f"{tmp_path}/orders.parquet")
    )
    got = {r.digit: r.n_orders for r in q_benford_price_digits(
        spark, str(tmp_path)).collect()}
    assert got == {1: 3, 9: 1}


def test_split_assign_full_int64_domain_matches_oracle(spark):
    """ADVICE r7: the unfolded multiplicative hash overflowed int64
    for keys above ~8.4e9 (ANSI runtime error at 100 TB id ranges).
    The folded form must (a) not raise anywhere in the int64 domain,
    (b) agree bit-for-bit with the SQL oracle twin, and (c) be a
    no-op change for keys below the fold modulus."""
    import duckdb

    from gaming_ai_analytics_spark import registry  # noqa: F401
    from gaming_ai_analytics_spark.queries_traindata import (
        _SPLIT_FOLD,
        split_assign,
        split_assign_sql,
    )

    keys = [
        0, 1, 12345, 8_400_000_000, _SPLIT_FOLD - 1, _SPLIT_FOLD,
        _SPLIT_FOLD + 7, 2**40 + 3, 2**62, 2**63 - 1,
    ]
    df = spark.createDataFrame([(k,) for k in keys], "k long")
    got = {
        r.k: r.s
        for r in df.select("k", split_assign(F.col("k")).alias("s")).collect()
    }
    want = {
        k: s
        for k, s in duckdb.sql(
            "SELECT k, " + split_assign_sql("k") + " AS s "
            "FROM (SELECT unnest($keys::BIGINT[]) AS k)",
            params={"keys": keys},
        ).fetchall()
    }
    assert got == want
    # below the fold modulus the assignment is unchanged from the
    # pre-fix rule (so committed fixture splits did not silently move)
    for k in (0, 1, 12345, 8_400_000_000 % _SPLIT_FOLD):
        if k < _SPLIT_FOLD:
            b = (k * 1103515245 + 12345) % 10000
            legacy = "train" if b < 9000 else ("val" if b < 9500 else "test")
            assert got.get(k, legacy) == legacy


def test_bpe_merge_pairs_counts_known_corpus(spark, tmp_path):
    """Hand-checkable corpus: frequency-weighted adjacent char pairs,
    vocab-only explosion semantics (repeat words weight their pairs by
    corpus frequency, not once per distinct word)."""
    from gaming_ai_analytics_spark.queries_traindata import (
        q_bpe_merge_pairs,
    )

    rows = [(1, "aab aab ab", "en", "web", 10),
            (2, "aab", "en", "web", 3), (3, "x", "en", "web", 1)]
    (
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string,"
            " n_chars int"
        ).write.parquet(f"{tmp_path}/documents.parquet")
    )
    got = {r.pair: (r.pair_count, r.n_words) for r in q_bpe_merge_pairs(
        spark, str(tmp_path)).collect()}
    # 'aab' freq 3 (pairs aa, ab), 'ab' freq 1 (pair ab)
    assert got["aa"] == (3, 1)
    assert got["ab"] == (3 + 1, 2)
    assert "x" not in "".join(got)  # 1-char word contributes nothing


def test_user_event_sequences_truncates_at_32(spark, tmp_path):
    """A 40-event user keeps total count 40 but a 32-element sequence,
    in event_id order."""
    from gaming_ai_analytics_spark.queries_traindata import (
        q_user_event_sequences,
    )

    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = [(i, base, 7, f"e{i:02d}", 1.0) for i in range(40)]
    (
        spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long,"
            " event_type string, value double"
        ).write.parquet(f"{tmp_path}/events.parquet")
    )
    r = q_user_event_sequences(spark, str(tmp_path)).collect()[0]
    assert r.n_events == 40
    seq = r.seq.split(" ")
    assert len(seq) == 32
    assert seq == [f"e{i:02d}" for i in range(32)]  # ingest order


def test_stratified_kfold_shares_sum_to_one(spark, sf_dir):
    """Per-stratum fold shares are a partition of unity and the fold
    ids live in [0, 5)."""
    from gaming_ai_analytics_spark.queries_traindata import (
        q_stratified_kfold,
    )

    rows = q_stratified_kfold(spark, sf_dir).collect()
    by_src = {}
    for r in rows:
        assert 0 <= r.fold < 5
        by_src.setdefault(r.source, 0.0)
        by_src[r.source] += r.fold_share
    for src, tot in by_src.items():
        assert abs(tot - 1.0) < 5e-4, (src, tot)  # 4dp rounding drift


def test_stratified_kfold_actually_stratifies(spark, sf_dir):
    """The assignment must USE all k folds with ~1/k balance — the
    guard the shares-sum-to-one test can't provide (ADVICE r8 medium:
    per-source shares trivially sum to 1 even with every row in fold
    0, which is exactly what the pre-fix ``bucket % 5`` produced)."""
    from gaming_ai_analytics_spark.queries_traindata import (
        q_stratified_kfold,
    )

    rows = q_stratified_kfold(spark, sf_dir).collect()
    assert {r.fold for r in rows} == {0, 1, 2, 3, 4}
    # global balance: ~0.2 per fold (strata on the tiny fixture are
    # 10-docs small, so per-stratum shares are binomially noisy; the
    # corpus-level share is the stable signal)
    per_fold: dict = {}
    total = 0
    for r in rows:
        per_fold[r.fold] = per_fold.get(r.fold, 0) + r.n_docs
        total += r.n_docs
        # hard degeneracy guard per stratum: never ALL docs one fold
        assert r.fold_share < 1.0, (r.source, r.fold, r.fold_share)
    for fold, n in per_fold.items():
        assert n / total < 0.35, (fold, n / total)


def test_kfold_assign_balanced_over_full_key_domain(spark):
    """Property check straight at the helper: over a contiguous and a
    sparse int64 key range, every fold appears and the max/min fold
    count ratio stays near 1 (the pre-fix residue form put 100% of
    keys in fold 0)."""
    from gaming_ai_analytics_spark.queries_traindata import kfold_assign

    import pyspark.sql.functions as F

    for keys in (
        spark.range(0, 20_000).select(F.col("id").alias("k")),
        spark.range(0, 20_000).select(
            (F.col("id") * 7_777_777_777 + 3).alias("k")
        ),
    ):
        counts = dict(
            keys.select(kfold_assign(F.col("k"), 5).alias("fold"))
            .groupBy("fold")
            .count()
            .collect()
        )
        assert set(counts) == {0, 1, 2, 3, 4}, counts
        assert max(counts.values()) / min(counts.values()) < 1.2, counts


def _parquet_scan_executions(
    spark, needle: str, min_exec_id: int = -1
) -> int:
    """Count completed SQL executions whose physical plan scans a
    path containing ``needle`` (SQLAppStatusStore — the same data the
    Spark UI's SQL tab shows).  ``min_exec_id`` restricts to
    executions AFTER a snapshot id: the store retains a bounded
    window, so under a long suite absolute counts sag as old entries
    evict — deltas of absolute counts are only safe inside a short
    test; cross-checkpoint comparisons must anchor on execution id."""
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    return sum(
        1
        for i in range(execs.size())
        if execs.apply(i).executionId() > min_exec_id
        and needle in execs.apply(i).physicalPlanDescription()
    )


def _max_exec_id(spark) -> int:
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    return max(
        (execs.apply(i).executionId() for i in range(execs.size())),
        default=-1,
    )


def test_bpe_iterations_single_corpus_scan(spark, tmp_path):
    """VERDICT r8 ask #5: merge rounds must never re-touch the
    corpus.  Pinned by counting SQL executions that scan the fixture
    parquet: 2 rounds and 6 rounds trigger the SAME number of
    corpus-scanning executions (the one word-frequency collapse) —
    every per-round job runs off checkpointed vocab frames."""
    from gaming_ai_analytics_spark.queries_traindata import bpe_train

    (
        spark.createDataFrame(
            [(i, "abab low low lower") for i in range(50)],
            "doc_id long, text string",
        ).write.parquet(f"{tmp_path}/corpus.parquet")
    )

    def run(rounds: int) -> int:
        wc = (
            spark.read.parquet(f"{tmp_path}/corpus.parquet")
            .select(F.explode(F.split("text", " ")).alias("w"))
            .groupBy("w")
            .agg(F.count(F.lit(1)).alias("f"))
        )
        before = _parquet_scan_executions(spark, "corpus.parquet")
        merges = bpe_train(wc, rounds)
        after = _parquet_scan_executions(spark, "corpus.parquet")
        assert len(merges) == rounds  # plenty of pairs in the fixture
        return after - before

    scans_2, scans_6 = run(2), run(6)
    assert scans_2 == scans_6, (scans_2, scans_6)
    assert scans_2 == 1, scans_2  # exactly the word-freq collapse


def test_bpe_iterations_greedy_merge_semantics(spark):
    """The fold must implement Sennrich's greedy non-overlapping
    merge: 'aaaa' under pair (a,a) becomes [aa, aa], never [aa, a, a]
    or a triple-merge; and a merged token never re-matches as the
    pair's left side within the same pass."""
    from gaming_ai_analytics_spark.queries_traindata import bpe_train

    wc = spark.createDataFrame(
        [("aaaa", 10), ("aab", 1)], "w string, f long"
    )
    merges = bpe_train(wc, 2)
    # round 1: (a,a) count = 3*10 + 1 = 31 -> aaaa=[aa,aa], aab=[aa,b]
    assert merges[0][1:] == ("a", "a", "aa", 31)
    # round 2: (aa,aa) count 10 vs (aa,b) count 1
    assert merges[1][1:] == ("aa", "aa", "aaaa", 10)


def test_bpe_vocab_segmentation_consistent_with_merges(spark, sf_dir):
    """The applied segmentation must be reachable from the merge
    table: concatenating a word's tokens restores the word, and the
    FINAL round's merge pair never survives adjacent in the output.
    (The stronger "NO learned merge remains applicable" is not a BPE
    invariant — ADVICE r9: a later merge can recreate an earlier
    pair's lhs/rhs token strings adjacent again — but the LAST merge
    applied leaves no adjacency of its own pair: its pass consumes
    every occurrence, the replacement token is strictly longer than
    either side so it cannot re-form the pair, and no later merge
    runs to recreate it.)"""
    from gaming_ai_analytics_spark.queries_traindata import (
        q_bpe_merge_iterations,
        q_bpe_vocab_segmentation,
    )

    merges = q_bpe_merge_iterations(spark, sf_dir).collect()
    final_pair = max(
        ((r.lhs, r.rhs, r.merge_round) for r in merges),
        key=lambda t: t[2],
    )[:2]
    rows = q_bpe_vocab_segmentation(spark, sf_dir).collect()
    assert rows and len(rows) <= 30
    for r in rows:
        toks = r.segmentation.split(" ")
        assert "".join(toks) == r.w
        assert r.n_tokens == len(toks)
        for i in range(len(toks) - 1):
            assert (toks[i], toks[i + 1]) != final_pair, (r.w, toks)


def test_bpe_compression_consistent_with_segmentation(spark, sf_dir):
    """Cross-operator invariant: the per-source BPE token totals must
    be reproducible from the segmentation state — every word's token
    count >= 1, n_bpe_tokens <= total chars (a token is >= 1 char),
    and compression == chars/tokens per source within rounding."""
    from gaming_ai_analytics_spark.queries_traindata import (
        q_bpe_compression_by_source,
    )

    rows = q_bpe_compression_by_source(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_bpe_tokens >= r.n_words  # >=1 token per word
        assert r.chars_per_token >= 1.0  # tokens never exceed chars


def test_packing_bpe_budget_two_scans_vocab_broadcast(spark, sf_dir):
    """r10 plan pin (VERDICT r9 ask #4): from an empty artifact store
    the tokenizer-priced packer pays corpus cost exactly TWICE — the
    training word-frequency collapse and the packing pass — regardless
    of merge rounds; once the priced vocabulary is built, a second
    construct-and-collect scans the corpus ONCE.  The vocab-bounded
    per-word token counts ride a BroadcastExchange into the packing
    pass (never a shuffle join)."""
    from gaming_ai_analytics_spark import artifacts
    from gaming_ai_analytics_spark.queries_traindata import (
        q_packing_bpe_budget,
    )

    def run():
        # anchor on execution id, not an absolute-count delta: the
        # status store evicts old entries under a long suite, which
        # made the before/after subtraction under-count (the helper
        # docstring prescribes exactly this anchored form)
        id0 = _max_exec_id(spark)
        df = q_packing_bpe_budget(spark, sf_dir)
        rows = df.collect()
        scans = _parquet_scan_executions(
            spark, "documents.parquet", min_exec_id=id0
        )
        return df, rows, scans

    artifacts.clear()
    _, rows, first = run()
    df, again, second = run()
    assert (first, second) == (2, 1), (first, second)
    assert rows and sorted(again) == sorted(rows)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_packing_bpe_budget_bin_arithmetic(spark, sf_dir):
    """The packing assignment is internally consistent: within each
    shard, ordered by doc_id, seq_offset is the running token count
    mod 4096 and seq_id its div — i.e. the docs really concatenate
    into 4096-token bins with no gaps or overlaps."""
    from collections import defaultdict

    from gaming_ai_analytics_spark.queries_traindata import (
        q_packing_bpe_budget,
    )

    rows = q_packing_bpe_budget(spark, sf_dir).collect()
    assert rows
    shards = defaultdict(list)
    for r in rows:
        shards[r.shard].append(r)
    assert len(shards) > 1
    for shard, rs in shards.items():
        cum = 0
        for r in sorted(rs, key=lambda r: r.doc_id):
            assert r.n_bpe_tokens >= 1  # every kept doc has >=1 token
            assert r.seq_id == cum // 4096, (shard, r)
            assert r.seq_offset == cum % 4096, (shard, r)
            cum += r.n_bpe_tokens


def test_dsir_weights_separate_target_like_docs(spark, monkeypatch):
    """DSIR semantics on a planted corpus: documents whose vocabulary
    matches the quality-gated TARGET slice must score higher than
    junk-vocabulary documents — and a held-out doc written in the
    target's vocabulary outranks one written in the junk vocabulary
    even though neither is itself in the target slice."""
    from gaming_ai_analytics_spark import registry

    registry.queries()
    import gaming_ai_analytics_spark.queries_traindata as qt

    prose = (
        "the quick brown fox jumps over the lazy dog and then the "
        "fox rests in the shade of a tall tree while the dog waits "
    ) * 6  # long, stopword-rich -> quality >= 0.45 (target)
    junk = "zzqx!! vvrk## qqpl$$ xxwd%% zzqx!! vvrk##"  # short, punct
    rows = [(i, prose, "en", len(prose)) for i in range(4)]
    rows += [(10 + i, junk, "xx", len(junk)) for i in range(4)]
    # held-out probes: target-vocab vs junk-vocab, both SHORT (so the
    # probe itself fails the quality gate either way)
    rows.append((20, "fox dog tree shade!!!!!!!!!!!!!!!!!!!!", "en", 22))
    rows.append((21, "zzqx vvrk qqpl xxwd!!!!!!!!!!!!!!!!!!!", "xx", 22))
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, n_chars long"
    )
    monkeypatch.setattr(qt, "_docs", lambda spark, sf_dir: docs)
    out = {
        r.doc_id: r
        for r in qt.q_dsir_importance_weights(spark, "ignored").collect()
    }
    assert set(out) == set(range(4)) | {10, 11, 12, 13, 20, 21}
    for r in out.values():
        assert r.n_terms >= 1
    # target-slice docs outweigh junk docs
    assert min(out[i].log_weight for i in range(4)) > max(
        out[10 + i].log_weight for i in range(4)
    )
    # the held-out target-vocab probe outranks the junk-vocab probe
    assert out[20].log_weight > out[21].log_weight


def test_dsir_two_scans_quality_below_explode(spark, sf_dir):
    """r10 plan pins for dsir_importance_weights.  (1) Corpus cost:
    exactly TWO documents-scanning executions — the word-stats
    checkpoint materialization at construction and the scoring pass
    at collect; the vocab/bucket/ratio branches all ride the
    checkpointed vocab-bounded frame.  (2) The quality gate is
    computed per DOCUMENT, not per occurrence: in the construction
    execution's plan the Generate RETAINS `_tgt` as a computed
    column — a scalar left in the same select as the generator lands
    in the Project ABOVE the Generate (ExtractGenerator) and re-runs
    the three quality regexes per exploded word (measured ~100x the
    regex work at sf10)."""
    from gaming_ai_analytics_spark.queries_traindata import (
        q_dsir_importance_weights,
    )

    # snapshot by execution ID, not list position: the status store
    # retains a bounded number of executions, and under the full
    # suite eviction at the front shifts the list, so a positional
    # range(n0, size) slice silently misses new executions and
    # absolute-count deltas sag (r10 full-suite flake)
    id0 = _max_exec_id(spark)
    df = q_dsir_importance_weights(spark, sf_dir)
    mid = _parquet_scan_executions(spark, "documents.parquet", id0)
    assert mid == 1, "construction must pay exactly one scan"
    assert df.collect()
    after = _parquet_scan_executions(spark, "documents.parquet", id0)
    assert after == 2, (id0, mid, after)
    # the construction-time execution(s): find the one that scanned
    # documents AND generated words — its Generate must retain _tgt
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    descs = [
        execs.apply(i).physicalPlanDescription()
        for i in range(execs.size())
        if execs.apply(i).executionId() > id0
    ]
    gen_descs = [
        d for d in descs
        if "documents.parquet" in d and "Generate" in d and "_tgt" in d
    ]
    assert gen_descs, "no execution exploded words with _tgt present"
    for d in gen_descs:
        # formatted mode: the Generate's operands live on an
        # "Arguments:" detail line — explode(_ws...), [_tgt...], ...
        gen_lines = [
            ln for ln in d.splitlines()
            if "explode(_ws" in ln and "_tgt" in ln
        ]
        assert gen_lines, (
            "quality (_tgt) not retained by the Generate — the "
            "regexes moved above the explode:\n" + d[:2000]
        )


def test_temporal_embargo_split_boundaries(spark, tmp_path):
    """Planted boundary events: with max date D, train is strictly
    before D-20, the 7-day embargo [D-20, D-14] appears in NEITHER
    train nor test, and test is [D-13, D]."""
    import datetime as dt

    from gaming_ai_analytics_spark.queries_traindata import (
        q_temporal_embargo_split,
    )

    D = dt.datetime(2024, 3, 31, 12)
    rows = [
        # (event_id, ts, user_id, event_type, value)
        (1, D, 1, "view", 1.0),                          # test (D)
        (2, D - dt.timedelta(days=13), 2, "view", 2.0),  # test edge
        (3, D - dt.timedelta(days=14), 3, "view", 4.0),  # embargo edge
        (4, D - dt.timedelta(days=20), 4, "view", 8.0),  # embargo edge
        (5, D - dt.timedelta(days=21), 5, "view", 16.0),  # train edge
        (6, D - dt.timedelta(days=100), 5, "view", 32.0),  # train
    ]
    (
        spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long,"
            " event_type string, value double"
        ).write.parquet(f"{tmp_path}/events.parquet")
    )
    out = {
        r.split: (r.n_events, r.n_users, r.total_value)
        for r in q_temporal_embargo_split(spark, str(tmp_path)).collect()
    }
    assert out == {
        "test": (2, 2, 3.0),
        "embargo": (2, 2, 12.0),
        "train": (2, 1, 48.0),  # user 5 counted once
    }


def test_mixture_bpe_budget_consistent_with_compression(spark, sf_dir):
    """Cross-operator invariant: the mixture's per-source token
    counts equal bpe_compression_by_source's; budgets are the floored
    uniform share; kept = min(n, target); keep_rate in (0, 1]."""
    from gaming_ai_analytics_spark.queries_traindata import (
        q_bpe_compression_by_source,
        q_mixture_bpe_budget,
    )

    mix = {r.source: r for r in q_mixture_bpe_budget(spark, sf_dir).collect()}
    comp = {
        r.source: r.n_bpe_tokens
        for r in q_bpe_compression_by_source(spark, sf_dir).collect()
    }
    assert set(mix) == set(comp)
    total = sum(comp.values())
    target = total // len(comp)
    for src, r in mix.items():
        assert r.n_bpe_tokens == comp[src]
        assert r.target_tokens == target
        assert r.kept_tokens == min(r.n_bpe_tokens, target)
        assert 0.0 < r.keep_rate <= 1.0


def test_bpe_fertility_consistent_with_compression(spark, sf_dir):
    """Cross-operator invariant: the corpus token mass is the same
    whether sliced by language or by source (both are one broadcast-
    vocab join over the same exploded corpus), and fertility is >= 1
    (a word is at least one token)."""
    from gaming_ai_analytics_spark.queries_traindata import (
        q_bpe_compression_by_source,
        q_bpe_fertility_by_lang,
    )

    by_lang = q_bpe_fertility_by_lang(spark, sf_dir).collect()
    by_src = q_bpe_compression_by_source(spark, sf_dir).collect()
    assert by_lang and by_src
    assert sum(r.n_bpe_tokens for r in by_lang) == sum(
        r.n_bpe_tokens for r in by_src
    )
    assert sum(r.n_words for r in by_lang) == sum(
        r.n_words for r in by_src
    )
    for r in by_lang:
        assert r.fertility >= 1.0, r


def test_mixture_temperature_weights_invariants(spark, sf_dir):
    """Temperature smoothing must (1) keep both p and w proper
    distributions, (2) boost every below-average source and shrink
    every above-average one toward uniform (alpha < 1), and (3)
    order boosts inversely to raw share."""
    from gaming_ai_analytics_spark.queries_traindata import (
        q_mixture_temperature_weights,
    )

    rows = q_mixture_temperature_weights(spark, sf_dir).collect()
    assert len(rows) >= 2
    assert abs(sum(r.p_raw for r in rows) - 1.0) < 1e-2
    assert abs(sum(r.w_temp for r in rows) - 1.0) < 1e-2
    mean_p = 1.0 / len(rows)
    for r in rows:
        if r.p_raw < mean_p * 0.9:
            assert r.boost > 1.0, r
        if r.p_raw > mean_p * 1.1:
            assert r.boost < 1.0, r
    by_p = sorted(rows, key=lambda r: r.p_raw)
    boosts = [r.boost for r in by_p]
    assert boosts == sorted(boosts, reverse=True), boosts


def test_contamination_span_lengths_planted(spark, tmp_path):
    """Planted overlap geometry: train doc 1 embeds a 12-token eval
    run (5 consecutive matched starts -> one island, longest 12);
    train doc 2 embeds TWO disjoint 8-token eval runs (2 islands,
    longest 8); a clean train doc is absent from the readout."""
    from gaming_ai_analytics_spark.queries_traindata import (
        q_contamination_span_lengths,
    )

    ev = [f"e{i}" for i in range(20)]
    rows = [
        (100, " ".join(ev), "en", "src0", 0),
        (1, " ".join(["u1", "u2"] + ev[:12] + ["u3", "u4"]), "en", "s1", 0),
        (2, " ".join(["a1"] + ev[:8] + ["a2", "a3"] + ev[10:18] + ["a4"]),
         "en", "s1", 0),
        (3, " ".join(f"z{i}" for i in range(30)), "en", "s1", 0),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars long"
    ).write.parquet(f"{tmp_path}/documents.parquet")
    out = {r.doc_id: r for r in q_contamination_span_lengths(
        spark, str(tmp_path)
    ).collect()}
    assert set(out) == {1, 2}
    assert out[1].n_islands == 1
    assert out[1].n_matched_grams == 5
    assert out[1].longest_overlap_tokens == 12
    assert out[2].n_islands == 2
    assert out[2].longest_overlap_tokens == 8
    assert out[2].n_matched_grams == 2


def test_contamination_span_lengths_single_corpus_exchange(spark, sf_dir):
    """The docstring's plan claim: the train gram frame never shuffles
    for the match (eval grams broadcast), and both run/readout
    groupBys ride the window's hash(doc_id) clustering — so the whole
    plan carries exactly ONE doc-keyed hash exchange and none on
    (doc_id, grp)."""
    import re

    from gaming_ai_analytics_spark.queries_traindata import (
        q_contamination_span_lengths,
    )

    plan = (
        q_contamination_span_lengths(spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert len(re.findall(r"hashpartitioning\(doc_id", plan)) == 1, plan
    assert not re.search(r"hashpartitioning\(doc_id[^)]*grp", plan), plan


def test_decontaminate_fuzzy_catches_paraphrase_exact_misses(
    spark, tmp_path
):
    """The tier separation in one fixture: a train doc that is the
    eval doc with a filler word INSERTED every 7 tokens shares NO
    8-gram (max unbroken run is 7 → exact-overlap decontamination is
    blind) but keeps 3-shingle Jaccard ≈ 0.53 ≥ 0.5 → the fuzzy tier
    must flag it. An unrelated train doc must stay clean."""
    from gaming_ai_analytics_spark.queries_traindata import (
        q_decontaminate_eval_overlap,
        q_decontaminate_fuzzy,
    )

    base = [f"tok{i}" for i in range(40)]
    leaked = []
    for i, w in enumerate(base):
        leaked.append(w)
        if i % 7 == 6:
            leaked.append(f"pad{i}")
    rows = [
        (100, " ".join(base), "en", "src0", 0),      # eval doc
        (1, " ".join(leaked), "en", "src1", 0),      # paraphrased leak
        (2, " ".join(f"z{i}" for i in range(40)), "en", "src1", 0),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars long"
    ).write.parquet(f"{tmp_path}/documents.parquet")

    exact = q_decontaminate_eval_overlap(spark, str(tmp_path)).collect()
    assert not exact, exact  # no shared 8-gram anywhere
    fuzzy = {r.doc_id: r for r in q_decontaminate_fuzzy(
        spark, str(tmp_path)
    ).collect()}
    assert set(fuzzy) == {1}, fuzzy
    assert fuzzy[1].n_eval_matches == 1
    assert 0.5 <= fuzzy[1].max_jaccard < 0.6


def test_fuzzy_fixture_outside_lsh_dead_zone(sf_dir):
    """ADVICE r10: `decontaminate_fuzzy`'s Spark path is
    LSH-candidate-gated (16x4 banding, ~56% collision probability at
    J=0.5) while its oracle computes exact all-pairs Jaccard, so a
    fixture pair with true Jaccard in the banding dead zone
    [0.5, ~0.7) could diverge between engines.  This pins the fixture
    invariant the green rows rely on: NO cross-corpus pair may land
    in [0.5, 0.7) — collision probability at J >= 0.7 is >= 0.98 and
    the fixture's planted near-dups sit >= 0.95, where the
    deterministic banding recalls every pair.  Regenerated or
    rescaled fixtures that violate this fail HERE, with the fix
    spelled out, instead of flaking the driver gate."""
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    zones = dict(
        (z, (n, lo, hi))
        for z, n, lo, hi in con.execute(
            """
        WITH toks AS (
          SELECT doc_id, source,
                 string_split_regex(TRIM(text), ' +') AS t
          FROM documents
          WHERE text IS NOT NULL AND LENGTH(TRIM(text)) > 0),
        sh AS (
          SELECT DISTINCT doc_id, source,
                 t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
          FROM (SELECT doc_id, source, t,
                       unnest(generate_series(1, len(t) - 2)) AS i
                FROM toks WHERE len(t) >= 3)),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
        ev AS (SELECT doc_id AS eval_id, s FROM sh WHERE source='src0'),
        tr AS (SELECT doc_id, s FROM sh WHERE source<>'src0'),
        inter AS (
          SELECT tr.doc_id, ev.eval_id, COUNT(*) AS c
          FROM tr JOIN ev ON tr.s = ev.s GROUP BY 1, 2),
        scored AS (
          SELECT c * 1.0 / (a.n + b.n - c) AS j
          FROM inter i
          JOIN sizes a ON i.doc_id = a.doc_id
          JOIN sizes b ON i.eval_id = b.doc_id)
        SELECT CASE WHEN j < 0.5 THEN 'below'
                    WHEN j < 0.7 THEN 'dead_zone'
                    ELSE 'above' END AS zone,
               COUNT(*), MIN(j), MAX(j)
        FROM scored GROUP BY 1
        """
        ).fetchall()
    )
    assert "dead_zone" not in zones, (
        "fixture grew cross-corpus pairs inside the LSH banding dead "
        f"zone {zones['dead_zone']}: either re-plant the near-dups at "
        "J >= 0.7 or widen cross_corpus_minhash's banding before "
        "trusting the driver gate"
    )
    # the invariant must be LOAD-BEARING: planted near-dups exist
    assert zones.get("above", (0,))[0] > 0, zones


def test_decontaminate_fuzzy_incremental_matches_full(spark, sf_dir):
    """The persisted-eval-index probe must agree VALUE-FOR-VALUE with
    the full-recompute tier restricted to the same increment slice
    (train doc_id % 10 = 0) — index round-trip, hash-parameter meta,
    and readout aggregation all on the line."""
    from gaming_ai_analytics_spark.queries_traindata import (
        q_decontaminate_fuzzy,
        q_decontaminate_fuzzy_incremental,
    )

    full = {
        r.doc_id: (r.n_eval_matches, r.max_jaccard)
        for r in q_decontaminate_fuzzy(spark, sf_dir).collect()
        if r.doc_id % 10 == 0
    }
    inc = {
        r.doc_id: (r.n_eval_matches, r.max_jaccard)
        for r in q_decontaminate_fuzzy_incremental(spark, sf_dir).collect()
    }
    assert inc == full


def test_unimax_closed_form_matches_sequential_waterfilling(spark, monkeypatch):
    """The sorted closed form (saturated prefix + water level) must
    reproduce the sequential waterfilling simulation exactly on a
    planted skewed cell layout — and the optimality conditions must
    hold: every saturated cell's cap sits at or under the water
    level, every unsaturated cell drinks exactly the level, and the
    budget is exhausted."""
    from gaming_ai_analytics_spark import registry

    registry.queries()
    import gaming_ai_analytics_spark.queries_traindata as qt

    # (source, lang, n_tokens): sizes skewed across three decades so
    # the small cells saturate under the 2-epoch cap and the large
    # ones share the water level
    layout = [
        ("s0", "en", 10_000),
        ("s0", "de", 40),
        ("s1", "en", 2_500),
        ("s1", "fr", 7),
        ("s2", "en", 900),
    ]
    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * n), lang, src, 2 * n)
         for i, (src, lang, n) in enumerate(layout)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    monkeypatch.setattr(qt, "_docs", lambda spark, sf_dir: docs)
    rows = {
        (r.source, r.lang): r
        for r in qt.q_mixture_unimax_budget(spark, "ignored").collect()
    }
    assert set(rows) == {(s, la) for s, la, _ in layout}

    # sequential waterfilling reference
    total = sum(n for _, _, n in layout)
    budget = 6 * total / 5
    caps = sorted(
        (2 * n, s, la) for s, la, n in layout
    )
    remaining, m = budget, len(caps)
    expect: dict[tuple, float] = {}
    level = None
    for cap, s, la in caps:
        share = remaining / m
        if cap <= share:
            expect[(s, la)] = float(cap)
            remaining -= cap
            m -= 1
        else:
            level = remaining / m
            expect[(s, la)] = level
    assert level is not None, "fixture must leave unsaturated cells"
    n_sat = sum(1 for k, v in expect.items() if v != level)
    assert 0 < n_sat < len(layout), "fixture must have BOTH classes"

    for (s, la, n) in layout:
        r = rows[(s, la)]
        assert r.cap_tokens == 2 * n
        assert abs(r.alloc_tokens - expect[(s, la)]) < 0.01
        assert r.saturated == (1 if expect[(s, la)] != level else 0)
        assert abs(r.n_epochs - expect[(s, la)] / n) < 1e-3
    got_total = sum(r.alloc_tokens for r in rows.values())
    assert abs(got_total - budget) < 0.1  # budget exhausted


def test_unimax_fixture_has_both_saturation_classes(spark):
    """The registered query is only meaningful while the fixture's
    (source, lang) cells span the saturation boundary — pinned the
    way the fuzzy dead-zone invariant is (ADVICE r10): a regenerated
    fixture that collapses every cell to one class fails here first."""
    from gaming_ai_analytics_spark import registry

    registry.queries()
    import gaming_ai_analytics_spark.queries_traindata as qt

    rows = qt.q_mixture_unimax_budget(spark, SF).collect()
    sat = {r.saturated for r in rows}
    assert sat == {0, 1}, f"fixture saturation collapsed: {sat}"


def test_corpus_pair_overlap_planted_sets(spark, monkeypatch):
    """Three planted sources with known 3-shingle sets: an identical
    pair (J=1), a half-contained pair, and a disjoint pair (absent
    row)."""
    from gaming_ai_analytics_spark import registry

    registry.queries()
    import gaming_ai_analytics_spark.queries_traindata as qt

    base = " ".join(f"w{i}" for i in range(10))  # 8 shingles
    half = " ".join(f"w{i}" for i in range(6))  # 4 of those 8
    other = " ".join(f"x{i}" for i in range(10))  # disjoint
    docs = spark.createDataFrame(
        [
            (0, base, "en", "srcA", 1),
            (1, base, "en", "srcB", 1),  # srcB == srcA content
            (2, half + " " + "y0 y1 y2 y3", "en", "srcC", 1),
            (3, other, "en", "srcD", 1),
        ],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    monkeypatch.setattr(qt, "_docs", lambda spark, sf_dir: docs)
    rows = {
        (r.src_a, r.src_b): r
        for r in qt.q_corpus_pair_overlap(spark, "ignored").collect()
    }
    assert rows[("srcA", "srcB")].jaccard == 1.0
    ab = rows[("srcA", "srcC")]
    # srcC text "w0..w5 y0..y3": shingles w0w1w2..w3w4w5 (4 shared)
    # + w4w5y0, w5y0y1, y0y1y2, y1y2y3 (4 own) -> n_c = 8, shared 4
    assert ab.n_shared == 4
    assert ab.jaccard == round(4 / (8 + 8 - 4) + 5e-10, 6)
    assert ab.containment_a == 0.5
    assert ("srcA", "srcD") not in rows  # disjoint pair absent


def test_zipf_slope_exact_power_law(spark, monkeypatch):
    """A planted corpus whose rank-frequency table lies EXACTLY on
    f = 60/r for ranks 1..6 must fit slope −1 with r² = 1."""
    from gaming_ai_analytics_spark import registry

    registry.queries()
    import gaming_ai_analytics_spark.queries_traindata as qt

    freqs = [60, 30, 20, 15, 12, 10]  # 60/r, r = 1..6
    words = []
    for r, f in enumerate(freqs, 1):
        words += [f"w{r}"] * f
    docs = spark.createDataFrame(
        [(0, " ".join(words), "en", "srcZ", 1)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    monkeypatch.setattr(qt, "_docs", lambda spark, sf_dir: docs)
    rows = qt.q_zipf_slope_by_source(spark, "ignored").collect()
    assert len(rows) == 1
    r0 = rows[0]
    assert r0.n_ranks == 6
    assert abs(r0.zipf_slope - (-1.0)) < 1e-6
    assert abs(r0.fit_r2 - 1.0) < 1e-6
    import math

    assert abs(r0.zipf_intercept - math.log(60)) < 1e-6


def test_vocab_consumers_train_once(spark, sf_dir, monkeypatch):
    """The six BPE-priced queries share ONE priced vocabulary per
    (session, sf_dir): building all of them from an empty artifact
    store trains the tokenizer exactly once."""
    from gaming_ai_analytics_spark import artifacts
    from gaming_ai_analytics_spark import queries_traindata as qt

    calls = []
    train = qt.bpe_train

    def counting_train(*args, **kwargs):
        calls.append(args[1])
        return train(*args, **kwargs)

    monkeypatch.setattr(qt, "bpe_train", counting_train)
    artifacts.clear()
    for q in (
        qt.q_bpe_compression_by_source,
        qt.q_packing_bpe_budget,
        qt.q_metric_view_curation,
        qt.q_mixture_bpe_budget,
        qt.q_bpe_fertility_by_lang,
        qt.q_bpe_apply_saved_vocab,
    ):
        q(spark, sf_dir)
    assert calls == [qt.BPE_ROUNDS], calls


def test_bpe_apply_saved_vocab_matches_in_query_pricing(spark):
    """The saved-vocab apply path must price the increment EXACTLY as
    the in-query fertility computation restricted to the same docs —
    persisting the vocabulary through parquet must not change a
    single count."""
    from gaming_ai_analytics_spark import registry

    registry.queries()
    import gaming_ai_analytics_spark.queries_traindata as qt
    from pyspark.sql import functions as F

    got = {
        r.source: r
        for r in qt.q_bpe_apply_saved_vocab(spark, SF).collect()
    }
    # reference: train in-memory, price the same increment directly
    wc = qt._word_counts(spark, SF)
    _, state = qt.bpe_train(wc, qt.BPE_ROUNDS, return_state=True)
    vocab = state.select(
        "w", F.size(F.split("seg", qt._BPE_SEP)).alias("n_tok")
    )
    inc = qt._docs(spark, SF).filter(F.col("doc_id") % 10 == 0)
    from gaming_ai_analytics_spark.functions.text import tokens

    want = {
        r.source: r
        for r in inc.select(
            "source", F.explode(tokens(F.col("text"))).alias("w")
        )
        .join(vocab, "w")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_tok").cast("long").alias("n_bpe_tokens"),
        )
        .collect()
    }
    assert set(got) == set(want) and got
    for s in want:
        assert got[s].n_words == want[s].n_words
        assert got[s].n_bpe_tokens == want[s].n_bpe_tokens


def test_traindata_curation_v2_stages(spark, tmp_path):
    """Planted corpus exercising every stage of the composed pipeline:
    doc 1 fails the rule gate (punctuation); docs 2+3 and 4+5 each
    share a boilerplate 8-gram that span removal strips (n_removed=8);
    docs 4+5's CLEANED texts are 3-shingle near-dups (J~0.56, no
    shared 8-gram — runs of 7), where doc 5's cleaned text scores
    higher quality, so the survivor stage keeps 5 and drops 4; the
    packing columns must satisfy the within-(split,shard) cumsum
    arithmetic exactly."""
    import collections

    from gaming_ai_analytics_spark.queries_traindata import (
        q_traindata_curation_v2,
    )

    s2 = "license text granted herein shall not be reproduced"
    s4 = "copyright notice appears within every distributed binary build"
    r1 = "the quick brown fox jumps over rivers"
    r2 = "many of these samples contain plain words"
    rows = [
        (1, "!!! ??? *** %%% ^^^ &&& ::: ;;;", "und", "src1", 31),
        (2, f"{s2} the unique tail of document two here", "en", "src1", 90),
        (3, f"{s2} another distinct ending for the third document",
         "en", "src2", 99),
        (4, f"{s4} zz {r1} yy {r2}", "en", "src1", 130),
        (5, f"{s4} magnificently {r1} extraordinarily {r2}",
         "en", "src2", 150),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars long"
    ).write.parquet(f"{tmp_path}/documents.parquet")

    out = {
        r.doc_id: r
        for r in q_traindata_curation_v2(spark, str(tmp_path)).collect()
    }
    # gate dropped 1; near-dup survivor selection dropped 4 (5 wins on
    # cleaned-text quality)
    assert set(out) == {2, 3, 5}, out
    for d in (2, 3, 5):
        assert out[d].n_removed == 8, out[d]  # exactly the shared 8-gram
        assert out[d].n_bpe_tokens > 0
        assert out[d].shard == d % 8
        assert out[d].split in ("train", "val", "test")
    assert out[2].source == "src1" and out[5].source == "src2"
    # packing: exact concat-and-chunk cumsum within each (split, shard)
    groups = collections.defaultdict(list)
    for r in sorted(out.values(), key=lambda r: r.doc_id):
        groups[(r.split, r.shard)].append(r)
    for g in groups.values():
        cum = 0
        for r in g:
            assert r.seq_id == cum // 4096, r
            assert r.seq_offset == cum % 4096, r
            cum += r.n_bpe_tokens


def test_traindata_curation_v2_incremental_stages(spark, tmp_path):
    """Planted corpus/increment exercising every incremental stage
    (VERDICT r12 ask #2).  Corpus ids are % 10 != 0, increment % 10
    == 0:

    - 30 fails the rule gate (punctuation) — absent.
    - 10 shares the 8-gram S8 with CORPUS doc 4 (df=1 within the
      increment): the persisted presence set flags it — n_removed=8,
      exactly what a full rebuild decides for doc 10.
    - 20 is a cleaned-text near-dup (J=5/7≈0.714, no shared 8-gram)
      of corpus SURVIVOR 7, which has higher quality — dropped.
    - 60 near-dups corpus survivor 9 but scores HIGHER quality —
      still dropped (corpus-wins: an append-only nightly cannot
      retract served rows).  The full rebuild keeps 60 and drops 9 —
      the ONE documented divergence, asserted below.
    - 40/50 are within-increment near-dups with equal quality — the
      tie breaks to the lowest doc_id, 40 survives.
    - Packing: every delta row's seq arithmetic continues from the
      persisted per-(split, shard) corpus offsets.

    Also pins the equivalence regime: on increment doc_ids the delta
    equals the FULL REBUILD over (corpus ∪ increment) — same docs,
    same n_removed/quality/pricing — except the no-retraction case
    (60) and the packing offsets (append-after-corpus vs interleaved
    by doc_id; compared columns exclude seq_id/seq_offset)."""
    from gaming_ai_analytics_spark import queries_traindata as qt

    s2 = "license text granted herein shall not be reproduced"
    s8 = "copyright notice appears within every distributed binary build"
    run_a = "alpha terms govern of binary distribution rights"
    run_b = "omega clauses restrict of source redistribution duty"
    run_c = "sigma rules permit of nightly ingestion flows"
    rows = [
        # corpus (% 10 != 0)
        (2, f"{s2} the unique tail of document two here", "en", "src1", 90),
        (3, f"{s2} another distinct ending for the third document",
         "en", "src2", 99),
        (4, f"the different opening {s8} another closing phrase",
         "en", "src1", 110),
        (7, f"the {run_a}", "en", "src2", 55),
        (9, f"qqq {run_b}", "en", "src1", 56),
        # increment (% 10 == 0)
        (10, f"the intro words {s8} closing words remain", "en", "src1",
         100),
        (20, f"zzz {run_a}", "en", "src2", 55),
        (30, "!!! ??? *** %%% ^^^ &&& ::: ;;;", "und", "src1", 31),
        (40, f"ua {run_c}", "en", "src1", 52),
        (50, f"ub {run_c}", "en", "src2", 52),
        (60, f"the {run_b}", "en", "src1", 55),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars long"
    ).write.parquet(f"{tmp_path}/documents.parquet")
    sf = str(tmp_path)

    delta = {
        r.doc_id: r
        for r in qt.q_traindata_curation_v2_incremental(spark, sf).collect()
    }
    assert set(delta) == {10, 40}, delta
    assert delta[10].n_removed == 8          # presence-probe span removal
    assert delta[40].n_removed == 0
    assert all(r.n_bpe_tokens > 0 for r in delta.values())

    # packing continues from the persisted corpus offsets
    store = qt._cv2i_state(spark, sf)
    base = {
        (r.split, r.shard): r.base_cum
        for r in store.load("cur", "packstate_fx").collect()
    }
    import collections

    groups = collections.defaultdict(list)
    for r in sorted(delta.values(), key=lambda r: r.doc_id):
        groups[(r.split, r.shard)].append(r)
    for key, g in groups.items():
        cum = base.get(key, 0)
        for r in g:
            assert r.seq_id == cum // 4096, (key, r)
            assert r.seq_offset == cum % 4096, (key, r)
            cum += r.n_bpe_tokens

    # the nightly audit funnel reports the same stage yields
    funnel = {
        r.stage: (r.n_docs, r.n_tokens)
        for r in qt.q_curation_funnel_v2_incremental(spark, sf).collect()
    }
    assert funnel["0_raw"][0] == 6          # increment slice only
    assert funnel["1_rule_gate"][0] == 5    # 30 fails the gate
    assert funnel["2_span_removal"][0] == 5  # 10 loses tokens, survives
    assert funnel["3_dedup_within"][0] == 4  # 50 loses the tie to 40
    assert funnel["4_dedup_cross"][0] == 2   # 20 and 60 match corpus
    # span removal dropped exactly doc 10's 8 covered tokens
    assert (
        funnel["1_rule_gate"][1] - funnel["2_span_removal"][1] == 8
    ), funnel
    split_stages = {s: v for s, v in funnel.items() if s.startswith("5_")}
    assert sum(v[0] for v in split_stages.values()) == 2

    # equivalence regime vs the full rebuild over corpus ∪ increment
    full = {
        r.doc_id: r
        for r in qt.q_traindata_curation_v2(spark, sf).collect()
        if r.doc_id % 10 == 0
    }
    # full rebuild RETRACTS corpus doc 9 in favor of higher-quality 60;
    # the append-only nightly cannot — the one divergence
    assert set(full) == {10, 40, 60}, full
    assert set(delta) == set(full) - {60}
    for d in delta:
        for col in ("source", "split", "shard", "quality", "n_removed",
                    "n_bpe_tokens"):
            assert getattr(delta[d], col) == getattr(full[d], col), (
                d, col, delta[d], full[d],
            )


@pytest.mark.parametrize(
    "sfd", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
)
def test_cv2i_fixture_cross_pairs_outside_lsh_dead_zone(sfd):
    """The `decontaminate_fuzzy` dead-zone discipline applied to
    `traindata_curation_v2_incremental`'s cross-side survivor probe:
    its Spark path is LSH-candidate-gated (16x4 banding) while the
    oracle computes exact all-pairs Jaccard on the CLEANED text, so a
    fixture pair whose increment-survivor x corpus-survivor cleaned
    Jaccard lands in the banding dead zone [0.5, ~0.7) could diverge
    between engines.  Pins the invariant the green rows rely on, at
    BOTH the smoke and the driver-gate scale; a regenerated fixture
    that violates it fails HERE with the fix spelled out instead of
    flaking the driver gate."""
    import duckdb

    from gaming_ai_analytics_spark import queries_traindata as qt

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sfd}/documents.parquet')"
    )
    # the CTE prefix the incremental oracles themselves run
    sql = (
        "WITH RECURSIVE"
        + qt._cv2i_prefix_sql()
        + """,
    x_j AS (
      SELECT c * 1.0 / (na.n + nb.n - c) AS j
      FROM (
        SELECT i.doc_id AS di, c.doc_id AS dc, COUNT(*) AS c
        FROM (SELECT sh.* FROM ic_sh sh
              JOIN ic_survivors sv ON sh.doc_id = sv.doc_id) i
        JOIN (SELECT sh.doc_id, sh.s FROM cp_sh sh
              JOIN cp_survivors sv ON sh.doc_id = sv.doc_id) c
          ON i.s = c.s
        GROUP BY 1, 2) p
      JOIN ic_sizes na ON p.di = na.doc_id
      JOIN cp_sizes nb ON p.dc = nb.doc_id)
    SELECT CASE WHEN j < 0.5 THEN 'below'
                WHEN j < 0.7 THEN 'dead_zone'
                ELSE 'above' END AS zone,
           COUNT(*), MIN(j), MAX(j)
    FROM x_j GROUP BY 1
    """
    )
    zones = {z: (n, lo, hi) for z, n, lo, hi in con.execute(sql).fetchall()}
    assert "dead_zone" not in zones, (
        "fixture grew increment-x-corpus cleaned-text pairs inside the "
        f"LSH banding dead zone {zones.get('dead_zone')}: re-plant the "
        "cross-side near-dups at J >= 0.7 (or widen the banding in "
        "save_minhash_index) before trusting the driver gate on "
        "traindata_curation_v2_incremental"
    )


def test_curation_v2_concurrent_construction_builds_once(spark):
    """VERDICT r12 ask #3: constructing the pipeline and its funnel
    twin CONCURRENTLY must be safe — the stage-boundary materialization
    is cached-or-build under a lock, so the two threads share ONE
    build instead of racing overwrites on the same parquet path, and a
    SECOND construction round is plan-only (no further builds)."""
    import concurrent.futures

    from gaming_ai_analytics_spark import artifacts
    from gaming_ai_analytics_spark import queries_traindata as qt

    calls = []
    orig = qt._cv2_gated

    def counting_gated(sp, sf):
        calls.append(sf)
        return orig(sp, sf)

    sf = "/root/testdata/sf0.001"
    # force a fresh build for this sf_dir regardless of earlier tests
    artifacts.clear()
    qt._cv2_gated = counting_gated
    try:
        with concurrent.futures.ThreadPoolExecutor(2) as ex:
            f1 = ex.submit(qt.q_traindata_curation_v2, spark, sf)
            f2 = ex.submit(qt.q_curation_funnel_v2, spark, sf)
            df1, df2 = f1.result(), f2.result()
        # _cv2_gated feeds ONLY the span-removal build (the funnel's
        # raw+gate audit row is its own inline conditional aggregate)
        # — exactly one build between the two concurrent constructions
        assert len(calls) == 1, calls
        assert df1.count() > 0 and df2.count() > 0
        # second construction round: plan-only, no further gate calls
        calls.clear()
        qt.q_traindata_curation_v2(spark, sf)
        qt.q_curation_funnel_v2(spark, sf)
        assert calls == [], calls
    finally:
        qt._cv2_gated = orig
