"""Hypothesis property tests: randomized inputs vs pure-Python
reference implementations for the operators whose semantics are
subtle enough that example-based tests miss edge shapes — as-of tie
handling, connected-components topology, top-k tournament equivalence.

Spark round-trips are slow, so examples are capped and data kept tiny;
the point is shape coverage (ties, empty sides, hubs, chains,
singletons), not volume.

DOCUMENTED GOTCHA — knife-edge rounding reference (ADVICE r6, keep it
out of new reference impls): Spark's HALF_UP rounds the SHORTEST
DECIMAL REPR of a double (BigDecimal.valueOf), while
``decimal.Decimal(raw)`` quantizes the full binary expansion — for a
knife-edge value like 0.115 (binary 0.11499999...) the two disagree.
A pure-Python reference must use ``Decimal(repr(raw))`` (never
``Decimal(raw)``, never Python's banker's ``round``) to match the
engine; see the percentile property below.
"""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
    derandomize=True,  # CI stability: same cases every run
)


# --- as-of join ------------------------------------------------------------
_asof_data = st.tuples(
    st.lists(  # left: (key, ts)
        st.tuples(st.integers(0, 3), st.integers(0, 20)), max_size=12
    ),
    st.lists(  # right: (key, ts, value)
        st.tuples(
            st.integers(0, 3), st.integers(0, 20), st.integers(0, 99)
        ),
        max_size=12,
    ),
)


@settings(**SETTINGS)
@given(_asof_data)
def test_asof_join_matches_naive_reference(spark, data):
    left_rows, right_rows = data
    if not left_rows:
        return
    base = dt.datetime(2024, 1, 1)

    def ts(m):
        return base + dt.timedelta(minutes=m)

    from gaming_ai_analytics_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(i, k, ts(m)) for i, (k, m) in enumerate(left_rows)],
        ["row_id", "k", "ts"],
    )
    # dedupe right on (k, ts): keep max value, mirroring the operator's
    # deterministic last-wins-within-struct for simultaneous rows
    dedup: dict[tuple[int, int], int] = {}
    for k, m, v in right_rows:
        dedup[(k, m)] = max(dedup.get((k, m), -1), v)
    right_rows = [(k, m, v) for (k, m), v in dedup.items()]
    right = spark.createDataFrame(
        [(k, ts(m), v) for k, m, v in right_rows] or [(99, ts(0), 0)],
        ["k", "ts", "v"],
    )

    got = {
        r.row_id: r.v
        for r in asof_join(left, right, ["k"], "ts", ["v"]).collect()
    }

    for i, (k, m) in enumerate(left_rows):
        eligible = [(rm, v) for rk, rm, v in right_rows if rk == k and rm <= m]
        want = max(eligible)[1] if eligible else None
        assert got[i] == want, (i, k, m, eligible)


# --- connected components --------------------------------------------------
@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(st.integers(0, 14), st.integers(0, 14)),
        min_size=1,
        max_size=25,
    )
)
def test_connected_components_matches_union_find(spark, edges):
    from gaming_ai_analytics_spark.operators.graph import connected_components

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    want = {n: find(n) for n in parent}
    # normalize: label = min node of the component
    comp_min: dict[int, int] = {}
    for n, r in want.items():
        comp_min[find(r)] = min(comp_min.get(find(r), n), n)
    want = {n: comp_min[find(n)] for n in want}

    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    got = {r.node: r.component for r in connected_components(df).collect()}
    assert got == want


# --- top-k tournament == naive window -------------------------------------
@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 2),  # probe
            st.integers(0, 30),  # vec id
            st.floats(-1, 1, allow_nan=False, width=32),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_topk_tournament_equals_single_window(spark, scored_rows):
    """The bucketed two-level top-k must return EXACTLY the naive
    per-probe ranking for any scores/ties (provable: union of
    per-bucket top-ks contains the global top-k)."""
    from gaming_ai_analytics_spark.operators.similarity import _topk_per_probe

    dedup = {}
    for p, v, c in scored_rows:
        dedup[(p, v)] = round(float(c), 6)
    rows = [(p, v, c) for (p, v), c in dedup.items()]
    df = spark.createDataFrame(rows, ["probe_id", "vec_id", "cosine"])

    naive = _topk_per_probe(df, 3, n_buckets=1)
    tourney = _topk_per_probe(df, 3, n_buckets=7)
    assert sorted(map(tuple, naive.collect())) == sorted(
        map(tuple, tourney.collect())
    )


@given(
    st.lists(
        st.tuples(st.integers(0, 1023), st.integers(0, 1023)),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=20, deadline=None)
def test_zorder_key_preserves_locality_order(spark, pts):
    """Morton-key properties, checked against a pure-Python bit
    interleave: (a) exact equality with the reference for every
    point; (b) monotonicity along each axis when the other is 0 —
    the property parquet min/max pruning relies on."""
    from pyspark.sql import functions as F

    from gaming_ai_analytics_spark.operators.layout import zorder_key

    def ref(x, y, bits=16):
        out = 0
        for b in range(bits):
            out |= ((x >> b) & 1) << (2 * b)
            out |= ((y >> b) & 1) << (2 * b + 1)
        return out

    df = spark.createDataFrame(pts, "x INT, y INT").withColumn(
        "z", zorder_key(F.col("x"), F.col("y"), bits=16)
    )
    for r in df.collect():
        assert r.z == ref(r.x, r.y)
    axis = spark.createDataFrame(
        [(v, 0) for v, _ in pts], "x INT, y INT"
    ).withColumn("z", zorder_key(F.col("x"), F.col("y"), bits=16))
    got = [(r.x, r.z) for r in axis.collect()]
    got.sort()
    zs = [z for _, z in got]
    assert zs == sorted(zs)


# --- exact median == interpolated reference ------------------------------
@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 2),  # group
            st.one_of(
                st.none(), st.floats(-100, 100, allow_nan=False, width=32)
            ),
        ),
        min_size=1,
        max_size=30,
    ),
)
def test_median_exact_matches_reference(spark, rows):
    """The Arrow median kernel must equal quantile_cont interpolation
    (pure-Python reference) for any groups, ties, nulls and all-null
    groups."""
    from gaming_ai_analytics_spark.operators.aggregates import median_exact

    def ref_median(vals):
        vals = sorted(v for v in vals if v is not None)
        if not vals:
            return None
        rk = 1.0 + (len(vals) - 1) * 0.5
        lo = int(rk) - 1
        hi = int(-(-rk // 1)) - 1
        t = rk - int(rk)
        # (1 − t)·lo + t·hi, the form Spark ``percentile`` and DuckDB
        # ``quantile_cont`` evaluate; the lerp lo + (hi − lo)·t differs
        # in the last few bits and flips 2-dp knife edges such as
        # (−76.7423, 67.2923) → −4.725000000000001 (engines, → −4.73)
        # vs −4.724999999999994 (lerp, → −4.72)
        raw = (1 - t) * vals[lo] + t * vals[hi]
        # engine-side half-up rounding parity.  Quantize from the
        # SHORTEST decimal repr (repr(raw)), not the float's full
        # binary expansion: Spark's ROUND goes through
        # BigDecimal.valueOf, which rounds the shortest repr — for a
        # knife-edge median like 0.115, Decimal(0.115)=0.11499...
        # rounds to 0.11 while Spark rounds to 0.12 (ADVICE r6).
        import decimal

        return float(
            decimal.Decimal(repr(raw)).quantize(
                decimal.Decimal("0.01"), rounding=decimal.ROUND_HALF_UP
            )
        )

    by_g: dict[int, list] = {}
    for g, v in rows:
        by_g.setdefault(g, []).append(
            float(f"{v:.4f}") if v is not None else None
        )
    df = spark.createDataFrame(
        [(g, float(f"{v:.4f}") if v is not None else None) for g, v in rows],
        "g INT, v DOUBLE",
    )
    got = {
        r.g: r.med
        for r in df.groupBy("g").agg(median_exact("v").alias("med")).collect()
    }
    want = {g: ref_median(vs) for g, vs in by_g.items()}
    assert got == want


# --- chunk dedup reassembly invariants -------------------------------------
@settings(**SETTINGS)
@given(
    st.lists(  # docs as lists of chunk indices into a tiny chunk pool
        st.lists(st.integers(0, 4), min_size=1, max_size=4),
        min_size=1,
        max_size=6,
    )
)
def test_chunk_dedup_clean_matches_reference(spark, docs_chunks):
    """First-occurrence chunk dedup + reassembly equals the sequential
    reference for any duplication topology (within-doc repeats,
    cross-doc repeats, fully-duplicated docs)."""
    from gaming_ai_analytics_spark import registry

    registry.queries()  # load modules in canonical order first
    import gaming_ai_analytics_spark.queries_traindata as qt

    pool = [" ".join(f"w{c}x{i}" for i in range(16)) for c in range(5)]
    texts = {
        doc_id: " ".join(pool[c] for c in chunks)
        for doc_id, chunks in enumerate(docs_chunks)
    }
    # pure-Python reference
    seen: set[int] = set()
    want = {}
    for doc_id, chunks in enumerate(docs_chunks):
        kept = []
        for c in chunks:
            if c not in seen:
                seen.add(c)
                kept.append(c)
        if kept:
            want[doc_id] = (
                len(chunks),
                len(kept),
                " ".join(pool[c] for c in kept),
            )
    df = spark.createDataFrame(
        [(i, t, "en", len(t)) for i, t in texts.items()],
        ["doc_id", "text", "lang", "n_chars"],
    )
    import unittest.mock as mock

    with mock.patch.object(qt, "_docs", lambda spark, sf_dir: df):
        got = {
            r.doc_id: (r.n_chunks, r.n_kept, r.cleaned_text)
            for r in qt.q_chunk_dedup_clean(spark, "ignored").collect()
        }
    assert got == want


# --- hot-key isolated join --------------------------------------------------
@settings(**SETTINGS)
@given(
    left=st.lists(  # (key-or-None, tag) — generator biases key 0 hot
        st.tuples(
            st.one_of(st.none(), st.integers(0, 0), st.integers(0, 6)),
            st.integers(0, 99),
        ),
        max_size=20,
    ),
    right=st.lists(  # (key, value); dup keys allowed -> fan-out
        st.tuples(st.integers(0, 6), st.integers(0, 99)), max_size=10
    ),
    hot=st.lists(st.integers(0, 6), max_size=3),
    how=st.sampled_from(["inner", "left"]),
)
def test_hot_isolated_join_equals_plain_join(spark, left, right, hot, how):
    """hot_key_isolated_join must equal the plain join for EVERY hot-key
    choice — including keys absent from either side, NULL left keys, and
    duplicate right keys (fan-out through the broadcast branch)."""
    from gaming_ai_analytics_spark.operators.skew import (
        hot_key_isolated_join,
    )

    ldf = spark.createDataFrame(left, "k int, tag int") if left else None
    rdf = spark.createDataFrame(right, "k int, v int") if right else None
    if ldf is None or rdf is None:
        return  # createDataFrame can't infer empty frames; nothing to test
    plain = ldf.join(rdf, "k", how)
    iso = hot_key_isolated_join(ldf, rdf, "k", how=how, hot_keys=hot)
    key = lambda t: tuple((x is None, x) for x in t)  # noqa: E731
    assert sorted(map(tuple, iso.collect()), key=key) == sorted(
        map(tuple, plain.collect()), key=key
    )


# --- fused quality score ----------------------------------------------------
_quality_texts = st.lists(
    st.lists(  # a text = concatenated pieces (words, glue, stopwords)
        st.sampled_from(
            ["ab", "e", "!", ".", ",", "9", "\t", "\n", " ", "  ",
             "the", "a", "of", "and", "to", "in"]
        ),
        max_size=20,
    ).map("".join),
    min_size=1,
    max_size=12,
)


@settings(**SETTINGS)
@given(_quality_texts)
def test_quality_score_fused_equals_unfused(spark, texts):
    """The r8 fused (regexp_count-only) quality_score must be
    value-identical to the structure-materializing r4–r7 form on
    arbitrary text — including empty strings, whitespace-only, tabs
    and newlines glued to stopwords (the Java ``$``-vs-``\\z`` trap),
    consecutive stopwords, and stopwords embedded in longer words."""
    from gaming_ai_analytics_spark.functions.text import (
        quality_score,
        quality_score_unfused,
    )

    texts = texts + [
        "", "   ", "the", "a a a", "the\nend", "android of\tthe end ",
        " of", "to\n", "a-b the.", "THE A OF",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i long, text string"
    )
    rows = df.select(
        "i",
        "text",
        quality_score(F.col("text")).alias("fused"),
        quality_score_unfused(F.col("text")).alias("unfused"),
    ).collect()
    for r in rows:
        assert r.fused == r.unfused, (repr(r.text), r.fused, r.unfused)


# --- directed shingle containment -------------------------------------------
_containment_docs = st.lists(
    st.lists(st.integers(0, 6), min_size=0, max_size=12),  # token ids
    min_size=0,
    max_size=8,
)


@settings(**SETTINGS)
@given(_containment_docs)
def test_containment_pairs_matches_bruteforce(spark, token_docs):
    """containment_pairs must equal the per-pair set arithmetic on
    arbitrary small corpora (k=3 word shingles, threshold 0.5),
    including empty docs, <k-token docs, and identical docs."""
    from gaming_ai_analytics_spark.operators.dedup import containment_pairs

    texts = [" ".join(f"t{t}" for t in toks) for toks in token_docs]
    rows = [(i, s) for i, s in enumerate(texts)]
    if not rows:
        return

    def shingles(toks):
        return {
            " ".join(f"t{t}" for t in toks[i : i + 3])
            for i in range(len(toks) - 2)
        }

    sh = {i: shingles(t) for i, t in enumerate(token_docs)}
    expected = {}
    for i in sh:
        for j in sh:
            if i == j or not sh[i]:
                continue
            common = len(sh[i] & sh[j])
            c = round(common / len(sh[i]) + 0, 6)
            if common and c >= 0.5:
                expected[(i, j)] = c
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.id_contained, r.id_container): r.containment
        for r in containment_pairs(
            df, "doc_id", "text", threshold=0.5
        ).collect()
    }
    assert set(got) == set(expected)
    for k in got:
        assert abs(got[k] - expected[k]) < 1e-9, (k, got[k], expected[k])


@settings(**SETTINGS)
@given(_containment_docs)
def test_containment_prefix_tier_matches_bruteforce(spark, token_docs):
    """containment_pairs_prefix (the prefix-filtered scale tier) is
    LOSSLESS: identical output to the per-pair set arithmetic at both
    an exact-binary threshold (0.5) and a knife-edge float one (0.8,
    where 0.8·nₐ lands just above the true integer product in binary —
    the case the prefix-length epsilon guard exists for)."""
    from gaming_ai_analytics_spark.operators.dedup import (
        containment_pairs_prefix,
    )

    texts = [" ".join(f"t{t}" for t in toks) for toks in token_docs]
    rows = [(i, s) for i, s in enumerate(texts)]
    if not rows:
        return

    def shingles(toks):
        return {
            " ".join(f"t{t}" for t in toks[i : i + 3])
            for i in range(len(toks) - 2)
        }

    sh = {i: shingles(t) for i, t in enumerate(token_docs)}
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for thr in (0.5, 0.8):
        expected = {}
        for i in sh:
            for j in sh:
                if i == j or not sh[i]:
                    continue
                common = len(sh[i] & sh[j])
                c = round(common / len(sh[i]) + 0, 6)
                if common and c >= thr:
                    expected[(i, j)] = c
        for df_order in (False, True):  # hash order AND rarity order
            got = {
                (r.id_contained, r.id_container): r.containment
                for r in containment_pairs_prefix(
                    df, "doc_id", "text", threshold=thr, df_order=df_order
                ).collect()
            }
            assert set(got) == set(expected), (thr, df_order)
            for key in got:
                assert abs(got[key] - expected[key]) < 1e-9, (thr, key)


# --- triangle counting -------------------------------------------------------
_tri_edges = st.lists(
    st.tuples(st.integers(0, 9), st.integers(0, 9)), max_size=25
)


@settings(**SETTINGS)
@given(_tri_edges)
def test_triangle_counts_matches_bruteforce(spark, raw_edges):
    """Degree-ordered orientation must equal the O(n³) brute force on
    arbitrary small graphs — self-loops dropped, duplicate edges
    collapsed, per-node counts exact (each triangle counted once)."""
    import itertools

    from gaming_ai_analytics_spark.operators.graph import triangle_counts

    edges = {
        (min(a, b), max(a, b)) for a, b in raw_edges if a != b
    }
    if not edges:
        return
    adj: dict[int, set] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    expected: dict[int, int] = {}
    for u, v, w in itertools.combinations(sorted(adj), 3):
        if v in adj[u] and w in adj[u] and w in adj[v]:
            for x in (u, v, w):
                expected[x] = expected.get(x, 0) + 1
    df = spark.createDataFrame(
        [(f"n{a}", f"n{b}") for a, b in sorted(edges)],
        "a string, b string",
    )
    got = {
        int(r.node[1:]): r.triangles
        for r in triangle_counts(df).collect()
    }
    assert got == expected


# --- frequent itemset pairs ---------------------------------------------------
_baskets = st.lists(
    st.lists(st.integers(0, 5), min_size=0, max_size=6),
    min_size=1,
    max_size=10,
)


@settings(**SETTINGS)
@given(baskets=_baskets)
def test_frequent_itemset_pairs_matches_bruteforce(
    spark, tmp_path_factory, baskets
):
    """The a-priori + array-HOF plan equals per-basket enumeration on
    arbitrary basket corpora — duplicate items inside a basket
    collapse, singleton/empty baskets contribute no pairs but DO count
    in the lift denominator, supports exact."""
    import itertools
    from collections import Counter

    from gaming_ai_analytics_spark.queries_analytics import (
        q_frequent_itemset_pairs,
    )

    rows = [
        (o, p) for o, items in enumerate(baskets) for p in items
    ]
    if not rows:
        return
    path = tmp_path_factory.mktemp("fi")
    spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long"
    ).write.parquet(f"{path}/lineitem.parquet")

    sets = {o: set(items) for o, items in enumerate(baskets) if items}
    isup = Counter(p for s in sets.values() for p in s)
    psup: Counter = Counter()
    for s in sets.values():
        kept = sorted(p for p in s if isup[p] >= 2)
        if 2 <= len(kept) <= 50:
            psup.update(itertools.combinations(kept, 2))
    n = len(sets)
    expected = {
        (a, b): (c, isup[a], isup[b])
        for (a, b), c in psup.items()
        if c >= 2
    }
    got = {
        (r.part_a, r.part_b): (r.pair_support, r.support_a, r.support_b)
        for r in q_frequent_itemset_pairs(spark, str(path)).collect()
    }
    assert got == expected
    for r in q_frequent_itemset_pairs(spark, str(path)).collect():
        ref = round(
            (r.pair_support * n) / (r.support_a * r.support_b), 6
        )
        assert abs(r.lift - ref) < 1e-9


# --- fused text normalization -----------------------------------------------
_norm_texts = st.lists(
    st.text(
        alphabet=st.sampled_from(list("abYZ09 .!-_\t\n") + ["é", "漢"]),
        max_size=24,
    ),
    min_size=1,
    max_size=12,
)


@settings(**SETTINGS)
@given(_norm_texts)
def test_normalize_text_fused_equals_2pass(spark, texts):
    """The r9 fused single-regex normalize_text must be
    value-identical to the r4–r8 strip-then-collapse pair on
    arbitrary text — mixed junk/space runs, unicode, edge runs,
    empty and whitespace-only strings.  The SQL oracle twin (NORM)
    keeps the two-pass spelling, so this equivalence is what keeps
    every fingerprint oracle green."""
    from gaming_ai_analytics_spark.functions.text import (
        normalize_text,
        normalize_text_2pass,
    )

    texts = texts + [
        "", " ", "  a  b  ", "a!!b", "!a!", "Hello, World!\n",
        "é é", "a\t\nb", "...", "A-1_b 2", "漢字 test",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i long, text string"
    )
    rows = df.select(
        "text",
        normalize_text(F.col("text")).alias("fused"),
        normalize_text_2pass(F.col("text")).alias("twopass"),
    ).collect()
    for r in rows:
        assert r.fused == r.twopass, (repr(r.text), r.fused, r.twopass)


# --- iterative BPE trainer vs pure-Python Sennrich reference ---------------
def _bpe_reference(word_freqs, rounds):
    """Independent reimplementation of Sennrich's get_stats/merge loop
    (overlapping position counts, greedy left-to-right non-overlapping
    application, (count DESC, lhs, rhs) argmax)."""
    segs = {w: list(w) for w in word_freqs}
    merges = []
    for r in range(1, rounds + 1):
        counts = {}
        for w, toks in segs.items():
            f = word_freqs[w]
            for i in range(len(toks) - 1):
                counts[(toks[i], toks[i + 1])] = (
                    counts.get((toks[i], toks[i + 1]), 0) + f
                )
        if not counts:
            break
        (lhs, rhs), cnt = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((r, lhs, rhs, lhs + rhs, cnt))
        for w, toks in segs.items():
            out, i = [], 0
            while i < len(toks):
                if (
                    i + 1 < len(toks)
                    and toks[i] == lhs
                    and toks[i + 1] == rhs
                ):
                    out.append(lhs + rhs)
                    i += 2
                else:
                    out.append(toks[i])
                    i += 1
            segs[w] = out
    return merges, {w: segs[w] for w in segs}


_bpe_vocab = st.dictionaries(
    st.text(alphabet="abc", min_size=1, max_size=8),
    st.integers(1, 9),
    min_size=1,
    max_size=10,
)


@settings(**SETTINGS)
@given(_bpe_vocab)
def test_bpe_train_matches_sennrich_reference(spark, word_freqs):
    """The distributed fold (F.aggregate over the chr(31)-joined
    segmentation string) must replay Sennrich's reference algorithm
    exactly — merges in the same order with the same counts, final
    segmentations identical — on arbitrary small vocabularies,
    including the overlap-heavy 'aaaa…' shapes where a wrong fold
    diverges first."""
    from gaming_ai_analytics_spark.queries_traindata import (
        _BPE_SEP,
        bpe_train,
    )

    wc = spark.createDataFrame(
        list(word_freqs.items()), "w string, f long"
    )
    got_merges, state = bpe_train(wc, 4, return_state=True)
    want_merges, want_segs = _bpe_reference(word_freqs, 4)
    assert got_merges == want_merges
    got_segs = {
        r.w: r.seg.split(_BPE_SEP) for r in state.collect()
    }
    assert got_segs == want_segs


# --- cross-document duplicated 8-gram spans ---------------------------------
@settings(**SETTINGS)
@given(
    st.lists(  # docs as word-index lists over a tiny alphabet so
        st.lists(st.integers(0, 5), max_size=14),  # spans collide
        min_size=1,
        max_size=6,
    )
)
def test_duplicate_ngram_spans_matches_reference(spark, word_lists):
    """Per-doc distinct-8-gram counting, cross-doc df attachment, and
    the dup fraction equal a sequential reference for any duplication
    topology (shared spans, self-repeats inside one doc — which must
    NOT count as cross-doc, sub-8-word docs, empty docs)."""
    from decimal import ROUND_HALF_UP, Decimal

    from gaming_ai_analytics_spark import registry

    registry.queries()
    import gaming_ai_analytics_spark.queries_llm as ql

    texts = {
        i: " ".join(f"w{c}" for c in ws) for i, ws in enumerate(word_lists)
    }
    # pure-Python reference: per-doc DISTINCT 8-gram sets, df over docs
    gram_sets = {
        i: {tuple(ws[j : j + 8]) for j in range(len(ws) - 7)}
        for i, ws in enumerate(word_lists)
        if len(ws) >= 8
    }
    df_count: dict[tuple, int] = {}
    for gs in gram_sets.values():
        for g in gs:
            df_count[g] = df_count.get(g, 0) + 1
    want = {}
    for i, gs in gram_sets.items():
        dup = sum(1 for g in gs if df_count[g] >= 2)
        frac = float(
            Decimal(repr(dup / len(gs) + 5e-10)).quantize(
                Decimal("0.0001"), rounding=ROUND_HALF_UP
            )
        )
        want[i] = (len(gs), dup, frac)

    df = spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in texts.items()],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    import unittest.mock as mock

    with mock.patch.object(ql, "_nonempty_docs", lambda spark, sf_dir: df):
        got = {
            r.doc_id: (r.n_spans, r.n_dup_spans, r.dup_span_frac)
            for r in ql.q_duplicate_ngram_spans(spark, "ignored").collect()
        }
    assert got == want


# --- cross-document duplicated-span REMOVAL ---------------------------------
@settings(**SETTINGS)
@given(
    st.lists(  # same topology generator as the measuring twin above
        st.lists(st.integers(0, 5), max_size=14),
        min_size=1,
        max_size=6,
    )
)
def test_duplicate_span_removal_matches_reference(spark, word_lists):
    """Covered-position union, anti-join removal, and in-order
    reassembly equal a sequential reference for any duplication
    topology: EVERY occurrence start of a flagged gram covers its 8
    positions, within-doc-only repeats (df = 1) are kept, fully
    covered docs vanish, sub-8-word docs pass through whole."""
    from gaming_ai_analytics_spark import registry

    registry.queries()
    import gaming_ai_analytics_spark.queries_llm as ql

    texts = {
        i: " ".join(f"w{c}" for c in ws) for i, ws in enumerate(word_lists)
    }
    gram_sets = {
        i: {tuple(ws[j : j + 8]) for j in range(len(ws) - 7)}
        for i, ws in enumerate(word_lists)
        if len(ws) >= 8
    }
    df_count: dict[tuple, int] = {}
    for gs in gram_sets.values():
        for g in gs:
            df_count[g] = df_count.get(g, 0) + 1
    want = {}
    for i, ws in enumerate(word_lists):
        if not ws:
            continue  # empty text: filtered by _NONEMPTY on both sides
        covered = set()
        for j in range(len(ws) - 7):
            if df_count.get(tuple(ws[j : j + 8]), 0) >= 2:
                covered.update(range(j, j + 8))
        kept = [f"w{c}" for p, c in enumerate(ws) if p not in covered]
        if kept:
            want[i] = (
                len(ws),
                len(kept),
                len(ws) - len(kept),
                " ".join(kept),
            )

    df = spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in texts.items()],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    import unittest.mock as mock

    with mock.patch.object(ql, "_nonempty_docs", lambda spark, sf_dir: df):
        got = {
            r.doc_id: (r.n_tokens, r.n_kept, r.n_removed, r.cleaned_text)
            for r in ql.q_duplicate_span_removal(spark, "ignored").collect()
        }
    assert got == want


# --- UniMax waterfilling closed form ----------------------------------------
_unimax_cells = st.lists(
    st.tuples(
        st.integers(0, 4),          # source index
        st.integers(0, 3),          # lang index
        st.integers(1, 100_000),    # n_tokens
    ),
    min_size=1,
    max_size=12,
    unique_by=lambda t: (t[0], t[1]),
)


@given(_unimax_cells)
@settings(max_examples=40, deadline=None, derandomize=True)
def test_unimax_closed_form_equals_sequential_waterfilling(cells):
    """The sorted closed form inside the REGISTERED ORACLE (saturated
    prefix + water level, scaled-int64 comparisons) must equal the
    sequential waterfilling simulation on arbitrary cell layouts —
    including all-saturated (budget above total capacity is
    impossible here: B = 1.2·total < 2·total = Σcap, so at least one
    cell always drinks the water level), singleton corpora, and
    heavy ties.  Runs the oracle's own CTE chain in DuckDB over a
    VALUES relation — no Spark, no fixture; the SQL under test is
    spliced from the registry so it cannot drift from what the
    driver checks."""
    import duckdb

    from gaming_ai_analytics_spark import registry

    registry.queries()
    sql = registry.oracle_for("mixture_unimax_budget")
    at = sql.index("ranked AS (")
    values = ", ".join(
        f"('s{s}', 'l{la}', CAST({n} AS BIGINT), CAST({2 * n} AS BIGINT))"
        for s, la, n in cells
    )
    spliced = (
        "\n    WITH cells(source, lang, n_tokens, cap) AS (\n"
        f"      VALUES {values}),\n    " + sql[at:]
    )
    got = {
        (r[0], r[1]): r
        for r in duckdb.connect().execute(spliced).fetchall()
    }

    # sequential waterfilling reference (same 6/5 budget, 2-epoch cap)
    total = sum(n for _, _, n in cells)
    budget = 6 * total / 5
    remaining, m = budget, len(cells)
    expect, level = {}, None
    for cap, s, la in sorted(
        (2 * n, f"s{s}", f"l{la}") for s, la, n in cells
    ):
        share = remaining / m
        if cap <= share:
            expect[(s, la)] = (float(cap), 1)
            remaining -= cap
            m -= 1
        else:
            level = remaining / m
            expect[(s, la)] = (level, 0)

    assert set(got) == set(expect)
    for k, (alloc, sat) in expect.items():
        row = got[k]  # (source, lang, n_tokens, cap, saturated, alloc, ep)
        assert row[4] == sat, (k, row, expect)
        assert abs(row[5] - alloc) < 0.015, (k, row[5], alloc)
    assert abs(sum(a for a, _ in expect.values()) - budget) < 1e-6
