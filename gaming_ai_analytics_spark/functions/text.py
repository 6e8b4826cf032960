"""Text-analysis functions — language ID, quality scoring, token
counting, shingling, fingerprinting.

Extension surface (SURVEY §2.11; no reference analog — the reference's
only text ops are LENGTH and the LLM UDF). All built-ins: string /
regex / array higher-order functions, whole-stage-codegen'd, no Python
in the hot path. Regex patterns are restricted to class/quantifier
syntax that behaves identically under Java regex (Spark) and RE2
(DuckDB) so oracles can mirror them.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Tiny per-language stopword markers for the heuristic language ID.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of"],
    "es": ["el", "la", "los"],
    "fr": ["le", "les", "des"],
    "de": ["der", "die", "und"],
}

STOPWORDS = ("the", "a", "of", "and", "to", "in")


def normalize_text(col: Column) -> Column:
    """Canonical form for dedup/fingerprinting: lowercase, strip
    non-alphanumerics, collapse whitespace.

    FUSED single-regex form (r9, VERDICT r8 ask #4): one
    ``regexp_replace('[^a-z0-9]+', ' ')`` pass replaces the previous
    strip-then-collapse pair.  Value-identical by the run argument:
    after ``lower``, view the text as alternating maximal runs of
    alphanumerics and non-alphanumerics (spaces included in the
    latter) — the two-pass form maps each non-alnum run to all-spaces
    then collapses it to one space; the fused class maps the same run
    to one space directly; ``trim`` handles the edge runs identically
    (hypothesis-pinned against :func:`normalize_text_2pass`).  The
    SQL twin (text_sql.NORM) keeps the two-pass spelling — the VALUES
    are identical, so the oracle is unchanged."""
    return F.trim(F.regexp_replace(F.lower(col), "[^a-z0-9]+", " "))


def normalize_text_2pass(col: Column) -> Column:
    """The r4–r8 two-regex formulation of :func:`normalize_text` —
    kept as the equivalence-test reference and the fingerprint-A/B
    baseline arm (BASELINE.md §3), NOT registered anywhere."""
    c = F.lower(col)
    c = F.regexp_replace(c, "[^a-z0-9 ]", " ")
    c = F.regexp_replace(c, " +", " ")
    return F.trim(c)


def tokens(col: Column) -> Column:
    """Whitespace tokenization → array<string> (empty array for empty
    text, not [''])."""
    t = F.split(F.trim(col), " +")
    return F.when(F.length(F.trim(col)) == 0, F.array().cast("array<string>")).otherwise(t)


def token_count(col: Column) -> Column:
    """Whitespace token count."""
    return F.size(tokens(col))


def bpe_ish_token_count(col: Column) -> Column:
    """Sub-word-ish token count: alpha runs up to 4 chars count as one
    token per 4-char chunk (a BPE-like length proxy), digits and
    punctuation one each. Implemented as a pure regex count."""
    return F.regexp_count(col, F.lit("[a-zA-Z]{1,4}|[0-9]|[^a-zA-Z0-9\\s]"))


def word_shingles(col: Column, k: int = 3) -> Column:
    """Distinct k-word shingles: array of 'w1 w2 w3' strings —
    the dedup unit for Jaccard/MinHash. Built with sequence+transform
    (no explode here; callers explode when they need rows).

    The token array is let-bound: referencing it directly inside the
    per-shingle transform lambda would re-run the whitespace split once
    PER SHINGLE (higher-order lambdas re-evaluate captured
    subexpressions per element) — measured 5.5× slower on the
    documents fixture."""
    from gaming_ai_analytics_spark.functions.expr import let

    def body(toks):
        n = F.size(toks)
        idx = F.sequence(F.lit(0), n - k)  # 0-based start positions
        sh = F.transform(
            idx, lambda i: F.array_join(F.slice(toks, i + 1, k), " ")
        )
        return F.when(n < k, F.array().cast("array<string>")).otherwise(
            F.array_distinct(sh)
        )

    return let(tokens(col), body)


def token_chunks(col: Column, size: int = 32, stride: int = 24) -> Column:
    """Overlapping token-window chunks — the LLM-context chunking
    primitive: ``array<struct<chunk_no int, chunk string>>`` where
    chunk i spans tokens [i·stride, i·stride+size). A document of n
    tokens yields ``1 + ceil(max(n-size,0)/stride)`` chunks, so every
    token lands in at least one chunk and consecutive chunks overlap
    by ``size - stride`` tokens. Map-only (let-bound token array, no
    explode here — callers posexplode when they need rows)."""
    from gaming_ai_analytics_spark.functions.expr import let

    def body(toks):
        n = F.size(toks)
        n_chunks = F.when(n <= size, F.lit(1)).otherwise(
            (F.lit(1) + F.ceil((n - size) / F.lit(float(stride)))).cast("int")
        )
        return F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.struct(
                i.cast("int").alias("chunk_no"),
                F.array_join(
                    F.slice(toks, i * stride + 1, size), " "
                ).alias("chunk"),
            ),
        )

    return let(tokens(col), body)


def word_ngrams(col: Column, k: int) -> Column:
    """ALL k-word n-grams in order (duplicates kept — the repetition
    statistics need multiplicity; `word_shingles` is the distinct
    variant). Map-only, let-bound like word_shingles."""
    from gaming_ai_analytics_spark.functions.expr import let

    def body(toks):
        n = F.size(toks)
        idx = F.sequence(F.lit(0), n - k)
        sh = F.transform(
            idx, lambda i: F.array_join(F.slice(toks, i + 1, k), " ")
        )
        return F.when(n < k, F.array().cast("array<string>")).otherwise(sh)

    return let(tokens(col), body)


#: PII patterns restricted to syntax Java regex and RE2 treat
#: identically (char classes + bounded quantifiers, no backrefs or
#: lookaround). Order matters: emails contain dots/digits, so they
#: redact first; IPv4 before phone (the phone class has no '.').
PII_PATTERNS: list[tuple[str, str]] = [
    ("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("([0-9]{1,3}\\.){3}[0-9]{1,3}", "<IP>"),
    ("\\+?[0-9][0-9 -]{7,}[0-9]", "<PHONE>"),
]


def redact_pii(col: Column) -> Column:
    """Scrub emails / IPv4s / phone-shaped digit runs to typed
    placeholders — the corpus PII pass. Pure sequential
    ``regexp_replace`` (codegen'd, zero Python)."""
    out = col
    for pat, tag in PII_PATTERNS:
        out = F.regexp_replace(out, pat, tag)
    return out


def pii_match_count(col: Column) -> Column:
    """How many PII spans `redact_pii` would replace. Counted
    sequentially on the progressively-redacted text so overlapping
    pattern classes (an IP inside an email host) are not double-counted
    — mirrors the replace order exactly."""
    total = F.lit(0)
    cur = col
    for pat, tag in PII_PATTERNS:
        total = total + F.regexp_count(cur, F.lit(pat))
        cur = F.regexp_replace(cur, pat, tag)
    return total


def repetition_metrics(col: Column) -> Column:
    """Gopher-style repetition statistics as one struct:

    - ``dup_trigram_frac``: 1 − |distinct 3-grams| / |3-grams|
    - ``top_bigram_frac``: count of the most frequent 2-gram / |2-grams|

    Both are 0.0 for docs too short to form the n-gram. Map-only: the
    mode count comes from a single fold over the SORTED bigram array
    (longest equal-run), never a shuffle — per-row cost is
    O(n log n) in the doc's own token count, so the operator scales
    with corpus size purely by partitioning."""
    from gaming_ai_analytics_spark.functions.expr import let

    def dup3(g3):
        return F.when(F.size(g3) == 0, 0.0).otherwise(
            F.round(1.0 - F.size(F.array_distinct(g3)) / F.size(g3), 4)
        )

    def top2(g2):
        zero = F.struct(
            F.lit("").alias("prev"),
            F.lit(0).cast("int").alias("run"),
            F.lit(0).cast("int").alias("best"),
        )

        def step(acc, x):
            run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
            return F.struct(
                x.alias("prev"),
                run.alias("run"),
                F.greatest(acc["best"], run).alias("best"),
            )

        best = F.aggregate(F.array_sort(g2), zero, step)["best"]
        return F.when(F.size(g2) == 0, 0.0).otherwise(
            F.round(best / F.size(g2), 4)
        )

    return F.struct(
        let(word_ngrams(col, 3), dup3).alias("dup_trigram_frac"),
        let(word_ngrams(col, 2), top2).alias("top_bigram_frac"),
    )


def stopword_ratio(col: Column) -> Column:
    toks = tokens(F.lower(col))
    stop = F.filter(toks, lambda t: t.isin(*STOPWORDS))
    return F.when(F.size(toks) == 0, 0.0).otherwise(
        F.size(stop) / F.size(toks)
    )


def mean_word_length(col: Column) -> Column:
    toks = tokens(col)
    total = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("double")),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    return F.when(F.size(toks) == 0, 0.0).otherwise(total / F.size(toks))


#: the 63 characters the punctuation metrics treat as NON-punctuation —
#: ``translate(col, _NON_PUNCT, '')`` deletes exactly the chars the
#: ``[^a-zA-Z0-9 ]`` regex class keeps out, and a translate is a plain
#: per-char map lookup where regexp_count pays one matcher invocation
#: per punctuation occurrence: measured 1.84 → 0.40 s on the sf1
#: corpus scan (r13), count-identical (0 mismatches, and the oracle's
#: regex formulation is untouched)
_NON_PUNCT = (
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789 "
)


def punctuation_count(col: Column) -> Column:
    """COUNT of chars outside [a-zA-Z0-9 ] — the regex-free form."""
    return F.length(F.translate(col, _NON_PUNCT, ""))


def punctuation_ratio(col: Column) -> Column:
    return F.when(F.length(col) == 0, 0.0).otherwise(
        punctuation_count(col) / F.length(col)
    )


def rule_gate(col: Column) -> tuple[list[Column], Column]:
    """The C4/Gopher-style curation keep rule: token-count bounds,
    mean-word-length band, punctuation ceiling, stopword floor.

    Returns the four metrics as named columns (``n_tokens``,
    ``mean_word_len``, ``punct_ratio``, ``stop_ratio``) and the keep
    predicate over those names, so a caller selects the metrics, then
    filters or projects on the predicate. The ratios are rounded to
    4 dp after a +5e-10 nudge, which keeps both oracle engines on the
    same side of an exact .00005 boundary (as in quality_score)."""
    metrics = [
        token_count(col).cast("int").alias("n_tokens"),
        F.round(mean_word_length(col) + 5e-10, 4).alias("mean_word_len"),
        F.round(punctuation_ratio(col) + 5e-10, 4).alias("punct_ratio"),
        F.round(stopword_ratio(col) + 5e-10, 4).alias("stop_ratio"),
    ]
    keep = (
        F.col("n_tokens").between(5, 100_000)
        & F.col("mean_word_len").between(2.0, 12.0)
        & (F.col("punct_ratio") < 0.3)
        & (F.col("stop_ratio") > 0.01)
    )
    return metrics, keep


def quality_score(col: Column) -> Column:
    """Composite document-quality heuristic in [0, 1]: favors texts of
    moderate length with low punctuation noise and a natural stopword
    share — the usual pretraining-corpus filter shape.

    FUSED formulation (r8, VERDICT r7 ask #4): all three terms come
    from counting scans — two ``regexp_count`` passes plus one
    separator count — with ZERO array or string allocation.  The r4–r7
    form materialized a token array (split), a filtered copy of it
    (stopword filter), and a full punctuation-stripped copy of the
    text (regexp_replace) per row; counts are value-identical to
    sizes/length-diffs of those structures (equivalence
    property-tested vs the unfused term functions, which remain below
    for the callers that need the structures).  Interleaved A/B at
    sf1: see BASELINE.md §3.  Same composite, same epsilon, same
    oracle (the SQL twin is unchanged — the VALUES are identical).
    """
    # one trim, referenced four times (let-bound against
    # CollapseProject inlining the trim into every reference)
    from gaming_ai_analytics_spark.functions.expr import let

    def body(t: Column) -> Column:
        # token count = separator runs + 1 on the trimmed text
        n_tok = F.when(F.length(t) == 0, F.lit(0)).otherwise(
            F.regexp_count(t, F.lit(" +")) + 1
        )
        # standalone stopword tokens: space-or-edge delimited, the
        # lookahead keeps consecutive stopwords countable ("a a").
        # \A/\z, NOT ^/$: Java's $ also matches before a FINAL LINE
        # TERMINATOR, which would count "the\n" — a token the
        # whitespace-split filter does not match
        n_stop = F.regexp_count(
            F.lower(t),
            F.lit("(?:\\A| )(?:" + "|".join(STOPWORDS) + ")(?= |\\z)"),
        )
        stop_ratio = F.when(n_tok == 0, 0.0).otherwise(n_stop / n_tok)
        length_term = F.least(F.length(col) / 400.0, F.lit(1.0))
        stop_term = F.least(stop_ratio * 5.0, F.lit(1.0))
        n_punct = punctuation_count(col)  # translate, not regex (r13)
        punct_penalty = F.when(F.length(col) == 0, 0.0).otherwise(
            n_punct / F.length(col)
        )
        score = (
            0.5 * length_term
            + 0.3 * stop_term
            + 0.2 * (1.0 - punct_penalty)
        )
        # +5e-10 before rounding: the two oracle engines can disagree
        # by 1 ulp on the composite, which flips ROUND at an exact
        # .00005 boundary; the epsilon pushes both off the knife edge
        # identically.
        return F.round(score + 5e-10, 4)

    return let(F.trim(col), body)


def quality_score_unfused(col: Column) -> Column:
    """The r4–r7 structure-materializing formulation of
    :func:`quality_score` — kept as the equivalence-test reference and
    the A/B baseline (BASELINE.md §3), NOT registered anywhere.

    The punctuation term keeps the REGEX formulation inline
    (ADVICE r13): a frozen baseline must not ride along with hot-path
    rewrites, and this is what keeps the fused-vs-unfused equivalence
    test independently exercising regex-vs-translate punctuation
    counting (the DuckDB oracle's _PUNCT_RATIO is the other
    cross-check)."""
    length_term = F.least(F.length(col) / 400.0, F.lit(1.0))
    stop_term = F.least(stopword_ratio(col) * 5.0, F.lit(1.0))
    punct_penalty = F.when(F.length(col) == 0, 0.0).otherwise(
        F.regexp_count(col, F.lit("[^a-zA-Z0-9 ]")) / F.length(col)
    )
    score = 0.5 * length_term + 0.3 * stop_term + 0.2 * (1.0 - punct_penalty)
    return F.round(score + 5e-10, 4)


def language_id(col: Column) -> Column:
    """Marker-stopword language heuristic: pick the language with the
    most marker hits, 'und' (undetermined) when nothing matches.
    Deterministic tie-break by language code order of LANG_MARKERS.

    r13 shape: tokens are LET-BOUND and each language's hit count is
    computed exactly once, with the winner picked by ``array_max``
    over ``struct(hits, -lang_index, lang)`` (struct comparison is
    field-ordered, so max = highest hits, ties to the earliest
    language — the same winner as the old when-chain). The previous
    fold built nested ``when`` chains where each language's
    expression tree embedded every earlier one AND re-expanded the
    un-bound token split per reference — the expression DAG
    duplication, not the token scan, was the cost: measured
    1.30 → 0.50 s on the sf1 corpus scan, value-identical
    (0 mismatches across the corpus)."""
    from gaming_ai_analytics_spark.functions.expr import let

    def body(toks: Column) -> Column:
        entries = F.array(*[
            F.struct(
                F.size(
                    F.filter(toks, lambda t: t.isin(*LANG_MARKERS[lang]))
                ).alias("h"),
                F.lit(-i).alias("ni"),
                F.lit(lang).alias("lang"),
            )
            for i, lang in enumerate(LANG_MARKERS)
        ])
        best = F.array_max(entries)
        return F.when(best["h"] > 0, best["lang"]).otherwise(F.lit("und"))

    return let(tokens(F.lower(col)), body)


def doc_fingerprint(col: Column) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text
    (md5 exists on both engines, so the oracle can mirror it)."""
    return F.md5(normalize_text(col))
