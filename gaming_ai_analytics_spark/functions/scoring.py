"""Pluggable text scorers — the reference's UDF surface, fixed.

The reference scores sentiment with a row-at-a-time Python UDF that
makes one blocking HTTPS call per row to an LLM endpoint
(reference: src/notebooks/modelling/reviews_fact.py:35-99 — declared
``udf(..., IntegerType())`` at :99, 30 s timeout per call at :73), and
translates dim names with Databricks ``ai_query``
(auxillary_dims.py:14-27). That design is the pipeline's stated
bottleneck (reviews_fact.py:172-173) and a correctness hazard: the UDF
is nondeterministic (network) but never marked ``asNondeterministic()``,
so Catalyst may re-execute it.

Our design:
- a ``Scorer`` backend protocol operating on **pandas batches**
  (Arrow-vectorized), never per-row;
- deterministic local backends (lexicon sentiment, rule translator)
  for tests/oracles;
- a backend that declares ``deterministic = False`` (a remote LLM,
  one request per pandas batch) is marked nondeterministic, and the
  pipeline materializes its columns before any downstream use
  (SURVEY §7.3.1).

Scoring rubric parity: integer scores in {-5..5} like the reference's
prompt rubric (reviews_fact.py:17-25); sponsored half-weighting is pure
``F.when`` (U3, reviews_fact.py:162-167) — not a UDF here.
"""

from __future__ import annotations

from typing import Protocol

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Deterministic sentiment lexicon over the synthetic corpus's word
#: stock. Substring-occurrence semantics (str.count) so an ANSI-SQL
#: oracle can reproduce it exactly via LENGTH/REPLACE arithmetic.
SENTIMENT_LEXICON: dict[str, int] = {
    "fast": 2,
    "slow": -2,
    "big": 1,
    "small": -1,
}
SCORE_MIN, SCORE_MAX = -5, 5


class Scorer(Protocol):
    """Batch scorer: pandas Series of text -> pandas Series of int."""

    def score_batch(self, texts: pd.Series) -> pd.Series: ...

    deterministic: bool


class LexiconScorer:
    """Deterministic rubric scorer: weighted substring counts, clipped
    to the rubric bounds. Stands in for the LLM under test."""

    deterministic = True

    def __init__(self, lexicon: dict[str, int] | None = None):
        self.lexicon = lexicon or SENTIMENT_LEXICON

    def score_batch(self, texts: pd.Series) -> pd.Series:
        score = pd.Series(0, index=texts.index, dtype="int64")
        filled = texts.fillna("")
        for word, weight in self.lexicon.items():
            score += filled.str.count(word, flags=0).astype("int64") * weight
        return score.clip(SCORE_MIN, SCORE_MAX).where(
            filled.str.len() > 0, 0  # null/empty guard → 0 (reviews_fact.py:103-109)
        ).astype("int32")


def sentiment_expr(text_col: Column) -> Column:
    """The lexicon scorer as a pure built-in Column expression —
    JVM-side, whole-stage-codegen'd, zero Python. Preferred at scale
    when the backend is the deterministic lexicon.

    Substring-count(c) == (len(s) - len(replace(s, c, ''))) / len(c).
    """
    filled = F.coalesce(text_col, F.lit(""))
    score: Column = F.lit(0)
    for word, weight in SENTIMENT_LEXICON.items():
        cnt = (F.length(filled) - F.length(F.replace(filled, F.lit(word), F.lit("")))) / len(word)
        score = score + cnt * weight
    clipped = F.greatest(F.least(score, F.lit(SCORE_MAX)), F.lit(SCORE_MIN))
    return F.when(F.length(filled) == 0, 0).otherwise(clipped).cast("int")


def score_text(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "sentiment_score",
    backend: Scorer | None = None,
) -> DataFrame:
    """U1 (reviews_fact.py:35-109) re-expressed: add an integer
    sentiment column via an Arrow-batched pandas UDF over the pluggable
    backend. Remote backends are marked nondeterministic so Catalyst
    will not speculatively re-execute them.
    """
    backend = backend or LexiconScorer()

    @F.pandas_udf(T.IntegerType())
    def _score(texts: pd.Series) -> pd.Series:
        return backend.score_batch(texts).astype("int32")

    udf = _score if backend.deterministic else _score.asNondeterministic()
    return df.withColumn(out_col, udf(F.col(text_col)))


def register_sql_functions(
    spark,
    scorer: "Scorer | None" = None,
    translator: "Translator | None" = None,
) -> None:
    """Expose the scorer/translator to ``spark.sql`` as ``ai_score`` /
    ``ai_translate`` — the reference calls ``ai_query`` INSIDE SQL
    (exploration/analysis.sql:29-37), so SQL-first users must be able
    to compose the same way without touching the DataFrame API.
    Same Arrow-batched pandas UDFs as the transformer path; remote
    (nondeterministic) backends are registered as such so Catalyst
    won't speculatively re-execute them."""
    scorer = scorer or LexiconScorer()
    translator = translator or RuleTranslator()

    @F.pandas_udf(T.IntegerType())
    def _score(texts: pd.Series) -> pd.Series:
        return scorer.score_batch(texts).astype("int32")

    @F.pandas_udf(T.StringType())
    def _tr(texts: pd.Series) -> pd.Series:
        return translator.translate_batch(texts)

    spark.udf.register(
        "ai_score", _score if scorer.deterministic else _score.asNondeterministic()
    )
    spark.udf.register(
        "ai_translate",
        _tr if translator.deterministic else _tr.asNondeterministic(),
    )


def weighted_score(
    score_col: Column, sponsored_col: Column, factor: float = 0.5
) -> Column:
    """U3 (reviews_fact.py:162-167): half-weight sponsored rows —
    pure ``F.when``, int → double promotion preserved."""
    return F.when(sponsored_col, score_col * factor).otherwise(
        score_col.cast("double")
    )


class Translator(Protocol):
    def translate_batch(self, texts: pd.Series) -> pd.Series: ...

    deterministic: bool


class RuleTranslator:
    """Deterministic stand-in for ``ai_query`` translation
    (auxillary_dims.py:14-27): tags text with a target-language prefix.
    Failure contract mirrors the reference: null → 'NA'."""

    deterministic = True

    def __init__(self, target_lang: str = "en"):
        self.target = target_lang

    def translate_batch(self, texts: pd.Series) -> pd.Series:
        out = self.target.upper() + ":" + texts.fillna("")
        return out.where(texts.notna(), "NA")


def translate_text(
    df: DataFrame,
    text_col: str,
    out_col: str,
    backend: Translator | None = None,
) -> DataFrame:
    """U2 (auxillary_dims.py:14-27) re-expressed: pluggable translation
    transformer, Arrow-batched."""
    backend = backend or RuleTranslator()

    @F.pandas_udf(T.StringType())
    def _tr(texts: pd.Series) -> pd.Series:
        return backend.translate_batch(texts)

    udf = _tr if backend.deterministic else _tr.asNondeterministic()
    return df.withColumn(out_col, udf(F.col(text_col)))
