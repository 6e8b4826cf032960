"""Extension + pipeline-surface queries (SURVEY.md §2.10-2.11, §7).

Registers oracle-checked queries for:
- the fact-build transform chain (scoring U1 + weighting U3) — the
  lexicon scorer is substring-count arithmetic, so the oracle can
  reproduce it in pure SQL;
- the translation transformer (U2 analog);
- the metric-view compiler output (M4);
- data-quality rule outputs (A8 / range rules as queries).

Dedup / similarity / text-analysis operators register from their own
modules (see queries_llm.py).
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type hints resolve here

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gaming_ai_analytics_spark import artifacts
from gaming_ai_analytics_spark.functions.scoring import translate_text
from gaming_ai_analytics_spark.operators.quality import (
    IsInRange,
    IsUnique,
    violations,
)
from gaming_ai_analytics_spark.plans.metric_view import (
    JoinSpec,
    MetricView,
    MetricViewSpec,
)
from gaming_ai_analytics_spark.plans.pipeline import fact_transform
from gaming_ai_analytics_spark.registry import register
from gaming_ai_analytics_spark.sources.local import local_frame
from gaming_ai_analytics_spark.sources.star import load_table

# SQL twin of functions.scoring.SENTIMENT_LEXICON substring-count
# scoring: cnt(w) = (len(s) - len(replace(s, w, ''))) / len(w).
_SENTIMENT_SQL = """
    CAST(CASE WHEN text IS NULL OR LENGTH(text) = 0 THEN 0
         ELSE GREATEST(LEAST(
              2 * (LENGTH(text) - LENGTH(REPLACE(text, 'fast', ''))) / 4
            - 2 * (LENGTH(text) - LENGTH(REPLACE(text, 'slow', ''))) / 4
            + 1 * (LENGTH(text) - LENGTH(REPLACE(text, 'big', ''))) / 3
            - 1 * (LENGTH(text) - LENGTH(REPLACE(text, 'small', ''))) / 5,
            5), -5) END AS INT)
"""


def q_fact_build_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole reviews_fact transform chain (reviews_fact.py:131-167)
    lazily, minus the sink: filter → project → score → weight."""
    return fact_transform(load_table(spark, sf_dir, "documents")).select(
        "review_id",
        "language",
        "source",
        "review_length",
        "sponsored_review",
        "sentiment_score",
        "weighted_score",
    )


register(
    "fact_build_transform",
    q_fact_build_transform,
    f"""
    SELECT doc_id AS review_id, lang AS language, source,
           n_chars AS review_length,
           doc_id % 10 = 0 AS sponsored_review,
           {_SENTIMENT_SQL} AS sentiment_score,
           CASE WHEN doc_id % 10 = 0 THEN {_SENTIMENT_SQL} * 0.5
                ELSE CAST({_SENTIMENT_SQL} AS DOUBLE) END AS weighted_score
    FROM documents
    WHERE text IS NOT NULL AND n_chars > 0
    """,
)


def q_translate_dim_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2 (auxillary_dims.py:14-27): deterministic translation backend
    over dim names, null → 'NA' failure contract."""
    nation = load_table(spark, sf_dir, "nation")
    return translate_text(nation, "n_name", "name_en").select(
        "n_nationkey", "n_name", "name_en"
    )


register(
    "translate_dim_names",
    q_translate_dim_names,
    """
    SELECT n_nationkey, n_name,
           CASE WHEN n_name IS NULL THEN 'NA'
                ELSE 'EN:' || n_name END AS name_en
    FROM nation
    """,
)


def q_sql_ai_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-callable scorer/translator — the reference's ai_query lives
    INSIDE SQL (exploration/analysis.sql:29-37: ``SELECT id, name,
    ai_query('...', CONCAT('Translate...', name)) FROM ...``). Here the
    deterministic backends are registered via ``spark.udf.register``
    and composed from ``spark.sql`` text, proving the SQL-first path;
    the oracle replicates the lexicon arithmetic in DuckDB SQL."""
    from gaming_ai_analytics_spark.functions.scoring import (
        register_sql_functions,
    )

    docs = load_table(spark, sf_dir, "documents")
    # temp views and SQL UDF registrations are per-session — bind
    # both to the DataFrame's own session so the SQL text resolves
    # them regardless of which session loaded the table
    s = docs.sparkSession
    register_sql_functions(s)
    docs.createOrReplaceTempView("documents_v")
    return s.sql(
        """
        SELECT doc_id,
               ai_score(text) AS sentiment_score,
               ai_translate(lang) AS lang_en
        FROM documents_v
        """
    )


register(
    "sql_ai_functions",
    q_sql_ai_functions,
    # lexicon replica: count(w) == (len(t)-len(replace(t,w,'')))/len(w),
    # weighted sum clipped to [-5, 5]; empty/null text scores 0
    """
    SELECT doc_id,
           CASE WHEN COALESCE(text, '') = '' THEN 0
                ELSE CAST(LEAST(GREATEST(
                     (LENGTH(text) - LENGTH(REPLACE(text, 'fast', ''))) // 4 * 2
                   + (LENGTH(text) - LENGTH(REPLACE(text, 'slow', ''))) // 4 * -2
                   + (LENGTH(text) - LENGTH(REPLACE(text, 'big',  ''))) // 3 * 1
                   + (LENGTH(text) - LENGTH(REPLACE(text, 'small',''))) // 5 * -1
                   , -5), 5) AS INT) END AS sentiment_score,
           CASE WHEN lang IS NULL THEN 'NA' ELSE 'EN:' || lang END AS lang_en
    FROM documents
    """,
)


# --------------------------------------------------------------------------
# Metric view (M4) through the compiler
# --------------------------------------------------------------------------
#: r14 construction-floor fix (VERDICT r13 ask #7, measured with
#: cProfile): constructing this metric view cost 56.5 ms/call, 78% of
#: it py4j socket wait across ~14 round-trips — 4 of them
#: createOrReplaceTempView re-registrations of the SAME four scans
#: under a fresh __mvN_ prefix every call (22 ms), which also leaked
#: views into the session catalog. A metric view is a long-lived
#: definition by design (the semantic-layer pattern registers views
#: once), so the constructed MetricView is an ``artifacts.once`` value
#: per (session, sf_dir). The CONSUMER query is still compiled and
#: analyzed fresh on every call (spark.sql — a new plan, new RDDs, no
#: cross-run stage reuse), so the bench's fresh-lineage contract is
#: untouched; only the once-per-definition view binding stops being
#: re-paid. No source fingerprint: this is a dashboard hot path, and
#: fixture dirs are immutable within a process (read-only testdata),
#: which is what makes the bound tables' file-index snapshot safe.


def _build_orders_metric_view(spark: SparkSession, sf_dir: str) -> MetricView:
    spec = MetricViewSpec(
        source="orders",
        filter="orders.o_totalprice IS NOT NULL",
        joins=[
            JoinSpec("customer", "orders.o_custkey = customer.c_custkey"),
            JoinSpec("nation", "customer.c_nationkey = nation.n_nationkey"),
            JoinSpec("region", "nation.n_regionkey = region.r_regionkey"),
        ],
        dimensions={
            "region": "region.r_name",
            "priority": "orders.o_orderpriority",
            "status": "orders.o_orderstatus",
        },
        measures={
            "order_count": "COUNT(*)",
            "avg_price": "ROUND(AVG(orders.o_totalprice), 2)",
            # 1.0D: Spark SQL parses a bare 1.0 as DECIMAL(2,1), which
            # propagates decimal into the measure's result type while
            # the DuckDB twin computes float — the driver hashed them
            # equal, but the local type-class gate (tools/verify_local)
            # rightly flags the divergence.
            "urgent_pct": (
                "ROUND(SUM(CASE WHEN orders.o_orderpriority = '1-URGENT' "
                "THEN 1 ELSE 0 END) * 1.0D / COUNT(*), 4)"
            ),
        },
    )
    tables = {
        t: load_table(spark, sf_dir, t)
        for t in ("orders", "customer", "nation", "region")
    }
    return MetricView(spark, spec, tables)


def _orders_metric_view(spark: SparkSession, sf_dir: str) -> MetricView:
    return artifacts.once(
        spark, sf_dir, "orders_metric_view",
        lambda: _build_orders_metric_view(spark, sf_dir),
    )


def q_metric_view_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4: consumer picks one dimension + three measures; compiler
    emits join→filter→groupBy→agg (semantic_layer.sql consumer path)."""
    return _orders_metric_view(spark, sf_dir).query(
        ["region"], ["order_count", "avg_price", "urgent_pct"]
    )


register(
    "metric_view_region",
    q_metric_view_region,
    """
    SELECT r_name AS region, COUNT(*) AS order_count,
           ROUND(AVG(o_totalprice), 2) AS avg_price,
           ROUND(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
                 * 1.0 / COUNT(*), 4) AS urgent_pct
    FROM orders
    LEFT JOIN customer ON o_custkey   = c_custkey
    LEFT JOIN nation   ON c_nationkey = n_nationkey
    LEFT JOIN region   ON n_regionkey = r_regionkey
    WHERE o_totalprice IS NOT NULL
    GROUP BY 1
    """,
)


def q_metric_view_two_dims_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4: two dimensions + consumer-level WHERE on underlying columns."""
    return _orders_metric_view(spark, sf_dir).query(
        ["region", "status"],
        ["order_count", "avg_price"],
        where="orders.o_totalprice > 50000",
    )


register(
    "metric_view_two_dims_where",
    q_metric_view_two_dims_where,
    """
    SELECT r_name AS region, o_orderstatus AS status, COUNT(*) AS order_count,
           ROUND(AVG(o_totalprice), 2) AS avg_price
    FROM orders
    LEFT JOIN customer ON o_custkey   = c_custkey
    LEFT JOIN nation   ON c_nationkey = n_nationkey
    LEFT JOIN region   ON n_regionkey = r_regionkey
    WHERE o_totalprice IS NOT NULL AND o_totalprice > 50000
    GROUP BY 1, 2
    """,
)


# --------------------------------------------------------------------------
# Data-quality rules as queries (data_quality.py parity)
# --------------------------------------------------------------------------
def q_dq_range_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IsInRange (data_quality.py:30-35) reporting path: rows whose
    discount falls outside the accepted band, with the rule message."""
    li = load_table(spark, sf_dir, "lineitem")
    rule = IsInRange(
        name="disc_range", column="l_discount", min_value=0.0, max_value=0.08
    )
    return violations(li, [rule]).select(
        "l_orderkey",
        "l_linenumber",
        "l_discount",
        F.element_at("_errors", 1).alias("error"),
    )


register(
    "dq_range_violations",
    q_dq_range_violations,
    """
    SELECT l_orderkey, l_linenumber, l_discount,
           'disc_range: l_discount outside [0.0, 0.08]' AS error
    FROM lineitem
    WHERE l_discount IS NULL OR l_discount < 0.0 OR l_discount > 0.08
    """,
)


def q_dq_uniqueness_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IsUnique (data_quality.py:25-29) reporting path over a key that
    is non-unique by construction (l_orderkey fans out per line)."""
    li = load_table(spark, sf_dir, "lineitem")
    rule = IsUnique(name="unique_order", columns=("l_orderkey",))
    return violations(li, [rule]).select(
        "l_orderkey",
        "l_linenumber",
        F.element_at("_errors", 1).alias("error"),
    )


register(
    "dq_uniqueness_violations",
    q_dq_uniqueness_violations,
    """
    SELECT l_orderkey, l_linenumber,
           'unique_order: duplicate key (l_orderkey)' AS error
    FROM (SELECT l_orderkey, l_linenumber,
                 COUNT(*) OVER (PARTITION BY l_orderkey) AS n
          FROM lineitem)
    WHERE n > 1
    """,
)


def q_csv_roundtrip_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1–S3 (reviews_fact.py:117-125, auxillary_dims.py:50-58,106-114)
    as a driver-checked query: land the documents table as CSV with the
    reference's quoting discipline, then scan it back through
    sources.io.read_csv (schema-pinned, multiline+escape — NO
    inference pass) and return the rows. A lossless round-trip hashes
    identically to the parquet-backed oracle, which proves the scan
    options, not just the write."""
    from pyspark.sql import types as T

    from gaming_ai_analytics_spark.sources.io import read_csv

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull() & (F.length("text") > 0))
        .select("doc_id", "lang", "n_chars", "text")
    )
    # per-invocation dir (r6, mirroring binaryfile_ingest_scan): a
    # fixed per-SF path races two concurrent invocations
    path = artifacts.scratch("gaa_csv_roundtrip_")
    (
        docs.write.mode("overwrite")
        .option("header", True)
        .option("quoteAll", True)
        .option("escape", '"')
        .csv(path)
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("lang", T.StringType()),
            T.StructField("n_chars", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    return read_csv(spark, path, schema)


register(
    "csv_roundtrip_scan",
    q_csv_roundtrip_scan,
    """
    SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars, text
    FROM documents
    WHERE text IS NOT NULL AND LENGTH(text) > 0
    """,
)


def q_events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON property extraction + aggregation: parse the events table's
    ``props`` JSON column (``get_json_object`` — JVM-side Jackson path
    evaluation, no Python) and aggregate the extracted value per event
    type. The semi-structured-column operator every telemetry pipeline
    needs; at scale the parse is map-only and the agg is one shuffle."""
    from gaming_ai_analytics_spark.sources.star import load_events

    ev = load_events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.select("event_type", k.alias("k")).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("k"), 4).alias("avg_k"),
        F.max("k").alias("max_k"),
    )


register(
    "events_json_props",
    q_events_json_props,
    """
    SELECT event_type, COUNT(*) AS n,
           ROUND(AVG(CAST(props->>'k' AS INT)), 4) AS avg_k,
           MAX(CAST(props->>'k' AS INT)) AS max_k
    FROM events GROUP BY 1
    """,
)


def q_pivot_lang_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: document counts per source × language, languages as
    columns (explicit value list — never let pivot run a distinct scan
    to discover columns at 100 TB). Missing cells are null (Spark
    pivot semantics; the oracle's SUM(CASE) mirrors that — cast to
    BIGINT because DuckDB SUM yields HUGEINT, which the driver's
    type-sensitive value hash treats as a different value class)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("source")
        .pivot("lang", ["de", "en", "es", "fr", "zh"])
        .agg(F.count(F.lit(1)))
    )


register(
    "pivot_lang_counts",
    q_pivot_lang_counts,
    """
    SELECT source,
           CAST(SUM(CASE WHEN lang = 'de' THEN 1 END) AS BIGINT) AS de,
           CAST(SUM(CASE WHEN lang = 'en' THEN 1 END) AS BIGINT) AS en,
           CAST(SUM(CASE WHEN lang = 'es' THEN 1 END) AS BIGINT) AS es,
           CAST(SUM(CASE WHEN lang = 'fr' THEN 1 END) AS BIGINT) AS fr,
           CAST(SUM(CASE WHEN lang = 'zh' THEN 1 END) AS BIGINT) AS zh
    FROM documents GROUP BY 1
    """,
)


def q_unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT/melt: wide lineitem measures to long (measure, value)
    rows — the tidy-data reshape. ``DataFrame.unpivot`` expands
    per-row with no shuffle; scoped to a key range to keep the checked
    output compact."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 100)
    return li.unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        variableColumnName="measure",
        valueColumnName="value",
    )


register(
    "unpivot_measures",
    q_unpivot_measures,
    """
    SELECT l_orderkey, l_linenumber, measure, value FROM (
      SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure,
             l_quantity AS value FROM lineitem
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
      FROM lineitem
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem
    ) WHERE l_orderkey < 100
    """,
)


def q_window_ntile_pctrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quartile bucketing + percent_rank per order priority — the
    remaining ranking-window functions (row_number/rank/lag covered in
    queries_core). Unique (totalprice, orderkey) sort keys make both
    functions deterministic."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
    )


register(
    "window_ntile_pctrank",
    q_window_ntile_pctrank,
    """
    SELECT o_orderkey, o_orderpriority,
           NTILE(4) OVER w AS quartile,
           ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice, o_orderkey)
    """,
)


# --------------------------------------------------------------------------
# SCD type-2 dimension maintenance
# --------------------------------------------------------------------------
def q_scd2_customer_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 apply over the customer dim: the update batch (derived
    deterministically from the fixture) changes the segment for keys
    ≡ 0 (mod 20), re-sends identical values for the other keys ≡ 0
    (mod 10) — which must NOT version — and inserts brand-new keys
    (custkey + 100000 for keys ≡ 0 mod 500). Exercises close+reopen,
    no-op change detection, and fresh-insert in one result."""
    from gaming_ai_analytics_spark.operators.scd import scd2_apply

    cust = load_table(spark, sf_dir, "customer")
    dim = cust.select(
        F.col("c_custkey").alias("k"),
        F.col("c_mktsegment").alias("segment"),
        F.col("c_acctbal").alias("acctbal"),
        F.lit("2020-01-01").cast("date").alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
    )
    upd_existing = cust.filter(F.col("c_custkey") % 10 == 0).select(
        F.col("c_custkey").alias("k"),
        F.when(F.col("c_custkey") % 20 == 0, F.lit("NEWSEG"))
        .otherwise(F.col("c_mktsegment"))
        .alias("segment"),
        F.col("c_acctbal").alias("acctbal"),
        F.lit("2024-06-01").cast("date").alias("eff"),
    )
    upd_fresh = cust.filter(F.col("c_custkey") % 500 == 0).select(
        (F.col("c_custkey") + 100000).alias("k"),
        F.lit("FRESH").alias("segment"),
        F.lit(0.0).alias("acctbal"),
        F.lit("2024-06-01").cast("date").alias("eff"),
    )
    return scd2_apply(
        dim,
        upd_existing.unionByName(upd_fresh),
        "k",
        ["segment", "acctbal"],
        "eff",
    )


register(
    "scd2_customer_segment",
    q_scd2_customer_segment,
    """
    WITH dim AS (
      SELECT c_custkey AS k, c_mktsegment AS segment, c_acctbal AS acctbal,
             DATE '2020-01-01' AS valid_from, CAST(NULL AS DATE) AS valid_to
      FROM customer
    ),
    upd AS (
      SELECT c_custkey AS k,
             CASE WHEN c_custkey % 20 = 0 THEN 'NEWSEG'
                  ELSE c_mktsegment END AS segment,
             c_acctbal AS acctbal, DATE '2024-06-01' AS eff
      FROM customer WHERE c_custkey % 10 = 0
      UNION ALL
      SELECT c_custkey + 100000, 'FRESH', 0.0, DATE '2024-06-01'
      FROM customer WHERE c_custkey % 500 = 0
    ),
    changed AS (
      SELECT d.k, d.segment AS old_segment, d.acctbal AS old_acctbal,
             d.valid_from, u.segment, u.acctbal, u.eff
      FROM dim d JOIN upd u USING (k)
      WHERE d.segment IS DISTINCT FROM u.segment
         OR d.acctbal IS DISTINCT FROM u.acctbal
    ),
    unioned AS (
      SELECT k, old_segment AS segment, old_acctbal AS acctbal,
             valid_from, eff AS valid_to
      FROM changed
      UNION ALL
      SELECT k, segment, acctbal, eff, NULL FROM changed
      UNION ALL
      SELECT u.k, u.segment, u.acctbal, u.eff, NULL
      FROM upd u LEFT JOIN dim d USING (k) WHERE d.k IS NULL
      UNION ALL
      SELECT d.k, d.segment, d.acctbal, d.valid_from, d.valid_to
      FROM dim d LEFT JOIN changed c USING (k) WHERE c.k IS NULL
    )
    SELECT k, segment, acctbal, valid_from, valid_to,
           valid_to IS NULL AS is_current
    FROM unioned
    """,
)


def q_jsonl_roundtrip_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Format interop twin of csv_roundtrip_scan: land documents as
    JSON-lines (the usual LLM-corpus interchange format), scan back
    through sources.io.read_jsonl (schema-pinned, permissive — no
    inference pass). A lossless round-trip hashes identically to the
    parquet-backed oracle, proving the scan path."""
    from pyspark.sql import types as T

    from gaming_ai_analytics_spark.sources.io import read_jsonl

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull() & (F.length("text") > 0))
        .select("doc_id", "lang", "n_chars", "text")
    )
    # per-invocation dir (r6, mirroring binaryfile_ingest_scan): a
    # fixed per-SF path races two concurrent invocations
    path = artifacts.scratch("gaa_jsonl_roundtrip_")
    docs.write.mode("overwrite").json(path)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("lang", T.StringType()),
            T.StructField("n_chars", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    return read_jsonl(spark, path, schema)


register(
    "jsonl_roundtrip_scan",
    q_jsonl_roundtrip_scan,
    """
    SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars, text
    FROM documents
    WHERE text IS NOT NULL AND LENGTH(text) > 0
    """,
)


def q_orc_roundtrip_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar-format interop twin of csv/jsonl_roundtrip_scan: land
    documents as ORC (Spark-builtin, pushdown-capable like parquet),
    scan back through sources.io.read_orc (schema-pinned). A lossless
    round-trip hashes identically to the parquet-backed oracle,
    proving the third columnar source/sink path."""
    from pyspark.sql import types as T

    from gaming_ai_analytics_spark.sources.io import read_orc

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull() & (F.length("text") > 0))
        .select("doc_id", "lang", "n_chars", "text")
    )
    # per-invocation dir (r6, mirroring binaryfile_ingest_scan): a
    # fixed per-SF path races two concurrent invocations
    path = artifacts.scratch("gaa_orc_roundtrip_")
    docs.write.mode("overwrite").orc(path)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("lang", T.StringType()),
            T.StructField("n_chars", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    return read_orc(spark, path, schema)


register(
    "orc_roundtrip_scan",
    q_orc_roundtrip_scan,
    """
    SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars, text
    FROM documents
    WHERE text IS NOT NULL AND LENGTH(text) > 0
    """,
)


# --------------------------------------------------------------------------
# salted skew join (explicit 100 TB skew lever as a checked query)
# --------------------------------------------------------------------------
def q_join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier-volume rollup computed THROUGH ``salted_join``: the
    lineitem side carries a seeded uniform salt, supplier is replicated
    across all 8 salt values, and the join key becomes (suppkey, salt)
    — spreading any hot supplier over 8 reducers. Results are
    identical to the plain join (the salt never reaches the aggregate
    key); the oracle IS the plain join, so the driver check proves the
    lever is semantics-preserving. Use when the build side is too big
    to broadcast and AQE's sort-merge skew split can't apply
    (operators/skew.py docstring)."""
    from gaming_ai_analytics_spark.operators.skew import salted_join

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("suppkey"), "l_quantity"
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("suppkey"), "s_nationkey"
    )
    joined = salted_join(li, supp, "suppkey", "inner", salt_buckets=8)
    return joined.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(F.sum("l_quantity"), 2).alias("total_qty"),
    )


register(
    "join_salted_skew",
    q_join_salted_skew,
    """
    SELECT s.s_nationkey, COUNT(*) AS n_items,
           ROUND(SUM(l.l_quantity), 2) AS total_qty
    FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY 1
    """,
)


def q_join_skew_isolated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same supplier-volume rollup computed THROUGH
    ``hot_key_isolated_join`` — the other planner-independent skew
    lever: the heaviest suppliers (``top_keys`` diagnostic, here the
    top 3) join against a broadcast slice of the supplier dim with no
    shuffle at all, everything else rides the normal join, and the two
    branches union before the aggregate. The oracle IS the plain join,
    so the driver check proves the split/broadcast/union is
    semantics-preserving. Versus ``join_salted_skew``: no |dim| ×
    buckets replication, at the price of a second scan of the fact
    side. Measured against the other strategies on a 40%%-hot 40 M-row
    fixture in tools/exp_skew_strategies.py (BASELINE.md §3)."""
    from gaming_ai_analytics_spark.operators.skew import (
        hot_key_isolated_join,
        top_keys,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("suppkey"), "l_quantity"
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("suppkey"), "s_nationkey"
    )
    hot = [r["suppkey"] for r in top_keys(li, "suppkey", 3).collect()]
    joined = hot_key_isolated_join(li, supp, "suppkey", hot_keys=hot)
    return joined.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(F.sum("l_quantity"), 2).alias("total_qty"),
    )


register(
    "join_skew_isolated",
    q_join_skew_isolated,
    """
    SELECT s.s_nationkey, COUNT(*) AS n_items,
           ROUND(SUM(l.l_quantity), 2) AS total_qty
    FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY 1
    """,
)


# --------------------------------------------------------------------------
# RFM customer segmentation (threshold-based, no global rank window)
# --------------------------------------------------------------------------
def q_customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency/monetary customer segmentation: per-customer order
    count and spend, split at the corpus medians into the classic 2×2
    (champion / loyal / big_spender / casual), reported as segment
    sizes and averages.

    The naive form is ``ntile(2)`` over all customers — a global sort
    through one reducer. Here the thresholds are two exact medians
    computed on the aggregated per-customer frame and broadcast back,
    so nothing bigger than that frame is ever globally ordered; at
    100 TB swap ``percentile`` for ``percentile_approx`` unchanged.
    Spend is rounded to cents BEFORE the median/compare so both
    engines segment identical values (double sums differ by ulps
    across engines; a knife-edge customer must not flip sides)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("f"),
        F.round(F.sum("o_totalprice"), 2).alias("m"),
    )
    med = cust.agg(
        F.percentile("f", F.lit(0.5)).alias("med_f"),
        F.percentile("m", F.lit(0.5)).alias("med_m"),
    )
    seg = (
        F.when((F.col("f") >= F.col("med_f")) & (F.col("m") >= F.col("med_m")),
               F.lit("champion"))
        .when(F.col("f") >= F.col("med_f"), F.lit("loyal"))
        .when(F.col("m") >= F.col("med_m"), F.lit("big_spender"))
        .otherwise(F.lit("casual"))
    )
    return (
        cust.crossJoin(F.broadcast(med))
        .select(seg.alias("segment"), "f", "m")
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.avg("f"), 4).alias("avg_orders"),
            F.round(F.avg("m"), 2).alias("avg_spend"),
        )
    )


register(
    "customer_rfm_segments",
    q_customer_rfm_segments,
    """
    WITH cust AS (
      SELECT o_custkey, COUNT(*) AS f, ROUND(SUM(o_totalprice), 2) AS m
      FROM orders GROUP BY 1
    ),
    med AS (
      SELECT quantile_cont(f, 0.5) AS med_f, quantile_cont(m, 0.5) AS med_m
      FROM cust
    )
    SELECT CASE WHEN f >= med_f AND m >= med_m THEN 'champion'
                WHEN f >= med_f THEN 'loyal'
                WHEN m >= med_m THEN 'big_spender'
                ELSE 'casual' END AS segment,
           COUNT(*) AS n_customers,
           ROUND(AVG(f), 4) AS avg_orders,
           ROUND(AVG(m), 2) AS avg_spend
    FROM cust, med
    GROUP BY 1
    """,
)


# --------------------------------------------------------------------------
# column completeness profile (DQ profiling pass)
# --------------------------------------------------------------------------
def q_dq_completeness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column null/blank completeness report for the documents
    table — the profiling pass a DQ gate runs before choosing rules
    (complements the range/uniqueness gates, which check rules already
    chosen). ONE aggregate over the scan computes every column's null
    count (conditional sums, map-side combined); the per-column rows
    come from unpivoting the 1-row result, so the corpus is read
    once."""
    docs = load_table(spark, sf_dir, "documents")
    n = F.count(F.lit(1))

    def nulls(c: str):
        return F.sum(F.col(c).isNull().cast("long"))

    agg = docs.agg(
        n.alias("n_rows"),
        nulls("text").alias("text"),
        F.sum(
            (F.col("text").isNotNull() & (F.length(F.trim("text")) == 0))
            .cast("long")
        ).alias("text_blank"),
        nulls("lang").alias("lang"),
        nulls("source").alias("source"),
        nulls("n_chars").alias("n_chars"),
    )
    unpivoted = agg.unpivot(
        ["n_rows"],
        ["text", "text_blank", "lang", "source", "n_chars"],
        "column_name",
        "n_missing",
    )
    return unpivoted.select(
        "column_name",
        "n_missing",
        F.round(F.col("n_missing") / F.col("n_rows"), 6).alias("pct_missing"),
    )


register(
    "dq_completeness_profile",
    q_dq_completeness_profile,
    """
    WITH a AS (
      SELECT COUNT(*) AS n_rows,
             SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS text,
             SUM(CASE WHEN text IS NOT NULL AND LENGTH(TRIM(text)) = 0
                      THEN 1 ELSE 0 END) AS text_blank,
             SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS lang,
             SUM(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS source,
             SUM(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS n_chars
      FROM documents
    )
    SELECT column_name, CAST(n_missing AS BIGINT) AS n_missing,
           ROUND(n_missing * 1.0 / n_rows, 6) AS pct_missing
    FROM a UNPIVOT (n_missing FOR column_name
                    IN (text, text_blank, lang, source, n_chars))
    """,
)


# --------------------------------------------------------------------------
# zero-extra-scan DQ metrics via df.observe (r7)
# --------------------------------------------------------------------------
def q_dq_observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ metrics that ride the PRODUCTION job's own scan —
    ``df.observe(Observation, ...)``: the named aggregates piggyback
    on whatever action the pipeline was already running (here a
    count() standing in for a fact-build write), so the quality
    numbers cost ZERO extra passes over the data.  That is the 100 TB
    difference from ``dq_completeness_profile``'s dedicated profiling
    scan: at scale a DQ gate that re-reads the corpus doubles the
    pipeline's IO, while observed metrics are free — Spark evaluates
    them inside the same whole-stage-codegen pass and streams the
    partial merges to the driver with the job result.  (Observation
    supports deterministic non-distinct aggregates only — exactly the
    mergeable-partial restriction that makes them free.)

    The production pipeline already rides an Observation on its
    append batch (plans/pipeline.py `build_fact_incremental`,
    unit-tested); this registration gives the observe surface a
    DRIVER-CHECKED row: the output is the observed metric row
    (aggregate-sized, built driver-side from the observation result)
    and the oracle recomputes every metric from scratch — a full
    differential check that observed metrics equal dedicated-scan
    metrics."""
    from pyspark.sql import Observation

    docs = load_table(spark, sf_dir, "documents")
    obs = Observation("dq")
    observed = docs.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("text").isNull().cast("long")).alias("null_text"),
        F.sum(F.col("lang").isNull().cast("long")).alias("null_lang"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )
    # the production action the metrics ride on (a write in a real
    # pipeline); obs.get blocks until the action's job finishes
    observed.count()
    m = obs.get
    return local_frame(
        spark,
        [
            (
                int(m["n_rows"]),
                int(m["null_text"]),
                int(m["null_lang"]),
                float(m["avg_chars"]),
                int(m["min_doc_id"]),
                int(m["max_doc_id"]),
            )
        ],
        "n_rows BIGINT, null_text BIGINT, null_lang BIGINT, "
        "avg_chars DOUBLE, min_doc_id BIGINT, max_doc_id BIGINT",
    )


register(
    "dq_observed_metrics",
    q_dq_observed_metrics,
    """
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS null_text,
           CAST(SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS null_lang,
           ROUND(AVG(n_chars), 4) AS avg_chars,
           MIN(doc_id) AS min_doc_id,
           MAX(doc_id) AS max_doc_id
    FROM documents
    """,
)


# --------------------------------------------------------------------------
# multi-quantile profile
# --------------------------------------------------------------------------
def q_quantile_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p10/p50/p90/p99 of order totals per priority — the distribution
    profile behind SLA/pricing dashboards. One grouped aggregate; each
    exact interpolated percentile partial-merges per group (bounded
    state at this cardinality; ``percentile_approx`` is the drop-in at
    100 TB per the scale-sketch queries)."""
    orders = load_table(spark, sf_dir, "orders")

    def p(q: float, name: str):
        return F.round(
            F.percentile("o_totalprice", F.lit(q)), 4
        ).alias(name)

    return orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        p(0.1, "p10"),
        p(0.5, "p50"),
        p(0.9, "p90"),
        p(0.99, "p99"),
    )


register(
    "quantile_profile",
    q_quantile_profile,
    """
    SELECT o_orderpriority, COUNT(*) AS n,
           ROUND(quantile_cont(o_totalprice, 0.1), 4) AS p10,
           ROUND(quantile_cont(o_totalprice, 0.5), 4) AS p50,
           ROUND(quantile_cont(o_totalprice, 0.9), 4) AS p90,
           ROUND(quantile_cont(o_totalprice, 0.99), 4) AS p99
    FROM orders GROUP BY 1
    """,
)


# --------------------------------------------------------------------------
# key-skew diagnostic
# --------------------------------------------------------------------------
def q_skew_top_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 10 heaviest users of the event stream with their share of
    all rows — the diagnostic that decides whether a join needs
    salting (``operators/skew.py``). Partial-agg shuffle on the key,
    TakeOrderedAndProject for the top slice; the total rides a 1-row
    broadcast, not a driver action."""
    from gaming_ai_analytics_spark.sources.star import load_events

    ev = load_events(spark, sf_dir)
    # per-key counts computed ONCE; the global total is a second
    # aggregation of that compact relation (|keys| rows, map-side
    # combined to 1), and the top slice re-ranks the same relation —
    # never a second fact scan. (A direct ev.agg(count) total scanned
    # the events fact twice: cross-branch exchange reuse is not
    # guaranteed — late-r5 plan audit.)
    per_key = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("rows"))
    tot = per_key.agg(F.sum("rows").alias("n_tot"))
    top = per_key.orderBy(F.desc("rows"), "user_id").limit(10)
    return top.crossJoin(F.broadcast(tot)).select(
        "user_id",
        "rows",
        F.round(F.col("rows") / F.col("n_tot"), 6).alias("share"),
    )


register(
    "skew_top_keys",
    q_skew_top_keys,
    """
    WITH tot AS (SELECT COUNT(*) AS n_tot FROM events)
    SELECT user_id, COUNT(*) AS rows,
           ROUND(COUNT(*) * 1.0 / MAX(n_tot), 6) AS share
    FROM events, tot
    GROUP BY user_id
    ORDER BY rows DESC, user_id
    LIMIT 10
    """,
)


# --------------------------------------------------------------------------
# Z-order layout key (multi-dimensional clustering)
# --------------------------------------------------------------------------
def q_zorder_key_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-order) clustering key over (user_id, minute-of-day) —
    the write-layout lever for 2-D scan pruning (operators/layout.py:
    range-sort the write on this key and parquet min/max statistics
    prune BOTH dimensions; this query checks the interleave itself
    against a bit-identical SQL twin). Pure shift/and/or expressions,
    codegen'd, map-only."""
    from gaming_ai_analytics_spark.operators.layout import zorder_key
    from gaming_ai_analytics_spark.sources.star import load_events

    ev = load_events(spark, sf_dir)
    minute = F.hour("ts") * 60 + F.minute("ts")
    return ev.select(
        "event_id",
        zorder_key(F.col("user_id"), minute, bits=16).alias("zkey"),
    )


def _zorder_oracle() -> str:
    from gaming_ai_analytics_spark.operators.layout import zorder_key_sql

    z = zorder_key_sql("user_id", "(EXTRACT(hour FROM ts) * 60 + EXTRACT(minute FROM ts))", 16)
    return f"SELECT event_id, {z} AS zkey FROM events"


register("zorder_key_events", q_zorder_key_events, _zorder_oracle())


def q_fuzzy_part_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance fuzzy matching with candidate blocking — the
    entity-resolution primitive (typo'd product/entity names).  A
    naive formulation is an all-pairs cross join (O(n²) Levenshtein
    evals — dead at any scale); here candidates are generated by an
    equi-join on a blocking key (the name's second token), so the
    shuffle is keyed, partition-parallel, and the quadratic term is
    bounded per block.  ``levenshtein`` is JVM-codegen'd on both
    engines.  Skewed blocks (one very common token) would salt via
    operators/skew.py — the same lever as any hot-key join."""
    # Candidate-generate over DISTINCT names, not rows: product names
    # draw from a small vocabulary, so row-level pairing is quadratic
    # in duplicates-per-name (measured 165 s at sf0.1 emitting every
    # same-name part pair; the distinct reformulation is 1.5 s and
    # invariant to table growth while the vocabulary is stable). The
    # row-level expansion is a keyed join of this table back to part —
    # materialized only when a consumer actually needs part-id pairs.
    names = (
        load_table(spark, sf_dir, "part")
        .select("p_name")
        .distinct()
        .withColumn("_blk", F.split("p_name", " ").getItem(1))
    )
    a = names.alias("a")
    b = names.alias("b")
    return (
        a.join(
            b,
            (F.col("a._blk") == F.col("b._blk"))
            & (F.col("a.p_name") < F.col("b.p_name")),
        )
        .withColumn(
            "dist", F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
        )
        .filter(F.col("dist") <= 3)
        .select(
            F.col("a.p_name").alias("name_a"),
            F.col("b.p_name").alias("name_b"),
            "dist",
        )
    )


register(
    "fuzzy_part_name_pairs",
    q_fuzzy_part_name_pairs,
    """
    WITH n AS (SELECT DISTINCT p_name FROM part)
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           levenshtein(a.p_name, b.p_name) AS dist
    FROM n a
    JOIN n b
      ON string_split(a.p_name, ' ')[2] = string_split(b.p_name, ' ')[2]
     AND a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= 3
    """,
)


def q_events_props_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIANT semi-structured parsing (Spark 4): ``parse_json`` →
    binary-encoded variant → typed ``variant_get`` extraction — the
    shredded-JSON path that replaces per-query string re-parsing (the
    ``get_json_object`` twin ``events_json_props`` re-parses text per
    path; a variant column parses ONCE and serves every path, the
    right trade when many fields are read at 100 TB).  Map-only parse,
    one small-key shuffle for the aggregate."""
    from gaming_ai_analytics_spark.sources.star import load_events

    ev = load_events(spark, sf_dir)
    v = F.parse_json(F.col("props"))
    k = F.try_variant_get(v, "$.k", "int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n_with_k"),
            F.round(F.sum("k") / F.count("k"), 4).alias("avg_k"),
            F.min("k").alias("min_k"),
        )
    )


register(
    "events_props_variant",
    q_events_props_variant,
    """
    SELECT event_type, COUNT(CAST(props->>'k' AS INT)) AS n_with_k,
           ROUND(SUM(CAST(props->>'k' AS INT))
                 / COUNT(CAST(props->>'k' AS INT)), 4) AS avg_k,
           MIN(CAST(props->>'k' AS INT)) AS min_k
    FROM events GROUP BY 1
    """,
)


def q_approx_topk_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``approx_top_k`` heavy-hitters sketch, graded as a CONTRACT (the
    recall-contract pattern of ``similarity_topk_lsh_recall``): below
    the sketch's tracked-item capacity the estimates are exact, so
    every estimated count must equal the true count and the estimate
    SUM must equal the exact top-k mass.  The query emits the checked
    invariants, not the (tie-order-unstable) item list; the oracle
    recomputes the exact side.  At 100 TB the sketch is the point —
    mergeable fixed-size state per partition versus an exact top-k's
    full-cardinality shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    k = 5
    est = (
        li.agg(F.expr(f"approx_top_k(l_suppkey, {k})").alias("tk"))
        .select(F.explode("tk").alias("e"))
        .select(F.col("e.item").alias("item"), F.col("e.count").alias("est"))
    )
    # ONE exact per-key counts relation, referenced ONCE: a global
    # rank attaches via window (single reducer over |keys| — fine for
    # this CONTRACT query; the sketch is the scale path, and an exact
    # top-k at scale would use TakeOrdered/tournament instead), a
    # full-outer join lines the estimates up against the truth, and a
    # single final aggregation derives every invariant — top-k mass
    # included — from the joined rows. The previous form aggregated
    # lineitem once per branch (THREE fact scans; cross-branch
    # exchange reuse is not guaranteed under broadcast subtrees —
    # late-r5 plan audit); this one scans it twice: sketch + counts.
    from pyspark.sql import Window

    counts = li.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("cnt"))
    ranked = counts.withColumn(
        "_rank",
        F.row_number().over(
            Window.partitionBy().orderBy(F.col("cnt").desc(), "l_suppkey")
        ),
    )
    joined = est.join(
        ranked, est.item == F.col("l_suppkey"), "full_outer"
    )
    return joined.agg(
        F.count("item").alias("n_items"),
        F.sum(
            F.when(F.col("est") == F.col("cnt"), 1).otherwise(0)
        ).alias("n_exact_counts"),
        F.sum("est").alias("est_mass"),
        F.sum(F.when(F.col("_rank") <= k, F.col("cnt"))).alias("_mass"),
        F.sum(F.when(F.col("_rank") <= k, 1).otherwise(0)).alias("_k"),
    ).select(
        "n_items",
        "n_exact_counts",
        (F.col("est_mass") == F.col("_mass")).alias("mass_matches"),
        (F.col("n_items") == F.col("_k")).alias("k_matches"),
    )


register(
    "approx_topk_contract",
    q_approx_topk_contract,
    """
    WITH exact AS (
      SELECT l_suppkey, COUNT(*) AS cnt FROM lineitem
      GROUP BY 1 ORDER BY cnt DESC, l_suppkey LIMIT 5
    )
    SELECT 5 AS n_items, 5 AS n_exact_counts,
           TRUE AS mass_matches, TRUE AS k_matches
    FROM (SELECT SUM(cnt) FROM exact)
    """,
)


def q_xml_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``from_xml`` / ``from_csv`` single-value parsing — the
    semi-structured string surfaces beyond JSON.  Serialized order
    records (XML for status+price, CSV for priority) parse back to
    typed columns in one codegen'd map pass — no Python, no extra
    scan; the oracle emits the source fields directly, so the check
    proves lossless round-trip typing (struct schema, DOUBLE cast,
    delimiter handling) rather than echoing the parser."""
    orders = load_table(spark, sf_dir, "orders")
    xml = F.concat(
        F.lit("<o><st>"),
        F.col("o_orderstatus"),
        F.lit("</st><tp>"),
        F.col("o_totalprice").cast("string"),
        F.lit("</tp></o>"),
    )
    csv = F.concat_ws(";", "o_orderpriority", "o_orderkey")
    parsed_x = F.from_xml(xml, "st STRING, tp DOUBLE")
    parsed_c = F.from_csv(
        csv, "prio STRING, okey BIGINT", {"sep": ";"}
    )
    return orders.select(
        F.col("o_orderkey"),
        parsed_x.getField("st").alias("status"),
        F.round(parsed_x.getField("tp"), 2).alias("total_price"),
        parsed_c.getField("prio").alias("priority"),
        (F.col("o_orderkey") == parsed_c.getField("okey")).alias("key_roundtrip"),
    )


register(
    "xml_csv_roundtrip",
    q_xml_csv_roundtrip,
    """
    SELECT o_orderkey, o_orderstatus AS status,
           ROUND(o_totalprice, 2) AS total_price,
           o_orderpriority AS priority,
           TRUE AS key_roundtrip
    FROM orders
    """,
)


def q_agg_geomean_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate pandas UDAF — the §2.10 surface between the
    scalar Arrow UDF (``ai_score``) and the table function
    (``doc_chunking_udtf``): a whole group's values arrive as ONE
    pandas Series per key and reduce to a scalar (geometric mean of
    order value).  Arrow-batched, partial-agg-free (grouped-agg UDAFs
    gather each group to a single worker — acceptable here because the
    reduced column is one double per group and the grouping key is
    low-cardinality; for high-cardinality keys prefer the codegen'd
    log-sum twin the oracle uses, which partial-aggregates map-side)."""
    from pyspark.sql.types import DoubleType

    @F.pandas_udf(DoubleType())
    def geomean(v: pd.Series) -> float:
        import numpy as np

        return float(np.exp(np.log(v[v > 0]).mean()))

    orders = load_table(spark, sf_dir, "orders")
    # a grouped-agg pandas UDF cannot mix with JVM aggregates in one
    # agg() (INVALID_PANDAS_UDF_PLACEMENT) — single-output aggregate
    return orders.groupBy("o_orderstatus").agg(
        F.round(geomean("o_totalprice"), 2).alias("geomean_price"),
    )


register(
    "agg_geomean_udaf",
    q_agg_geomean_udaf,
    """
    SELECT o_orderstatus,
           ROUND(EXP(AVG(LN(o_totalprice))), 2) AS geomean_price
    FROM orders
    WHERE o_totalprice > 0
    GROUP BY 1
    """,
)


def q_join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (``eqNullSafe`` / ``IS NOT DISTINCT FROM``):
    NULL keys MATCH each other instead of dropping — the semantics a
    plain equi-join silently gets wrong when dimension keys are
    nullable.  Spark plans ``<=>`` as a hash join (null-safe equality
    is still an equi-key), NOT a nested loop, so the scale shape is
    identical to ``join_inner``; nulls hash to one key, which is the
    usual skew caveat (salt if the null share is material)."""
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "lang_key", F.nullif(F.col("lang"), F.lit("en"))
    )
    dim = (
        docs.select("lang_key").distinct()
        .withColumn(
            "lang_label",
            F.coalesce(F.upper("lang_key"), F.lit("DEFAULT")),
        )
    )
    return (
        docs.join(dim, docs.lang_key.eqNullSafe(dim.lang_key), "inner")
        .groupBy("lang_label")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


register(
    "join_null_safe",
    q_join_null_safe,
    """
    WITH d AS (SELECT *, NULLIF(lang, 'en') AS lang_key FROM documents),
    dim AS (SELECT DISTINCT lang_key,
                   COALESCE(UPPER(lang_key), 'DEFAULT') AS lang_label
            FROM d)
    SELECT dim.lang_label, COUNT(*) AS n_docs
    FROM d JOIN dim ON d.lang_key IS NOT DISTINCT FROM dim.lang_key
    GROUP BY 1
    """,
)


def q_string_agg_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (``string_agg`` / LISTAGG): the
    distinct languages per source as one comma-joined, alphabetically
    ordered string.  ``collect_set`` partial-aggregates map-side
    (state bounded by per-source language NDV — tiny), ``array_sort``
    + ``array_join`` make the order deterministic on both engines."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.array_join(
            F.array_sort(F.collect_set("lang")), ","
        ).alias("langs"),
        F.count_distinct(F.col("lang")).alias("n_langs"),
    )


register(
    "string_agg_langs",
    q_string_agg_langs,
    """
    SELECT source, STRING_AGG(DISTINCT lang, ',' ORDER BY lang) AS langs,
           COUNT(DISTINCT lang) AS n_langs
    FROM documents GROUP BY 1
    """,
)


def q_grouped_zscore_applyinpandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map ``applyInPandas`` — the §2.10 whole-group Arrow
    surface (full group arrives as ONE pandas DataFrame, arbitrary
    reshaping allowed): per-event-type z-score normalization.  The
    grouped map gathers each group onto one worker — correct for
    bounded groups (event types here), and exactly the trade the
    broadcast-stats twin ``anomaly_zscore`` (operators/analytics.py
    ``zscore_outliers``) avoids for unbounded groups; that twin stays
    the scale path and this query exercises the API tier."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("event_type", StringType()),
            StructField("z", DoubleType()),
        ]
    )

    def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
        m = pdf["value"].mean()
        s = pdf["value"].std(ddof=1)
        return pd.DataFrame(
            {
                "event_id": pdf["event_id"],
                "event_type": pdf["event_type"],
                "z": ((pdf["value"] - m) / s).round(4),
            }
        )

    from gaming_ai_analytics_spark.sources.star import load_events

    ev = load_events(spark, sf_dir).select("event_id", "event_type", "value")
    return ev.groupBy("event_type").applyInPandas(normalize, schema)


register(
    "grouped_zscore_applyinpandas",
    q_grouped_zscore_applyinpandas,
    """
    SELECT event_id, event_type,
           ROUND((value - AVG(value) OVER (PARTITION BY event_type))
                 / STDDEV_SAMP(value) OVER (PARTITION BY event_type),
                 4) AS z
    FROM events
    """,
)


def q_mapinarrow_bytelen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mapInArrow`` — the lowest-overhead Python surface: raw Arrow
    ``RecordBatch`` in/out, no pandas conversion (the right tier when
    the Python side is itself Arrow-native, e.g. tokenizers or
    vectorized libs with Arrow bindings).  Computes UTF-8 byte lengths
    batch-at-a-time via zero-copy Arrow compute kernels; partitioning
    and batch sizing are Spark's, so the operator scales exactly like
    any map stage."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def bytelen(batches):
        for batch in batches:
            ids = batch.column(0)
            texts = batch.column(1)
            n = pc.binary_length(pc.cast(texts, pa.binary()))
            n = pc.fill_null(pc.cast(n, pa.int64()), 0)  # null text → 0
            yield pa.RecordBatch.from_arrays(
                [ids, n], ["doc_id", "n_bytes_utf8"]
            )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.mapInArrow(bytelen, "doc_id BIGINT, n_bytes_utf8 BIGINT")


register(
    "mapinarrow_bytelen",
    q_mapinarrow_bytelen,
    """
    SELECT doc_id,
           CAST(COALESCE(octet_length(encode(text)), 0) AS BIGINT)
               AS n_bytes_utf8
    FROM documents
    """,
)


def q_events_local_hour_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-zone conversion (``convert_timezone``): UTC event times
    rendered in a market's local wall clock, profiled by local hour ×
    event type — the reporting shape every global product needs (UTC
    storage, local presentation). IANA rules are evaluated engine-side
    (both engines ship the tz database), map-only, then one 24×|types|
    aggregate."""
    from gaming_ai_analytics_spark.sources.star import load_events

    ev = load_events(spark, sf_dir)
    local = F.convert_timezone(
        F.lit("UTC"), F.lit("America/New_York"), F.col("ts")
    )
    return (
        ev.select(F.hour(local).alias("local_hour"), "event_type")
        .groupBy("local_hour", "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


register(
    "events_local_hour_profile",
    q_events_local_hour_profile,
    """
    SELECT EXTRACT(hour FROM (ts AT TIME ZONE 'UTC'
                              AT TIME ZONE 'America/New_York'))
               AS local_hour,
           event_type, COUNT(*) AS n_events
    FROM events
    GROUP BY 1, 2
    """,
)


def q_quantity_width_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-width binning via the ``width_bucket`` built-in — the
    feature-engineering / histogram primitive with under/overflow
    buckets (0 and n+1). Bounds are chosen on exactly-representable
    halves (0.5 + 5k) so no integer quantity ever sits on a bucket
    edge — bucket assignment is FP-exact and the oracle's closed-form
    replica agrees bit-for-bit. Map-only + one tiny aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    b = F.width_bucket(F.col("l_quantity"), F.lit(0.5), F.lit(50.5), F.lit(10))
    return (
        li.select(b.alias("qty_bucket"))
        .groupBy("qty_bucket")
        .agg(F.count(F.lit(1)).alias("n_lines"))
    )


register(
    "quantity_width_buckets",
    q_quantity_width_buckets,
    """
    SELECT CASE WHEN l_quantity < 0.5 THEN 0
                WHEN l_quantity >= 50.5 THEN 11
                ELSE CAST(FLOOR((l_quantity - 0.5) / 5.0) AS BIGINT) + 1
           END AS qty_bucket,
           COUNT(*) AS n_lines
    FROM lineitem
    GROUP BY 1
    """,
)


def q_python_datasource_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource connector (Spark 4
    ``pyspark.sql.datasource``): a pure-Python source class supplies
    schema, partition planning, and per-partition reads; the engine
    parallelizes the scan like any other (8 declared partitions here)
    and the aggregate is ordinary Catalyst.  Rows are deterministic
    integer arithmetic on the row id, so the oracle regenerates the
    identical table with ``generate_series`` — a full differential
    check of the connector's read path (``sources/pyds.py``)."""
    from gaming_ai_analytics_spark.sources.pyds import (
        register_python_datasource,
    )

    register_python_datasource(spark)
    ev = (
        spark.read.format("synthetic_events")
        .option("n", 10000)
        .option("parts", 8)
        .load()
    )
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct("user_id").alias("n_users"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


register(
    "python_datasource_scan",
    q_python_datasource_scan,
    """
    WITH ev AS (
      SELECT i AS event_id, i % 97 AS user_id,
             ['view','click','purchase','refund'][(i % 4) + 1]
                 AS event_type,
             ((i * 48271) % 100000) / 100.0 AS value
      FROM (SELECT unnest(generate_series(0, 9999)) AS i)
    )
    SELECT event_type, COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           ROUND(SUM(value), 2) AS total_value
    FROM ev GROUP BY 1
    """,
)


def q_group_by_all_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 ``GROUP BY ALL`` SQL surface: the engine infers the
    grouping keys from the non-aggregate select items. Tables bind via
    ``parquet.`path``` scans (no temp-view session state); the plan is
    the ordinary partial-agg + small-key exchange. DuckDB supports the
    identical syntax, so the oracle runs it verbatim — a true
    SQL-dialect parity check, not just a result check."""
    return spark.sql(
        f"""
        SELECT l_returnflag, l_linestatus,
               COUNT(*) AS n_lines,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM parquet.`{sf_dir}/lineitem.parquet`
        GROUP BY ALL
        """
    )


register(
    "group_by_all_sql",
    q_group_by_all_sql,
    """
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n_lines,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem
    GROUP BY ALL
    """,
)


def q_parameterized_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named-parameter SQL (Spark 4 ``:marker`` binding via
    ``spark.sql(sql, args=...)``) — the injection-safe surface for
    templated warehouse reports. Parameters bind as typed literals at
    parse time, so Catalyst constant-folds them and the price bound
    still pushes into the parquet scan exactly like a hand-written
    literal (pinned in tests/test_plans.py)."""
    return spark.sql(
        f"""
        SELECT o_orderpriority,
               COUNT(*) AS n_orders,
               ROUND(AVG(o_totalprice), 2) AS avg_price
        FROM parquet.`{sf_dir}/orders.parquet`
        WHERE o_totalprice > :min_price AND o_orderstatus = :status
        GROUP BY o_orderpriority
        """,
        args={"min_price": 250000.0, "status": "F"},
    )


register(
    "parameterized_sql",
    q_parameterized_sql,
    """
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           ROUND(AVG(o_totalprice), 2) AS avg_price
    FROM orders
    WHERE o_totalprice > 250000.0 AND o_orderstatus = 'F'
    GROUP BY o_orderpriority
    """,
)


# --------------------------------------------------------------------------
# Point-in-time (validity-interval) dimension join
# --------------------------------------------------------------------------
def q_pit_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue attributed to the customer-segment version VALID AT
    each order's date — the point-in-time join every SCD2 warehouse
    and every leakage-safe feature store needs (`scd2_customer_segment`
    builds the versioned dim; this is its consumption side — using
    today's segment for a 1993 order is exactly the label-leakage
    class `leakage_safe_split` guards against).

    The versioned dim is derived deterministically from the fixture:
    customers with key ≡ 0 (mod 20) switch to 'NEWSEG' on 1995-06-01
    (two rows: the closed original validity and the open new one);
    everyone else keeps one open-ended row. Scale shape: the join has
    a proper EQUI key (custkey) with the validity interval as a
    residual predicate, so it plans as a hash/sort-merge join — never
    the pure-range BNL shape the plan audit hunts — and versions-per-
    key is small by SCD2 construction, so the post-join filter fans
    out ≤ |versions| rows per order. Orders carry exactly ONE valid
    version each (half-open intervals [from, to) with a NULL open
    end), pinned by the companion test and visible in the result:
    per-(segment, version-flag) order counts and revenue reconcile to
    the full orders table.
    """
    cust = load_table(spark, sf_dir, "customer")
    switch = F.col("c_custkey") % 20 == 0
    d0 = F.lit("1990-01-01").cast("date")
    d1 = F.lit("1995-06-01").cast("date")
    dnull = F.lit(None).cast("date")
    seg = F.col("c_mktsegment")
    # one scan: each customer emits its 1- or 2-row version history
    # as a map-side explode (a UNION of two filtered projections would
    # read the dim twice for no reason)
    ver = F.struct
    history = F.when(
        switch,
        F.array(
            ver(
                seg.alias("segment"),
                d0.alias("valid_from"),
                d1.alias("valid_to"),
            ),
            ver(
                F.lit("NEWSEG").alias("segment"),
                d1.alias("valid_from"),
                dnull.alias("valid_to"),
            ),
        ),
    ).otherwise(
        F.array(
            ver(
                seg.alias("segment"),
                d0.alias("valid_from"),
                dnull.alias("valid_to"),
            )
        )
    )
    dim = cust.select(
        F.col("c_custkey").alias("k"), F.explode(history).alias("v")
    ).select("k", "v.segment", "v.valid_from", "v.valid_to")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", F.col("o_orderdate").cast("date").alias("od"),
        "o_totalprice",
    )
    joined = orders.join(
        dim,
        (orders["o_custkey"] == dim["k"])
        & (F.col("od") >= F.col("valid_from"))
        & (F.col("valid_to").isNull() | (F.col("od") < F.col("valid_to"))),
    )
    return (
        joined.groupBy(
            "segment",
            F.col("valid_to").isNull().alias("is_current_version"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .orderBy("segment", "is_current_version")
    )


register(
    "pit_dim_join",
    q_pit_dim_join,
    """
    WITH dim AS (
      SELECT c_custkey AS k, c_mktsegment AS segment,
             CAST('1990-01-01' AS DATE) AS valid_from,
             CASE WHEN c_custkey % 20 = 0
                  THEN CAST('1995-06-01' AS DATE) END AS valid_to
      FROM customer
      UNION ALL
      SELECT c_custkey, 'NEWSEG',
             CAST('1995-06-01' AS DATE), NULL
      FROM customer WHERE c_custkey % 20 = 0)
    SELECT segment, valid_to IS NULL AS is_current_version,
           COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS revenue
    FROM orders JOIN dim
      ON o_custkey = k
     AND CAST(o_orderdate AS DATE) >= valid_from
     AND (valid_to IS NULL OR CAST(o_orderdate AS DATE) < valid_to)
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)


# --------------------------------------------------------------------------
# distribution moments (engine-portable skewness/kurtosis)
# --------------------------------------------------------------------------
def q_distribution_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority distribution shape profile — count, mean, stddev,
    skewness, excess kurtosis — the moments a DQ/drift monitor tracks
    beside quantiles.

    NOT the built-in ``skewness``/``kurtosis``: engines disagree on
    bias correction (sample vs population estimators), so the
    cross-engine-portable form computes POPULATION moments from
    explicitly CENTERED power sums: pass 1 takes the per-group mean
    rounded to 2 dp (rounding makes the centering constant BIT-EQUAL
    on both engines — raw means differ by summation order); pass 2
    aggregates Σ(x−μ̄)^k, which is numerically well-conditioned (raw
    power sums of 5e5-scale prices reach 1e27 and cancellation in
    m₃/m₄ would eat all the precision).  Plan: two fact aggregations
    sharing one broadcast-joined 5-row mean frame — group-key
    shuffles only, map-side combined, the exact shape that holds at
    100 TB."""
    orders = load_table(spark, sf_dir, "orders")
    # the centering constant gets the knife-edge nudge TOO: the two
    # engines sum in different orders, and a raw mean one ulp either
    # side of an exact .005 boundary would center the two passes 0.01
    # apart — poisoning all five output columns at once
    mu = orders.groupBy("o_orderpriority").agg(
        F.round(F.avg("o_totalprice") + 5e-10, 2).alias("_mu"),
    )
    d = F.col("o_totalprice") - F.col("_mu")
    per = (
        orders.join(F.broadcast(mu), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.first("_mu").alias("mean"),
            F.sum(d * d).alias("_s2"),
            F.sum(d * d * d).alias("_s3"),
            F.sum(d * d * d * d).alias("_s4"),
        )
    )
    m2 = F.col("_s2") / F.col("n")
    m3 = F.col("_s3") / F.col("n")
    m4 = F.col("_s4") / F.col("n")
    # zero-variance guard: 0/0 is NaN in Spark but engines disagree —
    # a degenerate group's shape stats are undefined, emit NULL on both
    def _shape(expr):
        return F.when(F.col("_s2") == 0, F.lit(None).cast("double"))                 .otherwise(F.round(expr + 5e-10, 4))
    return per.select(
        "o_orderpriority",
        "n",
        "mean",
        F.round(F.sqrt(m2) + 5e-10, 4).alias("stddev"),
        _shape(m3 / F.pow(m2, 1.5)).alias("skewness"),
        _shape(m4 / (m2 * m2) - 3.0).alias("kurtosis_excess"),
    )


register(
    "distribution_moments",
    q_distribution_moments,
    """
    WITH mu AS (
      SELECT o_orderpriority, ROUND(AVG(o_totalprice) + 5e-10, 2) AS _mu
      FROM orders GROUP BY 1),
    per AS (
      SELECT o.o_orderpriority, COUNT(*) AS n, MIN(_mu) AS mean,
             SUM(POW(o_totalprice - _mu, 2)) AS s2,
             SUM(POW(o_totalprice - _mu, 3)) AS s3,
             SUM(POW(o_totalprice - _mu, 4)) AS s4
      FROM orders o JOIN mu USING (o_orderpriority)
      GROUP BY 1)
    SELECT o_orderpriority, n, mean,
           ROUND(SQRT(s2 / n) + 5e-10, 4) AS stddev,
           CASE WHEN s2 = 0 THEN NULL
                ELSE ROUND((s3 / n) / POW(s2 / n, 1.5) + 5e-10, 4)
           END AS skewness,
           CASE WHEN s2 = 0 THEN NULL
                ELSE ROUND((s4 / n) / POW(s2 / n, 2) - 3.0 + 5e-10, 4)
           END AS kurtosis_excess
    FROM per
    """,
)


# --------------------------------------------------------------------------
# referential-integrity orphan check (DQ)
# --------------------------------------------------------------------------
def q_dq_referential_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity DQ readout for the star's two load-bearing
    foreign keys: lineitems whose order is missing, orders whose
    customer is missing, and orders with zero lineitems (the
    no-children case a fact-build silently drops). The check the DQ
    gate runs after every load — `dq_uniqueness_violations` guards
    keys, this guards EDGES.

    Scale shape (r9): the two orderkey-edge checks fold into ONE
    FULL OUTER join — an unmatched lineitem row (order side NULL) is
    a lineitem orphan, an unmatched order row (lineitem side NULL) is
    a childless order, each appearing exactly once — so lineitem
    shuffles ONCE and orders twice instead of the r8 three-anti-join
    plan's 2×/3× (the remaining two orders scans are intrinsic: the
    two FK edges probe DIFFERENT key columns, each scan pruned to its
    one int column).  NULL FKs never equal anything, so they land on
    the unmatched side — the same orphan semantics as left_anti and
    the NOT EXISTS oracle.  The customer-edge check stays a LEFT ANTI
    join (violations-only output).  Both joins reduce to counts
    before the 3-row union, so post-probe row movement is
    violations-only at a healthy load."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")

    edge = li.withColumn("_l", F.lit(1)).join(
        orders.select("o_orderkey").withColumn("_o", F.lit(1)),
        li["l_orderkey"] == F.col("o_orderkey"),
        "full_outer",
    )
    # coalesce: SUM over an EMPTY join is NULL where the r8 count(*)
    # was 0 — and empty/zero-row loads are precisely where a DQ gate
    # runs (r9 review finding; the oracle's COUNT(*) returns 0)
    edge_counts = edge.agg(
        F.coalesce(
            F.sum(F.when(F.col("_o").isNull(), 1).otherwise(0)), F.lit(0)
        )
        .cast("long")
        .alias("_li_orphans"),
        F.coalesce(
            F.sum(F.when(F.col("_l").isNull(), 1).otherwise(0)), F.lit(0)
        )
        .cast("long")
        .alias("_childless"),
    )
    order_orphans = orders.join(
        cust, orders["o_custkey"] == cust["c_custkey"], "left_anti"
    ).agg(F.count(F.lit(1)).alias("_cust_orphans"))

    report = edge_counts.crossJoin(order_orphans)  # 1 row × 1 row
    return report.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("lineitem_without_order").alias("check"),
                    F.col("_li_orphans").alias("n_violations"),
                ),
                F.struct(
                    F.lit("order_without_customer").alias("check"),
                    F.col("_cust_orphans").alias("n_violations"),
                ),
                F.struct(
                    F.lit("order_without_lineitems").alias("check"),
                    F.col("_childless").alias("n_violations"),
                ),
            )
        ).alias("r")
    ).select("r.check", "r.n_violations")


# Oracle uses NOT EXISTS, not NOT IN (ADVICE r8): NOT IN over a
# subquery containing any NULL returns zero rows for the WHOLE check —
# engine disagreement with Spark's left_anti exactly on the dirty
# inputs a DQ check exists for.  NOT EXISTS has left_anti's null
# semantics (a NULL FK never equals anything, so it counts as an
# orphan on both engines).
register(
    "dq_referential_orphans",
    q_dq_referential_orphans,
    """
    SELECT 'lineitem_without_order' AS check, COUNT(*) AS n_violations
    FROM lineitem l
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_orderkey = l.l_orderkey)
    UNION ALL
    SELECT 'order_without_customer', COUNT(*)
    FROM orders o
    WHERE NOT EXISTS (SELECT 1 FROM customer c
                      WHERE c.c_custkey = o.o_custkey)
    UNION ALL
    SELECT 'order_without_lineitems', COUNT(*)
    FROM orders o
    WHERE NOT EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey)
    """,
)
