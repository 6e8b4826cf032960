"""Windowed event queries — batch + Structured Streaming parity
(SURVEY §2.9 extension; the reference is batch-only).

The tumbling/sliding/session window definitions live in
streaming.events and are shared verbatim by the batch and streaming
paths; the streaming entry runs readStream → watermark → agg →
memory sink and is checked against the SAME SQL oracle as the batch
entry (complete output mode over the bounded fixture ⇒ identical
results).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gaming_ai_analytics_spark.registry import register
from gaming_ai_analytics_spark.sources.star import load_events, load_table
from gaming_ai_analytics_spark.streaming.events import (
    dedupe_keys,
    run_stream_to_memory,
    segment_totals,
    session_windows,
    sliding_windows,
    stateful_user_totals,
    stream_events,
    streaming_tumbling_hourly,
    tumbling_hourly,
    view_to_purchase_pairs,
)

_TUMBLING_ORACLE = """
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
           COUNT(*) AS n_events, ROUND(SUM(value), 2) AS total_value
    FROM events GROUP BY 1, 2
"""


def q_events_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tumbling_hourly(load_events(spark, sf_dir))


register("events_tumbling_hourly", q_events_tumbling_hourly, _TUMBLING_ORACLE)


def q_events_streaming_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full streaming engine path; oracle identical to batch."""
    return streaming_tumbling_hourly(spark, sf_dir)


register("events_streaming_tumbling", q_events_streaming_tumbling, _TUMBLING_ORACLE)


def q_events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sliding_windows(load_events(spark, sf_dir))


register(
    "events_sliding_window",
    q_events_sliding_window,
    # 1h window sliding every 30min ⇒ each event belongs to exactly the
    # two windows starting at bucket(30m, ts) and bucket(30m, ts)−30m.
    """
    SELECT window_start, COUNT(*) AS n_events FROM (
      SELECT time_bucket(INTERVAL '30 minutes', ts) AS window_start FROM events
      UNION ALL
      SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes'
      FROM events
    ) GROUP BY 1
    """,
)


def q_events_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    return session_windows(load_events(spark, sf_dir), gap="10 minutes")


register(
    "events_session_window",
    q_events_session_window,
    # Gap-based sessionization: a new session starts where the gap to
    # the previous event (per user) strictly exceeds 10 minutes; lag +
    # running sum of session-start flags reproduces session_window
    # exactly. Strict > (not >=): Spark session windows span
    # [ts, ts+gap) and MERGE adjacent windows — two events exactly
    # 10 minutes apart form ONE session (verified empirically, pinned
    # in tests/test_streaming.py::test_session_window_exact_gap_boundary).
    """
    WITH ordered AS (
      SELECT user_id, ts,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL '10 minutes'
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    tagged AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
      FROM ordered
    )
    SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
    FROM tagged GROUP BY user_id, session_no
    """,
)


def q_events_streaming_stateful_totals(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Custom stateful operator path: readStream →
    applyInPandasWithState per-user running totals → memory sink
    (update mode). Running totals are monotone in n_events, so the
    final total per user — what the batch oracle computes — is the
    max-n_events emit, independent of how many micro-batches the
    bounded source was split into."""
    out = run_stream_to_memory(
        stateful_user_totals(stream_events(spark, sf_dir)),
        spark,
        output_mode="update",
    )
    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        out.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("user_id", "n_events", "total_value")
    )


register(
    "events_streaming_stateful_totals",
    q_events_streaming_stateful_totals,
    """
    SELECT user_id, COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS total_value
    FROM events GROUP BY 1
    """,
)


def q_events_streaming_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sessionization: readStream → watermark →
    session_window agg → memory sink. Session windows reject update
    mode (state merges can retract emitted rows); complete mode over
    the bounded fixture reproduces the batch result exactly."""
    from gaming_ai_analytics_spark.streaming.events import session_windows

    ev = stream_events(spark, sf_dir).withWatermark("ts", "2 hours")
    return run_stream_to_memory(session_windows(ev), spark)


# reuse the batch sessionization oracle registered above
from gaming_ai_analytics_spark.registry import oracle_for as _oracle_for

register(
    "events_streaming_session",
    q_events_streaming_session,
    _oracle_for("events_session_window"),
)


def q_events_streaming_static_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stream-static join: readStream events ⋈ broadcast static
    customer dim → per-(event_type, segment) totals → memory sink.
    The dim is read as a plain batch table — exactly the
    slowly-changing-dimension enrichment pattern (the join re-reads /
    re-broadcasts the static side per micro-batch, no stream state)."""
    ev = stream_events(spark, sf_dir)
    dim = load_table(spark, sf_dir, "customer")
    return run_stream_to_memory(segment_totals(ev, dim), spark)


def q_events_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True stream-stream join: one readStream source self-joined
    (views ⋈ purchases per user within 30 minutes), watermarked on
    both sides so interval state expires; append-mode memory sink.
    Inner matches emit as they occur, so the bounded run produces
    exactly the batch join result."""
    ev = stream_events(spark, sf_dir)
    v = ev.where(F.col("event_type") == "view").withWatermark("ts", "1 hour")
    p = ev.where(F.col("event_type") == "purchase").withWatermark(
        "ts", "1 hour"
    )
    return run_stream_to_memory(
        view_to_purchase_pairs(v, p, horizon="30 minutes").select(
            "user_id", "view_id", "purchase_id"
        ),
        spark,
        output_mode="append",
    )


register(
    "events_stream_stream_join",
    q_events_stream_stream_join,
    """
    SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id
    FROM events v JOIN events p
      ON v.user_id = p.user_id
     AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL '30 minutes'
    WHERE v.event_type = 'view' AND p.event_type = 'purchase'
    """,
)


def q_events_stream_stream_left_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LEFT-OUTER stream-stream join — the state-expiry surface inner
    joins never touch: an unmatched view emits its null-purchase row
    only when the global watermark passes ``view_ts + horizon`` and
    the join state is evicted. On a bounded source the watermark ends
    at ``max_ts − delay``, so the query restricts the OUTPUT to views
    at least 2 h older than the stream's end (watermark 1 h + horizon
    30 min + 30 min eviction-strictness margin) — every admitted view
    is guaranteed flushed, matched or not. The input streams stay
    unfiltered: filtering the view INPUT instead would hold the view
    side's own watermark back behind its admitted maximum and the
    tail would never flush (see view_to_purchase_pairs docstring).
    The oracle applies the same cutoff to a batch LEFT JOIN."""
    import datetime

    ev = stream_events(spark, sf_dir)
    v = ev.where(F.col("event_type") == "view").withWatermark("ts", "1 hour")
    p = ev.where(F.col("event_type") == "purchase").withWatermark(
        "ts", "1 hour"
    )
    max_ts = load_events(spark, sf_dir).agg(F.max("ts")).first()[0]
    cutoff = max_ts - datetime.timedelta(hours=2)
    joined = view_to_purchase_pairs(
        v, p, horizon="30 minutes", how="left_outer"
    )
    return run_stream_to_memory(
        joined.where(F.col("view_ts") <= F.lit(cutoff)).select(
            "user_id", "view_id", "purchase_id"
        ),
        spark,
        output_mode="append",
    )


register(
    "events_stream_stream_left_join",
    q_events_stream_stream_left_join,
    """
    SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id
    FROM (SELECT * FROM events
          WHERE event_type = 'view'
            AND ts <= (SELECT MAX(ts) - INTERVAL '2 hours' FROM events)) v
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON v.user_id = p.user_id
     AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL '30 minutes'
    """,
)


def q_events_streaming_dedupe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication: first-seen-wins state per
    (user_id, event_type); emitting only the key tuple makes the
    result order-independent and equal to batch DISTINCT."""
    return run_stream_to_memory(
        dedupe_keys(stream_events(spark, sf_dir), ["user_id", "event_type"]),
        spark,
        output_mode="append",
    )


register(
    "events_streaming_dedupe",
    q_events_streaming_dedupe,
    "SELECT DISTINCT user_id, event_type FROM events",
)


def q_events_streaming_dedupe_ttl(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TTL-bounded streaming dedup: ``dropDuplicatesWithinWatermark``
    — the scale-correct form of ``events_streaming_dedupe``. Plain
    ``dropDuplicates`` state grows with key cardinality FOREVER; the
    within-watermark variant evicts a key's state once the watermark
    passes its last sighting + delay, bounding state by the dedup
    horizon instead. Semantics: duplicates recurring FARTHER apart
    than the horizon re-emit — so with the delay set beyond the
    fixture's 30-day span the result equals batch DISTINCT exactly
    (the oracle), while the operator exercises the real TTL code
    path; production sets the horizon to the actual recurrence window
    (minutes for at-least-once sources)."""
    ev = stream_events(spark, sf_dir).withWatermark("ts", "45 days")
    return run_stream_to_memory(
        ev.dropDuplicatesWithinWatermark(["user_id", "event_type"]).select(
            "user_id", "event_type"
        ),
        spark,
        output_mode="append",
    )


register(
    "events_streaming_dedupe_ttl",
    q_events_streaming_dedupe_ttl,
    "SELECT DISTINCT user_id, event_type FROM events",
)


register(
    "events_streaming_static_join",
    q_events_streaming_static_join,
    """
    SELECT event_type, c_mktsegment AS segment,
           COUNT(*) AS n_events, ROUND(SUM(value), 2) AS total_value
    FROM events LEFT JOIN customer ON user_id = c_custkey
    GROUP BY 1, 2
    """,
)


def q_events_streaming_rate_alert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming volume alerting: tumbling 1-hour counts per event
    type, emitting only windows whose count crosses the alert
    threshold — readStream → watermark+window agg → post-agg filter →
    memory sink. The filter rides ABOVE the stateful aggregation, so
    state size is the windows', not the alert rule's; swapping the
    static threshold for a broadcast rules table is the production
    form (stream-static join, already covered by
    ``events_streaming_static_join``)."""
    ev = stream_events(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .filter(F.col("n_events") >= 10)
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n_events"
        )
    )
    return run_stream_to_memory(agg, spark, output_mode="complete")


register(
    "events_streaming_rate_alert",
    q_events_streaming_rate_alert,
    """
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
           COUNT(*) AS n_events
    FROM events
    GROUP BY 1, 2
    HAVING COUNT(*) >= 10
    """,
)


def q_python_datasource_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING Python DataSource (Spark 4 `simpleStreamReader`):
    offset-tracked micro-batch pulls over the deterministic synthetic
    row space (`sources/pyds.py`), drained through a complete-mode
    memory sink. Uses the default micro-batch trigger — the Python
    stream reader does not implement availableNow, so the drain ends
    when a pull returns an empty batch with an unchanged offset. The
    oracle regenerates the same rows with generate_series, fully
    checking the offset/replay read path."""
    from gaming_ai_analytics_spark.sources.pyds import (
        register_python_datasource,
    )
    from gaming_ai_analytics_spark.streaming.events import _sink_ids

    register_python_datasource(spark)
    sdf = (
        spark.readStream.format("synthetic_events_stream")
        .option("n", 10000)
        .option("batch", 2500)
        .load()
    )
    agg = sdf.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
    name = f"__stream_sink_{next(_sink_ids)}"
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.table(name)


register(
    "python_datasource_stream",
    q_python_datasource_stream,
    """
    WITH ev AS (
      SELECT i % 4 AS t, ((i * 48271) % 100000) / 100.0 AS value
      FROM (SELECT unnest(generate_series(0, 9999)) AS i)
    )
    SELECT ['view','click','purchase','refund'][t + 1] AS event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS total_value
    FROM ev GROUP BY 1
    """,
)


# --------------------------------------------------------------------------
# Streaming materialized view (foreachBatch upsert sink)
# --------------------------------------------------------------------------
def q_events_streaming_matview_upsert(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming MATERIALIZED VIEW through the ``foreachBatch``
    MERGE sink: a watermarked per-user aggregation in UPDATE output
    mode, each micro-batch's changed rows upserted into a serving
    table by key (``stream_matview_upsert`` →
    ``TableStore.upsert``'s anti-join + union + atomic staged swap).
    The memory-sink cohort proves the windowed OPERATORS; this
    registers the SINK side — the continuously-maintained summary
    table a serving layer reads — under the driver oracle: over the
    bounded fixture the converged table must equal the batch
    aggregate exactly.  Replay idempotence (fresh checkpoint, table
    unchanged) is pinned by
    tests/test_streaming.py::test_stream_matview_upsert_equals_batch_aggregate.

    100 TB shape: state = the watermarked agg's keyed store
    (bounded by |users| × horizon, the `stateful_user_totals`
    class); each upsert rewrites only the serving table — Update
    mode re-emits changed keys, not the world, and the anti-join
    MERGE is keyed, not full-table."""
    from gaming_ai_analytics_spark import artifacts
    from gaming_ai_analytics_spark.sources.io import TableStore
    from gaming_ai_analytics_spark.streaming.events import (
        stream_matview_upsert,
    )

    totals = (
        stream_events(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )
    store = TableStore(spark, artifacts.workdir(sf_dir, "matview"))
    stream_matview_upsert(totals, store, "serve", "user_totals", ["user_id"])
    return store.load("serve", "user_totals")


register(
    "events_streaming_matview_upsert",
    q_events_streaming_matview_upsert,
    """
    SELECT user_id, COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS total_value
    FROM events GROUP BY 1
    """,
)


def q_documents_streaming_curation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming document ingest through the curation gate: readStream
    over the documents fixture → C4/Gopher rule gate (map-only, the
    `quality_gate_rules` predicates verbatim) → first-seen-wins exact
    dedup on the md5 content fingerprint → append-mode memory sink.
    The continuous-ingest twin of the batch curation pipeline's front
    stages — the shape a 100 TB corpus actually arrives in — with
    streaming state equal to the admitted-fingerprint set (the dedup
    index, not the corpus; see streaming/documents.py for the
    TTL-bounded production variant). Emitted columns are pure
    functions of the text, so the result is micro-batch-order
    independent and equals the batch DISTINCT the oracle computes."""
    from gaming_ai_analytics_spark.streaming.documents import (
        curated_manifest,
        stream_documents,
    )

    return run_stream_to_memory(
        curated_manifest(stream_documents(spark, sf_dir)),
        spark,
        output_mode="append",
    )


# the oracle re-derives the gate from scratch with the
# quality_gate_rules metric SQL (queries_traindata) and dedups on the
# same md5 the Spark side computes — byte-for-byte hex parity
# established by content_hash_manifest
register(
    "documents_streaming_curation",
    q_documents_streaming_curation,
    """
    WITH m AS (
      SELECT text,
             CAST(len(string_split_regex(TRIM(text), ' +')) AS INT)
               AS n_tokens,
             ROUND(CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0.0 ELSE
               CAST(list_sum(list_transform(
                 string_split_regex(TRIM(text), ' +'),
                 tk -> LENGTH(tk))) AS DOUBLE)
               / len(string_split_regex(TRIM(text), ' +')) END + 5e-10, 4)
               AS mean_word_len,
             ROUND(CASE WHEN LENGTH(text) = 0 THEN 0.0 ELSE
               (LENGTH(text) -
                LENGTH(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')))
               * 1.0 / LENGTH(text) END + 5e-10, 4) AS punct_ratio,
             ROUND(CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0.0 ELSE
               len(list_filter(string_split_regex(TRIM(LOWER(text)), ' +'),
                 tk -> tk IN ('the','a','of','and','to','in')))
               * 1.0 / len(string_split_regex(TRIM(LOWER(text)), ' +'))
               END + 5e-10, 4) AS stop_ratio
      FROM documents
      WHERE text IS NOT NULL AND LENGTH(TRIM(text)) > 0
    )
    SELECT DISTINCT md5(text) AS fp, n_tokens
    FROM m
    WHERE n_tokens BETWEEN 5 AND 100000
      AND mean_word_len BETWEEN 2.0 AND 12.0
      AND punct_ratio < 0.3
      AND stop_ratio > 0.01
    """,
)
