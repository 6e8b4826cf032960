"""Streaming document ingest through the curation gate.

The batch curation pipeline (queries_traindata: rule gate → dedup →
split → pack) runs nightly; a 100 TB ingest ALSO needs the continuous
shape — documents arriving as a stream, gated and exact-deduped
against everything already admitted, with state that is the dedup
index, not the corpus. This module provides the streaming twin of the
gate + exact-dedup front of that pipeline, sharing ONE definition
between batch and stream (the queries_stream discipline: the same
transformation verbatim, so the bounded-source streaming run equals
the batch computation and both check against the same SQL oracle).

No reference analog (the reference is batch-only; SURVEY §2.9 / §2.12
extension surface).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def stream_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the documents parquet — the streaming twin of
    ``sources.star.load_table(..., "documents")``. Schema comes from
    the batch reader's resolved footer (driver-only read, no scan);
    ``pathGlobFilter`` scopes the file-source directory listing to the
    one fixture file (the ``stream_events`` pattern)."""
    schema = spark.read.parquet(
        os.path.join(sf_dir, "documents.parquet")
    ).schema
    return (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("pathGlobFilter", "documents.parquet")
        .load(sf_dir)
    )


def curated_manifest(docs: DataFrame) -> DataFrame:
    """Gate + exact-dedup front of the curation pipeline, shared
    verbatim by batch and stream: the C4/Gopher-style rule gate of
    ``quality_gate_rules`` (token-count bounds, mean-word-length band,
    punctuation ceiling, stopword floor — map-only string/array
    built-ins), then first-seen-wins dedup on the md5 content
    fingerprint. Emits ``(fp, n_tokens)`` — both pure functions of the
    text, so WHICH physical row survives a fingerprint group cannot
    change the emitted values and the streaming result is independent
    of micro-batch boundaries (the ``events_streaming_dedupe``
    order-independence discipline).

    Scale shape: the gate and fingerprint are map-only per
    micro-batch; the only shuffle keys the fingerprint. Streaming
    state is the admitted-fingerprint set — the dedup INDEX, not the
    corpus; an unbounded production stream bounds it with
    ``dropDuplicatesWithinWatermark`` on ingest time (the
    ``events_streaming_dedupe_ttl`` path — the fixture schema carries
    no event time, and the registered bounded-snapshot run is exactly
    the nightly-backfill replay shape)."""
    from gaming_ai_analytics_spark.functions.text import rule_gate

    t = F.col("text")
    metrics, keep = rule_gate(t)
    gated = (
        docs.filter(t.isNotNull() & (F.length(F.trim(t)) > 0))
        .select(F.md5(t).alias("fp"), *metrics)
        .filter(keep)
    )
    return gated.select("fp", "n_tokens").dropDuplicates(["fp"])
