"""PQ encode-once/probe-nightly decomposition (r13).

The claim behind ``similarity_topk_pq_saved`` (queries_llm.py): the
codebook train + full-corpus ENCODE is the expensive part of PQ ANN
serving, and the persisted codes table reduces each nightly probe
batch to the ADC scan over 80-bit codes plus the bounded exact
re-rank — the corpus never re-encodes at probe time. Measured on the
embeddings fixture (the ``exp_ivf_saved`` protocol):

- ``t_build_save``: codebook train (bounded sample) + full-corpus
  encode + the codes/codebooks/meta writes (paid once per release);
- ``t_probe_saved``: answer ONE probe batch from the saved index via
  ``topk_similar_pq_saved`` (the recurring nightly cost);
- ``t_inquery``: the same probe batch through ``topk_similar_pq``
  with pre-trained codebooks — the shape that re-encodes the corpus
  per invocation (codebook train excluded from this arm, so the gap
  is PURELY the re-encode).

The saved-probe path is timed BEFORE the in-query pass in the same
JVM so warm-up bias favors the side we argue against. Answer parity
between the two paths is asserted before timing.

Usage: python tools/exp_pq_saved.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"


def main() -> None:
    from pyspark.sql import functions as F

    from gaming_ai_analytics_spark.operators.similarity import (
        load_pq_index,
        pq_encode,
        save_pq_index,
        topk_similar_pq,
        topk_similar_pq_saved,
        train_pq_codebooks,
    )
    from gaming_ai_analytics_spark.session import get_spark
    from gaming_ai_analytics_spark.sources.io import TableStore

    spark = get_spark("pq-saved")
    emb = spark.read.parquet(os.path.join(SF, "embeddings.parquet"))
    probes = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )

    store = TableStore(spark, tempfile.mkdtemp(prefix="gaa_pqexp_"))

    t0 = time.perf_counter()
    books = train_pq_codebooks(emb, dim=64, m=16, ksub=32)
    save_pq_index(
        store, "idx", "emb_exp", pq_encode(emb, books), books
    )
    t_build_save = time.perf_counter() - t0

    # parity before timing
    a = sorted(
        tuple(r)
        for r in topk_similar_pq_saved(
            load_pq_index(spark, store, "idx", "emb_exp"),
            emb,
            probes,
            k=5,
            refine=20,
        ).collect()
    )
    b = sorted(
        tuple(r)
        for r in topk_similar_pq(
            emb, probes, k=5, dim=64, m=16, ksub=32, refine=20,
            codebooks=books,
        ).collect()
    )
    assert a == b, "saved-index probe diverged from the in-query path"

    t0 = time.perf_counter()
    topk_similar_pq_saved(
        load_pq_index(spark, store, "idx", "emb_exp"),
        emb,
        probes,
        k=5,
        refine=20,
    ).collect()
    t_probe_saved = time.perf_counter() - t0

    t0 = time.perf_counter()
    topk_similar_pq(
        emb, probes, k=5, dim=64, m=16, ksub=32, refine=20, codebooks=books
    ).collect()
    t_inquery = time.perf_counter() - t0

    print(
        json.dumps(
            {
                "sf_dir": SF,
                "t_build_save": round(t_build_save, 2),
                "t_probe_saved": round(t_probe_saved, 2),
                "t_inquery_reencode": round(t_inquery, 2),
                "per_night_speedup": round(t_inquery / t_probe_saved, 2),
            }
        )
    )


if __name__ == "__main__":
    main()
