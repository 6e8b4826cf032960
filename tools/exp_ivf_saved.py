"""IVF train-once/probe-nightly decomposition (r13, VERDICT r12 ask #5).

The claim behind ``similarity_topk_ivf_saved`` (queries_llm.py): the
k-means fit + corpus cell assignment is the expensive part of IVF ANN
serving, and the persisted cell-bucketed index reduces each nightly
probe batch to map-only routing over the literal centroids plus the
cell-pruned exact scan — the corpus never re-clusters at probe time.
Measured on the embeddings fixture:

- ``t_build_save``: k-means fit + full-corpus cell assignment + the
  bucketed index/centroid/meta writes (paid once per index release);
- ``t_probe_saved``: answer ONE probe batch from the saved index via
  ``topk_similar_ivf_saved`` (the recurring nightly cost);
- ``t_retrain``: the same probe batch through ``topk_similar_ivf`` —
  the in-memory shape that re-fits the quantizer per invocation.

The saved-probe path is timed BEFORE the retrain pass in the same JVM
so warm-up bias favors the side we argue against.  Answer parity
between the two paths is asserted before timing.

Usage: python tools/exp_ivf_saved.py [sf_dir]
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
        build_ivf_index,
        load_ivf_index,
        save_ivf_index,
        topk_similar_ivf,
        topk_similar_ivf_saved,
    )
    from gaming_ai_analytics_spark.session import get_spark
    from gaming_ai_analytics_spark.sources.io import TableStore

    spark = get_spark("ivf-saved")
    emb = spark.read.parquet(os.path.join(SF, "embeddings.parquet"))
    probes = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )

    store = TableStore(spark, tempfile.mkdtemp(prefix="gaa_ivfexp_"))

    t0 = time.perf_counter()
    assigned, cents = build_ivf_index(emb)
    save_ivf_index(store, "idx", "emb_exp", assigned, cents)
    t_build_save = time.perf_counter() - t0

    # parity before timing
    a = sorted(
        tuple(r)
        for r in topk_similar_ivf_saved(
            load_ivf_index(spark, store, "idx", "emb_exp"),
            probes,
            k=5,
            n_probe=8,
        ).collect()
    )
    b = sorted(
        tuple(r)
        for r in topk_similar_ivf(emb, probes, k=5, n_probe=8).collect()
    )
    assert a == b, "saved-index probe diverged from the retrain path"

    t0 = time.perf_counter()
    topk_similar_ivf_saved(
        load_ivf_index(spark, store, "idx", "emb_exp"),
        probes,
        k=5,
        n_probe=8,
    ).collect()
    t_probe_saved = time.perf_counter() - t0

    t0 = time.perf_counter()
    topk_similar_ivf(emb, probes, k=5, n_probe=8).collect()
    t_retrain = time.perf_counter() - t0

    print(
        json.dumps(
            {
                "sf_dir": SF,
                "n_vectors": emb.count(),
                "t_build_save": round(t_build_save, 2),
                "t_probe_saved": round(t_probe_saved, 2),
                "t_retrain": round(t_retrain, 2),
                "nightly_speedup": round(t_retrain / t_probe_saved, 2),
            }
        )
    )


if __name__ == "__main__":
    main()
