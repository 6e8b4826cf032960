"""Benchmark inputs.

``fixture/sf0.1`` holds the repository's sf0.1 test tables as given:
the TPC-H-like star (``region`` … ``lineitem``), ``events``,
``documents`` (5,000) and ``embeddings`` (2,000). ``dashboard`` reads
it directly.

:func:`write_corpus` builds ``curation``'s corpus from it: ``k``
replicas of the fixture's ``documents`` and ``embeddings`` that keep the
fixture's near-duplicate density. Replica 0 is the fixture's own. Every
later replica appends a seeded suffix to each non-stopword token and
rotates every embedding by a seeded orthogonal matrix. Pairs inside a
replica keep their similarity exactly; pairs across replicas look like
unrelated documents. Near-duplicate pairs therefore grow linearly with
``k`` (a plain copy, or a copy with one shared marker token, puts every
document in a ``k``-way near-duplicate cluster and pairs grow as
``k``²). The other tables are linked from the fixture.

The same seed gives byte-identical tables.
"""

from __future__ import annotations

import os
import string

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixture", "sf0.1")
CORPUS_TABLES = ("documents", "embeddings")


def table_rows(data_dir: str) -> dict[str, int]:
    """Rows per parquet table in ``data_dir``, from the file footers."""
    return {
        name[: -len(".parquet")]: pq.ParquetFile(os.path.join(data_dir, name)).metadata.num_rows
        for name in sorted(os.listdir(data_dir))
        if name.endswith(".parquet")
    }


def replica_suffix(rng: np.random.Generator, k: int) -> list[str]:
    """``k`` distinct lowercase suffixes; replica 0 gets the empty one."""
    letters = np.array(list(string.ascii_lowercase))
    seen = {""}
    out = [""]
    while len(out) < k:
        s = "".join(rng.choice(letters, 3))
        if s not in seen:
            seen.add(s)
            out.append(s)
    return out


def retoken(text: str, suffix: str) -> str:
    """Append ``suffix`` to every token but the program's stopwords,
    which its quality gate and language heuristic count."""
    from gaming_ai_analytics_spark.functions.text import STOPWORDS

    if not suffix:
        return text
    return " ".join(t if t in STOPWORDS else t + suffix for t in text.split(" "))


def _replicate_documents(docs: pa.Table, suffixes: list[str], stride: int) -> pa.Table:
    text = [retoken(t, s) for s in suffixes for t in docs["text"].to_pylist()]
    ids = docs["doc_id"].to_numpy()
    return pa.table(
        {
            "doc_id": pa.array(np.concatenate([ids + r * stride for r in range(len(suffixes))])),
            "text": pa.array(text, pa.string()),
            "lang": pa.concat_arrays([docs["lang"].combine_chunks()] * len(suffixes)),
            "source": pa.concat_arrays([docs["source"].combine_chunks()] * len(suffixes)),
            "n_chars": pa.array([len(t) for t in text], pa.int64()),
        }
    )


def _replicate_embeddings(emb: pa.Table, rng: np.random.Generator, k: int, stride: int) -> pa.Table:
    x = np.stack(emb["embedding"].to_numpy(zero_copy_only=False)).astype(np.float32)
    dim = x.shape[1]
    blocks = [x]
    for _ in range(1, k):
        q, _ = np.linalg.qr(rng.standard_normal((dim, dim)))
        blocks.append((x.astype(np.float64) @ q).astype(np.float32))
    flat = pa.array(np.concatenate(blocks).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, len(flat) + 1, dim, dtype=np.int32))
    ids = emb["vec_id"].to_numpy()
    return pa.table(
        {
            "vec_id": pa.array(np.concatenate([ids + r * stride for r in range(k)])),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(np.tile(emb["label"].to_numpy(), k)),
        }
    )


def write_corpus(out_dir: str, seed: int, k: int, fixture: str = FIXTURE) -> dict:
    """Write ``k`` density-preserving replicas (see the module
    docstring) of ``fixture``'s ``documents`` and ``embeddings`` into
    ``out_dir`` and link its other tables there. Replica ``r`` holds the
    fixture's ids plus ``r * stride``."""
    os.makedirs(out_dir, exist_ok=True)
    for name in sorted(os.listdir(fixture)):
        if name.endswith(".parquet") and name[: -len(".parquet")] not in CORPUS_TABLES:
            os.symlink(os.path.join(fixture, name), os.path.join(out_dir, name))
    rng = np.random.default_rng(seed)
    suffixes = replica_suffix(rng, k)
    docs = pq.read_table(os.path.join(fixture, "documents.parquet"))
    emb = pq.read_table(os.path.join(fixture, "embeddings.parquet"))
    stride = int(max(docs["doc_id"].to_numpy().max(), emb["vec_id"].to_numpy().max())) + 1
    pq.write_table(
        _replicate_documents(docs, suffixes, stride), os.path.join(out_dir, "documents.parquet")
    )
    pq.write_table(
        _replicate_embeddings(emb, rng, k, stride), os.path.join(out_dir, "embeddings.parquet")
    )
    return {"documents": k * docs.num_rows, "embeddings": k * emb.num_rows, "stride": stride}
