"""Seeded inputs for the ``operator_suite`` workload.

The registered queries read one directory holding the engine's reference
table set: the TPC-H-shaped tables of ``gen_tpch`` plus

- ``documents``: short texts (10-99 tokens, uniform) drawn uniformly from
  the fixed 30-word vocabulary that the registered text and retrieval
  queries' terms come from, a rare extra token (``dup``), a few planted
  exact copies for the dedup queries, a language tag and 20 round-robin
  sources;
- ``embeddings``: isotropic unit-norm float32 vectors of ``DIM``
  dimensions with uniform class labels 0-9.

Row counts follow the reference data: 500 documents and 500 vectors at
sf0.001, scaling with ``sf``. Same ``sf`` and ``seed`` give byte-identical
parquet files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen_tpch

VOCAB = (
    "a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter", "group",
    "hash", "join", "key", "line", "merge", "order", "part", "query", "row", "scan",
    "slow", "small", "sort", "spark", "stream", "table", "the", "value", "vector", "window",
)
RARE = "dup"
LANGS = ("en", "fr", "es", "zh", "de")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
N_SOURCES = 20
DIM = 64
COPY_SHARE = 0.01


def documents(n_docs: int, seed: int) -> pa.Table:
    rng = np.random.default_rng([seed, 1])
    vocab = np.array(VOCAB, dtype=object)
    texts = []
    for _ in range(n_docs):
        toks = list(vocab[rng.integers(0, len(VOCAB), rng.integers(10, 100))])
        if rng.random() < 0.05:
            toks[rng.integers(0, len(toks))] = RARE
        texts.append(" ".join(toks))
    # exact copies of earlier documents, so dedup finds groups of two
    for i in rng.choice(np.arange(1, n_docs), max(1, round(n_docs * COPY_SHARE)), replace=False):
        texts[i] = texts[int(rng.integers(0, i))]
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(np.asarray(LANGS, dtype=object)[rng.choice(len(LANGS), n_docs, p=LANG_P)],
                         pa.string()),
        "source": pa.array([f"src{i % N_SOURCES}" for i in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(n_vecs: int, seed: int) -> pa.Table:
    rng = np.random.default_rng([seed, 2])
    v = rng.standard_normal((n_vecs, DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
    })


def write(out_dir: str, sf: float, seed: int) -> dict:
    """Write every table as ``<out_dir>/<name>.parquet``; returns row counts."""
    gen_tpch.write(out_dir, sf, seed)
    n = round(500_000 * sf)
    extra = {"documents": documents(n, seed), "embeddings": embeddings(n, seed)}
    for name, table in extra.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    rows = {name: pq.read_metadata(os.path.join(out_dir, f"{name}.parquet")).num_rows
            for name in (*gen_tpch.TABLES, *extra)}
    return {"rows": rows}
