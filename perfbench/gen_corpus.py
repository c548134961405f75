"""Seeded Zipf corpus for the ``index_lifecycle`` workload.

Documents draw tokens from a Zipf(``ZIPF_S``) law over a ``VOCAB``-term
vocabulary, with lognormal lengths; ``LONG_SHARE`` of them are 4-10k
tokens long (lengths spread evenly over that range). Those long documents carry thousands of distinct terms each,
which is what the per-document term-frequency fold at ingest scales with.
Same arguments give byte-identical output.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = 50_000
ZIPF_S = 1.07
LONG_SHARE = 0.005
LONG_TOKENS = (4_000, 10_000)


def term(rank: int) -> str:
    """The vocabulary's term of popularity rank ``rank`` (0 = most common)."""
    return f"t{rank:05d}"


def documents(n_docs: int, seed: int) -> pa.Table:
    """``doc_id`` / ``text`` rows; text is space-joined lower-case terms."""
    rng = np.random.default_rng(seed)
    p = 1.0 / np.arange(1, VOCAB + 1) ** ZIPF_S
    p /= p.sum()
    lens = np.clip(rng.lognormal(3.6, 0.7, n_docs).astype(np.int64), 3, 600)
    n_long = max(1, round(n_docs * LONG_SHARE))
    # long-document lengths are spread evenly over the range, not drawn,
    # so the ingest fold's cost does not swing with the seed
    lens[rng.choice(n_docs, n_long, replace=False)] = np.linspace(
        *LONG_TOKENS, n_long + 2)[1:-1].astype(np.int64)
    vocab = np.array([term(r) for r in range(VOCAB)], dtype=object)
    toks = vocab[rng.choice(VOCAB, int(lens.sum()), p=p)]
    off = np.concatenate([[0], np.cumsum(lens)])
    texts = [" ".join(toks[off[i]: off[i + 1]]) for i in range(n_docs)]
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
    })


def query_terms(seed: int, n_queries: int = 4) -> tuple[tuple[str, str], ...]:
    """(query_id, term) pairs; each query mixes head terms (rank < 50) with
    tail terms (rank 2k-20k), so serves touch both dense and sparse
    posting lists."""
    rng = np.random.default_rng(seed + 1)
    out = []
    for q in range(n_queries):
        for r in rng.choice(50, 2, replace=False):
            out.append((f"q{q}", term(int(r))))
        for r in rng.choice(np.arange(2_000, 20_000), 2, replace=False):
            out.append((f"q{q}", term(int(r))))
    return tuple(out)


def write(path: str, n_docs: int, seed: int) -> dict:
    """Write the corpus as one parquet file; returns its size summary."""
    table = documents(n_docs, seed)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    lens = np.array([len(t.split()) for t in table.column("text").to_pylist()])
    return {
        "docs": n_docs,
        "tokens": int(lens.sum()),
        "long_docs": int((lens >= LONG_TOKENS[0]).sum()),
        "text_bytes": int(sum(len(t) for t in table.column("text").to_pylist())),
    }
