"""Seeded corpus for the ``corpus_dedup`` workload.

Writes ``documents.parquet`` and ``embeddings.parquet`` with the same
schemas and shape as the query suite's reference tables: documents are
random word strings over a small vocabulary, one in twenty a near
duplicate (an earlier document plus one appended word, so shingle jaccard
stays above 0.8) and one in two hundred an exact duplicate; embeddings are
unit vectors drawn around a few weak cluster centres.  Everything random
derives from the seed.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key "
    "query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
N_SOURCES = 20
DIM = 64
N_LABELS = 10


def make_documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    """Word strings whose lengths, duplicate positions and language counts
    depend only on ``n``; the seed picks the words and the language order.
    The work the dedup queries do (pair counts, cluster shapes, rounds of
    the connected-components loop) then changes little from seed to seed."""
    texts: list[str] = []
    for i in range(n):
        if i % 200 == 199:
            texts.append(texts[i - 7])  # exact duplicate
        elif i % 20 == 19:
            # near duplicate of one of the five documents before it
            texts.append(texts[i - 1 - (i // 20) % 5] + " dup")
        else:
            words = rng.integers(0, len(VOCAB), 10 + (i * 37) % 91)
            texts.append(" ".join(VOCAB[w] for w in words))
    counts = np.floor(np.array(LANG_P) * n).astype(int)
    counts[0] += n - counts.sum()
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.permutation(np.repeat(LANGS, counts)),
            "source": [f"src{i % N_SOURCES}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def make_embeddings(rng: np.random.Generator, n: int) -> pd.DataFrame:
    """Unit vectors around ``N_LABELS`` random centres, with every label
    used equally often (the seed picks the order)."""
    centres = rng.normal(size=(N_LABELS, DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    labels = rng.permutation(np.arange(n) % N_LABELS).astype(np.int32)
    vecs = 0.5 * centres[labels] + rng.normal(size=(n, DIM)) / np.sqrt(DIM)
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": list(vecs),
            "label": labels,
        }
    )


def write_corpus(out_dir: str, seed: int, n_docs: int, n_vecs: int) -> None:
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    docs = make_documents(rng, n_docs)
    emb = make_embeddings(rng, n_vecs)
    pq.write_table(
        pa.Table.from_pandas(docs, preserve_index=False),
        os.path.join(out_dir, "documents.parquet"),
    )
    emb_schema = pa.schema(
        [
            ("vec_id", pa.int64()),
            ("embedding", pa.list_(pa.float32())),
            ("label", pa.int32()),
        ]
    )
    pq.write_table(
        pa.Table.from_pandas(emb, schema=emb_schema, preserve_index=False),
        os.path.join(out_dir, "embeddings.parquet"),
    )
