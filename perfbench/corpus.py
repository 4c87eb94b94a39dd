"""Seed-generated ``documents`` and ``embeddings`` tables.

The same shape as the repo's sf testdata: documents drawn from a
30-word vocabulary with a skewed language mix, about 5% near-duplicates
(an earlier document plus one word) and a few exact duplicates, so
dedup, decontamination and MinHash have work to do; embeddings are
64-d unit vectors with one of ten labels. Written as parquet, which is
what the registry queries read.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "de", "es", "fr")
LANG_P = (0.41, 0.15, 0.14, 0.15, 0.15)
DIM = 64


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        roll = rng.random()
        if i > 10 and roll < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and roll < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    langs = rng.choice(LANGS, size=n, p=LANG_P)
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(langs.tolist()),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    v = rng.standard_normal((n, DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def write(seed: int, out_dir: str, n_docs: int, n_vecs: int) -> None:
    """Write both tables under ``out_dir``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    docs, vecs = documents(rng, n_docs), embeddings(rng, n_vecs)
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
    pq.write_table(vecs, os.path.join(out_dir, "embeddings.parquet"))
