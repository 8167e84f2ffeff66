"""Seeded benchmark inputs: a near-dup corpus, and the size of written logs.

Every input is a pure function of its seed; the engine only ever sees the
written parquet files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = np.array(["en", "zh", "es", "fr", "de"])
_LANG_P = np.array([0.41, 0.15, 0.15, 0.15, 0.14])


def write_corpus(out_dir: str, seed: int, n_docs: int, n_vecs: int, dim: int = 64) -> None:
    """Write documents.parquet and embeddings.parquet in the schema the
    contract queries of __spark_entry__.py read: word-salad documents of
    10-100 words where 5% are a copy of an earlier document plus one word,
    and unit embeddings where 5% are a noisy copy of another vector (cosine
    mostly above 0.45)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), n)))
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(_LANGS, n_docs, p=_LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))

    vecs = rng.standard_normal((n_vecs, dim))
    for i in range(1, n_vecs):
        if rng.random() < 0.05:
            j = int(rng.integers(0, i))
            vecs[i] = vecs[j] + rng.standard_normal(dim) * rng.uniform(0.3, 1.2)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(vecs.astype(np.float32)), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs).astype(np.int32)),
    })
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))
