"""Seeded benchmark inputs that are not produced by ``mhealth_spark.synth``.

Everything here is a pure function of its arguments: the same seed gives
byte-identical tables. The package's own generators (``synth_healthkit``,
``synth_tokens``) are used directly by the workloads; these fill the gaps
(the E1 request table and the documents/embeddings tables the pinned
registry queries read), so the benchmark needs no data outside its
checkout.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# the 31-word vocabulary of the fixed sf0.1 documents tables
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]


def requests_frame(
    n_requests: int, n_users: int, days: int, seed: int, epoch: dt.datetime
) -> pd.DataFrame:
    """E1 request table (``schema.REQUEST_SCHEMA``): random users, request
    times on whole hours after the first day, 168 h lookbacks."""
    rng = np.random.default_rng(seed)
    hours = rng.integers(24, days * 24, size=n_requests)
    return pd.DataFrame(
        {
            "request_id": np.arange(n_requests, dtype="int64"),
            "user_id": [f"u{u}" for u in rng.integers(0, n_users, n_requests)],
            "ts": [epoch + dt.timedelta(hours=int(h)) for h in hours],
            "lookback_hours": np.full(n_requests, 168.0),
        }
    )


def documents_table(n_docs: int, seed: int) -> pa.Table:
    """``documents`` with the sf0.1 table's shape: Zipf-ish words from
    ``VOCAB``, 10..99 words, 20 sources, 5 languages, and planted exact
    (every 50th doc) and one-word-edit (every 40th) duplicates so the
    dedup queries have clusters to find."""
    rng = np.random.default_rng(seed)
    texts: list[str] = []
    for i in range(n_docs):
        if i % 50 == 49:
            text = texts[-1]
        elif i % 40 == 39:
            words = texts[-1].split()
            words[int(rng.integers(len(words)))] = VOCAB[int(rng.integers(len(VOCAB)))]
            text = " ".join(words)
        else:
            n = int(rng.integers(10, 100))
            idx = (rng.random(n) ** 2 * len(VOCAB)).astype(int)
            text = " ".join(VOCAB[j] for j in idx)
        texts.append(text)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(
                [LANGS[j] for j in rng.integers(0, len(LANGS), n_docs)], pa.string()
            ),
            "source": pa.array(
                [f"src{j}" for j in rng.integers(0, 20, n_docs)], pa.string()
            ),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings_table(n: int, seed: int, dim: int = 64) -> pa.Table:
    """``embeddings``: random unit vectors in 10 labels, with a planted
    near-duplicate (cosine 0.55..0.97 to its predecessor) every 20th."""
    rng = np.random.default_rng(seed)
    vecs = rng.standard_normal((n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    for i in range(19, n, 20):
        c = rng.uniform(0.55, 0.97)
        noise = rng.standard_normal(dim)
        noise -= noise.dot(vecs[i - 1]) * vecs[i - 1]
        noise /= np.linalg.norm(noise)
        vecs[i] = c * vecs[i - 1] + np.sqrt(1.0 - c * c) * noise
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n).astype(np.int32), pa.int32()),
        }
    )


def write_registry_tables(sf_dir: str, seed: int, n_docs: int, n_vecs: int) -> str:
    """Write ``documents`` and ``embeddings`` parquet files into ``sf_dir``
    once (atomic rename of the directory) and return it."""
    if os.path.isdir(sf_dir):
        return sf_dir
    tmp = f"{sf_dir}.tmp-{os.getpid()}"
    os.makedirs(tmp)
    pq.write_table(documents_table(n_docs, seed), os.path.join(tmp, "documents.parquet"))
    pq.write_table(embeddings_table(n_vecs, seed), os.path.join(tmp, "embeddings.parquet"))
    os.rename(tmp, sf_dir)
    return sf_dir
