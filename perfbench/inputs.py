"""Seeded benchmark inputs.

Everything here is a pure function of the run seed, written fresh into the
run's own work directory, so no input survives between invocations.

- ``write_tables``: an sf0.1-shaped ``events`` / ``documents`` /
  ``embeddings`` parquet set (same schemas and value distributions as the
  driver's sf0.1 tier: 100k events over 1500 users and 30 days, 5000
  documents, 2000 unit 64-d embeddings), of which a seed-chosen subset of
  users, documents and vectors is kept.
- ``image_offset``: the seed-derived first index of the image+caption
  table (the rows themselves come from ``data.images.make_image_row`` at
  the representative ``IMAGE_DIMS``).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

N_EVENTS = 100_000
N_USERS = 1500
N_DOCS = 5000
N_VECS = 2000
EVENT_TYPES = np.array(["signup", "purchase", "view", "click", "error"])
VOCAB = np.array(
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch".split()
)
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = np.array([0.41, 0.15, 0.15, 0.15, 0.14])

# representative image sizes (hundreds of KB decoded), as the bench tiers use
IMAGE_DIMS = [(256, 192), (192, 256), (224, 160)]


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def _events(seed: int) -> pd.DataFrame:
    r = _rng(seed, 1)
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86400 * 1_000_000
    ts = t0 + np.sort(r.integers(0, span_us, N_EVENTS)).astype("timedelta64[us]")
    return pd.DataFrame({
        "event_id": np.arange(N_EVENTS, dtype=np.int64),
        "ts": ts,
        "user_id": r.integers(0, N_USERS, N_EVENTS).astype(np.int64),
        "event_type": EVENT_TYPES[r.integers(0, 5, N_EVENTS)],
        "value": np.round(np.minimum(r.exponential(50.0, N_EVENTS), 560.0), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, N_EVENTS)],
    })


def _documents(seed: int) -> pd.DataFrame:
    r = _rng(seed, 2)
    lens = r.integers(7, 100, N_DOCS)
    words = VOCAB[r.integers(0, len(VOCAB), int(lens.sum()))]
    cuts = np.cumsum(lens)[:-1]
    texts = [" ".join(w) for w in np.split(words, cuts)]
    # a few exact duplicates, as in the driver's corpus
    for i in r.choice(np.arange(1, N_DOCS), 8, replace=False):
        texts[i] = texts[i - 1]
    return pd.DataFrame({
        "doc_id": np.arange(N_DOCS, dtype=np.int64),
        "text": texts,
        "lang": LANGS[r.choice(5, N_DOCS, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(seed: int) -> pa.Table:
    r = _rng(seed, 3)
    x = r.standard_normal((N_VECS, 64))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(N_VECS, dtype=np.int64)),
        "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, N_VECS).astype(np.int32)),
    })


def write_tables(seed: int, out_dir: str, user_frac: float, doc_frac: float) -> dict:
    """Write the seed's sf0.1-shaped tables, keeping a seed-chosen
    ``user_frac`` of users (with all their events) and ``doc_frac`` of the
    documents and vectors. Each table is one single-file parquet, as the
    queries' streaming sources expect. Returns the row counts."""
    os.makedirs(out_dir, exist_ok=True)
    r = _rng(seed, 4)
    ev = _events(seed)
    users = r.choice(N_USERS, int(N_USERS * user_frac), replace=False)
    ev = ev[ev.user_id.isin(users)].reset_index(drop=True)
    docs = _documents(seed)
    keep_docs = np.sort(r.choice(N_DOCS, int(N_DOCS * doc_frac), replace=False))
    docs = docs.iloc[keep_docs].reset_index(drop=True)
    emb = _embeddings(seed)
    keep_vecs = np.sort(r.choice(N_VECS, int(N_VECS * doc_frac), replace=False))
    emb = emb.take(pa.array(keep_vecs))
    pq.write_table(pa.Table.from_pandas(ev, preserve_index=False),
                   os.path.join(out_dir, "events.parquet"))
    pq.write_table(pa.Table.from_pandas(docs, preserve_index=False),
                   os.path.join(out_dir, "documents.parquet"))
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))
    return {"events": len(ev), "users": len(users), "documents": len(docs),
            "embeddings": emb.num_rows}


def image_offset(seed: int) -> int:
    """Seed-derived first image index (the table covers [offset, offset+n))."""
    return int(_rng(seed, 5).integers(0, 1_000_000)) * 3
