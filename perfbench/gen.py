"""Seeded benchmark inputs: the corpus tables each workload reads and the
search_serve request pool.

Everything here is a pure function of (workload, seed). Inputs are written
once per seed under the checkout's `.perfbench/cache/` and reused by later
runs with the same seed; they are benchmark inputs, not program state, and
their generation is never part of a timed phase.

The corpus has the schema of the engine's `documents` and `embeddings`
tables (TESTDATA.md): 64-d float embeddings with a 10-way `label`, and
documents drawn from the same 30-word vocabulary with five languages and
twenty sources.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("en", "es", "zh", "de", "fr")
LANG_P = (0.41, 0.15, 0.15, 0.14, 0.15)
N_SOURCES = 20
DIM = 64
PANEL_OBJECTS = ("car", "person", "dog", "red", "blue", "green")

# (embeddings rows, documents rows, near-duplicate share of documents)
SIZES = {
    "search_serve": (2000, 2000, 0.0),
    "curate_batch": (600, 600, 0.25),
}
# distinct requests per endpoint in the search_serve pool
POOL_PER_ENDPOINT = 3


def _dup_slots(rng: np.random.Generator, n: int, dup_rate: float) -> np.ndarray:
    """Which of `n` rows copy an earlier row: exactly round(dup_rate * n)
    of the rows after the first eleven, so every seed gives the same
    amount of duplicate work and only which rows are copies changes."""
    slots = np.zeros(n, dtype=bool)
    slots[rng.choice(np.arange(11, n), size=round(dup_rate * n), replace=False)] = True
    return slots


def _texts(rng: np.random.Generator, n: int, dup_rate: float) -> list[str]:
    """`n` documents of 8-100 vocabulary words. A `dup_rate` share of
    them copies an earlier document: every other copy verbatim, the rest
    with ~5% of the words replaced (near duplicates for the MinHash and
    exact passes)."""
    out: list[str] = []
    copies = 0
    for i, dup in enumerate(_dup_slots(rng, n, dup_rate)):
        if dup:
            words = out[int(rng.integers(0, i))].split(" ")
            copies += 1
            if copies % 2:
                for j in rng.choice(len(words), size=max(1, len(words) // 20), replace=False):
                    words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            out.append(" ".join(words))
            continue
        length = int(rng.integers(8, 101))
        out.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), size=length)))
    return out


def _embeddings(rng: np.random.Generator, n: int, dup_rate: float) -> np.ndarray:
    """Gaussian 64-d vectors (sd 0.125, like the TESTDATA.md corpora); a
    `dup_rate` share are a jittered copy of an earlier vector."""
    vecs = rng.normal(0.0, 0.125, size=(n, DIM)).astype(np.float32)
    for i in np.flatnonzero(_dup_slots(rng, n, dup_rate)):
        src = int(rng.integers(0, i))
        vecs[i] = vecs[src] + rng.normal(0.0, 1e-3, size=DIM).astype(np.float32)
    return vecs


def write_corpus(sf_dir: str, seed: int, n_emb: int, n_docs: int, dup_rate: float) -> None:
    rng = np.random.default_rng(seed)
    vecs = _embeddings(rng, n_emb, dup_rate)
    emb = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, size=n_emb).astype(np.int32)),
        }
    )
    texts = _texts(rng, n_docs, dup_rate)
    langs = rng.choice(len(LANGS), size=n_docs, p=LANG_P)
    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array([LANGS[j] for j in langs]),
            "source": pa.array([f"src{i % N_SOURCES}" for i in range(n_docs)]),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(emb, os.path.join(sf_dir, "embeddings.parquet"))
    pq.write_table(docs, os.path.join(sf_dir, "documents.parquet"))


def _words(rng: np.random.Generator, lo: int, hi: int) -> str:
    return " ".join(VOCAB[j] for j in rng.choice(len(VOCAB), size=int(rng.integers(lo, hi + 1)), replace=False))


def _box(rng: np.random.Generator) -> dict:
    x, y = (float(v) for v in np.round(rng.uniform(0.0, 0.5, size=2), 2))
    w, h = (float(v) for v in np.round(rng.uniform(0.2, 0.45, size=2), 2))
    return {"xTop": x, "yTop": y, "xBottom": round(x + w, 2), "yBottom": round(y + h, 2)}


def request_pool(seed: int, n_emb: int) -> dict[str, list[dict]]:
    """POOL_PER_ENDPOINT requests per endpoint. Every request of an
    endpoint has the same shape (word counts, vote counts, panel
    objects), so the seed changes what is asked, not how much."""
    rng = np.random.default_rng(seed + 7919)
    pool: dict[str, list[dict]] = {e: [] for e in ("text", "image", "panel", "diverse", "feedback")}
    for _ in range(POOL_PER_ENDPOINT):
        pool["text"].append({"text": _words(rng, 3, 4)})
        pool["image"].append({"vec_id": int(rng.integers(0, n_emb))})
        pool["panel"].append(
            {
                "panel": {
                    "dragObject": [
                        {"type": PANEL_OBJECTS[int(j)], "position": _box(rng)}
                        for j in rng.choice(len(PANEL_OBJECTS), size=2, replace=False)
                    ],
                    "tags": _words(rng, 3, 3).split(" "),
                    "amount": ", ".join(_words(rng, 2, 2).split(" ")),
                }
            }
        )
        pool["diverse"].append({"text": _words(rng, 3, 4)})
        ids = [int(v) for v in rng.choice(n_emb, size=3, replace=False)]
        pool["feedback"].append({"text": _words(rng, 3, 4), "pos": ids[:2], "neg": ids[2:]})
    return pool


def inputs(cache_root: str, workload: str, seed: int) -> tuple[str, dict | None]:
    """(corpus dir, request pool or None) for this workload and seed,
    generated on first use. A finished cache entry carries a `done`
    marker, so a run killed mid-write regenerates it."""
    n_emb, n_docs, dup_rate = SIZES[workload]
    base = os.path.join(cache_root, f"{workload}-s{seed}")
    sf_dir = os.path.join(base, "sf")
    marker = os.path.join(base, "done")
    if not os.path.exists(marker):
        write_corpus(sf_dir, seed, n_emb, n_docs, dup_rate)
        pool = request_pool(seed, n_emb) if workload == "search_serve" else None
        with open(os.path.join(base, "requests.json"), "w") as fh:
            json.dump(pool, fh)
        open(marker, "w").close()
    with open(os.path.join(base, "requests.json")) as fh:
        return sf_dir, json.load(fh)
