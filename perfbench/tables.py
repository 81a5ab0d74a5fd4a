"""Seeded stand-ins for the engine's 0.1-scale input tables.

The engine reads ``<dir>/<table>.parquet`` (``sources.tables.load_table``)
and its oracles read the same files through DuckDB.  A run cannot rely
on the repository's test tables being present, so it writes its own
copies of the two tables its workloads read, from the seed, with the
row counts, schemas and distributions measured on the 0.1-scale test
tables:

``events`` (100,000 rows)
    ``ts``: uniform over the 30 days from 2024-01-01, microseconds,
    sorted, with ``event_id`` the row number in ``ts`` order (gaps are
    exponential, mean 25.9 s); ``user_id`` uniform in [0, 1500);
    ``event_type`` uniform over five types; ``value`` exponential with
    mean 50, rounded to cents; ``props`` ``{"k": N}`` with N uniform in
    [0, 100).
``documents`` (5,000 rows)
    ``text``: 10 to 100 words, uniform over a 30-word vocabulary; 5% of
    the documents are then replaced by a copy of one of the others with
    `` dup`` appended, the near-duplicates the dedup queries look for;
    ``lang`` en with p=0.41, de/es/fr/zh with 0.1475 each; ``source``
    ``src<doc_id % 20>``; ``n_chars`` the text length.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key"
    " line merge order part query row scan slow small sort spark stream"
    " table the value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.1475, 0.1475, 0.1475, 0.1475)
MONTH_US = 30 * 86400 * 1_000_000
BASE_US = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00Z
N_EVENTS, N_DOCS = 100_000, 5_000
DUP_SHARE = 0.05


def events(rng: np.random.Generator, n: int = N_EVENTS) -> pa.Table:
    ts = BASE_US + np.sort(rng.integers(0, MONTH_US, n))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n, dtype=np.int64)),
        "event_type": pa.array(
            np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)]
        ),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def documents(rng: np.random.Generator, n: int = N_DOCS) -> pa.Table:
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(VOCAB), int(k))])
             for k in rng.integers(10, 101, n)]
    copies = rng.choice(n, int(n * DUP_SHARE), replace=False)
    originals = rng.choice(np.setdiff1d(np.arange(n), copies), len(copies))
    for i, j in zip(copies, originals):
        texts[i] = texts[j] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def write_all(seed: int, out_dir: str) -> str:
    """Write ``events`` and ``documents`` for ``seed`` into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    for name, make in (("events", events), ("documents", documents)):
        pq.write_table(make(rng), os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
