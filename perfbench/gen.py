"""Seeded input generator.

Writes the three tables the benchmark's calls read, with the fixture
schemas, so every registry function runs unmodified on them:

- ``documents``: texts drawn from the fixture's 30-word vocabulary,
  10-99 words long, with its lang mix and ``src<doc_id % 20>``
  sources. A fixed share are near-duplicates (an earlier text plus
  " dup", which may itself be a near-duplicate, so clusters grow past
  pairs) and a fixed share are exact copies.
- ``embeddings``: unit-norm 64-d float vectors around ten cluster
  centres (label = cluster), with a fixed share of near-copies.
- ``events``: the kv input of the MapReduce tiers, with the fixture's
  value ranges.

Row counts are constants: the seed changes content, never size or
the duplicate shares, so runs on different seeds do the same amount
of work. The same seed gives byte-identical files.

Sizes. ``embeddings`` has the row count of the sf0.1 bench fixture
(2000). ``documents`` has 500 rows and ``events`` 2000, sf0.01 counts
(sf0.1 has 5000 and 100000), because of what a run may cost. The
benchmark is budgeted at about 70 s a run (48 runs in under an hour),
and each run sets up a fresh JVM (~7 s), pays its first pass, runs
untimed warm-up passes and then the timed ones, and computes the
DuckDB oracles of a new seed. Measured on a 4-core box at local[2],
warmed, wall time per call (executor CPU-s in brackets):

======================  ===============  ===============  ===============
documents               500              1500             5000 (sf0.1)
======================  ===============  ===============  ===============
dedup_clusters          2.6 s (0.75)     2.6 s (1.0)      5.0 s (3.0)
quality_gopher          1.2 s (0.59)     1.7 s (1.2)      5.3 s (4.6)
source_chunked_scan     1.1 s, 6 tasks   3.0 s, 16 tasks  7.4 s, 51 tasks
llm_dedup pass          4.8 s            5.6 s            11.7 s
dfs_mapreduce pass      3.5 s            5.4 s            10.4 s
dedup_clusters oracle   2.9 s            7.1 s            48 s
======================  ===============  ===============  ===============

Job counts do not change with size, nor do task counts outside
source_chunked_scan (dedup_clusters runs 30 jobs and 32 tasks at
each), and shuffles stay under 0.4 MB. The 48 s oracle is on the
sf0.1 fixture. At 1500
documents an llm_dedup run took 70 s with three warm-up passes; at
5000 the oracle alone takes 48 s. On 100000 events mr_reduce_pandas
took 0.7 s a call against 0.45 s on 2000. At 500, fixed per-job cost is most
of every pass: executor CPU is 29% of dedup_clusters' wall time
(60% at sf0.1), so the benchmark weighs per-job and driver overhead
more heavily than content-dependent join work.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_DOCS = 500
NEAR_DUP_DOCS = 50
EXACT_DUP_DOCS = 10
N_VECS = 2000
NEAR_DUP_VECS = 100
DIM = 64
N_LABELS = 10
N_EVENTS = 2000

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
EVENT_TYPES = ("signup", "click", "error", "view", "purchase")

SCHEMAS = {
    "documents": pa.schema([
        ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
        ("source", pa.string()), ("n_chars", pa.int64()),
    ]),
    "embeddings": pa.schema([
        ("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
        ("label", pa.int32()),
    ]),
    "events": pa.schema([
        ("event_id", pa.int64()), ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()), ("event_type", pa.string()),
        ("value", pa.float64()), ("props", pa.string()),
    ]),
}


def _documents(rng: np.random.Generator) -> dict:
    n_dup = NEAR_DUP_DOCS + EXACT_DUP_DOCS
    dup_at = rng.choice(np.arange(N_DOCS // 10, N_DOCS), size=n_dup, replace=False)
    exact = set(dup_at[:EXACT_DUP_DOCS].tolist())
    near = set(dup_at[EXACT_DUP_DOCS:].tolist())
    texts: list[str] = []
    for i in range(N_DOCS):
        if i in exact or i in near:
            text = texts[int(rng.integers(0, i))]
            texts.append(text if i in exact else text + " dup")
        else:
            words = rng.choice(len(VOCAB), size=int(rng.integers(10, 100)))
            texts.append(" ".join(VOCAB[w] for w in words))
    langs = rng.choice(len(LANGS), size=N_DOCS, p=LANG_P)
    return {
        "doc_id": np.arange(N_DOCS, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[k] for k in langs],
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng: np.random.Generator) -> dict:
    centres = rng.normal(size=(N_LABELS, DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    labels = rng.integers(0, N_LABELS, size=N_VECS).astype(np.int32)
    vecs = centres[labels] + rng.normal(scale=0.1, size=(N_VECS, DIM))
    copies = rng.choice(np.arange(1, N_VECS), size=NEAR_DUP_VECS, replace=False)
    for i in copies.tolist():
        j = int(rng.integers(0, i))
        vecs[i] = vecs[j] + rng.normal(scale=1e-3, size=DIM)
        labels[i] = labels[j]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": np.arange(N_VECS, dtype=np.int64),
        "embedding": [row for row in vecs],
        "label": labels,
    }


def _events(rng: np.random.Generator) -> dict:
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 86_400 * 1_000_000
    ts = np.sort(start + rng.integers(0, span, size=N_EVENTS))
    return {
        "event_id": np.arange(N_EVENTS, dtype=np.int64),
        "ts": ts.astype("datetime64[us]"),
        "user_id": rng.integers(0, 1500, size=N_EVENTS).astype(np.int64),
        "event_type": [EVENT_TYPES[k] for k in rng.integers(0, len(EVENT_TYPES), size=N_EVENTS)],
        "value": np.round(rng.gamma(2.0, 50.0, size=N_EVENTS), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=N_EVENTS)],
    }


_BUILDERS = {
    "documents": _documents,
    "embeddings": _embeddings,
    "events": _events,
}


def generate(seed: int, out_dir: str) -> None:
    """Write ``<table>.parquet`` for every table into ``out_dir``.

    Each table draws from its own stream spawned off ``seed``, so
    resizing one table leaves the others' content unchanged."""
    os.makedirs(out_dir, exist_ok=True)
    streams = np.random.SeedSequence(seed).spawn(len(_BUILDERS))
    for (name, build), stream in zip(_BUILDERS.items(), streams):
        cols = build(np.random.default_rng(stream))
        schema = SCHEMAS[name]
        table = pa.table(
            [pa.array(cols[f.name], type=f.type) for f in schema], schema=schema
        )
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), compression="snappy")
