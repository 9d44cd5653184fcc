"""Seeded input generators. Every table and stream backlog a workload reads
is made here from ``--seed`` alone, with the column names and value
domains of the repository's synthetic test tables (TESTDATA.md), so the
library sees only these generated files. Table content comes from a
fixed generator seed, so every run does the same logical work; the run's
``--seed`` sets row order, file split and stream cut points."""

from __future__ import annotations

import os
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "scan column window order sort part agg value line key join merge group "
    "query a vector hash slow stream filter fast the batch spark table small "
    "data big customer row"
).split()
LANGS = ("en", "de", "fr", "es", "zh")
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
EPOCH_2024_US = int(datetime(2024, 1, 1, tzinfo=timezone.utc).timestamp() * 1_000_000)
DAY_US = 86_400 * 1_000_000


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def documents(rng: np.random.Generator, n: int, dup_rate: float = 0.06) -> pa.Table:
    """``documents(doc_id, text, lang, source, n_chars)``: random texts over
    a 30-word vocabulary; about ``dup_rate`` of them are near-copies of an
    earlier document (one or two words replaced, ``dup`` appended), so
    near-duplicate clusters, chains included, exist at every seed."""
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and rng.random() < dup_rate:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 3))):
                words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(words + ["dup"]))
        else:
            k = int(rng.integers(8, 90))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype="int64")),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[j] for j in rng.integers(0, len(LANGS), n)]),
        "source": pa.array([f"src{j}" for j in rng.integers(0, 20, n)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def embeddings(rng: np.random.Generator, n: int, dim: int = 64, labels: int = 10) -> pa.Table:
    """``embeddings(vec_id, embedding, label)``: unit vectors around
    ``labels`` random centres."""
    centres = rng.normal(size=(labels, dim))
    lab = rng.integers(0, labels, n)
    v = centres[lab] + 0.35 * rng.normal(size=(n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype("float32")
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype="int64")),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(lab.astype("int32")),
    })


def events(rng: np.random.Generator, n: int, users: int = 150) -> pa.Table:
    """``events(event_id, ts, user_id, event_type, value, props)`` over 30
    days of 2024, with distinct timestamps; ``event_id`` follows ts."""
    us = np.sort(rng.choice(30 * DAY_US, size=n, replace=False)) + EPOCH_2024_US
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype="int64")),
        "ts": _ts(us),
        "user_id": pa.array(rng.integers(0, users, n).astype("int64")),
        "event_type": pa.array([EVENT_TYPES[j] for j in rng.integers(0, len(EVENT_TYPES), n)]),
        "value": pa.array(np.round(rng.uniform(0, 20, n), 2)),
        "props": pa.array([f'{{"k": {j}}}' for j in rng.integers(0, 100, n)]),
    })


def shuffled(table: pa.Table, rng: np.random.Generator) -> pa.Table:
    """The same rows in a seeded random order."""
    return table.take(pa.array(rng.permutation(table.num_rows)))


def cut_points(rng: np.random.Generator, n: int, files: int) -> list[int]:
    """``files + 1`` boundaries splitting ``n`` rows into non-empty runs
    whose sizes vary between 0.8 and 1.2 of the mean; a micro-batch's
    latency follows its size, so a wider range would turn the seed into
    latency spread."""
    sizes = rng.uniform(0.8, 1.2, files)
    bounds = np.round(np.cumsum(sizes) / sizes.sum() * n).astype(int)
    bounds = np.maximum.accumulate(np.maximum(bounds, np.arange(1, files + 1)))
    bounds[-1] = n
    return [0, *bounds.tolist()]


def land_files(table: pa.Table, out_dir: str, bounds: list[int]) -> None:
    """Write ``table[bounds[i]:bounds[i+1]]`` as ``part-<i>.parquet``, one
    file per backlog step."""
    os.makedirs(out_dir, exist_ok=True)
    for i in range(len(bounds) - 1):
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]),
                       os.path.join(out_dir, f"part-{i:04d}.parquet"))


def land_tables(tables: dict[str, pa.Table], sf_dir: str) -> None:
    for name, t in tables.items():
        _write(t, os.path.join(sf_dir, f"{name}.parquet"))
