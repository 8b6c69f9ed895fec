"""Seeded input generators for the benchmark (numpy + pyarrow only).

The generators deliberately use nothing from ``kats_spark``: a change to
the program can never change the workload it is measured on.  The same
``seed`` always writes byte-identical tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The sf-style corpus vocabulary: 30 common tokens; near-duplicates carry
# an extra "dup" token, like the reference test corpus.
VOCAB = np.array(
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast the row "
    "agg key query a scan batch".split()
)
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = np.array([0.41, 0.15, 0.15, 0.15, 0.14])
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in microseconds
HOUR_US = 3_600_000_000
DUP_OFFSET = 1000.0  # added to each duplicated panel point


def _write(table: pa.Table, path: str, row_group_size: int | None = None) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, row_group_size=row_group_size)


def panel(path: str, seed: int, n_series: int, n_points: int) -> int:
    """Healthy hourly panel: trend + daily seasonality + noise + one level
    shift per series, plus one duplicated timestamp per series (so
    ``dedup_timestamps`` has work).  Writes ``path`` and returns the row
    count of the deduplicated panel (n_series * n_points)."""
    rng = np.random.default_rng(seed)
    t = np.arange(n_points, dtype=np.float64)
    ids, times, values = [], [], []
    for i in range(n_series):
        level = rng.uniform(50.0, 150.0)
        slope = rng.uniform(-0.05, 0.05)
        amp = rng.uniform(2.0, 10.0)
        phase = rng.uniform(0.0, 2 * np.pi)
        shift_at = int(rng.integers(n_points // 3, 2 * n_points // 3))
        shift = rng.choice([-1.0, 1.0]) * rng.uniform(8.0, 20.0)
        y = (
            level
            + slope * t
            + amp * np.sin(2 * np.pi * t / 24.0 + phase)
            + rng.normal(0.0, 1.0, n_points)
            + np.where(t >= shift_at, shift, 0.0)
        )
        ts = T0_US + (np.arange(n_points, dtype=np.int64) * HOUR_US)
        dup = int(rng.integers(1, n_points - 1))
        # the duplicate carries a larger value, so keep="first" (smallest
        # value wins the tie) always keeps the original point
        ts = np.append(ts, ts[dup])
        y = np.append(y, y[dup] + DUP_OFFSET)
        ids.append(np.full(n_points + 1, f"s{i:05d}"))
        times.append(ts)
        values.append(np.round(y, 6))
    table = pa.table(
        {
            "series_id": pa.array(np.concatenate(ids)),
            "time": pa.array(np.concatenate(times), pa.timestamp("us", tz="UTC")),
            "value": pa.array(np.concatenate(values)),
        }
    )
    _write(table, path, row_group_size=max(1, (n_series // 4)) * (n_points + 1))
    return n_series * n_points


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    out, pos = [], 0
    for k in lens:
        out.append(" ".join(VOCAB[words[pos : pos + k]]))
        pos += k
    return out


def documents(path: str, seed: int, n_docs: int, row_group_size: int | None = None) -> int:
    """Text corpus ``(doc_id, text, lang, source, n_chars)``: 94% fresh
    bag-of-words documents, 5% near-duplicates (an earlier document with
    one token replaced and " dup" appended) and 1% exact duplicates."""
    rng = np.random.default_rng(seed)
    texts = _texts(rng, n_docs)
    n_near, n_exact = n_docs // 20, n_docs // 100
    targets = rng.choice(np.arange(n_docs // 2, n_docs), n_near + n_exact, replace=False)
    sources = rng.integers(0, n_docs // 2, n_near + n_exact)
    for j, (dst, src) in enumerate(zip(targets, sources)):
        if j < n_near:
            toks = texts[src].split()
            toks[int(rng.integers(0, len(toks)))] = str(VOCAB[int(rng.integers(0, len(VOCAB)))])
            texts[dst] = " ".join(toks) + " dup"
        else:
            texts[dst] = texts[src]
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P)),
            "source": pa.array([f"src{k}" for k in np.arange(n_docs) % 20]),
            "n_chars": pa.array(np.array([len(x) for x in texts], dtype=np.int64)),
        }
    )
    _write(table, path, row_group_size=row_group_size)
    return n_docs


def embeddings(path: str, seed: int, n: int, dim: int = 64, n_labels: int = 10) -> int:
    """Unit-norm float32 embeddings clustered around one centroid per
    label: ``(vec_id, embedding, label)``."""
    rng = np.random.default_rng(seed)
    centers = rng.normal(0.0, 1.0, (n_labels, dim))
    labels = rng.integers(0, n_labels, n).astype(np.int32)
    x = centers[labels] + rng.normal(0.0, 1.5, (n, dim))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    table = pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
            "label": pa.array(labels),
        }
    )
    _write(table, path)
    return n


def events(path: str, seed: int, n: int, days: int = 30) -> int:
    """Event stream ``(event_id, ts, user_id, event_type, value, props)``
    spread uniformly over ``days`` days, time-sorted."""
    rng = np.random.default_rng(seed)
    ts = np.sort(rng.integers(0, days * 24 * HOUR_US, n)) + T0_US
    table = pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 1500, n).astype(np.int64)),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )
    _write(table, path)
    return n
