"""Seeded input generators. The same seed gives the same inputs; the engine
only ever sees what these functions produce.

Values are closed-form in (stream, point index) and carry two decimals, so
the checks can recompute any expected count, sum or nearest time without
asking the engine.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from perfbench.common import SEC, T0


def stream_ids(seed: int, n: int) -> list:
    return [f"{seed & 0xFFFFFFFF:08x}-bench-4000-8000-{k:012x}" for k in range(n)]


def values(a: int, b: int, idx: np.ndarray) -> np.ndarray:
    """Two-decimal values in [0, 1000): (a*i + b) mod 100000 hundredths."""
    return ((a * idx + b) % 100_000) / 100.0


# ----------------------------------------------------------------- serve --


@dataclass
class ServeData:
    """64 streams of `n` points at 1 s spacing. Version 1 is the base (the
    first n - 8*fresh points of every stream), compacted; versions 2..9
    each append `fresh` points per stream and stay uncompacted; versions
    10..12 are range tombstones on three streams."""

    seed: int
    n_streams: int = 64
    n: int = 15_625
    fresh: int = 125
    uuids: list = field(default_factory=list)
    a: np.ndarray = None
    b: np.ndarray = None
    deletes: list = field(default_factory=list)  # (stream index, lo, hi) in point indices

    def __post_init__(self):
        rng = np.random.default_rng(self.seed)
        self.uuids = stream_ids(self.seed, self.n_streams)
        self.a = rng.integers(1, 997, self.n_streams)
        self.b = rng.integers(0, 100_000, self.n_streams)
        base = self.n_base
        for k in rng.choice(self.n_streams, 3, replace=False):
            span = int(rng.integers(base // 80, base // 8))
            lo = int(rng.integers(0, base - span))
            self.deletes.append((int(k), lo, lo + span))

    @property
    def n_base(self) -> int:
        return self.n - 8 * self.fresh

    def collection(self, k: int) -> str:
        return f"bench/site{k % 4}"

    def frame(self, lo: int, hi: int) -> pd.DataFrame:
        idx = np.arange(lo, hi)
        return pd.DataFrame(
            {
                "uuid": np.repeat(self.uuids, len(idx)),
                "time": np.tile(T0 + idx * SEC, self.n_streams),
                "value": np.concatenate(
                    [values(int(a), int(b), idx) for a, b in zip(self.a, self.b)]
                ),
            }
        )

    def visible(self, k: int, version: int | None = None) -> tuple:
        """(time, value) arrays of stream k's visible points at `version`
        (None = latest)."""
        n = self.n if version is None or version >= 9 else self.n_base + (version - 1) * self.fresh
        idx = np.arange(n)
        for ks, lo, hi in self.deletes:
            if ks == k and (version is None or version >= self.delete_version(ks)):
                idx = idx[(idx < lo) | (idx >= hi)]
        return T0 + idx * SEC, values(int(self.a[k]), int(self.b[k]), idx)

    def time_range(self, lo: int, hi: int) -> tuple:
        return T0 + lo * SEC, T0 + hi * SEC

    def delete_version(self, k: int) -> int:
        for j, (ks, _lo, _hi) in enumerate(self.deletes):
            if ks == k:
                return 10 + j
        return 0

    def stream_version(self, k: int) -> int:
        return self.delete_version(k) or 9

    @property
    def live_points(self) -> int:
        return self.n_streams * self.n - sum(hi - lo for _k, lo, hi in self.deletes)


# ---------------------------------------------------------------- ingest --


@dataclass
class IngestData:
    """Slices of `per_stream` points for each of 64 streams. Slice j covers
    point indices [j*per_stream, (j+1)*per_stream) at 1 s spacing; every
    5th slice (j % 5 == 4) is late: it lands half a second after points of
    an already-ingested slice instead."""

    seed: int
    n_streams: int = 64
    per_stream: int = 500
    uuids: list = field(default_factory=list)

    def __post_init__(self):
        rng = np.random.default_rng(self.seed + 1)
        self.uuids = stream_ids(self.seed, self.n_streams)
        self.a = rng.integers(1, 997, self.n_streams)
        self.b = rng.integers(0, 100_000, self.n_streams)

    def is_late(self, j: int) -> bool:
        return j % 5 == 4

    def slice_times(self, j: int) -> np.ndarray:
        """Point times (ns) of slice j, the same for every stream."""
        p = self.per_stream
        if self.is_late(j):
            # A seeded earlier on-time slice, shifted by half a second.
            earlier = [i for i in range(j) if not self.is_late(i)]
            src = earlier[(self.seed * 7919 + j * 104729) % len(earlier)]
            idx = np.arange(src * p, (src + 1) * p)
            return T0 + idx * SEC + SEC // 2
        idx = np.arange(j * p, (j + 1) * p)
        return T0 + idx * SEC

    def frame(self, j: int) -> pd.DataFrame:
        t = self.slice_times(j)
        idx = (t - T0) // SEC + j  # a different value walk per slice
        return pd.DataFrame(
            {
                "uuid": np.repeat(self.uuids, len(t)),
                "time": np.tile(t, self.n_streams),
                "value": np.concatenate(
                    [values(int(a), int(b), idx) for a, b in zip(self.a, self.b)]
                ),
            }
        )

    def delete_range(self, j: int) -> tuple:
        """(stream index, start ns, end ns) for the delete after slice j:
        a seeded 300 s window inside an on-time slice ingested so far."""
        h = (self.seed * 2654435761 + j * 40503) & 0xFFFFFFFF
        on_time = [i for i in range(j + 1) if not self.is_late(i)]
        src = on_time[(h >> 8) % len(on_time)]
        lo = src * self.per_stream + (h >> 16) % max(1, self.per_stream - 300)
        return h % self.n_streams, T0 + lo * SEC, T0 + (lo + 300) * SEC


# ------------------------------------------------------------- analytics --

VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key"
    " line merge order part query row scan slow small sort spark stream table"
    " the value vector window"
).split()


def write_analytics_tables(out_dir: str, seed: int, n_events: int = 10_000) -> None:
    """events, documents and embeddings parquet in the layout of the repo's
    testdata tables (same columns, types and value domains), sized by
    `n_events`: n/20 documents and n/50 64-d embeddings."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed + 2)
    os.makedirs(out_dir, exist_ok=True)
    jan1_us = T0 // 1000
    ts = np.sort(rng.integers(jan1_us, jan1_us + 30 * 86_400 * 10**6, n_events))
    events = pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(2, n_events // 66), n_events), pa.int64()),
        "event_type": pa.array(
            np.array(["click", "error", "purchase", "signup", "view"])[rng.integers(0, 5, n_events)]
        ),
        "value": pa.array(np.round(rng.exponential(50.0, n_events), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    })
    pq.write_table(events, os.path.join(out_dir, "events.parquet"))

    n_docs = max(20, n_events // 20)
    texts = [
        " ".join(np.array(VOCAB)[rng.integers(0, len(VOCAB), rng.integers(10, 101))])
        for _ in range(n_docs)
    ]
    langs = np.array(["en", "en", "en", "en", "en", "en", "en", "en",
                      "zh", "zh", "zh", "es", "es", "es", "fr", "fr", "fr", "de", "de", "de"])
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(langs[rng.integers(0, len(langs), n_docs)]),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))

    n_vec = max(20, n_events // 50)
    centers = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, n_vec)
    vecs = centers[labels] + 0.5 * rng.normal(size=(n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))
