"""Seeded input tables for the benchmark.

The generated tables have the schemas and value distributions of the suite's
`events`, `documents` and `embeddings` tables (see FIXTURES.md): `events` is
time-ordered over 30 days of 2024 with five event types, `documents` are
word-salad texts over a 32-word vocabulary of which about 5% are exact or
near-duplicate copies of an earlier original document, and `embeddings` are unit
vectors drawn around ten label centroids. Row counts scale with `sf` as in
the suite's scale factors (sf0.1: 100,000 events, 5,000 documents, 2,000
embeddings). The same seed and scale give byte-identical parquet files.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
START_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC
SPAN_US = 30 * 86_400 * 1_000_000
VOCAB = np.array(
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch".split()
)
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EMBED_DIM = 64
ROWS_AT_SF1 = {"events": 1_000_000, "documents": 50_000, "embeddings": 20_000}
MAX_CHARS = 577


@dataclass
class Events:
    """The events table as numpy columns (the check replays read these)."""

    event_id: np.ndarray
    ts_us: np.ndarray
    user_id: np.ndarray
    event_type: np.ndarray
    value: np.ndarray
    props: np.ndarray

    def arrow(self, rows: slice = slice(None)) -> pa.Table:
        return pa.table(
            {
                "event_id": pa.array(self.event_id[rows], pa.int64()),
                "ts": pa.array(self.ts_us[rows], pa.timestamp("us")),
                "user_id": pa.array(self.user_id[rows], pa.int64()),
                "event_type": pa.array(self.event_type[rows], pa.string()),
                "value": pa.array(self.value[rows], pa.float64()),
                "props": pa.array(self.props[rows], pa.string()),
            }
        )


def make_events(seed: int, sf: float) -> Events:
    rng = np.random.default_rng([seed, 1])
    n = int(ROWS_AT_SF1["events"] * sf)
    n_users = max(int(15_000 * sf), 10)
    return Events(
        event_id=np.arange(n, dtype=np.int64),
        ts_us=np.sort(rng.integers(0, SPAN_US, n)) + START_US,
        user_id=rng.integers(0, n_users, n),
        event_type=EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)],
        value=np.round(rng.exponential(50.0, n), 2),
        props=np.char.add(
            np.char.add('{"k": ', rng.integers(0, 100, n).astype(str)), "}"
        ),
    )


def make_documents(seed: int, sf: float) -> pa.Table:
    rng = np.random.default_rng([seed, 2])
    n = int(ROWS_AT_SF1["documents"] * sf)
    texts: list[str] = []
    originals: list[int] = []
    for i in range(n):
        r = rng.random()
        # copies are made of originals only, so near-duplicate clusters are
        # stars whatever the seed, and connected components converge in the
        # same number of rounds
        if originals and r < 0.025:
            texts.append(texts[originals[rng.integers(0, len(originals))]])
        elif originals and r < 0.05:
            texts.append(texts[originals[rng.integers(0, len(originals))]] + " dup")
        else:
            words = VOCAB[rng.integers(0, len(VOCAB), rng.integers(8, 100))]
            texts.append(" ".join(words)[:MAX_CHARS].rstrip())
            originals.append(i)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(LANGS[rng.choice(len(LANGS), n, p=LANG_P)], pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def make_embeddings(seed: int, sf: float) -> pa.Table:
    rng = np.random.default_rng([seed, 3])
    n = int(ROWS_AT_SF1["embeddings"] * sf)
    centroids = rng.normal(size=(10, EMBED_DIM))
    label = rng.integers(0, 10, n)
    vecs = centroids[label] + rng.normal(scale=1.5, size=(n, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(label, pa.int32()),
        }
    )


def write_tables(out_dir: str, seed: int, sf: float, tables: tuple[str, ...]) -> Events:
    """Write the named tables as `<out_dir>/<name>.parquet`; return events."""
    os.makedirs(out_dir, exist_ok=True)
    events = make_events(seed, sf)
    makers = {
        "events": lambda: events.arrow(),
        "documents": lambda: make_documents(seed, sf),
        "embeddings": lambda: make_embeddings(seed, sf),
    }
    for name in tables:
        pq.write_table(makers[name](), os.path.join(out_dir, f"{name}.parquet"))
    return events


def write_event_parts(out_dir: str, events: Events, seed: int, n_parts: int) -> list[int]:
    """Split the time-ordered events at seeded cut points into `n_parts`
    parquet files with ascending mtimes, so a file-stream source with
    maxFilesPerTrigger=1 replays them in event-time order. Returns the
    first row index of every part plus the total row count."""
    rng = np.random.default_rng([seed, 4])
    n = len(events.event_id)
    # cut points jitter by up to a quarter of an even part
    even = np.linspace(0, n, n_parts + 1).astype(np.int64)
    jitter = rng.integers(-n // (4 * n_parts), n // (4 * n_parts) + 1, n_parts - 1)
    bounds = [0, *(even[1:-1] + jitter).tolist(), n]
    os.makedirs(out_dir, exist_ok=True)
    t0 = 1_700_000_000
    for i in range(n_parts):
        path = os.path.join(out_dir, f"part-{i:03d}.parquet")
        pq.write_table(events.arrow(slice(bounds[i], bounds[i + 1])), path)
        os.utime(path, (t0 + i * 10, t0 + i * 10))
    return bounds
