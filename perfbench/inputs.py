"""Seeded benchmark inputs.

Batch tables have the schema and value distributions of the ``sf*``
test tables (``events``, ``documents``, ``embeddings``) the registry
queries read, so every query and its DuckDB oracle run on them unchanged. The stream
backlog is ``fixtures.make_transcripts`` output cut into parquet files
in arrival order.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
VOCAB = (
    "a the data spark stream batch window join group agg sort merge hash "
    "scan filter key value row column table part line order customer "
    "vector query fast slow big small"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def write_tables(out_dir: str, seed: int, n_events: int, n_docs: int, n_vecs: int) -> dict[str, int]:
    """Write ``events``/``documents``/``embeddings`` parquet files shaped
    like the ``sf*`` test tables (one user per ~67 events, 5% near-duplicate
    documents ending in " dup", 64-d unit embeddings in 10 labelled
    clusters). Returns the row count of each table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    start = np.datetime64(datetime(2024, 1, 1), "us")
    span_us = 30 * 86400 * 10**6
    ts = start + np.sort(rng.integers(0, span_us, n_events)).astype("timedelta64[us]")
    events = pa.table(
        {
            "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(1, n_events * 3 // 200), n_events)),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n_events)),
            "value": pa.array(np.round(rng.exponential(50.0, n_events), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
        }
    )
    pq.write_table(events, f"{out_dir}/events.parquet")

    texts: list[str] = []
    for i in range(n_docs):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 100)))))
    documents = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P)),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )
    pq.write_table(documents, f"{out_dir}/documents.parquet")

    labels = rng.integers(0, 10, n_vecs).astype(np.int32)
    centroids = rng.normal(0.0, 0.1, (10, 64))
    vecs = centroids[labels] + rng.normal(0.0, 1.0, (n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    embeddings = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(labels),
        }
    )
    pq.write_table(embeddings, f"{out_dir}/embeddings.parquet")
    return {"events": n_events, "documents": n_docs, "embeddings": n_vecs}


def stage_transcripts(out_dir: str, seed: int, n_convs: int, n_files: int) -> list[tuple[str, int]]:
    """Generate transcripts with ``fixtures.make_transcripts`` (5% hot
    conversations at 10x turns, 10% of rows up to 20 s out of order) and
    cut them into ``n_files`` parquet files of equal row count in arrival
    order. A row's arrival time is its event time plus, for a random 10%
    of rows, 1-20 s of delivery delay, so neighbouring files overlap by at
    most 20 s of event time: under the 1-minute watermark no row is late.
    Returns ``(path, rows)`` per file, in release order."""
    from gelly_streaming_spark.fixtures import make_transcripts

    t = make_transcripts(n_convs=n_convs, turns_per_conv=40, seed=seed)
    rng = np.random.default_rng(seed)
    delay = (rng.random(len(t)) < 0.1) * rng.integers(1, 21, len(t))
    arrival = t["ts"].astype("int64").to_numpy() // 10**9 + delay
    t = t.iloc[np.lexsort((t["turn_idx"].to_numpy(), t["conv_id"].to_numpy(), arrival))]
    os.makedirs(out_dir, exist_ok=True)
    schema = pa.schema(
        [
            ("conv_id", pa.string()),
            ("turn_idx", pa.int32()),
            ("role", pa.string()),
            ("text", pa.string()),
            ("tool", pa.string()),
            ("ts", pa.timestamp("us", tz="UTC")),
        ]
    )
    files = []
    for k, chunk in enumerate(np.array_split(np.arange(len(t)), n_files)):
        path = f"{out_dir}/f{k:03d}.parquet"
        pq.write_table(pa.Table.from_pandas(t.iloc[chunk], schema=schema, preserve_index=False), path)
        files.append((path, len(chunk)))
    return files
