"""Seeded input generators for the benchmark workloads.

Each workload's tables are written as single parquet files with the same
schemas and value domains as the contract test data (``events``,
``documents``), so every ``__spark_entry__.queries()``
builder and every ``oracle_sql()`` twin runs on them unchanged. The same
seed always yields byte-identical tables.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
VOCAB = (
    "the a key agg row scan slow fast table value part hash merge batch "
    "spark window order data column join small line customer query big "
    "vector sort stream group filter dup"
).split()

EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)
DOCUMENTS_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)


def _write(out_dir: str, name: str, df: pd.DataFrame, schema: pa.Schema) -> None:
    pq.write_table(
        pa.Table.from_pandas(df, schema=schema, preserve_index=False),
        os.path.join(out_dir, f"{name}.parquet"),
    )


def write_events(out_dir: str, seed: int, n_users: int, n_events: int) -> int:
    """``n_users`` × 5 event types series over 30 days; each series gets its
    own period, amplitude, trend and noise so the spectral operators see
    structure. Values are full-precision doubles: rounded inputs would make
    exact round-half ties (and so 1-ulp cross-engine flips) common."""
    rng = np.random.default_rng(seed)
    n_series = n_users * len(EVENT_TYPES)
    sid = rng.integers(0, n_series, n_events)
    users, types = sid // len(EVENT_TYPES), sid % len(EVENT_TYPES)
    secs = np.sort(rng.uniform(0, 30 * 86400, n_events))
    tdays = secs / 86400.0
    period = rng.uniform(0.5, 5.0, n_series)[sid]
    amp = rng.uniform(5.0, 50.0, n_series)[sid]
    vals = (
        50.0
        + amp * np.sin(2 * np.pi * tdays / period)
        + 0.5 * tdays
        + rng.normal(0.0, 3.0, n_events)
    )
    df = pd.DataFrame(
        {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": pd.Timestamp("2024-01-01")
            + pd.to_timedelta(np.round(secs * 1e6), unit="us"),
            "user_id": users.astype(np.int64),
            "event_type": np.asarray(EVENT_TYPES)[types],
            "value": vals,
            "props": [f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, n_events)],
        }
    )
    _write(out_dir, "events", df, EVENTS_SCHEMA)
    return n_events


def write_corpus(out_dir: str, seed: int, n_docs: int) -> int:
    """Word-stream documents with ~5% planted near-duplicates (one-token
    edits of an earlier document)."""
    rng = np.random.default_rng(seed)
    texts = [" ".join(rng.choice(VOCAB, int(rng.integers(15, 100)))) for _ in range(n_docs)]
    for i in range(20, n_docs, 20):
        toks = texts[i - 7].split()
        toks[int(rng.integers(0, len(toks)))] = str(rng.choice(VOCAB))
        texts[i] = " ".join(toks)
    docs = pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(["en", "de", "fr", "es", "zh"], n_docs),
            "source": [f"src{int(s)}" for s in rng.integers(0, 20, n_docs)],
            "n_chars": [len(t) for t in texts],
        }
    )
    _write(out_dir, "documents", docs, DOCUMENTS_SCHEMA)
    return n_docs
