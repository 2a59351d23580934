"""Seeded inputs. The program only ever sees what these functions write.

Products follow the shape of the project's sf0.1 ``documents`` table: a
30-word vocabulary and 10-100 tokens per document.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
]


def _text(rng: np.random.Generator, lo: int, hi: int) -> str:
    n = int(rng.integers(lo, hi + 1))
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n))


def products(seed: int, n: int) -> pd.DataFrame:
    """The RAG corpus: ``(product_id, content)``."""
    rng = np.random.default_rng([seed, 1])
    return pd.DataFrame({
        "product_id": np.arange(n, dtype=np.int64),
        "content": [_text(rng, 10, 100) for _ in range(n)],
    })


def questions(seed: int, n: int) -> pd.DataFrame:
    """User questions as they arrive on the topic: ``(role, content, sessionid)``."""
    rng = np.random.default_rng([seed, 2])
    return pd.DataFrame({
        "role": ["user"] * n,
        "content": [_text(rng, 4, 24) for _ in range(n)],
        "sessionid": [f"session-{seed}-{i}" for i in range(n)],
    })


def write_batches(frame: pd.DataFrame, out_dir: str, batch_of, batches) -> None:
    """Write the rows whose ``batch_of`` value is ``b`` to ``part-<b>.parquet``
    for each ``b`` in ``batches``: one file per micro-batch under
    ``maxFilesPerTrigger=1``, named so the file source lists them in order."""
    os.makedirs(out_dir, exist_ok=True)
    batch_of = np.asarray(batch_of)
    for b in batches:
        frame[batch_of == b].to_parquet(os.path.join(out_dir, f"part-{b:05d}.parquet"), index=False)
