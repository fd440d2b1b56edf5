"""Seeded generator for the ``embeddings`` table the iterative rows read.

The column names, types and value distribution follow the repository's
``embeddings`` fixture table (FIXTURES.md): unit vectors of width 64 and a
label in 0..9.  So the registered queries and their DuckDB oracles run
unchanged.  The seed fixes every value and the row count is fixed, so two
seeds give the same amount of work over different values.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EMBED_DIM = 64


def embeddings(seed: int, n: int) -> pa.Table:
    """``n`` unit embeddings; equal arguments give equal tables."""
    rng = np.random.Generator(np.random.PCG64(seed))
    vecs = rng.standard_normal((n, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, (n + 1) * EMBED_DIM, EMBED_DIM, dtype=np.int32))
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": rng.integers(0, 10, n).astype(np.int32),
        }
    )


def write_embeddings(out_dir: str, seed: int, n: int) -> str:
    """Write ``<out_dir>/embeddings.parquet``; returns its path."""
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "embeddings.parquet")
    pq.write_table(embeddings(seed, n), path)
    return path
