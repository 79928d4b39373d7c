"""Seeded workload inputs, built from the pinned base tables in ``data/``.

The seed reorders every table's rows locally. The multiset of rows is the
same for every seed, so item outputs and timings compare across seeds while
the files differ.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
SHUFFLE_WINDOW = 64
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def _shuffled(table: pa.Table, rng: np.random.Generator) -> pa.Table:
    """Shuffle rows within consecutive windows of SHUFFLE_WINDOW rows: the
    files differ per seed, while each table keeps the key or time clustering
    it was written with, so order-sensitive work keeps its shape."""
    n = table.num_rows
    order = np.argsort(np.arange(n) // SHUFFLE_WINDOW + rng.random(n), kind="stable")
    return table.take(pa.array(order))


def write_base(sf: str, out: str, seed: int) -> str:
    """Write the pinned ``sf`` tables to ``out`` with seed-ordered rows."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, len(sf)])
    for name in TABLES:
        table = pq.read_table(os.path.join(DATA, f"tables_{sf}", f"{name}.parquet"))
        pq.write_table(_shuffled(table, rng), os.path.join(out, f"{name}.parquet"))
    return out
