"""Seed-keyed samples of the engine's test data, the benchmark's inputs.

``perfbench/data/`` holds a fixed 25% sample of the sf0.1 test tables
(TESTDATA.md): the dimension tables whole, the fact tables sampled by key.
Each run draws its inputs from it with ``draw(seed, fraction)``: a row is
kept when the md5 of ``"<seed>:<key>"`` falls below ``fraction``, so the
same seed always gives the same rows, and rows that belong together are
kept or dropped together:

  orders, lineitem  by order key, so every kept order keeps its lines
  events            by user, so every kept user keeps the whole stream
  documents         by the first six words of the text; in this corpus a
                    near-duplicate is its original with " dup" tokens
                    added or removed, so a near-duplicate group is kept
                    whole (on sf0.1 these keys give exactly the 233 groups
                    the d7 near-duplicate oracle finds)
  embeddings        by vector id

Rebuild the committed pool from a test-data directory with

    python3 perfbench/sample.py SF0.1_DIR
"""

from __future__ import annotations

import argparse
import hashlib
import os

import numpy as np
import pyarrow.parquet as pq

POOL_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
POOL_FRACTION = 0.25
POOL_SALT = "pool"
DIMENSIONS = ("region", "nation", "customer", "supplier", "part")
FACT_KEYS = {
    "orders": "o_orderkey",
    "lineitem": "l_orderkey",
    "events": "user_id",
    "documents": "text",
    "embeddings": "vec_id",
}


def family(text: str) -> str:
    """A document's near-duplicate family key: its first six words."""
    return " ".join(text.split()[:6])


def _keep(keys: list, salt: str, fraction: float) -> np.ndarray:
    cut = int(fraction * 2**32)
    verdict = {
        k: int(hashlib.md5(f"{salt}:{k}".encode()).hexdigest()[:8], 16) < cut
        for k in set(keys)
    }
    return np.array([verdict[k] for k in keys], dtype=bool)


def _sample_dir(src: str, dst: str, salt: str, fraction: float) -> dict[str, int]:
    os.makedirs(dst, exist_ok=True)
    counts = {}
    for name in (*DIMENSIONS, *FACT_KEYS):
        table = pq.read_table(os.path.join(src, f"{name}.parquet"))
        if name in FACT_KEYS:
            keys = table[FACT_KEYS[name]].to_pylist()
            if name == "documents":
                keys = [family(t) for t in keys]
            table = table.filter(_keep(keys, salt, fraction))
        pq.write_table(table, os.path.join(dst, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts


def draw(out_dir: str, seed: int, fraction: float, pool: str = POOL_DIR) -> dict[str, int]:
    """Write the seed's sample of the pool to ``out_dir/<table>.parquet``;
    returns the row count of each table."""
    return _sample_dir(pool, out_dir, str(seed), fraction)


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description="Rebuild the committed sample pool.")
    ap.add_argument("src", help="directory of the sf0.1 test tables")
    a = ap.parse_args()
    print(_sample_dir(a.src, POOL_DIR, POOL_SALT, POOL_FRACTION))
