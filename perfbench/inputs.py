"""Seeded input generator for the benchmark.

The inputs are seed-permuted copies of the sf0.1 fixture tables of
TESTDATA.md, vendored byte-for-byte under ``fixtures/sf0.1`` (the nine
tables other than lineitem; their SHA-256 sums are in NOTES.md). Each
table is written as one parquet file per table (the layout
``ParquetCatalog`` reads) with its rows in an order drawn from the
workload seed. Content is preserved, so row counts and every oracle
answer are the same for every seed; the same seed gives byte-identical
files. The fixtures themselves are only read.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "fixtures", "sf0.1")

# The nine non-lineitem tables of the fixture, in a fixed order: a
# table's position keys its permutation stream.
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "events", "documents", "embeddings")


def fixture_path(name: str) -> str:
    return os.path.join(FIXTURES, f"{name}.parquet")


def rows(name: str) -> int:
    return pq.read_metadata(fixture_path(name)).num_rows


def write_inputs(out_dir: str, seed: int, names, stream: int = 0) -> dict[str, str]:
    """Write ``<out_dir>/<name>.parquet`` for each table, rows permuted by
    ``(seed, stream)``; returns the paths by table name."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name in names:
        tbl = pq.read_table(fixture_path(name))
        rng = np.random.default_rng([seed, TABLES.index(name), stream])
        perm = rng.permutation(tbl.num_rows)
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl.take(pa.array(perm)), path, compression="snappy")
        paths[name] = path
    return paths
