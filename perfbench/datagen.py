"""Seeded inputs of the benchmark, taken from the repository's test tables.

perfbench/data/<sf>/ holds unchanged copies of the test tables the
workloads read (TESTDATA.md): at sf0.01 customer, nation, orders, part,
lineitem (60k rows) and documents (500); at sf0.1 documents (5,000).
For a seed, `ensure` writes every table of one scale with its rows in
an order the seed fixes. Values, types and row counts are the test
tables' own, so the DuckDB oracles hold on every seed, and one seed
always yields the same files.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow.parquet as pq

SOURCE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def ensure(root: str, seed: int, sf: str) -> str:
    """Directory holding the tables of scale `sf` in the row order of
    `seed`, written once and reused."""
    out = os.path.join(root, f"seed{seed}-{sf}")
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    tmp = out + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    src = os.path.join(SOURCE, sf)
    for name in sorted(os.listdir(src)):
        table = pq.read_table(os.path.join(src, name))
        order = np.random.default_rng(seed).permutation(table.num_rows)
        pq.write_table(table.take(order), os.path.join(tmp, name), compression="snappy")
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out
