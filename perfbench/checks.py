"""Output checks: compare an op's materialized output with its DuckDB
oracle from `__spark_entry__.oracle_sql()`.

Same rule as the repository's oracle gate (scripts/check_oracle.py):
equal column names, equal row count, and an equal order-insensitive
multiset of rows, floats compared to 9 significant digits.
"""

from __future__ import annotations

import datetime as dt
import math
import os
from concurrent.futures import ThreadPoolExecutor

import duckdb
import pyarrow as pa
import pyarrow.compute as pc

# the repository's rule for LSH dedup (tests/test_dedup.py): at least this
# share of the exact op's pairs must be found
MIN_RECALL = 0.9


def _cell(v) -> str:
    if v is None:
        return "<NULL>"
    if isinstance(v, bool):
        return f"bool:{v}"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.9g}"
    if isinstance(v, dt.datetime) and v.tzinfo is not None:
        # Arrow hands Spark timestamps back tz-aware (UTC session), DuckDB naive
        v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, dict):
        v = list(v.values())
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return str(v)


def _column(col: pa.ChunkedArray) -> list[str]:
    """`_cell` of every value. Integers and strings are formatted in bulk,
    and flat columns leave Arrow through numpy, several times faster than
    `to_pylist`; that keeps the check of a large output (240k melted rows)
    near a second."""
    if pa.types.is_integer(col.type) or pa.types.is_string(col.type) or pa.types.is_large_string(col.type):
        return pc.fill_null(pc.cast(col, pa.string()), "<NULL>").to_numpy(zero_copy_only=False).tolist()
    if pa.types.is_floating(col.type) and col.null_count == 0:
        return [_cell(v) for v in col.to_numpy(zero_copy_only=False).tolist()]
    return [_cell(v) for v in col.to_pylist()]


def _multiset(table: pa.Table) -> tuple[list[str], list[tuple]]:
    cols = sorted(table.column_names)
    return cols, sorted(zip(*(_column(table.column(c)) for c in cols)))


class Oracle:
    """DuckDB connection over one input directory, a view per table, that
    runs the oracles of `names` in a background thread from the start, so
    they overlap the Spark ops they check."""

    def __init__(self, data_dir: str, sql: dict[str, str], names: list[str]):
        self.con = duckdb.connect()
        for f in sorted(os.listdir(data_dir)):
            if f.endswith(".parquet"):
                self.con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{data_dir}/{f}'")
        self._pool = ThreadPoolExecutor(1)
        self._results = {
            n: self._pool.submit(lambda q: self.con.execute(q).fetch_arrow_table(), sql[n])
            for n in dict.fromkeys(names)
        }

    def close(self) -> None:
        self._pool.shutdown(cancel_futures=True)
        self.con.close()

    def expected(self, name: str) -> pa.Table:
        return self._results[name].result()

    def mismatch(self, name: str, got: pa.Table) -> str | None:
        """None when `got` matches the oracle of `name`, else the reason."""
        gc, gm = _multiset(got)
        ec, em = _multiset(self.expected(name))
        if gc != ec:
            return f"columns {gc} != oracle {ec}"
        if len(gm) != len(em):
            return f"{len(gm)} rows != oracle {len(em)}"
        if gm != em:
            i = next(i for i, (a, b) in enumerate(zip(gm, em)) if a != b)
            return f"sorted row {i}: {gm[i]} != oracle {em[i]}"
        return None

    def subset_mismatch(self, name: str, got: pa.Table, of: str, keys: list[str]) -> str | None:
        """None when every `keys` tuple of `got` is in the oracle of `of`
        and, if that oracle has rows, at least MIN_RECALL of them are in
        `got`.

        The check for ops with no exact oracle whose output must be most
        of an exact op's output and nothing else (MinHash LSH pairs are
        exact Jaccard pairs that banding happened to find)."""
        exact = self.expected(of)
        have = set(zip(*(exact.column(k).to_pylist() for k in keys)))
        rows = list(zip(*(got.column(k).to_pylist() for k in keys)))
        extra = [r for r in rows if r not in have]
        if extra:
            return f"{len(extra)} of {len(rows)} {name} rows absent from {of} oracle, e.g. {extra[0]}"
        found = len(have & set(rows))
        if have and found < MIN_RECALL * len(have):
            return f"{name} found {found} of {len(have)} {of} oracle rows, recall below {MIN_RECALL}"
        return None
