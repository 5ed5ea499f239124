"""Local mimic of the driver's correctness gate.

Runs each __spark_entry__.queries() entry on Spark and its
oracle_sql() twin on DuckDB at sf0.01 (or $SF_DIR), compares row
count, column names, and an order-insensitive value multiset. A query
with no oracle prints its row count and a sha256 of its normalized,
sorted rows, so two checkouts' runs of a hash-based key compare by a
diff of those lines.

Usage: python scripts/check_oracle.py [query ...]
"""

from __future__ import annotations

import hashlib
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entrymod
from agnes_spark import get_spark

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm_cell(v):
    if v is None:
        return "<NULL>"
    if isinstance(v, bool):
        return f"bool:{v}"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.9g}"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(str(norm_cell(x)) for x in v) + "]"
    return str(v)


def to_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(tuple(norm_cell(r[i]) for i in order) for r in rows)
    return [cols[i] for i in order], out


def main() -> int:
    sf_dir = os.environ.get("SF_DIR", "/root/testdata/sf0.01")
    only = set(sys.argv[1:])
    spark = get_spark("check_oracle")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    import time as _time

    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = _time.perf_counter()
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            continue
        spark_s = _time.perf_counter() - t0
        if name not in oracles:
            digest = hashlib.sha256(
                repr(to_multiset(scols, [tuple(r) for r in srows])).encode()
            ).hexdigest()
            print(f"rows  {name}: {len(srows)} rows (no oracle) sha256={digest} [{spark_s:.2f}s]")
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e}")
            failures.append(name)
            continue
        sc, sm = to_multiset(scols, [tuple(r) for r in srows])
        oc, om = to_multiset(ocols, orows)
        if sc != oc:
            print(f"FAIL  {name}: columns differ spark={sc} duck={oc}")
            failures.append(name)
        elif len(sm) != len(om):
            print(f"FAIL  {name}: rowcount spark={len(sm)} duck={len(om)}")
            failures.append(name)
        elif sm != om:
            bad = next(
                (i, a, b) for i, (a, b) in enumerate(zip(sm, om)) if a != b
            )
            print(f"FAIL  {name}: values differ at sorted-row {bad[0]}:\n  spark={bad[1]}\n  duck ={bad[2]}")
            failures.append(name)
        else:
            print(f"OK    {name}: {len(sm)} rows [spark {spark_s:.2f}s]")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
