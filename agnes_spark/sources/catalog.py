"""Session-scoped source catalog: resolve each parquet input once per session.

`spark.read.parquet(path)` lists the input's files and runs a
schema-inference job on every call, so a session that reads the same
tables again and again pays that planning cost on every query. The
catalog resolves a path once and hands the resolved relation back on
later reads of the same path in the same `SparkSession`; that repeat is
the only case it speeds up. Each read, hit or miss, gets a new instance
of the resolved relation (fresh attribute ids over the same file
index), so two reads of one table self-join exactly as two `spark.read`
calls do, without the listing or the inference job.

Staleness key. An entry is keyed on the absolute path and is reused
only while the input's `os.stat` stamp is unchanged:

- a file: its `(st_size, st_mtime_ns)`;
- a directory: the sorted `(relative name, st_size, st_mtime_ns)` of
  every file under it.

A rewritten file gets a new stamp, is resolved again, and replaces the
superseded entry for its path. Its path is also refreshed in Spark's
cache manager (`spark.catalog.refreshByPath`), which otherwise serves a
frame persisted over the old file to any plan over the same path. An
input that cannot be stamped (a missing path, a glob, a non-local URI)
is never reused: Spark resolves it on every read and raises for a
missing path as before. Every miss also drops the entries whose path
no longer exists, so reads of throwaway temp directories do not pile
up.

Scope. The entries live on their `SparkSession`, so a `DataFrame`
bound to one session is never handed to another, and a stopped
session's entries go with it.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

# attribute of the SparkSession holding path -> (stamp, analyzed JVM plan)
_ATTR = "_agnes_source_catalog"


def _stamp(path: str) -> tuple | None:
    """The input's `os.stat` stamp, or None if it has none."""
    try:
        st = os.stat(path)
    except (OSError, ValueError):
        return None
    if not os.path.isdir(path):
        return (st.st_size, st.st_mtime_ns)
    listing = []
    for base, dirs, files in os.walk(path):
        dirs.sort()
        for name in sorted(files):
            p = os.path.join(base, name)
            try:
                f = os.stat(p)
            except OSError:  # removed while listing: the stamp changes anyway
                continue
            listing.append((os.path.relpath(p, path), f.st_size, f.st_mtime_ns))
    return tuple(listing)


def read_source(spark: SparkSession, path: str) -> DataFrame:
    """A new instance of the resolved parquet relation of `path`,
    resolved again only when its stamp has changed since the last read
    in this session."""
    if "://" not in path:
        path = os.path.abspath(path)
    entries = spark.__dict__.setdefault(_ATTR, {})
    # stamp before reading: a write racing the read leaves an older
    # stamp, so the next read resolves again rather than going stale
    stamp = _stamp(path)
    hit = entries.get(path)
    if stamp is not None and hit is not None and hit[0] == stamp:
        jdf = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
            spark._jsparkSession, hit[1].newInstance()
        )
        return ClassicDataFrame(jdf, spark)
    if stamp is not None and hit is not None:
        # rewritten in place: Spark's cache manager matches a persisted
        # frame by its input's root path, not by content, so a frame
        # cached over the old file would answer reads of the new one
        spark.catalog.refreshByPath(path)
    df = spark.read.parquet(path)
    for p in [p for p in entries if p == path or not os.path.exists(p)]:
        entries.pop(p, None)
    if stamp is not None:
        entries[path] = (stamp, df._jdf.queryExecution().analyzed())
    return df
