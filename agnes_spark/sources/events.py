"""Version-robust loader for the events table (parquet TIMESTAMP(NANOS) ts).

Spark's parquet reader has changed behavior across versions for
nanosecond timestamps:

- Spark <= 4.0: the vectorized reader rejects TIMESTAMP(NANOS); with
  ``spark.sql.legacy.parquet.nanosAsLong=true`` it reads the raw nanos
  as ``bigint`` and the caller must truncate to micros.
- Spark 4.1+: reads the column natively as ``timestamp_ntz`` with
  correct micros-truncated values, and silently ignores the legacy
  conf.

`normalize_event_ts` branches on the *actual* read dtype, so the same
code is correct on both, and always yields a plain ``timestamp``
column (the session tz is UTC in this deployment, so the wall-clock
value is identical to DuckDB's nanos->micros TIMESTAMP cast).

Reference parity: agnes loads events with ns-precision i64 timestamps
(reference: src/source/csv.rs nanosecond handling); we normalize to
Spark's native timestamp domain instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from agnes_spark.sources.catalog import read_source


def normalize_event_ts(
    spark: SparkSession, df: DataFrame, col: str = "ts"
) -> DataFrame:
    """Return df with `col` as a plain `timestamp`, whatever dtype the
    parquet reader produced (timestamp_ntz / timestamp / bigint-nanos)."""
    dtype = dict(df.dtypes)[col]
    if dtype == "timestamp":
        return df
    if dtype == "timestamp_ntz":
        # ntz -> ltz: interprets the wall clock in the session tz (UTC
        # here), so collected values are unchanged.
        return df.withColumn(col, F.col(col).cast("timestamp"))
    if dtype == "bigint":
        # integer `div`, not `/`: double division of ~1e18 nanos loses
        # the low bits (53-bit mantissa) and drifts the timestamp by 1us
        return df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    raise TypeError(f"unexpected dtype for events.{col}: {dtype}")


def read_events(spark: SparkSession, path: str) -> DataFrame:
    """Batch-read an events parquet file/dir with a normalized ts."""
    # Set the legacy conf opportunistically: ignored on 4.1+, required
    # on older readers to avoid a hard error on TIMESTAMP(NANOS).
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass
    return normalize_event_ts(spark, read_source(spark, path))
