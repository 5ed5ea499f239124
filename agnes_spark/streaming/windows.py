"""Structured Streaming twins of the batch event queries.

The batch versions (events_windowed / sessionize in __spark_entry__)
are the oracle-checked semantics; these run the same logic as
incremental streaming queries with watermarked state. Tests drive them
with the events parquet through a memory sink, which exercises the real
streaming engine end to end; `drain` is the one place a query is
started, run over all available input and stopped, for the memory sink
here and the foreachBatch sinks in sinks.py alike.

At production scale the source line changes to kafka/kinesis and the
sink to a transactional foreachBatch — the plan in between is
identical.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

_STATE_TARGET_BYTES = 256 * 1024  # compressed source per state-store partition


def state_partitions_for(*paths: str, floor: int = 8) -> int:
    """Derive a stateful query's state-store partition count from the
    FEED VOLUME it will ingest (the files under `paths`), not from the
    session core count: every micro-batch pays per-partition state-store
    open/commit, so the right number tracks state volume — ~256 KB of
    compressed source per partition, floored at `floor` so stream-stream
    joins keep their parallelism on small feeds (measured at sf0.1:
    stream_band_join 20s @ 32 partitions -> 10.5s @ 8; 4 loses join
    parallelism again at 19s). At 100 TB/day the same rule yields thousands of
    partitions — the production lever, derived instead of tuned."""
    total = 0
    for p in paths:
        try:
            if os.path.isdir(p):
                for root, _dirs, files in os.walk(p):
                    total += sum(
                        os.path.getsize(os.path.join(root, f)) for f in files
                    )
            else:
                total += os.path.getsize(p)
        except OSError:
            pass  # unreadable feed -> fall through to the floor
    return max(floor, math.ceil(total / _STATE_TARGET_BYTES)) if total else floor

def read_events_stream(spark: SparkSession, src_dir: str) -> DataFrame:
    """Parquet-directory stream of the events table.

    readStream requires an explicit schema; instead of hardcoding one
    (which broke when Spark 4.1 started reading TIMESTAMP(NANOS) as
    timestamp_ntz rather than rejecting it / nanos-long), take the
    schema from a driver-side batch read of the same directory —
    metadata-only, no data scan — then normalize ts exactly like the
    batch loader so streaming and batch agree on the event-time domain.

    If the directory has no files yet (the normal streaming bootstrap
    state — the producer hasn't written its first batch), the batch
    read can't infer anything, so fall back to the canonical events
    schema; `normalize_event_ts` branches on the actual ts dtype either
    way, so the two paths agree once data arrives.
    """
    from agnes_spark.sources.events import normalize_event_ts

    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass
    try:
        batch_schema = spark.read.parquet(src_dir).schema
    except Exception:
        from pyspark.sql.types import (
            DoubleType,
            LongType,
            StringType,
            StructField,
            StructType,
            TimestampType,
        )

        batch_schema = StructType(
            [
                StructField("event_id", LongType()),
                StructField("ts", TimestampType()),
                StructField("user_id", LongType()),
                StructField("event_type", StringType()),
                StructField("value", DoubleType()),
                StructField("props", StringType()),
            ]
        )
    raw = (
        spark.readStream.schema(batch_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    return normalize_event_ts(spark, raw)


def windowed_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling-window count/sum per event type with late-data bound.

    Watermark caps state: windows older than max(event time) -
    watermark are finalized and evicted, so state is O(active windows),
    not O(stream length) — the property that matters at 100 TB/day.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.col("win.start").alias("hour"), "event_type", "n", "total_value"
        )
    )


def session_windows(
    events: DataFrame,
    gap: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Gap-based sessionization via the native session_window operator
    (merging windows state store) — the streaming twin of the batch
    lag+cumsum sessionize."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sess"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("sess.start").alias("session_start"),
            F.col("sess.end").alias("session_end"),
            "n_events",
        )
    )


def drain(writer: DataStreamWriter) -> StreamingQuery:
    """Start `writer`'s query, process every input available at start
    and stop it; returns the stopped query, whose `recentProgress`
    lists the batches it ran. Synchronous, for tests, backfills and the
    registry's stream gates. A batch that raises terminates its query,
    so `processAllAvailable` re-raises and no query is left running."""
    q = writer.start()
    q.processAllAvailable()
    q.stop()
    return q


def run_stream_to_memory(
    stream_df: DataFrame,
    name: str,
    output_mode: str = "append",
    state_partitions: int | None = None,
):
    """Drive a streaming DataFrame to completion against a memory sink
    (synchronous; for tests/smoke). Returns the stopped query; results
    land in the `name` in-memory table.

    `state_partitions` sizes the query's stateful-operator partition
    count (the session shuffle-partition conf AT QUERY START, pinned
    into the checkpoint for the query's lifetime): every micro-batch
    pays per-partition state-store open/commit, so the right number
    tracks STATE VOLUME, not session core count — a production lever
    you raise at 100 TB/day and lower for small feeds (measured at
    sf0.1: stream_band_join 20s @ 32 -> 10.5s @ 8; 4 loses join
    parallelism again at 19s). The session conf is restored after the
    query stops, so batch queries in the same session are unaffected."""
    spark = stream_df.sparkSession
    prior = None
    if state_partitions is not None:
        prior = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        return drain(
            stream_df.writeStream.outputMode(output_mode).format("memory").queryName(name)
        )
    finally:
        if prior is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prior)
