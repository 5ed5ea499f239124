"""Structured Streaming twins driven end-to-end through memory sinks,
cross-checked against the oracle-verified batch queries."""

import os

import pytest

import __spark_entry__ as entry
from agnes_spark.streaming.windows import (
    read_events_stream,
    run_stream_to_memory,
    session_windows,
    windowed_counts,
)


@pytest.fixture(scope="module")
def events_dir(sf_dir, tmp_path_factory):
    # the streaming file source consumes a directory (prod layout:
    # events/part-*.parquet); stage the single test file into one
    d = tmp_path_factory.mktemp("events_stream")
    os.symlink(os.path.join(sf_dir, "events.parquet"), d / "part-0.parquet")
    return str(d)


@pytest.fixture(scope="module")
def events_stream_results(spark, events_dir):
    ev = read_events_stream(spark, events_dir)
    agg = windowed_counts(ev, window="1 hour", watermark="100 days")
    run_stream_to_memory(agg, "win_out", output_mode="complete")
    return spark.sql("SELECT * FROM win_out")


def test_windowed_counts_match_batch(spark, sf_dir, events_stream_results):
    batch = {
        (r.hour, r.event_type): (r.n, r.total_value)
        for r in entry.events_windowed(spark, sf_dir).collect()
    }
    stream = {
        (r.hour, r.event_type): (r.n, r.total_value)
        for r in events_stream_results.collect()
    }
    assert stream == batch


def test_session_window_stream_runs(spark, sf_dir, events_dir):
    ev = read_events_stream(spark, events_dir)
    sess = session_windows(ev, gap="1 hour", watermark="100 days")
    run_stream_to_memory(sess, "sess_out", output_mode="complete")
    rows = spark.sql("SELECT * FROM sess_out").collect()
    assert len(rows) > 0
    # session bounds sane: start <= end, n_events >= 1
    assert all(r.session_start <= r.session_end and r.n_events >= 1 for r in rows)


def test_watermark_drops_late_data(spark, tmp_path):
    """Append mode + watermark: once a window is finalized (emitted),
    a later micro-batch's row for that window is DROPPED — no
    duplicate emission, no state resurrection. This is the
    state-bounding contract everything at 100 TB/day relies on."""
    import os

    from pyspark.sql import functions as F

    src = tmp_path / "stream_src"
    src.mkdir()

    def write_batch(name, rows):
        spark.createDataFrame(rows, "event_id long, ts_s string").select(
            "event_id", F.col("ts_s").cast("timestamp").alias("ts")
        ).coalesce(1).write.parquet(str(src / name))

    # batch 1: 12:00 and 14:00 -> watermark 13:00 after the batch
    write_batch("f1", [(1, "2024-01-01 12:00:00"), (2, "2024-01-01 14:00:00")])
    # batch 2: on-time row; [12:00, 13:00) gets finalized and emitted
    write_batch("f2", [(3, "2024-01-01 14:30:00")])
    # batch 3: late row for the already-finalized window -> dropped
    write_batch("f3", [(4, "2024-01-01 12:30:00")])

    flat = tmp_path / "flat"
    flat.mkdir()
    i = 0
    for d in ["f1", "f2", "f3"]:
        for f in sorted(os.listdir(src / d)):
            if f.endswith(".parquet"):
                os.link(src / d / f, flat / f"{i}.parquet")
                os.utime(flat / f"{i}.parquet", (1000 + i * 100,) * 2)
                i += 1

    stream = (
        spark.readStream.schema("event_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(flat))
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("win"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("win.start").alias("ws"), "n")
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("late_out")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT * FROM late_out").collect()
    got = {str(r.ws): r.n for r in rows}
    # the finalized window holds ONLY the on-time row; the late row
    # neither re-emitted the window nor bumped its count
    assert got.get("2024-01-01 12:00:00") == 1
    assert len(rows) == 1


def test_bench_streaming_warmup_builds_no_state(spark, tmp_path):
    """r8 verdict item 7: a rate->noop engine warm-up must only
    initialize the micro-batch machinery (classes, codegen), never
    pre-build state stores a first real stateful query would otherwise
    pay for in production. Pinned to an inspectable checkpoint: zero
    stateOperators reported and no state/ directory materialized."""
    import os

    ck = str(tmp_path / "warmup_ck")
    sq = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", "1")
        .load()
        .writeStream.format("noop")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    sq.awaitTermination(30)
    sq.stop()
    for p in sq.recentProgress:
        assert not p["stateOperators"], p["stateOperators"]
    assert not os.path.exists(os.path.join(ck, "state"))
