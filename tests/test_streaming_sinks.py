"""foreachBatch sinks driven to completion by `drain`: the parquet
upsert sink (streamed windowed agg == batch agg) and the exact and
near-dup ingest sinks over their persisted state."""

import os

import pytest
from pyspark.sql import functions as F

from agnes_spark.streaming.sinks import (
    _state,
    ingest_dedup_sink,
    ingest_neardup_sink,
    parquet_upsert_sink,
)
from agnes_spark.streaming.windows import drain, read_events_stream, windowed_counts


@pytest.fixture(scope="module")
def events_dir(sf_dir, tmp_path_factory):
    d = tmp_path_factory.mktemp("events_sink")
    os.symlink(os.path.join(sf_dir, "events.parquet"), d / "part-0.parquet")
    return str(d)


def test_parquet_sink_matches_batch(spark, sf_dir, events_dir, tmp_path):
    ev = read_events_stream(spark, events_dir)
    agg = windowed_counts(ev, window="1 hour", watermark="100 days")
    out = str(tmp_path / "rollup")
    drain(
        agg.writeStream.outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .foreachBatch(parquet_upsert_sink(out, ["event_type"]))
    )
    got = spark.read.parquet(out)

    from agnes_spark.sources.events import read_events

    batch = (
        read_events(spark, os.path.join(sf_dir, "events.parquet"))
        .groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
    )
    g = {(r.hour, r.event_type): (r.n, r.total_value) for r in got.collect()}
    b = {(r.hour, r.event_type): (r.n, r.total_value) for r in batch.collect()}
    assert g == b


def test_ingest_dedup_first_arrival_wins_across_batches(spark, tmp_path):
    """Cross-batch store semantics: a later batch's duplicate is dropped
    even when it carries a LOWER id than the stored keeper — i.e. the
    store implements first-ARRIVAL-wins, not global min-id. Also checks
    in-batch dedup (min id within the first batch)."""
    from agnes_spark.sources.memory import table

    src = tmp_path / "src"
    src.mkdir()
    t = {"doc_id": "bigint", "text": "string"}
    # batch 1: ids 10,11 (+ an in-batch dup 12 of 10's text)
    table(
        spark,
        {"doc_id": [10, 11, 12], "text": ["aa", "bb", "aa"]},
        types=t,
    ).coalesce(1).write.parquet(str(src / "f1.parquet"))
    # batch 2: id 1 duplicates "aa" (lower id than keeper 10), id 13 is new
    table(
        spark,
        {"doc_id": [1, 13], "text": ["aa", "cc"]},
        types=t,
    ).coalesce(1).write.parquet(str(src / "f2.parquet"))
    # file stream orders by mod time: make f1 strictly older
    for root, offset in ((src / "f1.parquet", -1000), (src / "f2.parquet", 0)):
        for p in root.rglob("*"):
            os.utime(p, (p.stat().st_mtime + offset, p.stat().st_mtime + offset))
    schema = "doc_id bigint, text string"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*.parquet"))
    )
    _ingest(stream, tmp_path)
    kept = {r.doc_id for r in spark.read.parquet(str(tmp_path / "out")).collect()}
    assert kept == {10, 11, 13}
    store = {
        (r.content_hash[:8], r.keep_id)
        for r in spark.read.parquet(str(tmp_path / "store")).collect()
    }
    assert {k for _, k in store} == {10, 11, 13}


def _ingest(stream, tmp_path):
    """Drain `stream` through `ingest_dedup_sink`, with its store, output
    and checkpoint under `tmp_path`."""
    drain(
        stream.writeStream.option("checkpointLocation", str(tmp_path / "ckpt")).foreachBatch(
            ingest_dedup_sink(str(tmp_path / "store"), str(tmp_path / "out"), "doc_id", "text")
        )
    )


def _neardup_stream(spark, tmp_path):
    """Two one-file micro-batches: (1, base text; 2, unrelated), then
    (10, 11): two copies of a near-duplicate of doc 1."""
    from agnes_spark.sources.memory import table

    base = "the quick brown fox jumps over the lazy dog again and again today"
    src = tmp_path / "src"
    src.mkdir()
    t = {"doc_id": "bigint", "text": "string"}
    table(
        spark,
        {"doc_id": [1, 2], "text": [base, "completely different words appear in this one here"]},
        types=t,
    ).coalesce(1).write.parquet(str(src / "f1.parquet"))
    table(
        spark,
        {
            "doc_id": [10, 11],
            "text": [base + " extra", base + " extra"],  # near-dup of 1 + exact pair
        },
        types=t,
    ).coalesce(1).write.parquet(str(src / "f2.parquet"))
    for root, offset in ((src / "f1.parquet", -1000), (src / "f2.parquet", 0)):
        for p in root.rglob("*"):
            os.utime(p, (p.stat().st_mtime + offset, p.stat().st_mtime + offset))
    return (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*.parquet"))
    )


def _run_neardup(spark, tmp_path):
    """Ingest `_neardup_stream` and return the set of emitted pairs."""
    q = drain(
        _neardup_stream(spark, tmp_path)
        .writeStream.option("checkpointLocation", str(tmp_path / "ckpt"))
        .foreachBatch(
            ingest_neardup_sink(
                str(tmp_path / "state"), str(tmp_path / "pairs"), "doc_id", "text", threshold=0.5
            )
        )
    )
    assert sum(p["numInputRows"] > 0 for p in q.recentProgress) == 2
    return {
        (r.a_id, r.b_id) for r in spark.read.parquet(str(tmp_path / "pairs")).collect()
    }


def test_ingest_neardup_finds_cross_batch_pairs(spark, tmp_path):
    """A later batch's near-duplicate of an earlier batch's document is
    detected via the persisted band index (no rescan of earlier text),
    and batch-internal pairs are found too."""
    pairs = _run_neardup(spark, tmp_path)
    assert (1, 10) in pairs and (1, 11) in pairs  # cross-batch via the index
    assert (10, 11) in pairs                      # batch-internal
    assert all(2 not in p for p in pairs)


def test_ingest_neardup_leaves_no_persistent_rdd(spark, tmp_path, persistent_rdds):
    """Each micro-batch frees the frames it persisted, and nothing under
    the sink persists a frame of its own: a stream of near-dup batches
    ends with the persistent RDDs it started with."""
    before = persistent_rdds()
    assert _run_neardup(spark, tmp_path)
    assert persistent_rdds() == before


def test_ingest_dedup_checkpoint_resume_no_reprocess(spark, tmp_path):
    """Restarting the ingest stream with the same checkpoint processes
    only NEW files: already-accepted content is not duplicated in the
    output and the store grows only by the new batch's new hashes."""
    from agnes_spark.sources.memory import table

    src = tmp_path / "src"
    src.mkdir()
    t = {"doc_id": "bigint", "text": "string"}
    table(spark, {"doc_id": [1, 2], "text": ["aa", "bb"]}, types=t).coalesce(
        1
    ).write.parquet(str(src / "f1.parquet"))
    schema = "doc_id bigint, text string"

    def run():
        _ingest(spark.readStream.schema(schema).parquet(str(src / "*.parquet")), tmp_path)

    run()
    assert spark.read.parquet(str(tmp_path / "out")).count() == 2
    # second file arrives: one dup of doc 1's content, one new doc
    table(spark, {"doc_id": [3, 4], "text": ["aa", "cc"]}, types=t).coalesce(
        1
    ).write.parquet(str(src / "f2.parquet"))
    run()  # resume from the same checkpoint
    kept = {r.doc_id for r in spark.read.parquet(str(tmp_path / "out")).collect()}
    assert kept == {1, 2, 4}  # f1 NOT reprocessed, dup 3 rejected
    store_ids = {
        r.keep_id for r in spark.read.parquet(str(tmp_path / "store")).collect()
    }
    assert store_ids == {1, 2, 4}


def test_sink_appends_the_probe_rows_to_a_written_store(spark, tmp_path):
    """A hash store written by `write_exact_store` is probed by
    `incremental_exact_new`, whose store-shaped (content_hash, keep_id)
    rows the sink appends to it unchanged."""
    from agnes_spark.operators.dedup import first_occurrences
    from agnes_spark.operators.dedup_incremental import (
        incremental_exact_new,
        write_exact_store,
    )
    from agnes_spark.sources.memory import table

    t = {"doc_id": "bigint", "text": "string"}
    corpus = table(spark, {"doc_id": [1, 2], "text": ["aa", "bb"]}, types=t)
    store_path = str(tmp_path / "store")
    write_exact_store(
        first_occurrences(corpus, "doc_id", "text"), "agnes_sink_store_test", path=store_path
    )
    # 5 repeats stored content, 7 repeats 6 within the batch
    src = tmp_path / "src"
    table(
        spark, {"doc_id": [5, 6, 7, 8], "text": ["aa", "cc", "cc", "dd"]}, types=t
    ).coalesce(1).write.parquet(str(src / "f1.parquet"))
    batch = spark.read.parquet(str(src / "f1.parquet"))
    probe = incremental_exact_new(batch, spark.read.parquet(store_path), "doc_id", "text")
    assert probe.columns == ["content_hash", "keep_id"]
    new = {tuple(r) for r in probe.collect()}
    assert {k for _, k in new} == {6, 8}
    stored = {tuple(r) for r in spark.read.parquet(store_path).collect()}

    _ingest(spark.readStream.schema(batch.schema).parquet(str(src / "*.parquet")), tmp_path)
    after = spark.read.parquet(store_path)
    assert after.columns == ["content_hash", "keep_id"]
    assert sorted(tuple(r) for r in after.collect()) == sorted(stored | new)
    assert {r.doc_id for r in spark.read.parquet(str(tmp_path / "out")).collect()} == {6, 8}


def test_drain_stops_a_query_whose_batch_raises(spark, tmp_path):
    """A batch that raises ends its query: `drain` re-raises and leaves
    no stream running."""
    from pyspark.errors import StreamingQueryException

    def fail(batch_df, batch_id):
        raise RuntimeError("sink failed")

    spark.range(3).write.parquet(str(tmp_path / "src" / "f1.parquet"))
    stream = spark.readStream.schema("id long").parquet(str(tmp_path / "src" / "*.parquet"))
    with pytest.raises(StreamingQueryException, match="sink failed"):
        drain(
            stream.writeStream.option("checkpointLocation", str(tmp_path / "ckpt"))
            .foreachBatch(fail)
        )
    assert spark.streams.active == []


@pytest.mark.parametrize("layout", ["missing", "empty_dir", "not_parquet", "written"])
def test_sink_state_outcomes(spark, tmp_path, layout):
    """`_state` before and after a batch wrote the sink state: no path
    or an empty directory give an empty frame of the schema and False,
    a written store its rows and True, and a path holding a file that
    is not parquet raises."""
    path = tmp_path / "state"
    if layout == "empty_dir":
        path.mkdir()
    elif layout == "not_parquet":
        path.write_text("not parquet")
    elif layout == "written":
        spark.createDataFrame([("h1", 1)], "content_hash string, keep_id long").write.parquet(
            str(path)
        )
    schema = "content_hash string, keep_id long"
    if layout == "not_parquet":
        with pytest.raises(Exception):
            _state(spark, str(path), schema)[0].collect()
        return
    df, persisted = _state(spark, str(path), schema)
    assert persisted == (layout == "written")
    assert df.columns == ["content_hash", "keep_id"]
    assert [tuple(r) for r in df.collect()] == ([("h1", 1)] if persisted else [])
    if not persisted:
        # the optimizer sees the empty state, so the probe plans no join
        from agnes_spark.operators.dedup_incremental import incremental_exact_new

        assert "LogicalRDD" not in _optimized_nodes(df)
        batch = spark.createDataFrame([(1, "aa"), (2, "aa")], "doc_id long, text string")
        probe = incremental_exact_new(batch, df, "doc_id", "text")
        assert "Join" not in _optimized_nodes(probe)
        assert [r.keep_id for r in probe.collect()] == [1]


def _optimized_nodes(df):
    """Node names of `df`'s optimized logical plan."""
    names, stack = [], [df._jdf.queryExecution().optimizedPlan()]
    while stack:
        node = stack.pop()
        names.append(node.nodeName())
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return names
