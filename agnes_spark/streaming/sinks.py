"""Production sink patterns for streaming queries.

The memory sink in windows.py is for tests; real deployments write
through foreachBatch so each micro-batch lands transactionally and
reprocessing is idempotent. Patterns here:

- `parquet_upsert_sink`: partition-overwrite idempotence — every
  micro-batch (re)writes exactly the partitions it touches (dynamic
  partitionOverwriteMode), so replaying a batch after a failure
  converges instead of duplicating.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def parquet_upsert_sink(out_path: str, partition_cols: list[str]):
    """foreachBatch function writing each micro-batch to parquet with
    dynamic partition overwrite (only touched partitions replaced).

    Use with a watermarked aggregation in update/complete mode where a
    partition column (e.g. window start hour) keys the output: late
    re-emissions overwrite their partition with the corrected rows.
    """

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.columns:
            return
        spark = batch_df.sparkSession
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            (
                batch_df.write.mode("overwrite")
                .partitionBy(*partition_cols)
                .parquet(out_path)
            )
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    return _write


def run_stream_to_parquet(
    stream_df: DataFrame,
    out_path: str,
    checkpoint_path: str,
    partition_cols: list[str],
    output_mode: str = "update",
):
    """Drive a streaming DataFrame through the idempotent parquet sink
    to completion (synchronous; tests/backfills)."""
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .option("checkpointLocation", checkpoint_path)
        .foreachBatch(parquet_upsert_sink(out_path, partition_cols))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return q


def ingest_dedup_sink(store_path: str, out_path: str, id_col: str, text_col: str):
    """foreachBatch function for STREAMING EXACT DEDUP against a
    persisted content-hash store — the 100 TB ingest-pipeline shape:
    documents arrive continuously, and each micro-batch

    1. anti-joins its content hashes against the store
       (dedup_incremental.incremental_exact_new — first-in-batch
       min-id per hash, hash absent from store),
    2. appends only the accepted rows to `out_path`,
    3. appends the accepted (hash, id) rows to the store,

    so per-batch cost is O(|batch|) + a bucket-local probe; corpus
    text is never rescanned. Content-level idempotence comes from the
    store itself: a replayed batch re-probes and its hashes are
    already present, so nothing new is accepted — but the batch whose
    append raced a crash can leave duplicate OUT rows; production
    pairs this with batch_id-partitioned dynamic overwrite
    (parquet_upsert_sink) for exactly-once output too.
    """
    from pyspark.sql.utils import AnalysisException

    from agnes_spark.operators.dedup_incremental import incremental_exact_new

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        try:
            store = spark.read.parquet(store_path)
        except AnalysisException:
            # first batch: no store yet -> everything is new content
            store = spark.createDataFrame([], "content_hash string")
        new = incremental_exact_new(batch_df, store, id_col, text_col)
        kept = batch_df.join(new.select(id_col), id_col, "semi")
        kept.write.mode("append").parquet(out_path)
        new.select("content_hash", F.col(id_col).alias("keep_id")).write.mode(
            "append"
        ).parquet(store_path)

    return _write


def run_ingest_dedup(
    stream_df: DataFrame,
    store_path: str,
    out_path: str,
    checkpoint_path: str,
    id_col: str,
    text_col: str,
):
    """Drive a document stream through `ingest_dedup_sink` to
    completion (synchronous; tests/backfills)."""
    q = (
        stream_df.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_path)
        .foreachBatch(ingest_dedup_sink(store_path, out_path, id_col, text_col))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return q


def ingest_neardup_sink(
    state_path: str,
    out_path: str,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
):
    """foreachBatch function for STREAMING NEAR-DUP detection against
    the persisted MinHash state (band index + shingle table — see
    dedup_incremental.minhash_state): each micro-batch

    1. bands itself and equi-probes the stored band index for
       candidate corpus ids, exact-verifying Jaccard against only
       those ids' shingle rows (plus batch-internal pairs),
    2. appends the verified pairs to `out_path`,
    3. appends its own bands + shingles to the state,

    so later batches near-dup against everything that arrived before
    them — the streaming completion of the exact `ingest_dedup_sink`.
    Same idempotence caveat: pair content is stable under replays
    (probing is read-only), but a crash between the two appends can
    duplicate state rows; production pairs this with
    batch_id-partitioned dynamic overwrite.

    The batch is shingled and banded exactly ONCE: the (id, shash)
    sets and (id, band, bucket) keys built and persisted here feed the
    corpus probe, the intra-batch pair detection, AND the state
    append, and are unpersisted when the batch is done — the engine
    underneath persists nothing, so a long stream holds no cached
    frame of a finished batch.
    """
    from pyspark.sql.utils import AnalysisException

    from agnes_spark.operators.dedup import minhash_bands, shingle_sets
    from agnes_spark.operators.dedup_incremental import incremental_minhash_pairs

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        try:
            bands = spark.read.parquet(state_path + "/bands")
            shingles = spark.read.parquet(state_path + "/shingles")
            empty_state = False
        except AnalysisException:
            bands = spark.createDataFrame([], f"{id_col} long, band int, bucket long")
            shingles = spark.createDataFrame(
                [], f"{id_col} long, shash array<bigint>"
            )
            empty_state = True
        b_base = shingle_sets(batch_df, id_col, text_col).persist()
        b_bands = minhash_bands(b_base, id_col).persist()
        try:
            incremental_minhash_pairs(
                b_bands, b_base, bands, shingles, id_col, threshold
            ).write.mode("append").parquet(out_path)
            mode = "overwrite" if empty_state else "append"
            b_bands.write.mode(mode).parquet(state_path + "/bands")
            b_base.write.mode(mode).parquet(state_path + "/shingles")
        finally:
            b_bands.unpersist()
            b_base.unpersist()

    return _write


def run_ingest_neardup(
    stream_df: DataFrame,
    state_path: str,
    out_path: str,
    checkpoint_path: str,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
):
    """Drive a document stream through `ingest_neardup_sink` to
    completion (synchronous; tests/backfills)."""
    q = (
        stream_df.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_path)
        .foreachBatch(
            ingest_neardup_sink(state_path, out_path, id_col, text_col, threshold)
        )
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return q
