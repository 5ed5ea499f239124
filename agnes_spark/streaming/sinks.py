"""Production sink patterns for streaming queries.

The memory sink in windows.py is for tests; real deployments write
through foreachBatch so each micro-batch lands transactionally and
reprocessing is idempotent. Each function here returns the function a
caller hands to `writeStream.foreachBatch`; `windows.drain` runs the
query to completion. Patterns here:

- `parquet_upsert_sink`: partition-overwrite idempotence — every
  micro-batch (re)writes exactly the partitions it touches (dynamic
  partitionOverwriteMode), so replaying a batch after a failure
  converges instead of duplicating.
- `ingest_dedup_sink` / `ingest_neardup_sink`: each micro-batch is
  deduped against the state that earlier batches persisted (the exact
  content-hash store / the MinHash band index and shingle table) and
  appends its own state for the batches after it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.utils import AnalysisException


def _state(spark: SparkSession, path: str, schema: str) -> tuple[DataFrame, bool]:
    """The sink state persisted at `path` and True, or an empty frame
    of `schema` and False when no batch has written it yet (no path,
    or an empty directory). The existence check goes through the
    path's Hadoop FileSystem, so any URI works, and a missing path is
    never handed to the reader (which would log a WARN with a full
    FileNotFoundException trace before raising).

    The empty frame must be empty in a way the optimizer can see: its
    optimized plan is an empty `LocalRelation` (`OptimizeLimitZero`
    rewrites the `limit(0)`), so `PropagateEmptyRelation` drops the
    probe's join against it and the batch runs as if there were no
    state. A bare `createDataFrame([], schema)` is a `LogicalRDD` of a
    parallelized Python list, which the optimizer cannot prove empty:
    every action over it would keep the join and start Python workers
    to unpickle zero rows, and the first batch of every stream pays
    that."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    if jpath.getFileSystem(spark._jsc.hadoopConfiguration()).exists(jpath):
        try:
            return spark.read.parquet(path), True
        except AnalysisException:  # an empty directory: no schema to infer
            pass
    return spark.createDataFrame([], schema).limit(0), False


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


def ingest_dedup_sink(store_path: str, out_path: str, id_col: str, text_col: str):
    """foreachBatch function for STREAMING EXACT DEDUP against a
    persisted content-hash store — the 100 TB ingest-pipeline shape:
    documents arrive continuously, and each micro-batch

    1. anti-joins its content hashes against the store
       (dedup_incremental.incremental_exact_new — first-in-batch
       min-id per hash, hash absent from store),
    2. appends only the accepted rows to `out_path`,
    3. appends the probe's (content_hash, keep_id) rows to the store
       as they are — they are store-shaped,

    so per-batch cost is O(|batch|) + a bucket-local probe; corpus
    text is never rescanned. Before the first batch has written the
    store, `_state` hands the probe an optimizer-visible empty frame,
    so that batch plans no anti-join at all. The two writes each read
    and hash the batch; that second pass is cheap next to the writes
    themselves, so `new` is not materialized between them (a shared
    checkpoint measured no faster and would be one more frame to free).
    Content-level idempotence comes from the
    store itself: a replayed batch re-probes and its hashes are
    already present, so nothing new is accepted — but the batch whose
    append raced a crash can leave duplicate OUT rows; production
    pairs this with batch_id-partitioned dynamic overwrite
    (parquet_upsert_sink) for exactly-once output too.
    """
    from agnes_spark.operators.dedup_incremental import incremental_exact_new

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        # before the first batch there is no store: all content is new
        store, _ = _state(batch_df.sparkSession, store_path, "content_hash string")
        new = incremental_exact_new(batch_df, store, id_col, text_col)
        batch_df.join(new.withColumnRenamed("keep_id", id_col), id_col, "semi").write.mode(
            "append"
        ).parquet(out_path)
        new.write.mode("append").parquet(store_path)

    return _write


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
    from agnes_spark.operators.dedup import minhash_bands, shingle_sets
    from agnes_spark.operators.dedup_incremental import incremental_minhash_pairs

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        bands, persisted = _state(
            spark, state_path + "/bands", f"{id_col} long, band int, bucket long"
        )
        shingles, _ = _state(
            spark, state_path + "/shingles", f"{id_col} long, shash array<bigint>"
        )
        b_base = shingle_sets(batch_df, id_col, text_col).persist()
        b_bands = minhash_bands(b_base, id_col).persist()
        try:
            incremental_minhash_pairs(
                b_bands, b_base, bands, shingles, id_col, threshold
            ).write.mode("append").parquet(out_path)
            mode = "append" if persisted else "overwrite"
            b_bands.write.mode(mode).parquet(state_path + "/bands")
            b_base.write.mode(mode).parquet(state_path + "/shingles")
        finally:
            b_bands.unpersist()
            b_base.unpersist()

    return _write
