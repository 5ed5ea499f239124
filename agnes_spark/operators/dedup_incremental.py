"""Incremental (delta-shard) deduplication against persisted corpus state.

The 100 TB pattern the one-shot dedup operators don't cover: the
corpus was deduped once; every new shard arriving after that must be
deduped against it WITHOUT rescanning corpus text. Dedup state lives
in compact, joinable stores, and per-shard cost is O(|delta|) plus
bucket-local lookups into the store:

- exact: a content-hash store — one (content_hash, keep_id) row per
  distinct content, `dedup.first_occurrences` of the corpus — written
  BUCKETED by hash (write_bucketed) into as many buckets as the
  session has shuffle partitions, so the shard's anti-join never
  reshuffles the store side; only the delta's hashes move. The probe
  runs the same aggregate over the delta, so its output rows are
  store rows, and the streaming sink (streaming/sinks.py
  ingest_dedup_sink) appends them to the store unchanged.
- near-dup (MinHash): two stores — the band-bucket index
  (band, bucket, id) and the shingle-set table (id, shash), both from
  `minhash_state`. A shard builds the same state for itself, equi-joins
  the band index for candidate corpus ids, then verifies exact Jaccard
  against only those ids' shingle rows. Both joins are equi; nothing
  touches corpus text.
- near-dup (embedding): the centers of a corpus-trained `IvfIndex` and
  the cell store (`embedding_cell_store`, every corpus vector in its
  two nearest cells). A shard is assigned to its own two nearest cells
  and verified against the store by `simsearch.cell_pairs`, the
  cell-blocked pair join the one-shot embedding dedup paths run.

Correctness contract (gated): incremental output == the one-shot
operator run over (corpus ∪ delta), restricted to rows/pairs that
involve the delta. It holds by construction: both sides' state comes
from dedup.shingle_sets / dedup.minhash_bands, and the candidate join
and the Jaccard verify are dedup.lsh_candidates / dedup.jaccard_verify,
the functions the one-shot dedup.minhash_lsh_pairs runs.

Reference: agnes has no incremental dedup (its FUTURE.md lists
streaming as future work); semantics here are defined by the
restriction contract above, same as operators/incremental.py does for
rollups.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from agnes_spark.operators.dedup import (
    first_occurrences,
    jaccard_verify,
    lsh_candidates,
    lsh_pairs,
    minhash_bands,
    shingle_sets,
)
from agnes_spark.operators.simsearch import cell_pairs, nearest_cells, vectors


def write_exact_store(store: DataFrame, table_name: str, path: str | None = None) -> None:
    """Persist the hash store — `dedup.first_occurrences` of the corpus,
    (content_hash, keep_id) — bucketed by content_hash: every future
    shard's anti-join reads co-located buckets instead of reshuffling
    the (corpus-sized) store. At 100 TB this asymmetry IS the feature —
    the store is written once, shards only ever bucket-probe it.

    The bucket count is the session's `spark.sql.shuffle.partitions`.
    A sort-merge probe keeps the store's buckets only when there are at
    least that many of them (`EnsureRequirements` otherwise reshuffles
    the store to the shuffle partition count), and more buckets than
    that only cost small files to write and scan tasks to read."""
    from agnes_spark.operators.partitioning import write_bucketed

    num_buckets = int(store.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    write_bucketed(store, table_name, ["content_hash"], num_buckets, path=path)


def incremental_exact_new(
    delta: DataFrame, store: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """The delta's genuinely NEW content: the first occurrence (min id)
    of each hash within the delta whose hash is absent from the store.
    Returns store-shaped (content_hash, keep_id) rows — exactly the
    rows to append to the store after the shard is accepted."""
    return first_occurrences(delta, id_col, text_col).join(
        store.select("content_hash"), "content_hash", "left_anti"
    )


def minhash_state(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_perm: int = 64,
    num_bands: int = 16,
) -> tuple[DataFrame, DataFrame]:
    """Build the near-dup state of a corpus or a delta shard: (band
    index, shingle table). Store a corpus's with write.parquet /
    write_bucketed; the band index is what shards probe, the shingle
    table is what verification reads (candidate ids only)."""
    base = shingle_sets(df, id_col, text_col, n)
    bands = minhash_bands(base, id_col, num_perm, num_bands)
    return bands, base


def incremental_minhash_pairs(
    delta_bands: DataFrame,
    delta_sets: DataFrame,
    corpus_bands: DataFrame,
    corpus_sets: DataFrame,
    id_col: str,
    threshold: float = 0.5,
) -> DataFrame:
    """All verified near-dup pairs involving the delta, from the
    delta's `minhash_state` and the corpus's: delta-vs-corpus through
    the corpus band index, plus delta-internal through `lsh_pairs`.
    Output (a_id, b_id, jaccard) with a_id < b_id — the same
    orientation as minhash_lsh_pairs, so the parity gate's comparison
    is a plain anti-join.

    Both states must come from `minhash_state` with the same
    parameters. Nothing is persisted here: the delta bands are read
    three times (corpus probe and both sides of the delta self-join)
    and the delta sets three times, so the caller that builds the
    delta state persists it (the streaming sink does, per batch)."""
    cross = jaccard_verify(
        lsh_candidates(delta_bands, id_col, corpus_bands),
        delta_sets,
        id_col,
        threshold,
        corpus_sets,
    ).select(
        F.least("a_id", "b_id").alias("a_id"),
        F.greatest("a_id", "b_id").alias("b_id"),
        F.round("jaccard", 6).alias("jaccard"),
    )
    intra = lsh_pairs(delta_bands, delta_sets, id_col, threshold)
    # corpus ids and delta ids are disjoint, and intra pairs are
    # delta-delta only, so the union is already duplicate-free
    return cross.unionByName(intra)


def embedding_cell_store(index) -> DataFrame:
    """The persisted near-dup state for embeddings: every corpus vector
    replicated to its TWO nearest cells of a built `IvfIndex` — write
    this (partitioned by cell) next to the index; shards equi-probe it
    by cell, never rescanning corpus vectors. Columns: (cell, n_id,
    n_v, n_norm)."""
    return nearest_cells(index.assigned.drop("cell"), index.centers, 2).drop("pr")


def incremental_embedding_pairs(
    delta: DataFrame,
    centers: DataFrame,
    cell_store: DataFrame,
    id_col: str,
    vec_col: str = "embedding",
    threshold: float = 0.95,
) -> DataFrame:
    """Embedding near-dup pairs involving a NEW shard, against the
    persisted corpus cell store (see `embedding_cell_store`): the shard
    is assigned to its two nearest CORPUS-trained cells, equi-joined to
    the store on cell, exact-cosine verified; shard-internal pairs use
    the same cell blocking. No corpus rescan, no KMeans retrain.

    Unlike the exact/minhash incremental paths this is NOT bit-equal to
    a full re-run: a full run would retrain centroids on corpus ∪ delta
    and may block differently. The invariants that hold (and are gated
    by check_incremental_embedding) are no-false-positives (exact
    verify) and bounded blocking recall vs the exhaustive pairs.
    Output (a_id, b_id, cos) with a_id < b_id."""
    d = nearest_cells(vectors(delta, id_col, vec_col), centers, 2)
    # corpus and delta id spaces are disjoint -> no overlap to dedup
    return cell_pairs(d, threshold, cell_store).unionByName(cell_pairs(d, threshold))
