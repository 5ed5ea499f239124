"""Continuous-ingest dedup: the pipeline shape for a corpus that never
stops growing.

Day 0 builds the corpus state once; every later shard (or stream
micro-batch) probes that state instead of rescanning corpus text:

  1. bootstrap            first_occurrences (the hash store) +
                          minhash_state, persisted
  2. batch delta          incremental_exact_new, and minhash_state of the
                          shard probed by incremental_minhash_pairs
  3. streaming delta      ingest_dedup_sink under foreachBatch against the
                          same persisted hash store, run by drain

Run: python examples/incremental_ingest.py [sf_dir]
"""

import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from agnes_spark import get_spark
from agnes_spark.operators.dedup import first_occurrences
from agnes_spark.operators.dedup_incremental import (
    incremental_exact_new,
    incremental_minhash_pairs,
    minhash_state,
)
from agnes_spark.streaming.sinks import ingest_dedup_sink
from agnes_spark.streaming.windows import drain


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("incremental_ingest_example")
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    delta = docs.filter(F.col("doc_id") % 10 == 0)
    base = tempfile.mkdtemp(prefix="agnes_ingest_example_")

    # 1. bootstrap: persist the dedup state once
    store_path = os.path.join(base, "hash_store")
    first_occurrences(corpus, "doc_id", "text").write.parquet(store_path)
    bands, shingles = minhash_state(corpus, "doc_id", "text")
    bands.write.parquet(os.path.join(base, "bands"))
    shingles.write.parquet(os.path.join(base, "shingles"))

    # 2. batch shard: probe the persisted state, never the corpus text
    store = spark.read.parquet(store_path)
    new_rows = incremental_exact_new(delta, store, "doc_id", "text")
    # the shard builds its own MinHash state, the same way as the corpus
    d_bands, d_sets = minhash_state(delta, "doc_id", "text")
    near = incremental_minhash_pairs(
        d_bands,
        d_sets,
        spark.read.parquet(os.path.join(base, "bands")),
        spark.read.parquet(os.path.join(base, "shingles")),
        "doc_id",
    )
    print(f"batch shard: {new_rows.count()} new docs, {near.count()} near-dup pairs")

    # 3. streaming shard: same store, continuous arrival
    src = os.path.join(base, "stream_src")
    os.makedirs(src)
    delta.limit(50).coalesce(1).write.parquet(os.path.join(src, "s1.parquet"))
    stream = spark.readStream.schema(docs.schema).parquet(os.path.join(src, "*.parquet"))
    drain(
        stream.writeStream.option("checkpointLocation", os.path.join(base, "ckpt"))
        .foreachBatch(
            ingest_dedup_sink(store_path, os.path.join(base, "accepted"), "doc_id", "text")
        )
    )
    accepted = spark.read.parquet(os.path.join(base, "accepted"))
    print(f"streaming shard: {accepted.count()} docs accepted into the corpus")
    shutil.rmtree(base, ignore_errors=True)


if __name__ == "__main__":
    main()
