"""Incremental (delta-shard) dedup: equivalence with the one-shot
operators restricted to the delta, and the bucketed-store scan shape."""

from pyspark.sql import functions as F

from agnes_spark.operators.dedup import exact_dedup, first_occurrences, minhash_lsh_pairs
from agnes_spark.operators.dedup_incremental import (
    incremental_exact_new,
    incremental_minhash_pairs,
    minhash_state,
    write_exact_store,
)


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _split(docs):
    return (
        docs.filter(F.col("doc_id") % 10 != 0),
        docs.filter(F.col("doc_id") % 10 == 0),
    )


def test_incremental_exact_matches_full_restriction(spark, sf_dir):
    """New-content ids from the incremental path == keepers of the full
    (corpus ∪ delta) dedup that are delta rows (a keeper from the delta
    means no corpus or earlier-delta row had that content)."""
    docs = _docs(spark, sf_dir)
    corpus, delta = _split(docs)
    store = first_occurrences(corpus, "doc_id", "text")
    got = {
        r.keep_id
        for r in incremental_exact_new(delta, store, "doc_id", "text").collect()
    }
    full_keepers = {
        r.keep_id
        for r in exact_dedup(docs, "doc_id", "text").collect()
        if r.keep_id % 10 == 0
    }
    assert got == full_keepers
    assert got  # scenario must actually exercise the path


def test_incremental_exact_bucketed_store_scan(spark, sf_dir, tmp_path):
    """The persisted store is a bucketed table: the anti-join plan must
    read it bucketed (store side never reshuffles)."""
    corpus, delta = _split(_docs(spark, sf_dir))
    write_exact_store(
        first_occurrences(corpus, "doc_id", "text"),
        "agnes_hash_store_test",
        path=str(tmp_path / "store"),
    )
    store = spark.table("agnes_hash_store_test")
    out = incremental_exact_new(delta, store, "doc_id", "text")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Bucketed: true" in plan
    assert out.count() > 0


def _path_to(node, name):
    """Node names from `node` down to the first node whose name ends
    with `name`, or None when no node below `node` does."""
    if node.nodeName().endswith(name):
        return [node.nodeName()]
    children = node.children()
    for i in range(children.size()):
        path = _path_to(children.apply(i), name)
        if path is not None:
            return [node.nodeName()] + path
    return None


def test_incremental_exact_store_buckets_follow_shuffle_partitions(spark, sf_dir, tmp_path):
    """The store has as many buckets as the session has shuffle
    partitions, so a sort-merge probe (store too big to broadcast)
    reads the store's buckets as they are: no Exchange between the
    join and the store's scan, even past 32 shuffle partitions."""
    conf = spark.conf
    saved = {
        k: conf.get(k)
        for k in ("spark.sql.shuffle.partitions", "spark.sql.autoBroadcastJoinThreshold")
    }
    conf.set("spark.sql.shuffle.partitions", "40")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        corpus, delta = _split(_docs(spark, sf_dir))
        write_exact_store(
            first_occurrences(corpus, "doc_id", "text"),
            "agnes_hash_store_sp_test",
            path=str(tmp_path / "store"),
        )
        described = spark.sql("DESCRIBE TABLE EXTENDED agnes_hash_store_sp_test").collect()
        assert {r.col_name: r.data_type for r in described}["Num Buckets"] == "40"
        out = incremental_exact_new(
            delta, spark.table("agnes_hash_store_sp_test"), "doc_id", "text"
        )
        plan = out._jdf.queryExecution().executedPlan()
        if plan.nodeName() == "AdaptiveSparkPlan":
            plan = plan.executedPlan()  # the initial plan, before any stage runs
        assert plan.nodeName() == "SortMergeJoin"
        store_side = _path_to(plan, "agnes_hash_store_sp_test")
        assert store_side is not None
        assert not [n for n in store_side if "Exchange" in n]
        assert out.count() > 0
    finally:
        for k, v in saved.items():
            conf.set(k, v)


def test_incremental_embedding_no_false_pos_and_recall(spark, sf_dir):
    """Delta-vs-corpus-state embedding pairs: every emitted pair is a
    true near-dup (exact verify), and the corpus-trained 2-nearest cell
    blocking recovers most exhaustive pairs involving the delta."""
    import numpy as np

    from agnes_spark.operators.dedup_incremental import (
        embedding_cell_store,
        incremental_embedding_pairs,
    )
    from agnes_spark.operators.simsearch import IvfIndex

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    corpus = emb.filter(F.col("vec_id") % 10 != 0)
    delta = emb.filter(F.col("vec_id") % 10 == 0)
    index = IvfIndex.build(corpus, "vec_id", "embedding", n_cells=4, max_iter=4)
    got = {
        (r.a_id, r.b_id)
        for r in incremental_embedding_pairs(
            delta, index.centers, embedding_cell_store(index),
            "vec_id", "embedding", threshold=0.35,
        ).collect()
    }
    index.unpersist()
    rows = emb.collect()
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in rows}
    ids = sorted(vecs)
    mat = np.stack([vecs[i] / np.linalg.norm(vecs[i]) for i in ids])
    sims = mat @ mat.T
    exact = {
        (ids[i], ids[j])
        for i in range(len(ids))
        for j in range(i + 1, len(ids))
        if sims[i, j] >= 0.35 and (ids[i] % 10 == 0 or ids[j] % 10 == 0)
    }
    assert got <= exact  # exact cosine verify: no false positives
    assert exact and len(got & exact) / len(exact) >= 0.5  # blocking recall


def _pairs(df):
    return {(r.a_id, r.b_id, r.jaccard) for r in df.collect()}


def test_incremental_minhash_parity_with_full(spark, sf_dir):
    """Incremental minhash pairs (delta probed against persisted corpus
    band index + shingle table) == full-run pairs involving the delta."""
    docs = _docs(spark, sf_dir)
    corpus, delta = _split(docs)
    bands, shingles = minhash_state(corpus, "doc_id", "text")
    d_bands, d_sets = minhash_state(delta, "doc_id", "text")
    inc = _pairs(
        incremental_minhash_pairs(d_bands, d_sets, bands, shingles, "doc_id", threshold=0.5)
    )
    full = {
        p
        for p in _pairs(minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.5))
        if p[0] % 10 == 0 or p[1] % 10 == 0
    }
    assert inc == full
    assert inc  # the synthetic docs contain planted near-dups


def test_incremental_minhash_sets_only_path_matches(spark, sf_dir, persistent_rdds):
    """The delta's state is built once, persisted by its caller and
    passed to the probe: the probe persists nothing of its own, and its
    pairs are minhash_lsh_pairs over corpus ∪ delta restricted to the
    pairs that involve the delta."""
    docs = _docs(spark, sf_dir)
    corpus, delta = _split(docs)
    bands, shingles = minhash_state(corpus, "doc_id", "text")
    d_bands, d_sets = minhash_state(delta, "doc_id", "text")
    d_sets.persist()
    d_bands.persist()
    try:
        d_sets.count(), d_bands.count()  # materialize the caller's caches
        before = persistent_rdds()
        inc = _pairs(
            incremental_minhash_pairs(d_bands, d_sets, bands, shingles, "doc_id", threshold=0.5)
        )
        assert persistent_rdds() == before
    finally:
        d_bands.unpersist()
        d_sets.unpersist()
    full = {
        p
        for p in _pairs(minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.5))
        if p[0] % 10 == 0 or p[1] % 10 == 0
    }
    assert inc == full
    assert inc


def test_incremental_state_builds_leave_no_temp_dirs(spark, sf_dir):
    """The registry's incremental minhash / embedding ops rebuild their
    corpus state on every call inside the process's one gate scratch
    directory, so repeated calls create no top-level temp directory of
    their own."""
    import os
    import tempfile

    import __spark_entry__ as entrymod

    def state_dirs():
        return {
            d
            for d in os.listdir(tempfile.gettempdir())
            if d.startswith(("agnes_mhstate_", "agnes_embstate_"))
        }

    before = state_dirs()
    for _ in range(2):
        entrymod.dedup_incremental_minhash(spark, sf_dir)
        entrymod.dedup_incremental_embedding(spark, sf_dir)
    assert state_dirs() == before


def test_dedup_incremental_result_outlives_the_next_call(spark, sf_dir):
    """Each `dedup_incremental` call writes its hash store into its own
    directory, so a result collected after a later call still reads its
    store and gives the same rows."""
    import __spark_entry__ as entrymod

    first = entrymod.dedup_incremental(spark, sf_dir)
    second = entrymod.dedup_incremental(spark, sf_dir)
    assert first.collect() == second.collect()
