"""Similarity-search tests: brute force against numpy ground truth;
LSH recall against brute force."""

import numpy as np
from pyspark.sql import functions as F

from agnes_spark.operators.simsearch import brute_force_topk, lsh_topk


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_brute_force_matches_numpy(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    rows = emb.collect()
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in rows}
    out = brute_force_topk(
        emb.filter(F.col("vec_id") < 3), emb, "vec_id", "vec_id", k=3
    ).collect()
    got = {}
    for r in out:
        got.setdefault(r.q_id, []).append((r.rank, r.n_id))
    for q_id, neigh in got.items():
        q = vecs[q_id]
        sims = sorted(
            (
                (-(v @ q) / (np.linalg.norm(v) * np.linalg.norm(q)), nid)
                for nid, v in vecs.items()
                if nid != q_id
            ),
        )[:3]
        expect = [nid for _, nid in sims]
        assert [nid for _, nid in sorted(neigh)] == expect


def test_brute_force_guards_large_query_side(spark, sf_dir):
    """brute_force_topk is the all-pairs oracle — it must refuse a
    query side above max_queries instead of silently planning a huge
    BroadcastNestedLoopJoin."""
    import pytest

    emb = _emb(spark, sf_dir)
    with pytest.raises(ValueError, match="oracle"):
        brute_force_topk(emb, emb, "vec_id", "vec_id", k=3, max_queries=10)
    # explicit opt-out still works
    out = brute_force_topk(
        emb.filter(F.col("vec_id") < 2), emb, "vec_id", "vec_id", k=2,
        max_queries=None,
    )
    assert out.count() == 4


def test_ivf_train_sample_is_layout_independent(spark, sf_dir):
    """The bounded KMeans training sample is a hash filter on the id —
    repartitioning the corpus must not change the built centroids
    (DataFrame.sample would; ADVICE r4)."""
    from agnes_spark.operators.simsearch import IvfIndex

    emb = _emb(spark, sf_dir)
    a = IvfIndex.build(emb, "vec_id", n_cells=4, max_iter=2, max_train_rows=200)
    b = IvfIndex.build(
        emb.repartition(7), "vec_id", n_cells=4, max_iter=2, max_train_rows=200
    )
    ca = sorted(tuple(r.ctr) for r in a.centers.collect())
    cb = sorted(tuple(r.ctr) for r in b.centers.collect())
    assert ca == cb
    a.unpersist()
    b.unpersist()


def test_lsh_topk_recall(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < 5)
    exact = brute_force_topk(q, emb, "vec_id", "vec_id", k=5).collect()
    approx = lsh_topk(q, emb, "vec_id", "vec_id", dim=64, k=5, num_planes=4).collect()
    exact_set = {(r.q_id, r.n_id) for r in exact}
    approx_set = {(r.q_id, r.n_id) for r in approx}
    # few planes -> big buckets -> recall should be decent even at tiny SF
    assert len(approx_set & exact_set) / len(exact_set) >= 0.4


def test_ivf_topk_recall_and_determinism(spark, sf_dir):
    from agnes_spark.operators.simsearch import ivf_topk

    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < 5)
    exact = brute_force_topk(q, emb, "vec_id", "vec_id", k=5).collect()
    approx = ivf_topk(q, emb, "vec_id", "vec_id", k=5, n_cells=4, n_probe=2).collect()
    exact_set = {(r.q_id, r.n_id) for r in exact}
    approx_set = {(r.q_id, r.n_id) for r in approx}
    # probing half the cells should recover most true neighbors
    assert len(approx_set & exact_set) / len(exact_set) >= 0.5
    # fixed seed -> identical output on rerun
    again = {(r.q_id, r.n_id) for r in ivf_topk(
        q, emb, "vec_id", "vec_id", k=5, n_cells=4, n_probe=2
    ).collect()}
    assert again == approx_set


def test_ivf_index_reuse_matches_oneshot(spark, sf_dir):
    from agnes_spark.operators.simsearch import IvfIndex, ivf_topk

    emb = _emb(spark, sf_dir)
    index = IvfIndex.build(emb, "vec_id", n_cells=4)
    q1 = emb.filter(F.col("vec_id") < 3)
    q2 = emb.filter((F.col("vec_id") >= 3) & (F.col("vec_id") < 6))
    got1 = {(r.q_id, r.rank, r.n_id) for r in index.topk(q1, "vec_id", n_probe=2).collect()}
    got2 = {(r.q_id, r.rank, r.n_id) for r in index.topk(q2, "vec_id", n_probe=2).collect()}
    oneshot = {(r.q_id, r.rank, r.n_id) for r in
               ivf_topk(emb.filter(F.col("vec_id") < 6), emb, "vec_id", "vec_id",
                        n_cells=4, n_probe=2).collect()}
    index.unpersist()
    assert got1 | got2 == oneshot


def test_ivf_index_save_load_roundtrip(spark, sf_dir, tmp_path):
    """A reloaded index answers identically to the one it was saved
    from — no retrain drift (VERDICT r1 item 8)."""
    from agnes_spark.operators.simsearch import IvfIndex

    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < 5)
    index = IvfIndex.build(emb, "vec_id", n_cells=4)
    before = {(r.q_id, r.rank, r.n_id) for r in index.topk(q, "vec_id", n_probe=2).collect()}
    path = str(tmp_path / "ivf_index")
    index.save(path)
    index.unpersist()
    loaded = IvfIndex.load(spark, path)
    assert loaded.n_cells == 4
    after = {(r.q_id, r.rank, r.n_id) for r in loaded.topk(q, "vec_id", n_probe=2).collect()}
    loaded.unpersist()
    assert after == before


def test_ivf_autotune_n_probe_hits_target_recall(spark, sf_dir):
    """autotune_n_probe returns the smallest probe count whose measured
    recall@k vs brute force meets the target (VERDICT r1 item 8)."""
    from agnes_spark.operators.simsearch import IvfIndex

    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < 10)
    index = IvfIndex.build(emb, "vec_id", n_cells=4)
    n_probe, curve = index.autotune_n_probe(q, "vec_id", k=5, target_recall=0.9)
    assert 1 <= n_probe <= 4
    # measure actual recall at the chosen n_probe against brute force
    exact = {(r.q_id, r.n_id) for r in brute_force_topk(q, emb, "vec_id", "vec_id", k=5).collect()}
    approx = {(r.q_id, r.n_id) for r in index.topk(q, "vec_id", k=5, n_probe=n_probe).collect()}
    index.unpersist()
    assert len(approx & exact) / len(exact) >= 0.9
    # curve is a CDF: nondecreasing, ends at 1.0 when all cells probed
    vals = [curve[pr] for pr in sorted(curve)]
    assert all(a <= b + 1e-9 for a, b in zip(vals, vals[1:]))


def test_label_centroids_match_numpy(spark, sf_dir):
    from agnes_spark.operators.embeddings import label_centroids

    emb = _emb(spark, sf_dir)
    rows = emb.collect()
    got = {r.label: (r.n_vecs, r.centroid) for r in
           label_centroids(emb, "label", "embedding").collect()}
    by_label = {}
    for r in rows:
        by_label.setdefault(r.label, []).append(np.array(r.embedding, dtype=np.float64))
    assert set(got) == set(by_label)
    for lbl, vecs in by_label.items():
        n, cent = got[lbl]
        assert n == len(vecs)
        expect = np.round(np.mean(vecs, axis=0), 6)
        assert np.allclose(cent, expect, atol=2e-6)


def test_ivf_topk_cache_reuses_index(spark, sf_dir):
    """Two ivf_topk calls give identical neighbors, also with a
    clearCache() between them; and an index the caller holds
    (IvfIndex.build once, topk twice) answers both probes alike and
    matches the one-shot call."""
    from pyspark.sql import functions as F

    from agnes_spark.operators.simsearch import IvfIndex, ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5)
    first = {(r.q_id, r.n_id) for r in ivf_topk(
        q, emb, "vec_id", "vec_id", k=3, n_cells=4
    ).collect()}
    spark.catalog.clearCache()
    second = {(r.q_id, r.n_id) for r in ivf_topk(
        q, emb, "vec_id", "vec_id", k=3, n_cells=4
    ).collect()}
    assert second == first

    index = IvfIndex.build(emb, "vec_id", "embedding", n_cells=4)
    try:
        probe = {(r.q_id, r.n_id) for r in index.topk(
            q, "vec_id", k=3
        ).collect()}
        spark.catalog.clearCache()
        again = {(r.q_id, r.n_id) for r in index.topk(
            q, "vec_id", k=3
        ).collect()}
    finally:
        index.unpersist()
    assert again == probe == first


def test_quantize_roundtrip_error_bound_and_zero_vector(spark):
    """|v - q*scale| <= scale/2 per element by construction; an
    all-zero vector survives with scale 1.0 and zero codes."""
    from agnes_spark.operators.embeddings import (
        dequantize_embeddings,
        quantize_embeddings,
    )
    from agnes_spark.sources.memory import table

    df = table(
        spark,
        {"id": [1, 2], "embedding": [[0.5, -1.0, 0.25, 0.0], [0.0, 0.0, 0.0, 0.0]]},
        types={"id": "bigint", "embedding": "array<double>"},
    )
    q = quantize_embeddings(df, "id")
    rows = {r.id: r for r in dequantize_embeddings(q, out_col="back").collect()}
    assert rows[2].q_scale == 1.0 and all(v == 0 for v in rows[2].q_vec)
    scale = rows[1].q_scale
    for orig, back in zip([0.5, -1.0, 0.25, 0.0], rows[1].back):
        assert abs(orig - back) <= scale / 2 + 1e-12
    # max-|v| element hits exactly +-127
    assert min(rows[1].q_vec) == -127


def test_quality_classifier_learns_separable_target(spark, sf_dir):
    """The ml-interop wiring: deterministic hash holdout, LR fit over
    array features, broadcast-model scoring — holdout accuracy on a
    derived separable target beats 0.8, and scoring covers every row
    with confidence in (0, 1]. The fit's save/load round-trip leaves
    no model directory behind, and the loaded model scores without it."""
    import glob
    import os
    import tempfile

    from pyspark.sql import functions as F

    from agnes_spark.operators.mlinterop import (
        score_with_model,
        train_quality_classifier,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").withColumn(
        "target",
        ((F.element_at("embedding", 1) + F.element_at("embedding", 2)) > 0).cast("int"),
    )
    model_dirs = os.path.join(tempfile.gettempdir(), "agnes_lr_*")
    before = set(glob.glob(model_dirs))
    model, holdout = train_quality_classifier(emb, "vec_id", "embedding", "target")
    assert set(glob.glob(model_dirs)) <= before
    acc = (
        model.transform(holdout)
        .agg(F.avg((F.col("prediction") == F.col("target").cast("double")).cast("double")))
        .collect()[0][0]
    )
    assert acc >= 0.8
    scored = score_with_model(model, emb, "vec_id", "embedding")
    assert scored.count() == emb.count()
    rows = scored.limit(50).collect()
    assert all(0 < r.confidence <= 1 for r in rows)


def test_ivf_topk_probes_nearest_cells_lower_cell_wins_a_tie(spark):
    """IvfIndex.topk scores only the rows of each query's n_probe
    nearest cells, and of two cells at the same distance the lower
    cell id is probed first. Query (0, 1) is at squared distance 1
    from cells 1 and 2 and 36 from cell 0; each cell holds one row."""
    from agnes_spark.operators.simsearch import IvfIndex

    centers = spark.createDataFrame(
        [(2, [1.0, 1.0]), (1, [-1.0, 1.0]), (0, [0.0, -5.0])],
        "cell int, ctr array<double>",
    )
    assigned = spark.createDataFrame(
        [
            (11, [1.0, 1.0], 2.0**0.5, 2),
            (10, [-1.0, 1.0], 2.0**0.5, 1),
            (12, [0.0, -1.0], 1.0, 0),
        ],
        "n_id long, n_v array<double>, n_norm double, cell int",
    )
    index = IvfIndex(assigned, centers, 3)
    q = spark.createDataFrame([(1, [0.0, 1.0])], "vec_id long, embedding array<float>")
    probed = {
        n: sorted(r.n_id for r in index.topk(q, "vec_id", k=5, n_probe=n).collect())
        for n in (1, 2, 3)
    }
    assert probed == {1: [10], 2: [10, 11], 3: [10, 11, 12]}


def test_ivf_index_frees_what_it_holds(spark, sf_dir, persistent_rdds):
    """A built index holds one persistent RDD, its checkpointed cell
    assignment, in as many partitions as a shuffle makes (so probes
    read it in parallel), and `unpersist()` frees it; two collected
    ivf_topk results hold at most one each."""
    from agnes_spark.operators.simsearch import IvfIndex, ivf_topk

    emb = _emb(spark, sf_dir)
    before = persistent_rdds()
    index = IvfIndex.build(emb, "vec_id", n_cells=4, max_iter=2)
    assert len(persistent_rdds() - before) == 1
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert index.assigned.rdd.getNumPartitions() == n_parts
    index.unpersist()
    assert persistent_rdds() - before == set()

    q = emb.filter(F.col("vec_id") < 3)
    results = [ivf_topk(q, emb, "vec_id", "vec_id", k=3, n_cells=4) for _ in range(2)]
    for r in results:
        r.collect()
    assert len(persistent_rdds() - before) <= len(results)
