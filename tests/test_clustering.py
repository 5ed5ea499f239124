"""Deterministic Lloyd k-means (operators/clustering.py) — parity
against an independent numpy replay of the same fixed-round spec."""

import numpy as np

from agnes_spark.operators.clustering import kmeans_assign


def _numpy_lloyd(vecs, k, rounds, scale):
    q = np.round(np.asarray(vecs, dtype=np.float64) * scale).astype(np.int64)
    cent = q[:k].astype(np.float64)  # rows are already id-ordered
    assign = None
    for rnd in range(rounds):
        d = ((q[:, None, :].astype(np.float64) - cent[None, :, :]) ** 2).sum(
            axis=2
        )
        assign = d.argmin(axis=1)  # argmin takes the first (lowest idx) tie
        if rnd == rounds - 1:
            break
        for c in range(k):
            members = q[assign == c]
            if len(members):
                cent[c] = members.sum(axis=0, dtype=np.int64) / len(members)
    return assign


def test_kmeans_matches_numpy_replay(spark):
    rng = np.random.RandomState(7)
    base = 3.0 * rng.randn(4, 6)
    blobs = [base[i] + 0.1 * rng.randn(30, 6) for i in range(4)]
    # interleave so the k-smallest-id init seeds one point per blob
    pts = np.stack(
        [blobs[i % 4][i // 4] for i in range(120)]
    )
    rows = [(i, [float(x) for x in pts[i]]) for i in range(len(pts))]
    df = spark.createDataFrame(rows, "vid long, v array<double>")
    got = {
        r.vid: r.cluster
        for r in kmeans_assign(df, "vid", "v", k=4, rounds=3).collect()
    }
    want = _numpy_lloyd(pts, 4, 3, 1000)
    assert got == {i: int(want[i]) for i in range(len(pts))}
    # separated blobs: each input blob lands in ONE cluster
    for b in range(4):
        blob = {got[i] for i in range(len(pts)) if i % 4 == b}
        assert len(blob) == 1


def test_kmeans_single_round_uses_init_centroids(spark):
    rows = [(0, [0.0]), (1, [1.0]), (2, [0.01]), (3, [0.99])]
    df = spark.createDataFrame(rows, "vid long, v array<double>")
    got = {
        r.vid: r.cluster
        for r in kmeans_assign(df, "vid", "v", k=2, rounds=1).collect()
    }
    # centroids are vecs of ids 0 and 1; nearest assignment only
    assert got == {0: 0, 1: 1, 2: 0, 3: 1}


def test_kmeans_tie_breaks_to_lower_cluster_index(spark):
    # point equidistant from both centroids -> cluster 0
    rows = [(0, [0.0]), (1, [2.0]), (2, [1.0])]
    df = spark.createDataFrame(rows, "vid long, v array<double>")
    got = {
        r.vid: r.cluster
        for r in kmeans_assign(df, "vid", "v", k=2, rounds=1).collect()
    }
    assert got[2] == 0


def test_kmeans_rejects_degenerate_parameters(spark):
    import pytest

    df = spark.createDataFrame([(0, [0.0]), (1, [1.0])], "vid long, v array<double>")
    with pytest.raises(ValueError, match="rounds must be >= 1"):
        kmeans_assign(df, "vid", "v", k=2, rounds=0)
    with pytest.raises(ValueError, match="k must be >= 2"):
        kmeans_assign(df, "vid", "v", k=1, rounds=1)


def test_kmeans_rejects_empty_ragged_and_null_vectors(spark):
    import pytest

    def df(vecs):
        return spark.createDataFrame(list(enumerate(vecs)), "vid long, v array<double>")

    with pytest.raises(ValueError, match="ragged"):
        kmeans_assign(df([[0.0, 1.0], [1.0], [2.0, 2.0]]), "vid", "v", k=2, rounds=2)
    with pytest.raises(ValueError, match="empty"):
        kmeans_assign(df([[], [], []]), "vid", "v", k=2, rounds=2)
    with pytest.raises(ValueError, match="NULL"):
        kmeans_assign(df([[0.0], None, [1.0]]), "vid", "v", k=2, rounds=2)
    with pytest.raises(ValueError, match="at least k rows"):
        kmeans_assign(df([[0.0], [1.0]]), "vid", "v", k=3, rounds=1)
