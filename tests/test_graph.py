"""Connected components + canonical-doc selection."""

import warnings

import pytest
from pyspark.sql import functions as F

from agnes_spark.operators.graph import (
    canonical_per_cluster,
    connected_components,
    connected_components_star,
)
from agnes_spark.sources.memory import table


def test_components_basic(spark):
    # two components {1,2,3,9} (chain) and {5,6}, isolated 7 absent
    edges = table(
        spark,
        {"a_id": [1, 2, 3, 5], "b_id": [2, 3, 9, 6]},
        types={"a_id": "long", "b_id": "long"},
    )
    got = {r.id: r.cluster_id for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 9: 1, 5: 5, 6: 5}


def test_components_path_diameter(spark):
    # a 12-node path exercises multi-round propagation
    n = 12
    edges = table(
        spark,
        {"a_id": list(range(n - 1)), "b_id": list(range(1, n))},
        types={"a_id": "long", "b_id": "long"},
    )
    got = {r.id: r.cluster_id for r in connected_components(edges).collect()}
    assert got == {i: 0 for i in range(n)}


def test_components_max_iter_warns(spark):
    # a 12-node path can't converge in 2 rounds of label propagation;
    # the partial result must come with a RuntimeWarning (ADVICE r1)
    n = 12
    edges = table(
        spark,
        {"a_id": list(range(n - 1)), "b_id": list(range(1, n))},
        types={"a_id": "long", "b_id": "long"},
    )
    with pytest.warns(RuntimeWarning, match="max_iter"):
        connected_components(edges, max_iter=2).collect()


def test_components_star_matches_label_propagation(spark):
    edges = table(
        spark,
        {"a_id": [1, 2, 3, 5], "b_id": [2, 3, 9, 6]},
        types={"a_id": "long", "b_id": "long"},
    )
    got = {r.id: r.cluster_id for r in connected_components_star(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 9: 1, 5: 5, 6: 5}


def test_components_star_long_path_converges_fast(spark):
    # 200-node path: label propagation needs ~200 rounds, large/small
    # star must finish within O(log n) rounds (max_iter=12 << 200)
    n = 200
    edges = table(
        spark,
        {"a_id": list(range(n - 1)), "b_id": list(range(1, n))},
        types={"a_id": "long", "b_id": "long"},
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)  # no max_iter warning
        got = {
            r.id: r.cluster_id
            for r in connected_components_star(edges, max_iter=12).collect()
        }
    assert got == {i: 0 for i in range(n)}


def test_canonical_per_cluster(spark):
    docs = table(
        spark,
        {"doc_id": [1, 2, 3, 5, 6, 7], "text": ["a", "a", "a", "b", "b", "c"]},
        types={"doc_id": "long", "text": "string"},
    )
    edges = table(
        spark,
        {"a_id": [1, 1, 5], "b_id": [2, 3, 6]},
        types={"a_id": "long", "b_id": "long"},
    )
    comps = connected_components(edges)
    kept = canonical_per_cluster(docs, comps, "doc_id")
    assert {r.doc_id for r in kept.collect()} == {1, 5, 7}


def test_components_on_real_dedup_pairs(spark, sf_dir):
    from agnes_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    comps = connected_components(pairs)
    rows = comps.collect()
    # every cluster id is the min member of its cluster
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r.cluster_id, []).append(r.id)
    for cid, members in by_cluster.items():
        assert cid == min(members)
    # clusters cover exactly the nodes present in pairs
    node_set = {r.a_id for r in pairs.collect()} | {r.b_id for r in pairs.collect()}
    assert {r.id for r in rows} == node_set


def test_connected_components_auto_matches_iterative(spark, sf_dir):
    """Driver union-find (small path) produces exactly the iterative
    result, and the large path kicks in above the threshold."""
    from agnes_spark.operators.dedup import ngram_jaccard_pairs
    from agnes_spark.operators.graph import (
        connected_components,
        connected_components_auto,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5).persist()
    it = {(r.id, r.cluster_id) for r in connected_components(pairs).collect()}
    small = {(r.id, r.cluster_id) for r in connected_components_auto(pairs).collect()}
    assert small == it
    # force the distributed path: threshold below the edge count
    big = {
        (r.id, r.cluster_id)
        for r in connected_components_auto(pairs, small_threshold=1).collect()
    }
    assert big == it
    pairs.unpersist()


def test_pagerank_known_graph(spark):
    """Hand-checkable graph incl. a dangling node: ranks match an
    independent dense power iteration to 1e-9 and sum to N."""
    import numpy as np
    from pyspark.sql import functions as F

    from agnes_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (1, 4)], "src long, dst long"
    )
    got = {r["id"]: r["rank"] for r in pagerank(edges, max_iter=40, tol=0).collect()}
    assert abs(sum(got.values()) - 4.0) < 1e-9  # mass conserved w/ dangling node

    ids = [1, 2, 3, 4]
    out = {1: [2, 4], 2: [3], 3: [1], 4: []}
    r = np.ones(4)
    d = 0.85
    for _ in range(40):
        dang = sum(r[i] for i, n in enumerate(ids) if not out[n])
        new = np.full(4, 1 - d) + d * dang / 4
        for i, n in enumerate(ids):
            for m in out[n]:
                new[ids.index(m)] += d * r[i] / len(out[n])
        r = new
    for i, n in enumerate(ids):
        assert abs(got[n] - r[i]) < 1e-9


def test_pagerank_converges_and_early_exits(spark):
    """With tol > 0 the loop exits before max_iter on a graph that
    converges fast (symmetric cycle: stationary immediately)."""
    from agnes_spark.operators.graph import pagerank

    # 2-cycle: ranks are exactly 1.0 forever -> delta 0 after round 1
    edges = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
    result = pagerank(edges, max_iter=30, tol=1e-9)
    got = {r["id"]: r["rank"] for r in result.collect()}
    assert got == {1: 1.0, 2: 1.0}
    # the early exit must actually FIRE (final ranks alone can't tell):
    # delta is 0 from round 1, so the loop stops far below max_iter
    assert result._agnes_iterations < 5
    # and tol=0 runs the full fixed schedule
    assert pagerank(edges, max_iter=7, tol=0)._agnes_iterations == 7


def test_pagerank_observed_loop_matches_fixed_rounds(spark):
    """Both pagerank schedules run the same round: on a graph with no
    dangling node, tol=0 takes the lazy fixed-round schedule, while a
    tol too small to stop within max_iter forces the observed loop for
    all 7 rounds. The ranks agree to 1e-12."""
    from agnes_spark.operators.graph import pagerank

    # a triangle with a 12-node tail, both directions: no dangling node
    und = [(1, 2), (2, 3), (1, 3)] + [(i, i + 1) for i in range(3, 15)]
    edges = spark.createDataFrame(und + [(b, a) for a, b in und], "src long, dst long")
    fixed = {r.id: r.rank for r in pagerank(edges, max_iter=7, tol=0.0).collect()}
    observed = pagerank(edges, max_iter=7, tol=1e-300)
    got = {r.id: r.rank for r in observed.collect()}
    assert observed._agnes_iterations == 7
    assert got.keys() == fixed.keys() and len(got) == 15
    assert max(abs(got[n] - fixed[n]) for n in got) < 1e-12


def test_within_group_pairs_matches_self_join(spark, sf_dir):
    """The array pair expansion must produce the IDENTICAL multiset of
    (a < b) pairs as the canonical equi self-join — including
    duplicate items within a group (skipped) and repeated pairs
    across rows (counted)."""
    from pyspark.sql import functions as F

    from agnes_spark.operators.graph import within_group_pairs

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_partkey"
    )
    got = (
        within_group_pairs(li, "l_orderkey", "l_partkey")
        .groupBy("a", "b")
        .count()
    )
    x, y = li.alias("x"), li.alias("y")
    want = (
        x.join(y, "l_orderkey")
        .filter(F.col("x.l_partkey") < F.col("y.l_partkey"))
        .select(F.col("x.l_partkey").alias("a"), F.col("y.l_partkey").alias("b"))
        .groupBy("a", "b")
        .count()
    )
    mismatches = (
        got.withColumnRenamed("count", "ng")
        .join(want.withColumnRenamed("count", "nw"), ["a", "b"], "full")
        .filter(
            F.coalesce(F.col("ng"), F.lit(-1)) != F.coalesce(F.col("nw"), F.lit(-2))
        )
        .count()
    )
    assert mismatches == 0
    assert got.count() > 0


def test_triangle_count_known_graph(spark):
    from agnes_spark.operators.graph import triangle_count

    # K4 on {1,2,3,4} (4 triangles) plus a pendant edge 4-5 (0 more),
    # fed with duplicates, reversed direction, and a self-loop — all
    # of which must collapse before counting.
    edges = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    edges += [(2, 1), (4, 5), (5, 4), (3, 3)]
    df = spark.createDataFrame(edges, "src long, dst long")
    row = triangle_count(df, "src", "dst").collect()[0]
    assert (row.n_vertices, row.n_edges, row.n_triangles) == (5, 7, 4)


def test_triangle_count_triangle_free(spark):
    from agnes_spark.operators.graph import triangle_count

    # star graphs and even cycles are triangle-free
    star = [(0, i) for i in range(1, 8)]
    cycle = [(10 + i, 10 + (i + 1) % 6) for i in range(6)]
    df = spark.createDataFrame(star + cycle, "src long, dst long")
    row = triangle_count(df, "src", "dst").collect()[0]
    assert row.n_triangles == 0
    assert (row.n_vertices, row.n_edges) == (8 + 6, 7 + 6)


def test_kcore_peels_pendants_and_cascades(spark):
    from agnes_spark.operators.graph import kcore

    # triangle 1-2-3 + pendant chain 3-4, 4-5 (symmetric directed)
    und = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long"
    )
    got = {r.id: r.degree for r in kcore(edges, k=2, max_iter=8).collect()}
    # 2-core: the pendant chain peels in cascade (5 first, then 4);
    # the triangle survives with degree 2 each
    assert got == {1: 2, 2: 2, 3: 2}
    # k=3: nothing in this graph has a 3-core
    assert kcore(edges, k=3, max_iter=8).count() == 0
    # max_iter=0: no peeling ran — degrade to full-graph degrees
    # (r12 advice: the alive-set loop left `alive` None and the final
    # restriction raised; the edge-frame formulation degraded
    # gracefully, and so must this one)
    got0 = {r.id: r.degree for r in kcore(edges, k=2, max_iter=0).collect()}
    assert got0 == {1: 2, 2: 2, 3: 3, 4: 2, 5: 1}


def test_link_prediction_known_graph(spark):
    from agnes_spark.operators.graph import link_prediction

    # square 1-2-3-4-1 plus chord 1-3: non-edge (2,4) has common
    # neighbors {1,3}; pairs already adjacent never appear
    und = [(1, 2), (2, 3), (3, 4), (1, 4), (1, 3)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long"
    )
    rows = {
        (r.u, r.w): r
        for r in link_prediction(edges, min_cn=2).collect()
    }
    assert set(rows) == {(2, 4)}
    r = rows[(2, 4)]
    assert r.cn == 2 and r.deg_u == 2 and r.deg_w == 2 and r.pa == 4
    # jaccard = 2 / (2 + 2 - 2)
    assert abs(r.jacc - 1.0) < 1e-12


def test_link_prediction_hub_cap_drops_wedges_through_hubs(spark):
    from agnes_spark.operators.graph import link_prediction

    # star center 0 with leaves 1..4: every leaf pair shares only the
    # hub; capping the wedge-center degree below 4 removes them all
    und = [(0, i) for i in range(1, 5)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long"
    )
    assert link_prediction(edges, min_cn=1).count() == 6
    assert link_prediction(edges, min_cn=1, max_wedge_degree=3).count() == 0


def test_degree_assortativity_star_is_negative(spark):
    from agnes_spark.operators.graph import degree_assortativity

    # star: hub degree 4 links to degree-1 leaves -> strongly
    # disassortative (r = -1 for a pure star)
    und = [(0, i) for i in range(1, 5)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long"
    )
    row = degree_assortativity(edges).collect()[0]
    assert row.m == 8 and row.sum_x == row.sum_y == 20
    assert abs(row.r + 1.0) < 1e-12


def test_degree_assortativity_regular_graph_is_null(spark):
    from agnes_spark.operators.graph import degree_assortativity

    # 4-cycle: all degrees equal -> zero variance -> r undefined (NULL)
    und = [(1, 2), (2, 3), (3, 4), (4, 1)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long"
    )
    row = degree_assortativity(edges).collect()[0]
    assert row.m == 8 and row.r is None


def test_label_propagation_two_cliques(spark):
    from agnes_spark.operators.graph import label_propagation

    # two 4-cliques joined by one bridge edge -> two communities
    def clique(ids):
        return [(a, b) for a in ids for b in ids if a != b]

    edges = clique([1, 2, 3, 4]) + clique([10, 11, 12, 13]) + [(4, 10), (10, 4)]
    df = spark.createDataFrame(edges, "src long, dst long")
    out = {r.id: r.community for r in label_propagation(df, max_iter=4).collect()}
    assert len(out) == 8
    left = {out[i] for i in (1, 2, 3, 4)}
    right = {out[i] for i in (10, 11, 12, 13)}
    assert len(left) == 1 and len(right) == 1
    assert left != right


def test_label_propagation_deterministic_tiebreak(spark):
    from agnes_spark.operators.graph import label_propagation

    # node 2 sees labels {1, 3} equally often -> min label wins
    df = spark.createDataFrame(
        [(1, 2), (2, 1), (3, 2), (2, 3)], "src long, dst long"
    )
    out = {r.id: r.community for r in label_propagation(df, max_iter=1).collect()}
    assert out[2] == 1  # tie between 1 and 3 -> smallest


def test_personalized_pagerank_localizes_to_seeds(spark):
    from agnes_spark.operators.graph import personalized_pagerank

    # two disjoint triangles; seeds in the first one only
    tri1 = [(1, 2), (2, 3), (1, 3)]
    tri2 = [(10, 11), (11, 12), (10, 12)]
    und = tri1 + tri2
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long"
    )
    got = {
        r.id: r.rank
        for r in personalized_pagerank(edges, [1], rounds=8).collect()
    }
    # the seed's component holds ALL the mass; the other is exactly 0
    assert got[10] == got[11] == got[12] == 0.0
    assert got[1] > got[2] > 0 and abs(got[2] - got[3]) < 1e-15
    # restart mass is conserved on a dangling-free graph
    assert abs(sum(got.values()) - 1.0) < 1e-9
    # seed stays the top-ranked node
    assert got[1] == max(got.values())


def test_iterative_rounds_free_superseded_checkpoint_blocks(spark):
    """r8 advice: DataFrame.unpersist() is a no-op for localCheckpoint
    blocks (they live at the RDD layer, outside the cacheManager), so
    superseded round frames accumulated per invocation. supersede
    must keep the per-invocation residue bounded: after pagerank over
    a path graph, at most the final round frame(s) may stay resident —
    not one block set per checkpointed round."""
    from agnes_spark.operators.graph import pagerank

    sc = spark.sparkContext

    def n_stored():
        return len(
            [i for i in sc._jsc.sc().getRDDStorageInfo() if i.numCachedPartitions() > 0]
        )

    spark.catalog.clearCache()
    base = n_stored()
    edges = table(
        spark,
        {"a_id": list(range(1, 30)), "b_id": list(range(2, 31))},
        types={"a_id": "long", "b_id": "long"},
    )
    pr = pagerank(edges, src="a_id", dst="b_id", max_iter=9, tol=0.0)
    pr.count()
    # 9 rounds -> 3 checkpoints; only the LAST may remain (plus the
    # returned frame's own block). Pre-fix this sat at ~3 extra sets.
    assert n_stored() - base <= 2


@pytest.mark.parametrize(
    "name",
    [
        "pagerank_fixed_rounds",
        "pagerank_observed",
        "personalized_pagerank",
        "kcore",
        "label_propagation",
        "connected_components",
        "connected_components_star",
        "bpe_train",
        "dbscan_grid",
        "theil_sen",
        "pca_power_top",
        "kmeans_assign",
    ],
)
def test_iterative_ops_leave_one_persistent_rdd_per_result(spark, persistent_rdds, name):
    """An iterative operator frees every round frame its result does
    not read: after two calls, with both results collected and still
    referenced, the session holds at most one more persistent RDD per
    result. bpe_train returns a driver-local table, so it holds none.
    dbscan_grid, theil_sen, pca_power_top and kmeans_assign checkpoint
    intermediate frames and are held to the same bound."""
    from agnes_spark.operators.bpe import bpe_train
    from agnes_spark.operators.clustering import kmeans_assign
    from agnes_spark.operators.graph import (
        kcore,
        label_propagation,
        pagerank,
        personalized_pagerank,
    )
    from agnes_spark.operators.pca import pca_power_top
    from agnes_spark.operators.spatial import dbscan_grid
    from agnes_spark.operators.stats import theil_sen

    # a triangle with a 12-node tail, both directions: no dangling node
    und = [(1, 2), (2, 3), (1, 3)] + [(i, i + 1) for i in range(3, 15)]
    edges = spark.createDataFrame(und + [(b, a) for a, b in und], "src long, dst long")
    words = ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3
    docs = spark.createDataFrame([(" ".join(words),)], "text string")
    # a 5 x 4 grid of unit spacing (one cluster) and two far noise points
    pts = spark.createDataFrame(
        [(i, i % 5, i // 5) for i in range(20)] + [(20, 100, 100), (21, -100, 50)],
        "id long, x long, y long",
    )
    line = spark.createDataFrame([(x, 3 * x + x % 3) for x in range(12)], "x long, y long")
    vecs = spark.createDataFrame(
        [(i, [float(i % 3), float(i % 5), i / 4]) for i in range(12)], "id long, v array<double>"
    )
    op = {
        "pagerank_fixed_rounds": lambda: pagerank(edges, max_iter=7, tol=0.0),
        "pagerank_observed": lambda: pagerank(edges, max_iter=7),
        "personalized_pagerank": lambda: personalized_pagerank(edges, [1], rounds=7),
        "kcore": lambda: kcore(edges, k=2),
        "label_propagation": lambda: label_propagation(edges, max_iter=5),
        "connected_components": lambda: connected_components(edges, "src", "dst"),
        "connected_components_star": lambda: connected_components_star(
            edges, "src", "dst"
        ),
        "bpe_train": lambda: bpe_train(docs, "text", merges=9),
        "dbscan_grid": lambda: dbscan_grid(pts, "id", "x", "y", radius=2, min_pts=3),
        "theil_sen": lambda: theil_sen(line, "x", "y"),
        "pca_power_top": lambda: pca_power_top(vecs, "v", n_components_out=2),
        "kmeans_assign": lambda: kmeans_assign(vecs, "id", "v", k=3),
    }[name]
    before = len(persistent_rdds())
    results = [op() for _ in range(2)]
    for r in results:
        r.collect()
    allowed = 0 if name == "bpe_train" else len(results)
    assert len(persistent_rdds()) - before <= allowed
