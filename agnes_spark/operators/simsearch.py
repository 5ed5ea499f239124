"""Similarity search over embedding columns, and the one embedding-
similarity engine that every embedding top-k and dedup path runs on.

Three top-k paths:
- `brute_force_topk`: exact cosine top-k, the correctness oracle;
- `lsh_topk`: random-hyperplane LSH, each query scores only its
  bucket's rows (multi-probe adds every one-bit-flip bucket);
- `IvfIndex.topk`: KMeans cells, each query scores only the rows of
  its n_probe nearest cells.

The engine, each job written once:
- `vectors`: (id, array<double> vector, L2 norm) rows, the norm taken
  once per row before any pair join, so a pair costs one dot product;
- `pair_cosine`: the cosine of a pair row of two such sides;
- `nearest_cells`: every vector's nearest centers with their probe
  rank, as one broadcast projection;
- `_topk`: score candidate pairs and keep each query's k best;
- `cell_pairs`: the block-key pair join and exact-cosine verify of
  dedup.embedding_dedup_pairs, dedup.embedding_dedup_auto and
  dedup_incremental.incremental_embedding_pairs.

Scores are computed JVM-side (zip_with/aggregate dot products);
queries and centers are broadcast (they are small by definition).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from agnes_spark.functions import dot, l2_norm, vec_double
from agnes_spark.session import supersede


def vectors(
    df: DataFrame, id_col: str, vec_col: str = "embedding", side: str = "n", keep=()
) -> DataFrame:
    """(*keep, <side>_id, <side>_v, <side>_norm): each row's vector
    widened to array<double> with its L2 norm. The norm is computed
    once per row, before any pair join: inside the join each pair
    costs one dot product (`pair_cosine`), not a dot product and two
    norms."""
    v = f"{side}_v"
    return df.select(
        *keep, F.col(id_col).alias(f"{side}_id"), vec_double(F.col(vec_col)).alias(v)
    ).withColumn(f"{side}_norm", l2_norm(F.col(v)))


def pair_cosine(a: str = "q", b: str = "n") -> Column:
    """Cosine of a pair row's `a`-side and `b`-side `vectors`."""
    return dot(F.col(f"{a}_v"), F.col(f"{b}_v")) / (
        F.col(f"{a}_norm") * F.col(f"{b}_norm")
    )


def nearest_cells(
    vecs: DataFrame, centers: DataFrame, k: int | None = None, side: str = "n"
) -> DataFrame:
    """(cell, *vecs.columns, pr): every row of `vecs` replicated to its
    k nearest centers (every center when k is None), `pr` the 1-based
    probe rank in (squared distance asc, cell asc) order, so the lower
    cell id wins a distance tie. `centers` is (cell, ctr).

    For the cell-blocked pair joins k is the recall knob at a fixed
    threshold: candidate-join cost grows ~k^2/n_cells, blocking recall
    with it (measured at sf0.1/threshold 0.35: k=2 -> 0.42,
    k=3 -> 0.63, k=4 -> 0.77 of exhaustive pairs).

    One projection, zero shuffle: the centers are tiny, so they fold
    into a single-row array broadcast onto every vector. (A cross join
    with the centers ranked by a window would multiply every row
    x n_cells WITH its vector payload and shuffle all of it through
    the window exchange.)"""
    cs = centers.agg(F.collect_list(F.struct("cell", "ctr")).alias("__cs"))
    v = F.col(f"{side}_v")
    by_dist = F.array_sort(
        F.transform(
            F.col("__cs"),
            lambda c: F.struct(
                F.aggregate(
                    F.zip_with(v, c["ctr"], lambda x, y: (x - y) * (x - y)),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ).alias("d2"),
                c["cell"].alias("cell"),
            ),
        )
    )
    if k is not None:
        by_dist = F.slice(by_dist, 1, k)
    ranked = F.transform(
        by_dist, lambda c, i: F.struct(c["cell"].alias("cell"), (i + 1).alias("pr"))
    )
    cols = vecs.columns
    return (
        vecs.join(F.broadcast(cs))
        .select(*cols, F.explode(ranked).alias("near"))
        .select(F.col("near.cell").alias("cell"), *cols, F.col("near.pr").alias("pr"))
    )


def _topk(corpus: DataFrame, queries: DataFrame, k: int, on=None) -> DataFrame:
    """(q_id, rank, n_id, cos): score every (corpus, query) pair of
    `vectors` rows that share `on` (every pair when None), a row never
    scoring itself, and keep each query's k best by (cos desc, n_id
    asc) — ranked on the raw double, cos rounded to 6 places. The
    query side is broadcast; with `on=None` that is a
    BroadcastNestedLoopJoin of |Q| x |corpus| dot products."""
    not_self = F.col("q_id") != F.col("n_id")
    if on is None:
        pairs = corpus.join(F.broadcast(queries), not_self)
    else:
        pairs = corpus.join(F.broadcast(queries), on).filter(not_self)
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("n_id").asc())
    return (
        pairs.withColumn("cos", pair_cosine())
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "n_id", F.round("cos", 6).alias("cos"))
    )


def cell_pairs(
    left: DataFrame,
    threshold: float,
    right: DataFrame | None = None,
    key: str = "cell",
    replicated: bool = True,
) -> DataFrame:
    """Exact-cosine verified pairs of (key, n_id, n_v, n_norm) rows
    that share `key`: `left` against itself with a_id < b_id, or
    against `right` (whose ids are disjoint from left's) with each
    pair oriented as (least, greatest). Returns (a_id, b_id, cos),
    the threshold applied to the unrounded cosine and cos rounded to
    6 places.

    `replicated`: rows were assigned to several blocks
    (`nearest_cells` with k > 1), so a pair can meet in more than one
    block; the key is dropped and duplicate pairs removed. Otherwise
    each pair meets once and its key leads the output columns.

    Score and threshold BEFORE deduplicating: the candidate set is
    ~1000x larger than the surviving near-dups and each candidate row
    carries two vectors, so deduplicating first would shuffle all that
    payload, while filtering first shuffles only (a_id, b_id, cos) of
    the survivors. A pair found in two blocks is scored twice (same
    value), far cheaper than the wide shuffle."""

    def side(df, p):
        return df.select(
            key, *[F.col(f"n_{c}").alias(f"{p}_{c}") for c in ("id", "v", "norm")]
        )

    a, b = side(left, "a"), side(left if right is None else right, "b")
    if right is None:
        pairs = a.join(b, key).filter(F.col("a_id") < F.col("b_id"))
        ids = ["a_id", "b_id"]
    else:
        pairs = a.join(b, key)
        ids = [
            F.least("a_id", "b_id").alias("a_id"),
            F.greatest("a_id", "b_id").alias("b_id"),
        ]
    scored = pairs.withColumn("cos", pair_cosine("a", "b")).filter(
        F.col("cos") >= threshold
    )
    if not replicated:
        return scored.select(key, *ids, F.round("cos", 6).alias("cos"))
    return scored.select(*ids, F.round("cos", 6).alias("cos")).dropDuplicates(
        ["a_id", "b_id"]
    )


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    vec_col: str = "embedding",
    k: int = 5,
    max_queries: int | None = 10_000,
) -> DataFrame:
    """Exact top-k by cosine — ORACLE / SMALL-QUERY-SET ONLY.

    Broadcast queries x corpus, windowed top-k per query (rank on raw
    double score, deterministic id tie-break). Cost is |Q| * |corpus|
    dot products via a BroadcastNestedLoopJoin — by construction, not
    by accident: this IS the exact all-pairs baseline the ANN recall
    gates (check_lsh_scores_exact, check_ivf_autotuned_recall) compare
    against, and exactly what an IVF probe does per cell. Never point
    it at a large query set — use `IvfIndex.topk` / `lsh_topk` there.
    `max_queries` (default 10k) enforces that: the call fails fast if
    the query side exceeds it; pass None only when you mean it.
    """
    if max_queries is not None:
        n_q = queries.limit(max_queries + 1).count()
        if n_q > max_queries:
            raise ValueError(
                f"brute_force_topk: query side has > {max_queries} rows — "
                "this is an exact all-pairs oracle (BroadcastNestedLoopJoin); "
                "use IvfIndex.topk or lsh_topk for large query sets, or pass "
                "max_queries=None to override"
            )
    return _topk(
        vectors(corpus, corpus_id, vec_col), vectors(queries, query_id, vec_col, "q"), k
    )


class IvfIndex:
    """A built IVF-flat index: corpus rows assigned to KMeans cells
    (hash-partitioned by cell, locally checkpointed) + the centroid
    table.

    Build once, serve many query batches — at 100 TB the (cell -> rows)
    layout is written to a bucketed table and every query batch is an
    equi-join on cell id. `topk` is that join + exact rerank. The
    caller holds the index and frees its assignment with `unpersist()`
    once no plan will read it again.
    """

    def __init__(self, assigned: DataFrame, centers: DataFrame, n_cells: int):
        self.assigned = assigned
        self.centers = centers
        self.n_cells = n_cells

    @classmethod
    def build(
        cls,
        corpus: DataFrame,
        corpus_id: str,
        vec_col: str = "embedding",
        n_cells: int | None = 16,
        max_iter: int = 10,
        seed: int = 42,
        max_train_rows: int = 100_000,
    ) -> "IvfIndex":
        """Train KMeans on a bounded sample, assign EVERY corpus row.

        Training is the iterative part: k-means|| init plus max_iter
        full passes. Re-reading a 100 TB corpus 11+ times for centroids
        that converge on any large sample is the classic IVF-build
        mistake — every production ANN index (FAISS et al.) trains on
        a subsample. `max_train_rows` caps the training set via a
        per-ROW hash filter on the id — pmod(xxhash64(id, seed), M) —
        which, unlike DataFrame.sample (seeded per-PARTITION, so the
        selected rows change with input layout), picks the same rows
        whatever the partitioning: centroids and every downstream
        IVF/dedup output are reproducible across repartitions. The
        single full-corpus pass that remains is the cell assignment.
        Cells stay balanced because the hash is uniform over ids.

        `n_cells=None` applies the classic sqrt(N) IVF rule to the
        corpus row count this build takes anyway (clamped to
        [8, 4096]): a within-cell pair join costs ~N^2/n_cells dot
        products, so a FIXED cell count turns quadratic as the corpus
        grows, while sqrt(N) keeps per-cell occupancy at ~sqrt(N).
        """
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        c = vectors(corpus, corpus_id, vec_col)
        # cache the feature frame: training (on the sample) + the final
        # assignment pass both re-read it — without the cache each pass
        # re-runs the parquet scan and the array->vector conversion
        feat = c.withColumn("features", array_to_vector("n_v")).persist()
        n = feat.count()  # also materializes the cache before training
        if n_cells is None:
            n_cells = max(8, min(int(n**0.5), 4096))
        if n > max_train_rows:
            _M = 1_000_000
            thresh = int(_M * max_train_rows / n)
            train = feat.filter(
                F.pmod(F.xxhash64("n_id", F.lit(seed)), F.lit(_M)) < thresh
            )
        else:
            train = feat
        # canonicalize the training layout: the row SELECTION above is
        # layout-independent, but KMeans training itself is not —
        # k-means|| init draws with a per-partition seeded RNG, so
        # partition contents/order leak into the centroids. Hash-
        # repartition by id + sort within partitions gives every input
        # layout the same partitioning, so (seed -> centroids) is a
        # pure function of the corpus content. The extra shuffle moves
        # only the bounded training set.
        train = train.repartition(32, "n_id").sortWithinPartitions("n_id")
        # random init: k-means|| init dominates build time at larger k
        # (5.4s vs 1.5s fit at k=80/sf0.1) with no quality edge here —
        # cells only need rough locality for blocking/probing, every
        # emitted pair is exact-verified downstream, and recall gates
        # (check_embedding_auto_recall, check_ivf_autotuned_recall) pin
        # the floor. Deterministic: init draws on the canonicalized
        # layout above with a fixed seed.
        model = KMeans(k=n_cells, seed=seed, maxIter=max_iter, initMode="random").fit(train)
        # one eager local checkpoint materializes the assignment (before
        # the feature cache is dropped) and truncates its lineage: every
        # probe of a held index reads the checkpointed rows and never
        # replays scan + vector-conversion + model.transform, also after
        # a catalog.clearCache() (it unpersists SQL-cached frames, while
        # localCheckpoint blocks live at the RDD layer, which is why
        # `unpersist` frees them through session.supersede).
        # It lives as long as the SparkContext — cluster deployments
        # persist via save()/load() instead. The partition count is explicit:
        # AQE would coalesce a by-column repartition that the checkpoint
        # executes (to 1 partition at sf0.1), and every probe and
        # cell-pair join would then read the corpus in one task.
        n_parts = int(corpus.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        assigned = (
            model.transform(feat)
            .select("n_id", "n_v", "n_norm", F.col("prediction").alias("cell"))
            .repartition(n_parts, "cell")
            .localCheckpoint()
        )
        feat.unpersist()
        ctrs = model.clusterCenters()
        # a degenerate build (KMeans collapsing to <2 cells) would make
        # every cell-equi consumer silently return empty/garbage — the
        # condition-less broadcast join in embedding_dedup_auto yields
        # zero pairs instead of erroring (ADVICE r3). Fail loudly here.
        if len(ctrs) < 2:
            raise ValueError(
                f"IvfIndex.build: degenerate index — KMeans produced "
                f"{len(ctrs)} cell(s) (requested {n_cells}); need >= 2"
            )
        centers = corpus.sparkSession.createDataFrame(
            [(i, [float(x) for x in ctr]) for i, ctr in enumerate(ctrs)],
            "cell int, ctr array<double>",
        )
        return cls(assigned, centers, n_cells)

    def topk(
        self,
        queries: DataFrame,
        query_id: str,
        vec_col: str = "embedding",
        k: int = 5,
        n_probe: int = 3,
    ) -> DataFrame:
        """Probe each query's n_probe nearest cells, exact rerank."""
        probes = nearest_cells(
            vectors(queries, query_id, vec_col, "q"), self.centers, n_probe, "q"
        )
        return _topk(self.assigned, probes.drop("pr"), k, on="cell")

    def save(self, path: str) -> None:
        """Persist the built index to parquet so it survives sessions:
        `<path>/assigned` holds the cell-partitioned corpus rows (at
        100 TB this is the expensive artifact — KMeans training plus a
        full corpus pass — rebuilt never, reloaded per query batch),
        `<path>/centers` the tiny centroid table."""
        self.assigned.write.mode("overwrite").partitionBy("cell").parquet(
            path + "/assigned"
        )
        self.centers.write.mode("overwrite").parquet(path + "/centers")

    @classmethod
    def load(cls, spark, path: str) -> "IvfIndex":
        """Reload a saved index — no KMeans retrain, no corpus re-scan
        beyond the parquet read. Partition pruning on `cell` means a
        probe touches only the probed cells' files."""
        assigned = (
            spark.read.parquet(path + "/assigned")
            .select("n_id", "n_v", "n_norm", "cell")
            .repartition("cell")
            .persist()
        )
        centers = spark.read.parquet(path + "/centers")
        return cls(assigned, centers, centers.count())

    def autotune_n_probe(
        self,
        queries: DataFrame,
        query_id: str,
        vec_col: str = "embedding",
        k: int = 5,
        target_recall: float = 0.9,
    ) -> tuple[int, dict[int, float]]:
        """Smallest n_probe whose recall@k vs exact search meets
        `target_recall`, plus the full recall curve.

        ONE distributed plan measures every n_probe value at once: for
        each (query, true-neighbor) pair from exact top-k, find the
        probe rank of the neighbor's cell for that query; the recall
        curve is the cumulative distribution of those ranks. No
        per-n_probe loop, no repeated scoring. At 100 TB run this on a
        query SAMPLE — cost is one brute-force pass over the corpus for
        the sampled queries (the same cost as validating recall at all).
        """
        q = vectors(queries, query_id, vec_col, "q")
        # exact ground truth straight off the assigned corpus rows
        truth = _topk(self.assigned, q, k).select("q_id", "n_id")
        # probe rank of every cell for every query (cells are few)
        probe_rank = nearest_cells(q, self.centers, side="q").select("q_id", "cell", "pr")
        neighbor_cell = self.assigned.select("n_id", "cell")
        ranks = (
            truth.join(neighbor_cell, "n_id")
            .join(probe_rank, ["q_id", "cell"])
            .groupBy("pr")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy("pr")
            .collect()  # <= n_cells rows
        )
        total = sum(r["n"] for r in ranks)
        curve: dict[int, float] = {}
        cum = 0
        best = self.n_cells
        for r in ranks:
            cum += r["n"]
            curve[r["pr"]] = cum / total
        # curve has gaps where no neighbor lands at that probe rank —
        # recall at pr is the last cum value at or below pr; fill ALL
        # ranks (the curve is the promised deliverable, `best` is just
        # the first rank meeting the target)
        rec = 0.0
        for pr in range(1, self.n_cells + 1):
            rec = curve.get(pr, rec)
            curve[pr] = rec
            if rec >= target_recall and best > pr:
                best = pr
        return best, curve

    def unpersist(self) -> None:
        """Free the assignment: the local checkpoint of a built index,
        the cached frame of a loaded one. No plan may read the index
        afterwards."""
        supersede(self.assigned, None)


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 3,
    max_iter: int = 10,
    seed: int = 42,
) -> DataFrame:
    """One-shot IVF-flat approximate top-k: build the index, probe it.
    Reuse `IvfIndex.build(...)` directly when serving many query
    batches against one corpus. Recall/cost dial: n_probe/n_cells.

    Non-SQL-expressible (iterative training) — rows-only gate check;
    tests pin recall against brute_force_topk.
    """
    index = IvfIndex.build(
        corpus, corpus_id, vec_col, n_cells=n_cells, max_iter=max_iter, seed=seed
    )
    return index.topk(queries, query_id, vec_col=vec_col, k=k, n_probe=n_probe)


def _hyperplane(dim: int, plane_idx: int) -> list[float]:
    """Deterministic pseudo-random unit-free hyperplane: component j is
    +-1 from a splitmix-style integer hash of (plane_idx, j). Fixed by
    construction — every executor and every run derives the same planes
    (no driver-side RNG state to broadcast)."""
    comps = []
    for j in range(dim):
        x = (plane_idx * 0x9E3779B97F4A7C15 + j * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
        x ^= x >> 31
        x = (x * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
        comps.append(1.0 if (x >> 32) & 1 else -1.0)
    return comps


def lsh_bucket(vec_col, dim: int, num_planes: int = 12):
    """Sign-bit bucket id (int) of an array<double> column under
    `num_planes` fixed random hyperplanes."""
    bucket = F.lit(0)
    for p in range(num_planes):
        plane = F.array(*[F.lit(c) for c in _hyperplane(dim, p)])
        bit = F.when(dot(vec_col, plane) >= 0, F.lit(1)).otherwise(F.lit(0))
        bucket = bucket * 2 + bit
    return bucket


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    vec_col: str = "embedding",
    dim: int = 64,
    k: int = 5,
    num_planes: int = 8,
    multiprobe: bool = True,
) -> DataFrame:
    """Approximate top-k: score only corpus vectors sharing the query's
    hyperplane-sign bucket (equi-join on bucket id), exact rerank inside.

    At 100 TB the corpus is hash-partitioned by bucket once and reused;
    recall is tuned by num_planes (fewer planes => bigger buckets =>
    higher recall, more compute). Multi-probe (default): each query
    also probes every single-bit-flip neighbor bucket — (p+1)x probe
    cost on the tiny query side only, large recall gain when neighbors
    straddle a hyperplane.
    """
    q = vectors(queries, query_id, vec_col, "q").withColumn(
        "bucket", lsh_bucket(F.col("q_v"), dim, num_planes)
    )
    if multiprobe:
        q = q.withColumn(
            "bucket",
            F.explode(
                F.array(
                    F.col("bucket"),
                    *[F.col("bucket").bitwiseXOR(F.lit(1 << i)) for i in range(num_planes)],
                )
            ),
        )
    c = vectors(corpus, corpus_id, vec_col).withColumn(
        "bucket", lsh_bucket(F.col("n_v"), dim, num_planes)
    )
    return _topk(c, q, k, on="bucket")
