"""K-means clustering (Lloyd's algorithm) over embedding columns.

The missing unsupervised-clustering family next to the supervised
label_centroids: fixed-round Lloyd iterations designed so the WHOLE
run is bit-deterministic across engines and partitionings — the
property that lets the gate carry a full cross-engine oracle and
that makes 100 TB runs reproducible:

- vectors quantize ONCE to an integer grid (round(x * scale)), so
  every per-cluster, per-dimension sum is an EXACT integer — no
  FP association-order anywhere in the accumulation;
- a centroid coordinate is ONE double division of two exact
  integers (correctly rounded, engine-independent);
- a distance is a left fold over the dimension index of
  (q_i - c_i)^2 — the identical IEEE op sequence on any engine;
- argmin ties break by cluster index via lexicographic
  (distance, index) struct comparison;
- initial centroids are the k smallest-id vectors (no RNG).

Scale shape per round: one map-only assignment pass (k*d arithmetic
per row against BROADCAST-LITERAL centroids — no join at all) + one
exact-integer aggregate keyed by (cluster, dimension) whose output
is k*d rows. The only driver-side data is the k x (d+1) centroid
table per round — a documented-bounded collect (the IVF-cell-store
precedent, simsearch.py).

Reference parity: the reference's FUTURE.md names "ML libraries";
k-means is its canonical representative, here as a first-class
deterministic operator rather than a library binding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _dist_expr(q_col, centroid: list[float]):
    """Exact-order fold of squared L2 distance between the integer
    vector column and a literal centroid: 0.0 + t_1 + t_2 + ... in
    dimension order (IEEE-identical on any engine)."""
    carr = F.array(*[F.lit(float(v)) for v in centroid])
    terms = F.zip_with(
        q_col,
        carr,
        lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
    )
    return F.aggregate(terms, F.lit(0.0), lambda acc, x: acc + x)


def kmeans_assign(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 4,
    rounds: int = 3,
    scale: int = 1000,
) -> DataFrame:
    """Run `rounds` Lloyd iterations and return one row per input row:
    (<id_col>, q, cluster) where q is the quantized integer vector
    and cluster the final assignment (int, 0..k-1).

    Deterministic by construction (see module docstring): same
    answer on any engine, any partitioning, any run. A cluster that
    empties keeps its previous centroid. Raises ValueError on NULL,
    empty or ragged vectors and on fewer than `k` rows.
    """
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1 (got {rounds})")
    if k < 2:
        # k=1 is a constant assignment (and F.least needs >= 2 choice
        # structs) — reject rather than return a degenerate frame
        raise ValueError(f"k must be >= 2 (got {k})")
    q = F.transform(
        F.col(vec_col), lambda x: F.round(x.cast("double") * scale).cast("long")
    )
    qdf = df.select(F.col(id_col), q.alias("q"))
    # one materialization: every round re-scans this frame
    qdf = qdf.localCheckpoint(eager=True)

    # the fold pads a ragged pair with NULL and an empty vector sits at
    # distance 0 from everything, so either would silently undercount
    # clusters: check the width once, over the checkpointed blocks
    n, n_vec, lo, hi = qdf.agg(
        F.count(F.lit(1)), F.count("q"), F.min(F.size("q")), F.max(F.size("q"))
    ).first()
    if n_vec < n:
        raise ValueError(f"{vec_col} has {n - n_vec} NULL vectors")
    if n and lo == 0:
        raise ValueError(f"{vec_col} has empty vectors")
    if lo != hi:
        raise ValueError(f"{vec_col} is ragged: widths {lo}..{hi}")
    if n < k:
        raise ValueError(f"k={k} needs at least k rows (got {n})")

    init = qdf.orderBy(id_col).limit(k).collect()
    centroids = [[float(v) for v in row["q"]] for row in init]

    assigned = None
    for rnd in range(rounds):
        choice = F.least(
            *[
                F.struct(
                    _dist_expr(F.col("q"), c).alias("d"),
                    F.lit(i).cast("int").alias("c"),
                )
                for i, c in enumerate(centroids)
            ]
        )
        assigned = qdf.withColumn("cluster", choice.getField("c"))
        if rnd == rounds - 1:
            break  # the final update would never be read
        stats = (
            assigned.select("cluster", F.posexplode("q").alias("pos", "v"))
            .groupBy("cluster", "pos")
            .agg(
                F.sum("v").cast("long").alias("s"),
                F.count(F.lit(1)).cast("long").alias("n"),
            )
            .collect()
        )
        by_cluster: dict[int, list[tuple[int, int, int]]] = {}
        for r in stats:
            by_cluster.setdefault(r["cluster"], []).append(
                (r["pos"], r["s"], r["n"])
            )
        for ci, dims in by_cluster.items():
            # exact int sums -> ONE correctly-rounded double division
            centroids[ci] = [s / n for _, s, n in sorted(dims)]
    return assigned
