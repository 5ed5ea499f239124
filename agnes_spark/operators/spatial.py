"""Grid-bucketed spatial joins over integer plane coordinates.

The all-pairs "points within radius r" query is a cartesian join in
its naive form; the scalable shape is the uniform-grid join (the
geohash / S2-cell pattern): bucket points into r x r cells, then a
pair within distance r can only live in the SAME or an ADJACENT cell,
so an equi-join on cell keys covers all candidates.

Shuffle economy: instead of exploding every point into all 9
neighbor cells (9x shuffle volume), each unordered CELL pair is
visited exactly once via the half-plane offsets
{(0,0),(0,1),(1,-1),(1,0),(1,1)} — 5x volume, the standard
plane-sweep halving. Same-cell pairs are deduped by id order;
cross-cell pairs are unique because exactly one offset connects any
two adjacent cells in the half-plane orientation.

All arithmetic is integral (coords, squared distance), so candidate
filtering is exact and cross-engine deterministic — no sqrt, no FP.

Reference parity: the reference's theta/band join (join by arbitrary
predicate) is the 1-D special case; this is its 2-D scale form.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from agnes_spark.session import supersede

# half-plane neighbor offsets: each unordered pair of distinct
# adjacent cells is connected by exactly ONE of these
_HALF_PLANE = [(0, 0), (0, 1), (1, -1), (1, 0), (1, 1)]


def _cell(col: Column, width: int) -> Column:
    # exact integer floor division (pmod handles negatives)
    return ((col - F.pmod(col, F.lit(width))) / width).cast("long")


def radius_pairs_grid(
    df: DataFrame,
    id_col: str,
    x_col: str,
    y_col: str,
    radius: int,
) -> DataFrame:
    """All unordered pairs of rows whose Euclidean distance is
    <= `radius`, as (id_a, id_b, dist2) with id_a < id_b and the
    EXACT integer squared distance. Coordinates must be integral.

    One equi shuffle on (cell_x, cell_y) with 5x candidate volume
    (half-plane grid join) — never an all-pairs comparison; the
    per-cell work is bounded by local point density, not by N.
    """
    pts = df.select(
        F.col(id_col).alias("__id"),
        F.col(x_col).cast("long").alias("__x"),
        F.col(y_col).cast("long").alias("__y"),
        _cell(F.col(x_col).cast("long"), radius).alias("__cx"),
        _cell(F.col(y_col).cast("long"), radius).alias("__cy"),
    )
    offsets = F.array(
        *[
            F.struct(
                F.lit(dx).cast("long").alias("dx"),
                F.lit(dy).cast("long").alias("dy"),
            )
            for dx, dy in _HALF_PLANE
        ]
    )
    left = (
        pts.withColumn("__off", F.explode(offsets))
        .select(
            F.col("__id").alias("id_a"),
            F.col("__x").alias("xa"),
            F.col("__y").alias("ya"),
            (F.col("__cx") + F.col("__off.dx")).alias("__jx"),
            (F.col("__cy") + F.col("__off.dy")).alias("__jy"),
            (F.col("__off.dx") == 0).cast("boolean").alias("__dx0"),
            (F.col("__off.dy") == 0).cast("boolean").alias("__dy0"),
        )
    )
    right = pts.select(
        F.col("__id").alias("id_b"),
        F.col("__x").alias("xb"),
        F.col("__y").alias("yb"),
        F.col("__cx").alias("__jx"),
        F.col("__cy").alias("__jy"),
    )
    same_cell = F.col("__dx0") & F.col("__dy0")
    cand = left.join(right, ["__jx", "__jy"]).filter(
        # same-cell pairs dedupe by id order; cross-cell offsets are
        # already unique per unordered cell pair
        (~same_cell & (F.col("id_a") != F.col("id_b")))
        | (same_cell & (F.col("id_a") < F.col("id_b")))
    )
    dx = F.col("xa") - F.col("xb")
    dy = F.col("ya") - F.col("yb")
    pairs = cand.withColumn("dist2", dx * dx + dy * dy).filter(
        F.col("dist2") <= F.lit(int(radius) * int(radius))
    )
    # normalize pair orientation (cross-cell matches can come out
    # b-before-a); exact integer outputs only
    return pairs.select(
        F.least("id_a", "id_b").alias("id_a"),
        F.greatest("id_a", "id_b").alias("id_b"),
        "dist2",
    )


def dbscan_grid(
    df: DataFrame,
    id_col: str,
    x_col: str,
    y_col: str,
    radius: int,
    min_pts: int = 3,
) -> DataFrame:
    """DBSCAN (Ester et al., KDD'96) composed from scale-safe parts:
    the grid radius join generates neighbor pairs (never N^2), core
    points are those with >= `min_pts` neighbors within `radius`,
    clusters are connected components over the core-core graph
    (min-reachable-id labels), and border points attach to the
    SMALLEST cluster label among their core neighbors (a pinned,
    deterministic version of DBSCAN's arbitrary assignment). Noise
    points are omitted.

    Returns (id, is_core, cluster_id) — exact integers throughout,
    so the whole clustering is engine-reproducible.
    """
    from agnes_spark.operators.graph import broadcast_if_small, connected_components_auto

    # the pair frame feeds degree census, core-core edges AND border
    # attachment — materialize once or the grid join runs three times
    pairs = (
        radius_pairs_grid(df, id_col, x_col, y_col, radius)
        .select("id_a", "id_b")
        .localCheckpoint(eager=True)
    )
    sym = pairs.unionByName(
        pairs.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
    ).select(F.col("id_a").alias("id"), F.col("id_b").alias("nbr"))
    deg = sym.groupBy("id").agg(F.count(F.lit(1)).cast("long").alias("n_nbr"))
    # core feeds the core-core edge build (twice), the border
    # anti-join and the labeling join — without a materialization the
    # degree census shuffle re-runs for each; the frame is at most one
    # id per input point
    core = deg.filter(F.col("n_nbr") >= min_pts).select("id").localCheckpoint(
        eager=True
    )
    # Post-localCheckpoint frames are LogicalRDDs with no stats, so
    # every core/label join below planned as a sort-merge join even
    # though core/cc/core_lab are point-count-bounded while sym/pairs
    # are pair-sized. Broadcast the small side while its row count
    # (cheap: one job over materialized checkpoint blocks) stays
    # under the graph operators' cap; past it, the shuffle plan stands.
    _b = broadcast_if_small(df.sparkSession, core.count())
    core_edges = (
        pairs.join(_b(core.select(F.col("id").alias("id_a"))), "id_a")
        .join(_b(core.select(F.col("id").alias("id_b"))), "id_b")
        .select("id_a", "id_b")
    )
    # size-adaptive CC: the core-core graph is pairs-sized, not
    # corpus-sized — below 100k edges exact union-find on the driver
    # beats one distributed join round per component-diameter step
    # (the adaptive-eps graph is subcritical but chain-shaped, ~8s of
    # round overhead at sf0.1); above the threshold it falls through
    # to distributed min-label propagation, never collecting
    cc = connected_components_auto(core_edges, "id_a", "id_b")
    # consumed twice (border attachment + final output): materialize
    # so the label join runs once
    core_lab = (
        core.join(_b(cc), "id", "left")
        .select("id", F.coalesce(F.col("cluster_id"), F.col("id")).alias("cluster_id"))
        .localCheckpoint(eager=True)
    )
    border = (
        sym.join(_b(core), "id", "left_anti")
        .join(
            _b(
                core_lab.select(
                    F.col("id").alias("nbr"), F.col("cluster_id").alias("ncl")
                )
            ),
            "nbr",
        )
        .groupBy("id")
        .agg(F.min("ncl").alias("cluster_id"))
    )
    # materialize the result once so no plan reads the intermediate
    # checkpoints again, then free them: a live result holds one
    # persistent RDD, its own
    out = (
        core_lab.select("id", F.lit(1).cast("int").alias("is_core"), "cluster_id")
        .unionByName(
            border.select("id", F.lit(0).cast("int").alias("is_core"), "cluster_id")
        )
        .localCheckpoint(eager=True)
    )
    for frame in (pairs, core, cc, core_lab):
        supersede(frame, None)
    return out
