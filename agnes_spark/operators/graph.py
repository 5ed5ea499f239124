"""Iterative graph operators on edge DataFrames.

`connected_components` turns near-duplicate PAIRS into duplicate
CLUSTERS — the step between candidate generation (minhash/simhash/
jaccard joins in operators/dedup.py) and "keep one canonical document
per cluster" in a curation pipeline.

Two algorithms:

- `connected_components`: min-label propagation (a DataFrame-native
  union-find). Rounds needed = component diameter — for dedup graphs
  (tiny, dense clusters) that is 2-4. The changed-label count rides
  each round's materializing action as an observed metric.
- `connected_components_star`: alternating large-star/small-star
  (Kiveris et al., "Connected Components in MapReduce and Beyond",
  SoCC'14) — O(log n) rounds regardless of diameter, for path-shaped /
  high-diameter graphs where label propagation would need O(n) rounds.
  Convergence (edge-set fixpoint) is a count+hash signature observed
  on the action that materializes each round's edges.

Every iterative operator here (both of the above, `pagerank`, `kcore`
and `label_propagation`) runs its rounds through one loop, `_rounds`:
one action per round, its convergence metrics observed on that action,
lineage truncated on a fixed schedule; `_rounds` gives the reasons.
Every round is shuffle-bounded (groupBy node / join on node).
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from agnes_spark.functions import unordered_pairs
from agnes_spark.session import supersede


def broadcast_if_small(spark, n_rows: int):
    """`F.broadcast` when a node-sized frame of `n_rows` rows fits the
    session's broadcast budget, else the identity.

    Iterative operators hint the node-sized side of their joins
    themselves: post-localCheckpoint lineage carries no stats, so
    Catalyst can't make this call. The cap derives from
    autoBroadcastJoinThreshold at ~32 bytes/row (a long id + a double
    + UnsafeRow overhead, the shape of rank/frontier/core frames), so
    a 64 MB threshold caps at ~2M rows. A disabled threshold (<= 0)
    keeps the 2M-row cap: these hints are independent of Catalyst's
    own auto-broadcast decision."""
    try:
        thr = int(spark.conf.get("spark.sql.autoBroadcastJoinThreshold"))
    except Exception:
        thr = -1
    cap = max(1, thr // 32) if thr > 0 else 2_000_000
    return F.broadcast if n_rows <= cap else (lambda df: df)


def _rounds(frame, step, max_iter: int, every: int, stop=None):
    """Run up to `max_iter` rounds from `frame`; return (final frame,
    rounds run, whether `stop` fired).

    `step(frame, obs)` builds the next round's lazy frame and attaches
    its convergence metrics with `.observe(obs, ...)`. The round is ONE
    action: persist, then write to the `noop` sink, which fills the
    cache and fires the observation without the final aggregation job
    a count adds. AQE runs each query stage as its own job, so a round
    is one action, not one job. `stop(metrics)` true ends the loop.

    Every `every`-th round swaps the frame for a localCheckpoint of its
    cache, truncating the lineage without recomputing it. A plan grows
    by the times a round reads its predecessor: ~3x for label and rank
    rounds, so they truncate every 3rd round (27x stays cheap to
    analyze), but ~16x for a star round, which must truncate every
    round (deferring 4 rounds OOMed the driver on a 2 GiB plan string).
    The checkpoint follows the write because a localCheckpoint does not
    fire an Observation; with no `stop` there is nothing to observe, so
    such a round checkpoints its lazy frame directly. The last round
    truncates too: Spark's ContextCleaner frees a dropped result's
    checkpoint, while a persisted frame would stay in the cache manager
    until unpersisted. Each superseded frame is freed through
    `session.supersede`.
    """
    stopped, i = False, 0
    for i in range(1, max_iter + 1):
        obs = Observation()
        nxt = step(frame, obs)
        if stop is None and (i % every == 0 or i == max_iter):
            nxt = nxt.localCheckpoint(eager=True)
        else:
            nxt = nxt.persist()
            nxt.write.format("noop").mode("overwrite").save()
            stopped = stop is not None and stop(obs.get)
            if stopped or i % every == 0 or i == max_iter:
                nxt = supersede(nxt, nxt.localCheckpoint())
        frame = supersede(frame, nxt)
        if stopped:
            break
    return frame, i, stopped


def _repeats():
    """A `stop` for `_rounds` that fires when a round's metrics equal
    the previous round's."""
    seen = [None]

    def stop(metrics):
        seen.append(metrics)
        return seen[-1] == seen[-2]

    return stop


def connected_components(
    edges: DataFrame,
    src: str = "a_id",
    dst: str = "b_id",
    max_iter: int = 25,
) -> DataFrame:
    """Return (id, cluster_id) with cluster_id = min node id reachable.

    Isolated nodes don't appear (callers union them back with their own
    id as cluster if needed). Needs O(component diameter) rounds; for
    high-diameter graphs use `connected_components_star` (O(log n)).
    Warns if max_iter is hit before convergence — the result is then a
    partial clustering (labels are an over-segmentation, never wrong
    merges).
    """
    sym = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .unionByName(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
        .repartition("u")
        .persist()
    )
    labels = sym.select(F.col("u").alias("id")).distinct().withColumn("lbl", F.col("id"))

    def step(labels, obs):
        neighbor_min = (
            sym.join(labels, sym.v == labels.id)
            .groupBy("u")
            .agg(F.min("lbl").alias("nlbl"))
        )
        return (
            labels.join(neighbor_min, labels.id == neighbor_min.u, "left")
            .select(
                "id",
                F.least(F.col("lbl"), F.coalesce("nlbl", F.col("lbl"))).alias("lbl"),
                (F.coalesce("nlbl", F.col("lbl")) < F.col("lbl"))
                .cast("long")
                .alias("__chg"),
            )
            .observe(obs, F.sum("__chg").alias("changed"))
            .drop("__chg")
        )

    labels, _, converged = _rounds(
        labels, step, max_iter, every=3, stop=lambda m: not m["changed"]
    )
    if not converged:
        warnings.warn(
            f"connected_components hit max_iter={max_iter} with labels still "
            "changing — clusters are partially merged (over-segmented). "
            "Raise max_iter or use connected_components_star for high-diameter "
            "graphs.",
            RuntimeWarning,
            stacklevel=2,
        )
    sym.unpersist()
    return labels.select(F.col("id"), F.col("lbl").alias("cluster_id"))


def _large_star(e: DataFrame) -> DataFrame:
    """Attach every neighbor v > u to min(N(u) ∪ {u}). Edge frame in,
    edge frame out; one groupBy + one join, both equi on node id."""
    sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = (
        sym.groupBy("u")
        .agg(F.min("v").alias("mv"))
        .select("u", F.least(F.col("u"), F.col("mv")).alias("m"))
    )
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Orient edges large→small, then attach every smaller neighbor
    (and u itself) to the minimum neighbor."""
    d = e.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")).distinct()
    mins = d.groupBy("u").agg(F.min("v").alias("m"))
    leaves = (
        d.join(mins, "u")
        .filter(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    centers = mins.select(F.col("u"), F.col("m").alias("v"))
    return leaves.unionByName(centers).filter(F.col("u") != F.col("v")).distinct()


def connected_components_star(
    edges: DataFrame,
    src: str = "a_id",
    dst: str = "b_id",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components via alternating large-star/small-star
    (Kiveris et al. SoCC'14): converges in O(log n) rounds even on
    path-shaped graphs where min-label propagation needs O(diameter).

    At the fixpoint the edge set is a collection of stars centered at
    each component's minimum node, so labels read directly off the
    edges. Same output contract as `connected_components`:
    (id, cluster_id), isolated nodes omitted.

    Convergence = edge-set fixpoint: a round's (count, hash-sum)
    signature, observed on the action that materializes it, equals the
    previous round's.
    """
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .persist()
    )

    def step(e, obs):
        # pmod bounds each term to 2^30 so the sums can't overflow long
        # under ANSI mode even with billions of edges. Two independently
        # seeded hash sums plus min/max widen the signature to ~2^-60
        # collision odds per round (a single 2^30 sum colliding would
        # silently declare convergence early).
        return _small_star(_large_star(e)).observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.sum(F.pmod(F.xxhash64("u", "v"), F.lit(1 << 30))).alias("h1"),
            F.sum(F.pmod(F.xxhash64(F.lit(77), "u", "v"), F.lit(1 << 30))).alias("h2"),
            F.min(F.xxhash64("u", "v")).alias("lo"),
            F.max(F.xxhash64("u", "v")).alias("hi"),
        )

    e, _, converged = _rounds(e, step, max_iter, every=1, stop=_repeats())
    if not converged:
        warnings.warn(
            f"connected_components_star hit max_iter={max_iter} before the "
            "edge-set fixpoint — labels may be partially merged.",
            RuntimeWarning,
            stacklevel=2,
        )
    leaves = e.select(F.col("u").alias("id"), F.col("v").alias("cluster_id"))
    roots = (
        e.select(F.col("v").alias("id"))
        .distinct()
        .withColumn("cluster_id", F.col("id"))
    )
    return leaves.unionByName(roots).distinct()


def connected_components_auto(
    edges: DataFrame,
    src: str = "a_id",
    dst: str = "b_id",
    max_iter: int = 25,
    small_threshold: int = 100_000,
) -> DataFrame:
    """Size-adaptive connected components — same (id, cluster_id)
    contract as connected_components.

    After near-dup candidate generation the PAIR graph is typically
    minuscule relative to the corpus (dup pairs, not documents), so the
    honest production strategy is: count the edges once (they're needed
    either way), and below `small_threshold` run exact union-find on
    the driver — a bounded collect of 2 longs/edge, ≤ ~1.6 MB at the
    default threshold — instead of paying one distributed join round
    per graph-diameter step. Above the threshold it falls through to
    the iterative min-label propagation, which never collects.
    """
    e = edges.select(
        F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
    ).persist()
    n_edges = e.count()
    if n_edges > small_threshold:
        # connected_components is EAGER — it runs one materializing job
        # per round and returns a frame served from its own (persisted or
        # checkpointed) final-labels cache, never re-reading `e`. The
        # count() above already materialized e's cache, so the per-round
        # sym build reads it instead of recomputing the (potentially
        # expensive) upstream pair-generation lineage; unpersisting here,
        # after the eager loop finished, is safe.
        out = connected_components(e, "u", "v", max_iter=max_iter)
        e.unpersist()
        return out
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for row in e.collect():
        for node in (row.u, row.v):
            parent.setdefault(node, node)
        ru, rv = find(row.u), find(row.v)
        if ru != rv:  # union by min root -> cluster_id = min reachable id
            if ru < rv:
                parent[rv] = ru
            else:
                parent[ru] = rv
    e.unpersist()
    rows = [(n, find(n)) for n in parent]
    return edges.sparkSession.createDataFrame(rows, "id long, cluster_id long")


def canonical_per_cluster(
    docs: DataFrame, components: DataFrame, id_col: str
) -> DataFrame:
    """Keep one canonical row per duplicate cluster: the cluster
    representative (min id) plus every row that is in no cluster."""
    reps = components.filter(F.col("id") == F.col("cluster_id")).select(
        F.col("id").alias(id_col)
    )
    clustered = components.select(F.col("id").alias(id_col))
    unclustered = docs.join(clustered, id_col, "left_anti").select(id_col)
    return docs.join(reps.unionByName(unclustered), id_col, "left_semi")


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    max_iter: int = 20,
    tol: float = 1e-6,
) -> DataFrame:
    """PageRank (Brin & Page 1998) over an edge DataFrame; returns
    (id, rank) normalized so sum(rank) == node count.

    Per-round shape: ONE materializing action (`_rounds`, every 3rd
    round truncated) — the contribution join + per-dst sum, with the
    convergence signal (max |rank delta|) and the next round's dangling
    mass observed on that action. Shuffles are bounded by the edge
    partitioning on src/dst — nothing ever single-partitions.

    Dangling nodes (no out-edges) have their mass redistributed
    uniformly each round, the standard correction — so the rank sum is
    conserved at N for any graph. tol=0 disables early exit (all
    max_iter rounds run; useful when a twin implementation must follow
    the exact same schedule); on a graph with no dangling node it runs
    personalized_pagerank's lazy fixed-round loop with every node a
    seed. Rounds needed in practice: ~20 for 1e-6 on web-like graphs;
    co-occurrence graphs converge faster.
    """
    d = float(damping)
    e0 = edges.select(
        F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
    )
    outdeg = e0.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    nodes = (
        e0.select(F.col("u").alias("id"))
        .unionByName(e0.select(F.col("v").alias("id")))
        .distinct()
    )
    e = (
        e0.join(outdeg, "u")
        .select("u", "v", "deg")
        .repartition("u")
        .persist()
    )
    base = (
        nodes.join(outdeg, nodes.id == outdeg.u, "left")
        .select("id", F.coalesce("deg", F.lit(0)).alias("deg"), F.lit(1.0).alias("restart"))
        .persist()
    )
    n_nodes = base.count()  # one action; also materializes base and e's build side
    if n_nodes == 0:
        e.unpersist()
        base.unpersist()
        return nodes.withColumn("rank", F.lit(1.0))
    n_dangling = float(base.filter(F.col("deg") == 0).count())
    if tol <= 0 and n_dangling == 0.0:
        # With no early exit and no dangling mass to carry, nothing is
        # observed: personalized PageRank with every node a seed.
        ranks = _fixed_round_ranks(e, base, d, max_iter, n_nodes)
        rounds = max_iter
    else:
        hint = broadcast_if_small(e.sparkSession, n_nodes)
        last = []  # the previous round's Observation

        def step(ranks, obs):
            # initial ranks are all 1.0, so the first round's dangling
            # mass is the dangling node count
            dangling = float(last.pop().get["dangling"] or 0.0) if last else n_dangling
            last.append(obs)
            return (
                _rank_round(e, ranks, ranks, d, dangling / n_nodes, hint)
                .observe(
                    obs,
                    F.max(F.abs(F.col("rank") - F.col("prev"))).alias("max_delta"),
                    F.sum(F.when(F.col("deg") == 0, F.col("rank")).otherwise(0.0)).alias(
                        "dangling"
                    ),
                )
                .drop("prev")
            )

        ranks, rounds, _ = _rounds(
            base.withColumn("rank", F.lit(1.0)),
            step,
            max_iter,
            every=3,
            stop=lambda m: (m["max_delta"] or 0.0) < tol,
        )
    e.unpersist()
    base.unpersist()
    out = ranks.select("id", "rank")
    # rounds actually run — lets tests/diagnostics pin that tol-based
    # early exit really fired (final ranks alone can't distinguish it)
    out._agnes_iterations = rounds
    return out


def _rank_round(e, ranks, base, d: float, dangling: float, hint) -> DataFrame:
    """One round of PageRank with restart over out-edges `e` (u, v,
    deg): rank' = (1-d) * restart + d * (in_mass + dangling), where
    in_mass sums rank/deg of `ranks` (id, rank) over a node's in-edges
    and `dangling` is the dangling mass each node receives. Returns
    `base`'s rows (id, deg, restart, ...) with the new `rank`; a rank
    `base` already carries is kept as `prev`. `hint` marks the
    node-sized sides (`broadcast_if_small`)."""
    contrib = (
        e.join(hint(ranks.select(F.col("id").alias("u"), "rank")), "u")
        .select("v", (F.col("rank") / F.col("deg")).alias("c"))
        .groupBy("v")
        .agg(F.sum("c").alias("in_mass"))
    )
    rank = F.lit(1.0 - d) * F.col("restart") + F.lit(d) * (
        F.coalesce("in_mass", F.lit(0.0)) + F.lit(dangling)
    )
    return base.join(hint(contrib), base.id == contrib.v, "left").select(
        *[F.col(c).alias("prev" if c == "rank" else c) for c in base.columns],
        rank.alias("rank"),
    )


def within_group_pairs(
    df: DataFrame, group_col: str, item_col: str
) -> DataFrame:
    """Unordered co-occurrence pairs of items sharing a group — the
    edge/basket generator feeding market-basket counts and
    co-occurrence graphs. Returns (a, b) with a < b, one row per
    ordered-position pair whose values differ (identical multiset to
    the a.item < b.item equi self-join, measured at sf0.1, but with
    ONE shuffle instead of two join sides + a join: items collect per
    group and `unordered_pairs` expands them map-side). ~35% faster
    than the self-join at sf0.1 and strictly fewer network passes at
    any scale. Item ids come out as BIGINT."""
    arr = df.groupBy(group_col).agg(
        F.collect_list(F.col(item_col).cast("long")).alias("__items")
    )
    return arr.select(F.explode(unordered_pairs("__items")).alias("__p")).select(
        "__p.a", "__p.b"
    )


def triangle_count(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Exact distributed triangle counting by degree-oriented wedge
    join. Returns ONE row: (n_vertices, n_edges, n_triangles) over the
    undirected simple graph induced by `edges` (duplicates, self-loops
    and direction collapse first).

    Algorithm (Suri & Vassilvitskii, "Counting Triangles and the Curse
    of the Last Reducer", WWW'11): orient every undirected edge from
    its lower (degree, id) endpoint to the higher. Orientation by any
    total order leaves each triangle with exactly ONE vertex of
    out-degree 2 in it, so wedges(e1.dst = e2.src) closed by a third
    equi-join count each triangle exactly once — and ordering by DEGREE
    bounds every out-neighborhood at O(sqrt(m)), so the wedge join's
    per-key fan-out survives power-law degree skew (a raw u<v
    orientation leaves hub vertices with O(max_degree^2) wedges on one
    key — the "last reducer" the paper names).

    Scale shape: one hash agg for degrees, two equi-joins for wedges +
    closure, all spillable sort-merge/broadcast joins chosen by AQE at
    runtime (the degree frame is |V| rows — tiny next to |E| — so AQE
    broadcasts it when it fits; no hint is forced so the operator stays
    valid when |V| itself is huge). Nothing driver-side, nothing
    quadratic in the raw degree. The oriented edge frame feeds five
    consumers (wedge x2, closure, both census counts) UNPERSISTED on
    purpose: its exchanges are identical deterministic subplans, so
    ReuseExchange dedupes them inside the one collecting action, while
    an explicit persist pins the 32-partition layout and cuts AQE out
    of every downstream join (measured 30% slower at sf0.1).
    """
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u").isNotNull() & F.col("v").isNotNull() & (F.col("u") != F.col("v")))
        .distinct()
    )
    deg = (
        und.select(F.col("u").alias("x"))
        .unionAll(und.select(F.col("v").alias("x")))
        .groupBy("x")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    with_deg = (
        und.join(deg.withColumnRenamed("x", "u").withColumnRenamed("d", "du"), "u")
        .join(deg.withColumnRenamed("x", "v").withColumnRenamed("d", "dv"), "v")
    )
    # orient low -> high in the (degree, id) total order; u < v already,
    # so degree ties keep the id direction
    fwd = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    e = with_deg.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("b"),
    )
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.b") == F.col("e2.a"))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")),
        )
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    # oriented edges are a bijection of the undirected edge set, and no
    # vertex is isolated, so both census counts read the cached frame
    nv = (
        e.select(F.explode(F.array("a", "b")).alias("x"))
        .distinct()
        .agg(F.count(F.lit(1)).alias("n_vertices"))
    )
    ne = e.agg(F.count(F.lit(1)).alias("n_edges"))
    return nv.crossJoin(ne).crossJoin(tri)


def kcore(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    k: int = 2,
    max_iter: int = 8,
) -> DataFrame:
    """k-core decomposition by iterative peeling: repeatedly drop
    nodes of degree < k (and their incident edges) until fixpoint or
    max_iter rounds. Returns the surviving (id, degree) — the dense
    backbone a co-occurrence or link graph keeps after trimming the
    sparse fringe (Seidman 1983; the standard first cut for community
    mining and crawl frontier pruning).

    Input is a DIRECTED edge list expected symmetric (both directions
    present, the pagerank convention), so out-degree == degree.

    Iteration state is the NODE alive-set, not the restricted edge
    frame: the edge list is cached ONCE and every round recomputes
    degrees over it restricted to the current alive nodes (two semi
    joins on a node-count-sized frame Spark broadcasts at runtime),
    so the per-round materialization is |V| rows instead of |E| —
    on the sf0.1 co-purchase graph (2.39M edges, 20k nodes) that cut
    the round cost from ~2-3s (persist + count of a 2.3M-row frame)
    to the alive-set's. Restricting the FIXED edge set to
    alive_i is pointwise identical to peeling the previous round's
    edge frame (an edge survives round i iff both endpoints were
    alive every round so far, and aliveness is monotone decreasing),
    so degrees and survivors match the edge-frame formulation and the
    oracle's unrolled rounds exactly. Each round is one action
    (`_rounds`, every 3rd round truncated), the alive count observed
    on it.

    Early exit at fixpoint is safe for any fixed-schedule twin:
    peeling is monotone, so extra rounds after the fixpoint are
    identity — an engine unrolling exactly max_iter rounds computes
    the same survivors. |alive| unchanged IS the fixpoint test:
    alive sets only shrink, so equal size means equal set, meaning
    the restricted degrees — and every later round — repeat.
    """
    e = edges.select(
        F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
    ).persist()
    e.count()

    def degrees(uv, alive):
        """(u, deg) over the edges between alive nodes (None = all)."""
        if alive is not None:
            uv = uv.join(alive, "u", "left_semi").join(
                alive.withColumnRenamed("u", "v"), "v", "left_semi"
            )
        return uv.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))

    def step(alive, obs):
        return (
            degrees(e, alive)
            .filter(F.col("deg") >= k)
            .select("u")
            .observe(obs, F.count(F.lit(1)).alias("n"))
        )

    alive, _, _ = _rounds(None, step, max_iter, every=3, stop=_repeats())
    # The final subgraph's degrees, re-derived from `edges` once `e` is
    # freed, so the result holds only the alive-set's blocks. With
    # max_iter <= 0 no peeling ran and `alive` is None: full degrees.
    e.unpersist()
    return degrees(e, alive).select(
        F.col("u").alias("id"), F.col("deg").cast("long").alias("degree")
    )


def link_prediction(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    min_cn: int = 2,
    max_wedge_degree: int | None = None,
    pack_ids: bool | None = None,
) -> DataFrame:
    """Neighborhood link-prediction scores for NON-adjacent node
    pairs sharing >= min_cn common neighbors: common-neighbor count
    `cn`, preferential attachment `pa` = deg(u)*deg(w), and Jaccard
    of the neighbor sets cn/(deg(u)+deg(w)-cn) (Liben-Nowell &
    Kleinberg CIKM'03). Returns (u, w, cn, deg_u, deg_w, pa, jacc)
    with u < w.

    Input is a DIRECTED edge list expected symmetric (both
    directions, the pagerank/kcore convention), so out-degree ==
    degree. Shape: one wedge self-join equi on the shared neighbor
    (pair enumeration is quadratic only within a node's
    neighborhood), a count aggregate, one anti join to drop existing
    edges, two degree equi-joins. All scores are exact integers or a
    single division of exact integers — bit-deterministic anywhere.

    Wedge volume is sum_v deg(v)^2; at web scale the standard move is
    to exclude super-node hubs from the wedge center (they predict
    everything and dominate cost) — pass max_wedge_degree to drop
    centers above the cap before the self-join.

    `pack_ids`: when every node id fits an unsigned 32-bit value, the
    (u, w) wedge pair is packed into ONE 64-bit key (u << 32 | w) for
    the count aggregate and the existing-edge anti join — the wedge
    shuffle is the operator's cost floor, and a single long key halves
    its key width and hashes/compares as a primitive. Packing is a
    bijection on the qualifying domain, so counts and the final
    unpacked (u, w) are unchanged. None (default) = auto-detect with
    one min/max aggregate over the edge list; True/False skip the
    probe when the caller knows the id domain.
    """
    e = edges.select(
        F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
    )
    deg = e.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    ctr = e.select(F.col("v").alias("c"), F.col("u").alias("n"))
    if max_wedge_degree is not None:
        ok = deg.filter(F.col("deg") <= int(max_wedge_degree)).select(
            F.col("u").alias("c")
        )
        ctr = ctr.join(ok, "c", "left_semi")
    # Wedge enumeration via per-center sorted neighbor arrays, not a
    # self-join: ONE shuffle (groupBy center) instead of shuffling the
    # edge list twice, and only the i<j half of each neighborhood is
    # ever emitted (the join generated all deg^2 combinations and cut
    # pu<pw afterwards). Measured at sf0.1 (38M wedges): 11.5s -> 7.2s
    # end-to-end. Arrays are bounded by the center's degree — pass
    # max_wedge_degree at web scale so a super-node hub can neither
    # blow the wedge count nor the array buffer.
    nbrs = ctr.groupBy("c").agg(F.sort_array(F.collect_list("n")).alias("ns"))
    if pack_ids is None:
        # one tiny min/max job over the edge list (trivial next to the
        # wedge shuffle it halves; the gate's edge frame is cached)
        b = e.agg(
            F.min(F.least("u", "v")).alias("lo"),
            F.max(F.greatest("u", "v")).alias("hi"),
        ).first()
        pack_ids = (
            b["lo"] is not None and b["lo"] >= 0 and b["hi"] < (1 << 31)
        )
    if pack_ids:
        shift = F.lit(1 << 32).cast("long")
        pair_arr = F.flatten(
            F.transform(
                F.col("ns"),
                lambda x, i: F.transform(
                    F.slice(
                        F.col("ns"),
                        i + F.lit(2),
                        F.greatest(F.size(F.col("ns")) - i - F.lit(1), F.lit(0)),
                    ),
                    lambda y: x * shift + y,
                ),
            )
        )
        wedges = nbrs.select(F.explode(pair_arr).alias("uw"))
        cnp = (
            wedges.groupBy("uw")
            .agg(F.count(F.lit(1)).cast("long").alias("cn"))
            .filter(F.col("cn") >= F.lit(int(min_cn)))
        )
        # anti join on the SAME packed key: single-long equi key
        cand = cnp.join(
            e.select((F.col("u") * shift + F.col("v")).alias("euw")),
            F.col("uw") == F.col("euw"),
            "left_anti",
        ).select(
            F.shiftright("uw", 32).alias("u"),
            F.col("uw").bitwiseAND(F.lit((1 << 32) - 1)).alias("w"),
            "cn",
        )
    else:
        pair_arr = F.flatten(
            F.transform(
                F.col("ns"),
                lambda x, i: F.transform(
                    F.slice(
                        F.col("ns"),
                        i + F.lit(2),
                        F.greatest(F.size(F.col("ns")) - i - F.lit(1), F.lit(0)),
                    ),
                    lambda y: F.struct(x.alias("u"), y.alias("w")),
                ),
            )
        )
        wedges = nbrs.select(F.explode(pair_arr).alias("p")).select("p.u", "p.w")
        cn = (
            wedges.groupBy("u", "w")
            .agg(F.count(F.lit(1)).cast("long").alias("cn"))
            .filter(F.col("cn") >= F.lit(int(min_cn)))
        )
        cand = cn.join(
            e.select(F.col("u").alias("eu"), F.col("v").alias("ev")),
            (F.col("u") == F.col("eu")) & (F.col("w") == F.col("ev")),
            "left_anti",
        )
    du = deg.select(F.col("u").alias("du_id"), F.col("deg").alias("deg_u"))
    dw = deg.select(F.col("u").alias("dw_id"), F.col("deg").alias("deg_w"))
    out = (
        cand.join(du, F.col("u") == F.col("du_id"))
        .join(dw, F.col("w") == F.col("dw_id"))
        .select(
            "u",
            "w",
            "cn",
            "deg_u",
            "deg_w",
            (F.col("deg_u") * F.col("deg_w")).cast("long").alias("pa"),
            (
                F.col("cn").cast("double")
                / (F.col("deg_u") + F.col("deg_w") - F.col("cn")).cast("double")
            ).alias("jacc"),
        )
    )
    return out


def degree_assortativity(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002): the Pearson
    correlation of endpoint degrees over the directed edge list —
    positive when hubs link to hubs, negative in hub-and-spoke
    topologies. Returns ONE row (m, sum_x, sum_y, sum_xy, sum_x2,
    sum_y2, r). On a symmetric edge list this is the standard
    undirected coefficient.

    Shape: one degree aggregate, two equi joins to tag each edge with
    endpoint degrees, one global aggregate — no window, nothing
    driver-side. The five moment sums accumulate through exact
    decimal(38,0) (the welch_ttest discipline): deg^2 products summed
    over any realistic edge count stay far under 38 digits, so r is
    one double expression over exact integers — engine-portable.
    """
    e = edges.select(
        F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
    )
    deg = e.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    du = deg.select(F.col("u").alias("su"), F.col("deg").alias("x"))
    dv = deg.select(F.col("u").alias("sv"), F.col("deg").alias("y"))
    tagged = (
        e.join(du, F.col("u") == F.col("su"))
        .join(dv, F.col("v") == F.col("sv"))
        .select("x", "y")
    )
    d38 = "decimal(38,0)"
    agg = tagged.agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum(F.col("x").cast(d38)).alias("sx"),
        F.sum(F.col("y").cast(d38)).alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast(d38)).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast(d38)).alias("sx2"),
        F.sum((F.col("y") * F.col("y")).cast(d38)).alias("sy2"),
    )
    md = F.col("m").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sx2, sy2 = F.col("sx2").cast("double"), F.col("sy2").cast("double")
    num = md * sxy - sx * sy
    den = F.sqrt(md * sx2 - sx * sx) * F.sqrt(md * sy2 - sy * sy)
    return agg.select(
        "m",
        F.col("sx").cast("long").alias("sum_x"),
        F.col("sy").cast("long").alias("sum_y"),
        F.col("sxy").cast("long").alias("sum_xy"),
        F.col("sx2").cast("long").alias("sum_x2"),
        F.col("sy2").cast("long").alias("sum_y2"),
        F.when(den > 0, num / den).alias("r"),
    )


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 4,
) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan,
    Albert & Kumara 2007) with a TOTAL deterministic tie-break: each
    round every node adopts the most frequent label among its
    neighbors, ties broken by the smallest label. Returns
    (id, community).

    Determinism: classic LPA breaks ties randomly and updates
    asynchronously — useless for a reproducible pipeline. The
    synchronous + (count DESC, label ASC) total order makes every
    round a pure function of the previous one, so a fixed-round unroll
    is engine-portable (the kcore oracle pattern). Input is a directed
    edge list expected symmetric (both directions present).

    Per-round shape: one equi join labels->edges keyed on the node id,
    one (u, label) count aggregate, then the mode selected by a
    second aggregate — max_by(lab, struct(cnt, -lab)) — instead of a
    row_number window: the struct order (cnt DESC via max, then lab
    ASC via the negation) is the identical total tie-break, but the
    agg does partial map-side reduction to one candidate per node per
    partition and never sorts, where the window had to repartition BY
    NODE and sort every (node, label) row. Fixed rounds, no early
    exit: synchronous LPA can 2-cycle on bipartite structure, so
    "unchanged" is the only safe stop and a fixed schedule keeps twin
    implementations bit-identical.

    Each round materializes its (node, label) frame (one action,
    `_rounds`, every 3rd round truncated): the accurate runtime size
    of that |V|-row frame is what lets the next round's labels->edges
    join stay a BROADCAST of the labels side (lazy rounds were
    measured slower here — the unsized aggregate output forced the
    planner to sort-merge, re-shuffling the edge frame every round).
    """
    e = edges.select(
        F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
    ).persist()
    labels = (
        e.select(F.col("u").alias("id")).distinct().withColumn("lab", F.col("id"))
    )

    def step(labels, _obs):
        counts = (
            e.join(labels.select(F.col("id").alias("v"), "lab"), "v")
            .groupBy("u", "lab")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        return (
            counts.groupBy("u")
            .agg(
                F.max_by(
                    F.col("lab"),
                    F.struct(F.col("cnt"), (-F.col("lab")).alias("nl")),
                ).alias("lab")
            )
            .select(F.col("u").alias("id"), "lab")
        )

    labels, _, _ = _rounds(labels, step, max_iter, every=3)
    e.unpersist()
    return labels.select("id", F.col("lab").alias("community"))


def personalized_pagerank(
    edges: DataFrame,
    seed_ids: list[int],
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    rounds: int = 8,
) -> DataFrame:
    """Personalized PageRank (random walk with restart to a SEED
    SET) — the neighborhood-relevance score behind graph recsys and
    "related items" surfaces; plain pagerank ranks global centrality,
    PPR ranks closeness to the seeds. Fixed `rounds` iterations, no
    early exit (twin/oracle implementations follow the identical
    schedule); restart mass is 1.0 per seed, conserved when the
    graph has no dangling nodes (symmetric co-occurrence graphs
    don't — callers with directed graphs handle dangling upstream).

    The same round as pagerank (`_rank_round`: one contribution join +
    per-dst sum keyed by the edge partitioning), run on
    `_fixed_round_ranks`' lazy schedule: three rounds per eager
    localCheckpoint. Returns (id, rank)."""
    d = float(damping)
    e0 = edges.select(
        F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
    )
    outdeg = e0.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    e = e0.join(outdeg, "u").select("u", "v", "deg").repartition("u").persist()
    base = (
        outdeg.select(F.col("u").alias("id"), "deg")
        .withColumn(
            "restart",
            F.when(
                F.col("id").isin([int(s) for s in seed_ids]), F.lit(1.0)
            ).otherwise(F.lit(0.0)),
        )
        .persist()
    )
    n_nodes = base.count()  # also materializes base's cache
    out = _fixed_round_ranks(e, base, d, rounds, n_nodes)
    e.unpersist()
    base.unpersist()
    return out


def _fixed_round_ranks(
    e: DataFrame, base: DataFrame, d: float, rounds: int, n_nodes: int
) -> DataFrame:
    """`rounds` rounds of `_rank_round` with no dangling mass, over
    out-edges `e` (u, v, deg) from `base` (id, deg, restart) of
    `n_nodes` rows; starts from rank = restart and returns (id, rank)
    as a local checkpoint, so the result survives the caller
    unpersisting `e` and `base`.

    Fixed rounds need no per-round action: three lazy rounds pipeline
    into one eager localCheckpoint (27x plan growth between truncations
    stays cheap to analyze), so 8 rounds cost 3 scheduling barriers."""
    hint = broadcast_if_small(e.sparkSession, n_nodes)
    ranks = base.withColumn("rank", F.col("restart"))
    for first in range(0, rounds, 3):
        nxt = ranks
        for _ in range(min(3, rounds - first)):
            nxt = _rank_round(e, nxt, base, d, 0.0, hint).select("id", "rank")
        ranks = supersede(ranks, nxt.localCheckpoint(eager=True))
    return ranks.select("id", "rank")
