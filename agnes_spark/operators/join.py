"""Predicate joins.

Reference: agnes src/join.rs — `Join<LLabel, RLabel, Predicate>` with
predicates Equal (:228), LessThan (:262), LessThanEqual (:291),
GreaterThan (:320), GreaterThanEqual (:349), executed as a
single-node sort-merge join (:394 SortMergeJoin).

Spark-first realization:
- Equal -> plain equi-join; Catalyst picks broadcast-hash / SMJ /
  shuffled-hash (AQE re-plans at runtime). We never hand-schedule.
- Inequality predicates -> theta join. Catalyst can only run a pure
  theta join as a (broadcast) nested-loop; that is fine when one side
  broadcasts, but is O(n*m) for big-big. `band_join` provides the
  scalable path: bucketize both sides on the join value, equi-join on
  bucket (+/- neighbor buckets), then apply the exact predicate — the
  cross product is confined to buckets, and the join shuffles hash on
  the bucket id like any equi-join.
- `asof_join` (beyond the reference; standard in time-series engines):
  per-key "most recent right row <= left ts", via union+window — no
  Python, no nested loop.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from agnes_spark.sqltext import quote_ident

_PREDICATES = {"==", "<", "<=", ">", ">=", "!="}


def _cond(left_col: Column, right_col: Column, predicate: str) -> Column:
    if predicate == "==":
        return left_col == right_col
    if predicate == "<":
        return left_col < right_col
    if predicate == "<=":
        return left_col <= right_col
    if predicate == ">":
        return left_col > right_col
    if predicate == ">=":
        return left_col >= right_col
    if predicate == "!=":
        return left_col != right_col
    raise ValueError(f"unknown predicate {predicate!r}; expected one of {_PREDICATES}")


def _sql_number(x: float) -> str:
    """`x` as SQL text of the literal type `F.lit(x)` gives it: an int
    stays an integer, a float is a DOUBLE (a bare `0.02` would parse
    as a DECIMAL)."""
    if isinstance(x, bool) or not isinstance(x, (int, float)) or not math.isfinite(x):
        raise ValueError(f"expected a finite int or float, got {x!r}")
    return str(x) if isinstance(x, int) else f"{x!r}D"


def predicate_join(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: str,
    predicate: str = "==",
    how: str = "inner",
    broadcast_right: bool | None = None,
) -> DataFrame:
    """agnes src/join.rs Join<L,R,Pred> equivalent.

    `broadcast_right=True` hints the small side (agnes is single-node
    so has no notion of this; at cluster scale it is the difference
    between a shuffle-free join and a full theta-join blowup).
    """
    rhs = F.broadcast(right) if broadcast_right else right
    cond = _cond(left[left_on], right[right_on], predicate)
    return left.join(rhs, on=cond, how=how)


def band_join(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: str,
    width: float,
    how: str = "inner",
) -> DataFrame:
    """Scalable big-big range join: |left_on - right_on| <= width.

    Bucketize both sides by `width`; a band-mate of a left row can only
    live in the row's bucket or an adjacent one, so the right side is
    replicated into its 3 neighboring buckets and the join becomes a
    hash-partitioned EQUI-join on bucket id with an exact post-filter —
    a nested-loop O(n*m) becomes O(n + m + matches), shuffled on bucket.

    Plan build: each side's bucket is one `selectExpr` of SQL text (the
    right one `explode(sequence(b - 1, b + 1))`) and the join condition
    is one SQL expression over the two sides aliased `__l` and `__r`,
    which binds each side's value to its own frame even when both sides
    share the column name; the build costs a few py4j round trips.
    `left_on`/`right_on` are column names, never paths.

    Only how='inner'/'left' preserve plain-join semantics: the right
    side is replicated 3x, so right/full outer joins would emit each
    unmatched right row 3 times — flip the sides and use 'left'.
    """
    if how not in ("inner", "left", "left_outer", "leftouter"):
        raise ValueError(
            "band_join supports how='inner' or 'left' only: the right side is "
            "replicated into 3 neighbor buckets, so right/full outer joins "
            f"would triplicate unmatched right rows (got how={how!r})"
        )
    w = _sql_number(width)
    lb = f"CAST(floor({quote_ident(left_on)} / {w}) AS BIGINT)"
    rb = f"CAST(floor({quote_ident(right_on)} / {w}) AS BIGINT)"
    l2 = left.selectExpr("*", f"{lb} AS __lb").alias("__l")
    # each right row lands in its bucket and both neighbors so any
    # band-mate of a left row shares a bucket id
    r2 = right.selectExpr("*", f"explode(sequence({rb} - 1, {rb} + 1)) AS __rb").alias("__r")
    cond = F.expr(
        f"__l.__lb = __r.__rb AND "
        f"abs(__l.{quote_ident(left_on)} - __r.{quote_ident(right_on)}) <= {w}"
    )
    return l2.join(r2, on=cond, how=how).drop("__lb", "__rb")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: Sequence[str],
    right_values: Sequence[str],
    direction: str = "backward",
    tolerance_seconds: float | None = None,
) -> DataFrame:
    """As-of join: for each left row, the latest right row with
    right.on <= left.on (backward) / earliest >= (forward), per `by` key.

    Implemented by unioning tagged rows, then a single window pass
    (last non-null over rows ordered by `on`) — one shuffle on the
    `by` key, no per-row lookups, skew handled by AQE.

    `tolerance_seconds` (pandas merge_asof parity): a match further
    than this from the left timestamp is nulled out — the carried
    right timestamp rides along in the same window pass.
    """
    if direction not in ("backward", "forward"):
        raise ValueError("direction must be 'backward' or 'forward'")
    by = list(by)
    lcols = left.columns
    tagged_r = right.select(
        *by,
        F.col(on).alias("__t"),
        F.lit(0).alias("__side"),
        *[F.col(c).alias(f"__rv_{c}") for c in right_values],
        F.col(on).alias("__rv___rt"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols if c not in by and c != on],
    )
    tagged_l = left.select(
        *by,
        F.col(on).alias("__t"),
        F.lit(1).alias("__side"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"__rv_{c}") for c in right_values],
        F.lit(None).cast(right.schema[on].dataType).alias("__rv___rt"),
        *[F.col(c) for c in lcols if c not in by and c != on],
    )
    unioned = tagged_r.unionByName(tagged_l)
    if direction == "backward":
        w = (
            Window.partitionBy(*by)
            .orderBy(F.col("__t").asc(), F.col("__side").asc())
            .rowsBetween(Window.unboundedPreceding, 0)
        )
    else:
        # __side asc puts right rows (side=0) before left rows at equal
        # __t, so an exact-timestamp match is visible to the left row —
        # mirroring backward (where __t asc, __side asc does the same)
        # and pandas merge_asof, whose forward direction includes exact
        # matches by default.
        w = (
            Window.partitionBy(*by)
            .orderBy(F.col("__t").desc(), F.col("__side").asc())
            .rowsBetween(Window.unboundedPreceding, 0)
        )
    carried = list(right_values) + ["__rt"]
    filled = unioned.select(
        "*",
        *[F.last(f"__rv_{c}", ignorenulls=True).over(w).alias(f"__f_{c}") for c in carried],
    )
    if tolerance_seconds is not None:
        gap = F.abs(
            F.col("__t").cast("double") - F.col("__f___rt").cast("double")
        )
        within = F.col("__f___rt").isNotNull() & (gap <= F.lit(float(tolerance_seconds)))
        filled = filled.select(
            *[c for c in filled.columns if not c.startswith("__f_")],
            *[
                F.when(within, F.col(f"__f_{c}")).alias(f"__f_{c}")
                for c in carried
            ],
        )
    out = filled.filter(F.col("__side") == 1).select(
        *by,
        F.col("__t").alias(on),
        *[F.col(c) for c in lcols if c not in by and c != on],
        *[F.col(f"__f_{c}").alias(c) for c in right_values],
    )
    return out


def fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
    max_dist: int = 1,
) -> DataFrame:
    """Approximate string join: pairs with levenshtein(left_col,
    right_col) <= max_dist — entity resolution's fuzzy-match step
    (typo'd names against a clean dictionary).

    Never an all-pairs: edit distance <= d bounds the LENGTH
    difference to d, so the left side is replicated to its 2d+1
    candidate lengths and equi-joined against the right side keyed by
    exact length — candidates are |left|*(2d+1) x per-length-bucket
    rows, the exact verify (levenshtein) runs only on them. Blocking
    on length alone is conservative (full recall: the length bound is
    implied by the distance bound, so no true match is lost — the
    length-0 bucket is kept so empty right-side strings can match
    left strings of length <= max_dist); for huge dictionaries add a
    second band (e.g. first character) at a known recall cost.
    """
    lens = F.array(
        *[F.length(F.col(left_col)) + F.lit(i) for i in range(-max_dist, max_dist + 1)]
    )
    l2 = left.withColumn("__blen", F.explode(lens)).filter(F.col("__blen") >= 0)
    r2 = right.withColumn("__blen", F.length(F.col(right_col)))
    return (
        l2.join(r2, "__blen")
        .withColumn("__dist", F.levenshtein(F.col(left_col), F.col(right_col)))
        .filter(F.col("__dist") <= max_dist)
        .drop("__blen")
        .withColumnRenamed("__dist", "edit_dist")
    )
