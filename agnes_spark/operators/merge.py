"""Horizontal, row-aligned merge of two views.

Reference: agnes src/view.rs:609 `ViewMerge` / :644 `merge` — agnes
merges two views that share row count, producing a wider view; rows
align positionally (views over the same store share its permutation).

Spark has no positional identity across two arbitrary DataFrames, so
alignment must come from somewhere explicit:

- `on=` key columns -> a plain equi-join (the scalable path; this is
  what "views over the same store" degenerate to when the store has a
  key).
- `order_by=` (per side) -> positional alignment derived from an
  explicit sort order: `row_number()` over the given columns on each
  side, joined on the number. Stays entirely in Tungsten (no Python
  RDD hop); the global window is a single-partition sort, the same
  cost the reference's positional merge pays to define an order at
  all. Prefer this whenever ANY ordering column exists.
- positional over one frame (no key, no order; both sides select
  columns of the same frame, e.g. `subview`s and `relabel`s of one
  sorted view) -> the reference's own case: the views share one row
  order, so merging them only joins their label lists. The merge is
  one `select` over that frame: no index, no window, no join, no Spark
  job while building, and the frame runs once, so both sides see the
  same physical rows.
- positional over anything else (no key, no order): each side gets a
  contiguous index from Spark's distributed sequence (the JVM
  `zipWithIndex` node pandas-on-Spark uses for its default index, no
  Python RDD hop) and the sides join on the index.
  Order-sensitive by definition, exactly like the reference; the
  documented degenerate path for truly keyless, orderless input.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame
from pyspark.sql.internal import InternalFunction

from agnes_spark.sqltext import quote_ident

_IDX = "__agnes_row_idx"


def with_row_index(df: DataFrame, name: str = _IDX) -> DataFrame:
    """Attach a 0-based contiguous row index preserving current order.

    One plan node, `AttachDistributedSequence` (the index pandas-on-Spark
    defaults to): `zipWithIndex` over its child without a Python hop.
    The node caches its child before counting and unpersists it after
    the action, so the counting pass and the numbering pass read the
    same execution."""
    return df.select("*", InternalFunction.distributed_sequence_id().alias(name))


def _selected(project) -> list[tuple[int, int]] | None:
    """(output expression id, id of the attribute it selects) per entry
    of a `Project`; None if an entry computes anything."""
    entries = project.projectList()
    out = []
    for e in (entries.apply(i) for i in range(entries.size())):
        src = e.child() if e.getClass().getSimpleName() == "Alias" else e
        if src.getClass().getSimpleName() != "AttributeReference":
            return None
        out.append((e.exprId().id(), src.exprId().id()))
    return out


def _projection(df: DataFrame):
    """`(child, ordinals)` when `df` only selects and renames columns of
    `child`: its analyzed plan is one or more `Project`s whose entries
    are attributes or aliases of attributes, and `ordinals[i]` is the
    position in `child`'s output of `df`'s i-th column. None otherwise."""
    plan = df._jdf.queryExecution().analyzed()
    ids = None  # expression ids of df's columns in `plan`'s output
    while plan.nodeName() == "Project":
        sel = _selected(plan)
        if sel is None:
            break
        src = dict(sel)
        ids = [s for _, s in sel] if ids is None else [src[x] for x in ids]
        plan = plan.child()
    if ids is None:
        return None
    out = plan.output()
    child_ids = [out.apply(i).exprId().id() for i in range(out.size())]
    if not set(ids) <= set(child_ids):
        return None
    return plan, [child_ids.index(x) for x in ids]


def _merge_shared(left: DataFrame, right: DataFrame) -> DataFrame | None:
    """The positional merge of two views over one frame as one `select`
    over it, or None when the sides are not projections of the same
    frame (see the module docstring)."""
    lp, rp = _projection(left), _projection(right)
    if lp is None or rp is None or not lp[0].sameResult(rp[0]):
        return None
    spark = left.sparkSession
    frame = ClassicDataFrame(
        spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(spark._jsparkSession, lp[0]),
        spark,
    )
    names = frame.columns
    if len({n.lower() for n in names}) < len(names):
        return None  # a column of the frame cannot be named uniquely
    # sameResult: the right frame's output matches the left's by
    # ordinal, though its attribute ids may differ (two reads of a file)
    picked = [quote_ident(names[i]) for i in lp[1] + rp[1]]
    labels = left.columns + [f"{c}_1" if c in left.columns else c for c in right.columns]
    return frame.select(*picked).toDF(*labels)


def merge_views(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str] | None = None,
    order_by: tuple[Sequence[str], Sequence[str]] | Sequence[str] | None = None,
) -> DataFrame:
    """`on` > `order_by` > positional (see module docstring); a
    positional merge of two views over one frame is one `select` over
    that frame.

    `order_by` is either one column list applied to both sides or a
    (left_cols, right_cols) pair when the sides name their ordering
    columns differently."""
    if on:
        return left.join(right, on=list(on), how="inner")
    if order_by:
        from pyspark.sql import Window

        if (
            len(order_by) == 2
            and not isinstance(order_by[0], str)
            and not isinstance(order_by[1], str)
        ):
            l_ord, r_ord = list(order_by[0]), list(order_by[1])
        else:
            l_ord = r_ord = list(order_by)
        lhs = left.withColumn(
            _IDX, F.row_number().over(Window.orderBy(*[F.col(c) for c in l_ord]))
        )
        rhs = right.withColumn(
            _IDX, F.row_number().over(Window.orderBy(*[F.col(c) for c in r_ord]))
        )
    else:
        shared = _merge_shared(left, right)
        if shared is not None:
            return shared
        lhs = with_row_index(left)
        rhs = with_row_index(right)
    # rename collisions on the right, matching agnes' relabel-before-merge
    for c in right.columns:
        if c in left.columns:
            rhs = rhs.withColumnRenamed(c, f"{c}_1")
    out = lhs.join(rhs, on=_IDX, how="inner").orderBy(_IDX).drop(_IDX)
    return out
