"""Melt (wide-to-long unpivot).

Reference: agnes src/view.rs:1278 `melt` / src/frame.rs:112
MeltFrameFields — agnes rotates the melt fields through a
`RotateFields` iterator per row. Spark-first: `DataFrame.unpivot`
(JVM-side Expand node — one pass, no Python, no shuffle; output rows
= input rows x len(melt_labels), produced inside whole-stage codegen).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame

from agnes_spark.sqltext import quote_ident


def melt(
    df: DataFrame,
    melt_labels: Sequence[str],
    name_label: str,
    value_label: str,
    hold_labels: Sequence[str] | None = None,
) -> DataFrame:
    """Unpivot `melt_labels` into (name_label, value_label) pairs.

    All other columns (agnes' HoldLabels) are kept as identifiers,
    matching agnes' melt output shape: hold fields + name + value.
    """
    if hold_labels is None:
        hold_labels = [c for c in df.columns if c not in set(melt_labels)]
    return df.unpivot(
        ids=[quote_ident(c) for c in hold_labels],
        values=[quote_ident(c) for c in melt_labels],
        variableColumnName=name_label,
        valueColumnName=value_label,
    )


def pivot(
    df: DataFrame,
    key_labels: Sequence[str],
    pivot_label: str,
    pivot_values: Sequence[str],
    agg,
) -> DataFrame:
    """Inverse of melt (long-to-wide). `pivot_values` is REQUIRED: with
    an explicit value list Spark skips the extra distinct-values job
    and the plan is a single groupBy — essential at scale, and it fixes
    the output schema statically.
    """
    return df.groupBy(*key_labels).pivot(pivot_label, list(pivot_values)).agg(agg)
