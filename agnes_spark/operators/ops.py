"""Field arithmetic.

Reference: agnes src/ops/scalar_op.rs (field (+) scalar) and
src/ops/field_op.rs (field (+) field) implement Add/Sub/Mul/Div over
whole columns, NA-propagating. Spark Column arithmetic has identical
semantics (null propagates) and runs inside whole-stage codegen, so
these are thin declarative helpers kept for API parity.
"""

from __future__ import annotations

import operator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_OPS = {
    "+": operator.add,
    "-": operator.sub,
    "*": operator.mul,
    "/": operator.truediv,
}


def scalar_op(df: DataFrame, label: str, op: str, scalar, out_label: str | None = None) -> DataFrame:
    """field (op) scalar — agnes src/ops/scalar_op.rs."""
    out = out_label or label
    return df.withColumn(out, _OPS[op](F.col(label), F.lit(scalar)))


def rscalar_op(df: DataFrame, scalar, op: str, label: str, out_label: str | None = None) -> DataFrame:
    """scalar (op) field (order matters for - and /)."""
    out = out_label or label
    return df.withColumn(out, _OPS[op](F.lit(scalar), F.col(label)))


def field_op(df: DataFrame, left: str, op: str, right: str, out_label: str) -> DataFrame:
    """field (op) field — agnes src/ops/field_op.rs."""
    return df.withColumn(out_label, _OPS[op](F.col(left), F.col(right)))
