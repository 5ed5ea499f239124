"""Group-by aggregation.

Reference: agnes src/view.rs:1498 `aggregate` — group rows by key
labels and fold a value label with an arbitrary (init, fold) closure.

Spark-first: declarative `groupBy().agg()` — the fold closure becomes
an aggregate expression, which buys map-side partial aggregation
(combiner) before the shuffle; the common reference folds (sum with
NA->0, count, min/max, mean) are provided by name. A truly arbitrary
fold that no Spark aggregate expresses can use `fold_in_pandas`
(Arrow-batched applyInPandas) — the documented slow path.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from agnes_spark.sqltext import quote_ident

_NAMED = {
    "sum": lambda c: F.coalesce(F.sum(c), F.lit(0.0)),  # agnes sum: NA == 0
    "mean": F.avg,
    "count": F.count,
    "min": F.min,
    "max": F.max,
    "count_distinct": F.countDistinct,
}


def aggregate(
    df: DataFrame,
    key_labels: Sequence[str],
    value_label: str,
    agg: str | Column,
    out_label: str,
) -> DataFrame:
    """agnes aggregate::<Keys, Value, Out>(init, fold) equivalent."""
    if isinstance(agg, str):
        agg_col = _NAMED[agg](quote_ident(value_label))
    else:
        agg_col = agg
    return df.groupBy(*map(quote_ident, key_labels)).agg(agg_col.alias(out_label))


def fold_in_pandas(
    df: DataFrame,
    key_labels: Sequence[str],
    fold: Callable,
    schema: str,
) -> DataFrame:
    """Arbitrary per-group fold via Arrow-batched applyInPandas —
    only for folds inexpressible as aggregate expressions."""
    return df.groupBy(*key_labels).applyInPandas(fold, schema=schema)


def geomean_udaf():
    """Custom aggregate as a pandas GROUPED_AGG UDF (Arrow-batched
    reduction, usable inside groupBy().agg() next to built-ins).

    Template for UDAFs Spark lacks; prefer the expression form
    (exp∘avg∘ln) when one exists — it gets map-side partial
    aggregation, a GROUPED_AGG UDF does not."""

    @F.pandas_udf("double")
    def _gm(v: pd.Series) -> float:
        return float(np.exp(np.log(v.to_numpy()).mean()))

    return _gm
