"""Distinct values over a label list.

Reference: agnes src/view.rs:1016 `unique_indices` / :1030
`unique_values`. agnes builds a HashSet of row hashes driver-side;
Spark-first: `select(labels).distinct()` — a hash aggregate with
map-side partial dedup, shuffled only on the label columns (column
pruning keeps the shuffle narrow at 100 TB).

`unique_indices` returns the EXEMPLAR row index for each unique value
combination — the reference's Vec<usize> of first-occurrence indices.
Positional identity under distributed execution comes from an explicit
row index: the caller either names an existing index column or one is
attached in the view's current order (with_row_index, Spark's
distributed sequence); the exemplar is then min(index) per group —
"first occurrence", exactly the reference's scan order semantics.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from agnes_spark.sqltext import quote_ident


def unique_values(df: DataFrame, labels: Sequence[str]) -> DataFrame:
    return df.select(*map(quote_ident, labels)).distinct()


def unique_indices(
    df: DataFrame, labels: Sequence[str], index_col: str | None = None
) -> DataFrame:
    """One row per distinct label-list value with the 0-based index of
    its first occurrence: (labels..., row_idx). Reference view.rs:1016."""
    from agnes_spark.operators.merge import with_row_index

    if index_col is None:
        index_col = "__agnes_uidx"
        df = with_row_index(df, index_col)
    return (
        df.groupBy(*map(quote_ident, labels))
        .agg(F.min(quote_ident(index_col)).alias("row_idx"))
    )
