"""DataView — the agnes-shaped fluent facade over a Spark DataFrame.

Reference: agnes src/view.rs (DataView over frames/stores). In agnes a
view is a zero-copy label list + row permutation over shared stores;
here it is an unexecuted Catalyst plan — same semantics (nothing
materializes until an action), but the optimizer is free to push
filters/projections into the scan and pick join strategies.

Every method returns a new DataView (immutably, like agnes' move-based
builder API); `.df` unwraps the underlying pyspark DataFrame so users
can drop to plain Spark at any point.

A method that needs a label as a `Column` binds it through the frame,
`df[quote_ident(label)]`: one py4j command, where `F.col` sends about
thirteen (pyspark wraps each `functions` call in call-site bookkeeping).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame

from agnes_spark.sqltext import quote_ident


class DataView:
    """Fluent wrapper mirroring agnes' DataView API (src/view.rs)."""

    def __init__(self, df: DataFrame):
        self._df = df

    # -- accessors ----------------------------------------------------
    @property
    def df(self) -> DataFrame:
        return self._df

    def fieldnames(self) -> list[str]:
        """agnes src/view.rs:107 `fieldnames`."""
        return list(self._df.columns)

    def nfields(self) -> int:
        """agnes src/view.rs:219 `nfields`."""
        return len(self._df.columns)

    def nrows(self) -> int:
        """agnes src/view.rs:199 `nrows` (action: triggers a count job)."""
        return self._df.count()

    def is_empty(self) -> bool:
        """agnes src/view.rs:210 `is_empty`."""
        return self._df.isEmpty()

    # -- projection / renaming ---------------------------------------
    def subview(self, *labels: str) -> "DataView":
        """agnes src/view.rs:147 `subview` — select a label list.

        Declarative select -> Catalyst prunes the scan to these columns.
        """
        return DataView(self._df.select(*map(quote_ident, labels)))

    v = subview  # agnes src/view.rs:140 shorthand

    def relabel(self, curr_label: str, new_label: str) -> "DataView":
        """agnes src/view.rs:541 `relabel`."""
        return DataView(self._df.withColumnRenamed(curr_label, new_label))

    # -- row ops ------------------------------------------------------
    def filter(self, label_or_expr, predicate: Callable[[Column], Column] | None = None) -> "DataView":
        """agnes src/view.rs:770 `filter` — keep rows where predicate holds.

        Accepts either a Column/SQL-string expression, or
        (label, fn(Column)->Column) mirroring agnes' per-field closure.
        Expressed declaratively so Catalyst pushes it into the scan.
        """
        if predicate is not None:
            cond = predicate(self._df[quote_ident(label_or_expr)])
        else:
            cond = label_or_expr
        return DataView(self._df.filter(cond))

    def sort_by_label(self, *labels: str, ascending: bool | Sequence[bool] = True) -> "DataView":
        """agnes src/view.rs:703 `sort_by_label` — total-order sort.

        agnes sorts NA-last for floats (src/permute.rs:192 sort_f32);
        Spark's asc_nulls_last/desc_nulls_last matches. Executed as a
        range-partitioned distributed sort (no single-node bottleneck).
        """
        if isinstance(ascending, bool):
            ascending = [ascending] * len(labels)
        cols = [
            self._df[quote_ident(c)].asc_nulls_last()
            if asc
            else self._df[quote_ident(c)].desc_nulls_last()
            for c, asc in zip(labels, ascending)
        ]
        return DataView(self._df.orderBy(*cols))

    def sort_by_label_comparator(
        self,
        label: str,
        key: Callable[[Column], Column],
        ascending: bool = True,
        tie_break: Sequence[str] = (),
    ) -> "DataView":
        """agnes src/view.rs:754 `sort_by_label_comparator` — sort by an
        arbitrary comparator over one field.

        Spark mapping: a comparator that defines a total order is
        expressed as a computed KEY expression `key(col)`; Catalyst
        executes it as a range-partitioned distributed sort on that
        key. NA sorts first, matching agnes' comparator sorts ("missing
        values at the beginning of the order", view.rs:735).

        agnes' version is stable; a distributed range sort is not, so
        callers needing a deterministic order pass `tie_break` labels
        (appended ascending after the key) — the scalable equivalent.
        """
        k = key(self._df[quote_ident(label)])
        cols = [k.asc_nulls_first() if ascending else k.desc_nulls_first()]
        cols += [self._df[quote_ident(t)].asc_nulls_first() for t in tie_break]
        return DataView(self._df.orderBy(*cols))

    def unique_values(self, *labels: str) -> "DataView":
        """agnes src/view.rs:1030 `unique_values` — distinct label-list rows."""
        from agnes_spark.operators.unique import unique_values

        return DataView(unique_values(self._df, list(labels)))

    def unique_indices(self, *labels: str, index_col: str | None = None) -> "DataView":
        """agnes src/view.rs:1016 `unique_indices` — exemplar row index
        per unique label-list combination (see operators/unique.py)."""
        from agnes_spark.operators.unique import unique_indices

        return DataView(unique_indices(self._df, list(labels), index_col=index_col))

    # -- reshaping / combining ----------------------------------------
    def melt(self, melt_labels: Sequence[str], name_label: str, value_label: str) -> "DataView":
        """agnes src/view.rs:1278 `melt` — wide-to-long unpivot."""
        from agnes_spark.operators.melt import melt

        return DataView(melt(self._df, melt_labels, name_label, value_label))

    def aggregate(self, key_labels: Sequence[str], *aggs: Column) -> "DataView":
        """agnes src/view.rs:1498 `aggregate` — group-by fold.

        agnes takes an arbitrary fold closure; the Spark-first form is
        declarative aggregate expressions (partial map-side agg for free).
        """
        return DataView(self._df.groupBy(*map(quote_ident, key_labels)).agg(*aggs))

    def merge(self, other: "DataView", order_by=None) -> "DataView":
        """agnes src/view.rs:644 `merge` — horizontal row-aligned
        concat. Two views over one frame (`subview`s and `relabel`s of
        one view) merge as one select over that frame: they share its
        row order, as agnes views share their store's permutation.
        Otherwise pass `order_by` (one column list, or a (left, right)
        pair) whenever an ordering column exists — that aligns rows by
        a row_number window instead of the distributed-sequence index."""
        from agnes_spark.operators.merge import merge_views

        return DataView(merge_views(self._df, other._df, order_by=order_by))

    def join(self, other: "DataView", left_on: str, right_on: str, predicate: str = "==", how: str = "inner") -> "DataView":
        """agnes src/view.rs:661 `join` — predicate join (src/join.rs)."""
        from agnes_spark.operators.join import predicate_join

        return DataView(predicate_join(self._df, other._df, left_on, right_on, predicate, how))

    # -- arithmetic (reference: src/ops/scalar_op.rs, field_op.rs) -----
    def with_field(self, label: str, expr: Column) -> "DataView":
        return DataView(self._df.withColumn(label, expr))

    # -- stats ---------------------------------------------------------
    def field_stats(self, label: str) -> dict:
        """agnes src/stats.rs traits in one pass (one job, all stats)."""
        from agnes_spark.operators.stats import field_stats

        return field_stats(self._df, label)

    def view_stats(self) -> DataFrame:
        """agnes src/view_stats.rs:230 `view_stats` — per-field summary."""
        from agnes_spark.operators.stats import view_stats

        return view_stats(self._df)

    # -- serialization (reference: serde feature, src/view.rs:1110) ----
    def to_json_rows(self) -> list[str]:
        return self._df.toJSON().collect()

    def write_json(self, path: str, mode: str = "overwrite") -> None:
        self._df.write.mode(mode).json(path)

    def write_parquet(self, path: str, mode: str = "overwrite", partition_by: Sequence[str] = ()) -> None:
        w = self._df.write.mode(mode)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(path)

    def __repr__(self) -> str:
        return f"DataView({self._df.columns})"

    def __getattr__(self, name: str):
        """Transparent passthrough: any DataFrame attribute not shadowed
        by an agnes-shaped method works on the view directly, and
        DataFrame-returning calls come back re-wrapped — a DataView is
        a strict superset of a DataFrame, so plain-Spark code keeps
        working mid-chain."""
        if name.startswith("_"):  # never proxy privates/dunders (breaks pickling)
            raise AttributeError(name)
        attr = getattr(self._df, name)
        if callable(attr):
            def wrapped(*args, **kwargs):
                out = attr(*args, **kwargs)
                return DataView(out) if isinstance(out, DataFrame) else out

            return wrapped
        return DataView(attr) if isinstance(attr, DataFrame) else attr
