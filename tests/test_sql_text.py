"""Operators that build their plans from SQL text: labels with odd
characters, and py4j round trips that do not grow with the labels.

`view_stats`, `field_stats` and `band_join` splice column names into
the text they hand to `selectExpr`. A name must come back from Spark as
exactly itself, and only ever fill a quoted slot of the text. The core
view surface (subview, filter, sort, melt, aggregate, unique) reads a
label as one name too, never as a struct path."""

import math
import statistics

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

from agnes_spark import DataView
from agnes_spark.operators.aggregate import aggregate
from agnes_spark.operators.join import band_join
from agnes_spark.operators.melt import melt
from agnes_spark.operators.stats import field_stats, field_stats_df, view_stats
from agnes_spark.operators.unique import unique_indices, unique_values
from agnes_spark.sqltext import quote_ident, quote_str

# a space, a dot, a backtick, a single quote, a backslash
ODD_LABELS = ["a b", "a.b", "a`b", "a'b", "a\\b"]

VIEW_STATS_SCHEMA = (
    "struct<field:string,num_na:bigint,num_exists:bigint,sum:double,"
    "mean:double,stdev:double,min:double,max:double>"
)


def _odd_frame(spark):
    """Column k (named ODD_LABELS[k]) holds k, 2k + 1 and a NULL; even
    columns are bigint (the decimal-widened sum path), odd ones double."""
    types = [LongType() if k % 2 == 0 else DoubleType() for k in range(len(ODD_LABELS))]
    schema = StructType([StructField(n, t) for n, t in zip(ODD_LABELS, types)])

    def cell(k, v):
        return v if v is None or k % 2 == 0 else float(v)

    rows = [
        tuple(cell(k, k) for k in range(len(ODD_LABELS))),
        tuple(cell(k, 2 * k + 1) for k in range(len(ODD_LABELS))),
        tuple(None for _ in ODD_LABELS),
    ]
    return spark.createDataFrame(rows, schema)


def _expected(k):
    xs = [k, 2 * k + 1]
    return {
        "num_na": 1,
        "num_exists": 2,
        "sum": float(sum(xs)),
        "mean": sum(xs) / 2,
        "stdev": statistics.stdev(xs),
        "min": float(k),
        "max": float(2 * k + 1),
    }


def test_view_stats_over_odd_labels(spark):
    vs = view_stats(_odd_frame(spark))
    assert vs.schema.simpleString() == VIEW_STATS_SCHEMA
    rows = vs.collect()
    assert [r.field for r in rows] == ODD_LABELS
    for k, r in enumerate(rows):
        want = _expected(k)
        got = r.asDict()
        assert math.isclose(got.pop("stdev"), want.pop("stdev"))
        got.pop("field")
        assert got == want, ODD_LABELS[k]


def test_field_stats_over_odd_labels(spark):
    df = _odd_frame(spark)
    for k, label in enumerate(ODD_LABELS):
        integral = k % 2 == 0
        got = field_stats(df, label)
        want = _expected(k)
        assert math.isclose(got["stdev"], want["stdev"])
        assert {s: got[s] for s in ("num_na", "num_exists", "sum", "mean")} == {
            s: want[s] for s in ("num_na", "num_exists", "sum", "mean")
        }
        # min/max keep the column's type
        assert (got["min"], got["max"]) == ((k, 2 * k + 1) if integral else (want["min"], want["max"]))
        assert got["sum_sq"] == float(k * k + (2 * k + 1) ** 2)
        assert field_stats_df(df, label).columns == [
            "num_na", "num_exists", "sum", "mean", "sum_sq", "var", "varp", "stdev", "min", "max",
        ]


@pytest.mark.parametrize("label", ODD_LABELS)
def test_band_join_over_odd_labels(spark, label):
    """Both sides name their key `label` (and their id `id`): the band
    condition still binds each side's value to its own frame."""
    left = spark.range(40).selectExpr("id", f"id * 0.25D AS {quote_ident(label)}")
    right = spark.range(40).selectExpr("id", f"id * 0.3D AS {quote_ident(label)}")
    out = band_join(left, right, label, label, 0.5)
    assert out.columns == ["id", label, "id", label]
    got = sorted((r[0], r[2]) for r in out.collect())
    want = sorted(
        (i, j) for i in range(40) for j in range(40) if abs(i * 0.25 - j * 0.3) <= 0.5
    )
    assert got == want


def _select_exprs(monkeypatch, build):
    """The SQL texts `build` hands to `DataFrame.selectExpr`."""
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

    texts, real = [], ClassicDataFrame.selectExpr

    def spy(self, *exprs):
        for e in exprs:
            texts.extend(e if isinstance(e, list) else [e])
        return real(self, *exprs)

    with monkeypatch.context() as m:
        m.setattr(ClassicDataFrame, "selectExpr", spy)
        build()
    return texts


@pytest.mark.parametrize("label", ODD_LABELS)
def test_a_label_only_fills_its_quoted_slots(spark, monkeypatch, label):
    """The SQL text an operator builds for an odd label is the text for
    a plain label `x` with only the quoted identifier and the quoted
    string of the label changed."""

    def frame(name):
        return spark.range(3).selectExpr(f"id * 1.5D AS {quote_ident(name)}", "id AS v")

    def masked(texts, name):
        return [
            t.replace(quote_ident(name), "<ident>").replace(quote_str(name), "<string>")
            for t in texts
        ]

    left = {n: frame(n) for n in ("x", label)}
    right = {n: frame(n) for n in ("x", label)}
    builds = {
        "view_stats": lambda n: view_stats(left[n], [n, "v"]),
        "field_stats": lambda n: field_stats_df(left[n], n),
        "band_join": lambda n: band_join(left[n], right[n], n, n, 0.5),
    }
    for op, build in builds.items():
        plain = _select_exprs(monkeypatch, lambda: build("x"))
        odd = _select_exprs(monkeypatch, lambda: build(label))
        assert masked(odd, label) == masked(plain, "x"), op
        assert any("<ident>" in t for t in masked(plain, "x")), op


def test_view_stats_build_commands_do_not_grow_with_labels(spark, jvm_calls):
    """Building view_stats over 30 numeric columns sends about as many
    py4j commands as over 3: the whole plan is one SQL string (a
    Column tree cost about 600 commands per label)."""
    cols = [f"id * {i} AS i{i}" for i in range(15)] + [f"id / {i + 1} AS d{i}" for i in range(15)]
    wide = spark.range(10).selectExpr(*cols)
    narrow = wide.select("i0", "i1", "d0")
    for df in (wide, narrow):
        df.schema  # resolved once per frame, outside the count

    built, n30 = jvm_calls(lambda: view_stats(wide))
    assert len(built.collect()) == 30
    _, n3 = jvm_calls(lambda: view_stats(narrow))
    assert n30 <= n3 + 5, (n3, n30)
    assert 0 < n3 < 50, n3


def test_view_stats_rejects_an_empty_label_list(spark):
    with pytest.raises(ValueError, match="label list is empty"):
        view_stats(_odd_frame(spark), [])
    strings = spark.createDataFrame([("a",)], "s string")
    with pytest.raises(ValueError, match="label list is empty"):
        view_stats(strings)


def _kv_frame(spark, key):
    """Key column `key` (string), value column `v.v` (double)."""
    schema = StructType([StructField(key, StringType()), StructField("v.v", DoubleType())])
    return spark.createDataFrame([("a", 1.0), ("b", 2.0), ("a", 3.0), (None, 4.0)], schema)


@pytest.mark.parametrize("key", ["k.k"] + ODD_LABELS)
def test_core_view_ops_over_odd_labels(spark, key):
    """Each label names one top-level column, whatever it holds: these
    raised UNRESOLVED_COLUMN for `k.k` when the label was read as a path."""
    df = _kv_frame(spark, key)
    view = DataView(df)

    def rows(d):
        return [tuple(r) for r in d.collect()]

    sub = view.subview("v.v", key)
    assert sub.fieldnames() == ["v.v", key]
    assert sorted(rows(sub), key=str) == sorted([(1.0, "a"), (2.0, "b"), (3.0, "a"), (4.0, None)], key=str)
    assert sorted(r[1] for r in rows(view.filter("v.v", lambda c: c > 1.5))) == [2.0, 3.0, 4.0]
    assert [r[1] for r in rows(view.sort_by_label("v.v", ascending=False))] == [4.0, 3.0, 2.0, 1.0]
    by_key = view.sort_by_label(key, "v.v", ascending=[True, False])
    assert rows(by_key) == [("a", 3.0), ("a", 1.0), ("b", 2.0), (None, 4.0)]
    by_len = view.sort_by_label_comparator(key, F.length, tie_break=["v.v"])
    assert rows(by_len) == [(None, 4.0), ("a", 1.0), ("b", 2.0), ("a", 3.0)]

    total = aggregate(df, [key], "v.v", "sum", "total")
    assert total.columns == [key, "total"]
    assert sorted(rows(total), key=str) == sorted([("a", 4.0), ("b", 2.0), (None, 4.0)], key=str)
    grouped = view.aggregate([key], F.max(quote_ident("v.v")).alias("m"))
    assert sorted(rows(grouped), key=str) == sorted([("a", 3.0), ("b", 2.0), (None, 4.0)], key=str)

    long = melt(df, ["v.v"], "name", "value")
    assert long.columns == [key, "name", "value"]
    assert {r[1] for r in rows(long)} == {"v.v"}
    assert sorted(r[2] for r in rows(long)) == [1.0, 2.0, 3.0, 4.0]

    assert sorted(rows(unique_values(df, [key])), key=str) == sorted([("a",), ("b",), (None,)], key=str)
    first = unique_indices(df, [key])
    assert first.columns == [key, "row_idx"]
    assert sorted(rows(first), key=str) == sorted([("a", 0), ("b", 1), (None, 3)], key=str)
    indexed = df.withColumn("i.i", F.lit(10) - F.monotonically_increasing_id())
    assert {r[0]: r[1] for r in rows(unique_indices(indexed, [key], index_col="i.i"))} == {
        r[0]: min(x[2] for x in indexed.collect() if x[0] == r[0]) for r in rows(first)
    }


def test_quoted_labels_cost_no_extra_commands(spark, jvm_calls):
    """Quoting each label sends no more py4j commands than the same
    build with bare column names."""
    df = spark.range(5).selectExpr("id AS k", "id * 1.5D AS v", "id % 2 AS g")
    df.schema  # resolved once, outside the counts
    view = DataView(df)
    builds = {
        "subview": (lambda: view.subview("k", "v"), lambda: df.select("k", "v")),
        "filter": (
            lambda: view.filter("v", lambda c: c > 1.0),
            lambda: df.filter(F.col("v") > 1.0),
        ),
        "sort_by_label": (
            lambda: view.sort_by_label("v", "k", ascending=[False, True]),
            lambda: df.orderBy(F.col("v").desc_nulls_last(), F.col("k").asc_nulls_last()),
        ),
        "melt": (
            lambda: melt(df, ["v"], "name", "value"),
            lambda: df.unpivot(["k", "g"], ["v"], "name", "value"),
        ),
        "aggregate": (
            lambda: aggregate(df, ["g"], "v", "sum", "t"),
            lambda: df.groupBy("g").agg(F.coalesce(F.sum("v"), F.lit(0.0)).alias("t")),
        ),
    }
    for op, (quoted, plain) in builds.items():
        _, n_quoted = jvm_calls(quoted)
        _, n_plain = jvm_calls(plain)
        assert n_quoted <= n_plain, (op, n_quoted, n_plain)


def test_sort_two_keys_binds_its_labels_through_the_frame(spark, sf_dir, jvm_calls):
    """The sort_two_keys build binds each label with `df[name]` (one
    py4j command) instead of `F.col` (about thirteen): 54 commands, 78
    when each label was an `F.col`."""
    import __spark_entry__ as entry

    entry.sort_two_keys(spark, sf_dir)  # the source is resolved once, outside the count
    _, n = jvm_calls(lambda: entry.sort_two_keys(spark, sf_dir))
    assert n <= 54, n
