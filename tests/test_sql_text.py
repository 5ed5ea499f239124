"""Operators that build their plans from SQL text: labels with odd
characters, and py4j round trips that do not grow with the labels.

`view_stats`, `field_stats` and `band_join` splice column names into
the text they hand to `selectExpr`. A name must come back from Spark as
exactly itself, and only ever fill a quoted slot of the text."""

import math
import statistics

import pytest
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from agnes_spark.operators.join import band_join
from agnes_spark.operators.stats import field_stats, field_stats_df, view_stats
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
