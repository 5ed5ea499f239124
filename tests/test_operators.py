"""Operator tests — melt, aggregate, stats, ops, unique.

Model: reference tests/dataview.rs + examples/melt_aggregate.rs
(the salary melt/aggregate walkthrough is reproduced verbatim here).
"""

import math

import pytest
from pyspark.sql import functions as F

from agnes_spark.operators.aggregate import aggregate
from agnes_spark.operators.melt import melt
from agnes_spark.operators.ops import field_op, rscalar_op, scalar_op
from agnes_spark.operators.stats import field_stats, view_stats
from agnes_spark.sources.memory import table


def _salary_table(spark):
    # reference examples/melt_aggregate.rs
    return table(
        spark,
        {
            "EmpId": [0, 1, 2],
            "Year2010": [1500.0, 900.0, 600.0],
            "Year2011": [1600.0, 920.0, 800.0],
            "Year2012": [1700.0, 940.0, 900.0],
            "Year2013": [1850.0, 940.0, 1020.0],
            "Year2014": [2000.0, 970.0, 1100.0],
        },
        types={"EmpId": "bigint", **{f"Year201{i}": "double" for i in range(5)}},
    )


def test_melt_aggregate_reference_example(spark):
    orig = _salary_table(spark)
    assert (orig.count(), len(orig.columns)) == (3, 6)

    melted = melt(
        orig,
        [f"Year201{i}" for i in range(5)],
        "SalaryYear",
        "Salary",
    )
    assert (melted.count(), len(melted.columns)) == (15, 3)
    assert melted.columns == ["EmpId", "SalaryYear", "Salary"]

    agg = aggregate(melted, ["SalaryYear"], "Salary", "sum", "TotalYearlySalary")
    assert (agg.count(), len(agg.columns)) == (5, 2)
    by_year = {r.SalaryYear: r.TotalYearlySalary for r in agg.collect()}
    assert by_year["Year2010"] == 3000.0
    assert by_year["Year2014"] == 4070.0


def test_aggregate_sum_treats_na_as_zero(spark):
    df = table(spark, {"k": ["a", "a", "b"], "v": [1.0, None, None]}, types={"k": "string", "v": "double"})
    agg = aggregate(df, ["k"], "v", "sum", "s")
    got = {r.k: r.s for r in agg.collect()}
    assert got == {"a": 1.0, "b": 0.0}  # agnes sum: NA == 0, never null


def test_field_stats_matches_reference_semantics(spark):
    df = table(spark, {"x": [1.0, 2.0, None, 4.0]}, types={"x": "double"})
    s = field_stats(df, "x")
    assert s["num_na"] == 1
    assert s["num_exists"] == 3
    assert s["sum"] == 7.0
    assert abs(s["mean"] - 7.0 / 3) < 1e-12
    assert s["min"] == 1.0 and s["max"] == 4.0
    # sample var: sum_sq/(n-1) - n/(n-1)*mean^2 (stats.rs:115)
    expect_var = (1 + 4 + 16) / 2 - 3 / 2 * (7.0 / 3) ** 2
    assert abs(s["var"] - expect_var) < 1e-9
    assert abs(s["stdev"] - math.sqrt(expect_var)) < 1e-9


def test_field_stats_all_na_var_is_zero(spark):
    df = table(spark, {"x": [None, None]}, types={"x": "double"})
    s = field_stats(df, "x")
    assert s["num_exists"] == 0
    assert s["var"] == 0.0 and s["stdev"] == 0.0  # stats.rs doc contract
    assert s["sum"] == 0.0
    assert s["min"] is None and s["max"] is None


def test_view_stats_shape(spark, lineitem):
    vs = view_stats(lineitem, ["l_quantity", "l_discount"])
    rows = vs.collect()
    assert [r.field for r in rows] == ["l_quantity", "l_discount"]
    assert all(r.num_exists > 0 for r in rows)


def test_scalar_and_field_ops_na_propagate(spark):
    df = table(spark, {"a": [2.0, None], "b": [10.0, 20.0]}, types={"a": "double", "b": "double"})
    df = scalar_op(df, "a", "*", 3.0, out_label="a3")
    df = rscalar_op(df, 1.0, "-", "a", out_label="one_minus_a")
    df = field_op(df, "a", "+", "b", "ab")
    rows = df.orderBy("b").collect()
    assert rows[0].a3 == 6.0 and rows[0].one_minus_a == -1.0 and rows[0].ab == 12.0
    assert rows[1].a3 is None and rows[1].one_minus_a is None and rows[1].ab is None


def test_approx_twins_error_bounds(spark, sf_dir):
    """The 100 TB scale twins track their exact counterparts."""
    import __spark_entry__ as entry
    from pyspark.sql import functions as F

    exact = {r.l_returnflag: (r.n_parts, r.n_supps)
             for r in entry.count_distinct_parts(spark, sf_dir).collect()}
    approx = {r.l_returnflag: (r.n_parts, r.n_supps)
              for r in entry.approx_distinct_parts(spark, sf_dir).collect()}
    for k, (p, s) in exact.items():
        ap, asup = approx[k]
        assert abs(ap - p) / p < 0.10
        assert abs(asup - s) / s < 0.10

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    exact_med = {r.l_returnflag: r.med for r in li.groupBy("l_returnflag")
                 .agg(F.expr("percentile(l_extendedprice, 0.5)").alias("med")).collect()}
    for r in entry.approx_percentiles(spark, sf_dir).collect():
        assert abs(r.p50 - exact_med[r.l_returnflag]) / exact_med[r.l_returnflag] < 0.05


def test_stratified_sample_rates(spark, sf_dir):
    import __spark_entry__ as entry
    from pyspark.sql import functions as F

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    totals = {r.c_mktsegment: r.n for r in cust.groupBy("c_mktsegment")
              .agg(F.count(F.lit(1)).alias("n")).collect()}
    got = {r.c_mktsegment: r.n for r in entry.stratified_sample(spark, sf_dir)
           .groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("n")).collect()}
    fractions = {"BUILDING": 0.2, "AUTOMOBILE": 0.5, "MACHINERY": 1.0,
                 "HOUSEHOLD": 0.1, "FURNITURE": 0.1}
    for seg, frac in fractions.items():
        expect = totals[seg] * frac
        # Bernoulli sampling: generous band around the target rate
        assert got.get(seg, 0) <= totals[seg]
        if frac == 1.0:
            assert got[seg] == totals[seg]
        else:
            assert abs(got.get(seg, 0) - expect) < 4 * (expect ** 0.5) + 5


def test_geomean_udaf_matches_expression(spark, sf_dir):
    from pyspark.sql import functions as F

    from agnes_spark.operators.aggregate import geomean_udaf

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    gm = geomean_udaf()
    got = {r.l_returnflag: r.g for r in li.groupBy("l_returnflag")
           .agg(F.round(gm("l_extendedprice"), 4).alias("g")).collect()}
    expect = {r.l_returnflag: r.g for r in li.groupBy("l_returnflag")
              .agg(F.round(F.exp(F.avg(F.log("l_extendedprice"))), 4).alias("g")).collect()}
    for k, v in expect.items():
        assert abs(got[k] - v) < 1e-3


def test_hll_sketch_rollup_error_bound(spark, sf_dir):
    import __spark_entry__ as entry
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    exact_all = li.select("l_partkey").distinct().count()
    exact_per = {r.l_returnflag: r.n for r in li.groupBy("l_returnflag")
                 .agg(F.countDistinct("l_partkey").alias("n")).collect()}
    got = {r.l_returnflag: r.est_parts for r in entry.hll_sketch_rollup(spark, sf_dir).collect()}
    assert abs(got["__ALL__"] - exact_all) / exact_all < 0.05
    for k, n in exact_per.items():
        assert abs(got[k] - n) / n < 0.05


def test_observed_metrics_zero_extra_pass(spark, sf_dir):
    from agnes_spark.operators.quality import observed

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    df, obs = observed(cust, null_check_cols=["c_name"], range_check_col="c_acctbal")
    n = df.count()  # the action that also computes the metrics
    m = obs.get
    assert m["n_rows"] == n
    assert m["null_c_name"] == 0
    assert m["min_c_acctbal"] <= m["max_c_acctbal"]


def test_melt_pivot_roundtrip(spark, sf_dir):
    """pivot(melt(x)) == x — the unpivot/pivot inverse invariant."""
    from pyspark.sql import functions as F

    from agnes_spark.sources.memory import table

    wide = table(
        spark,
        {"id": [1, 2], "a": [10.0, 20.0], "b": [30.0, 40.0]},
        types={"id": "long", "a": "double", "b": "double"},
    )
    from agnes_spark.operators.melt import melt

    long_form = melt(wide, ["a", "b"], "key", "val")
    back = (
        long_form.groupBy("id").pivot("key", ["a", "b"]).agg(F.first("val")).orderBy("id")
    )
    assert [r.asDict() for r in back.collect()] == [r.asDict() for r in wide.orderBy("id").collect()]


def test_approx_heavy_hitters_tracks_exact(spark, sf_dir):
    import __spark_entry__ as entry

    exact = {r.user_id for r in entry.skew_profile(spark, sf_dir).collect()}
    approx = {r.user_id for r in entry.approx_heavy_hitters(spark, sf_dir).collect()}
    # at test scale the sketch should recover most of the true top-10
    assert len(exact & approx) >= 6


def test_stratified_sample_exact_deterministic(spark, sf_dir):
    """Exactly k per stratum, identical selection under any input
    layout (pure arithmetic rank — no RNG stream dependence)."""
    from pyspark.sql import functions as F

    from agnes_spark.operators.sampling import stratified_sample_exact

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a = stratified_sample_exact(docs, "lang", "doc_id", k=5, seed=3)
    b = stratified_sample_exact(docs.repartition(7), "lang", "doc_id", k=5, seed=3)
    sa = {(r.doc_id, r.lang) for r in a.select("doc_id", "lang").collect()}
    sb = {(r.doc_id, r.lang) for r in b.select("doc_id", "lang").collect()}
    assert sa == sb
    per = a.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    avail = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("tot")).collect()
    tot = {r.lang: r.tot for r in avail}
    for r in per:
        assert r.n == min(5, tot[r.lang])


def test_sample_to_budget_fills_and_stops(spark):
    """Selection per stratum stops once the budget is crossed (overshoot
    at most one row), is layout-independent, and a dict budget applies
    per stratum with 0 for unlisted strata (excluded)."""
    from pyspark.sql import functions as F

    from agnes_spark.operators.sampling import sample_to_budget
    from agnes_spark.sources.memory import table

    df = table(
        spark,
        {
            "id": list(range(12)),
            "src": ["a"] * 6 + ["b"] * 6,
            "w": [10.0] * 12,
        },
        types={"id": "bigint", "src": "string", "w": "double"},
    )
    out = sample_to_budget(df, "src", "id", "w", budget=25.0, seed=1)
    per = {r.src: r.n for r in out.groupBy("src").agg(F.count(F.lit(1)).alias("n")).collect()}
    # 25.0 budget over weight-10 rows: rows at cum-before 0/10/20 -> 3 per stratum
    assert per == {"a": 3, "b": 3}
    # layout independence
    a = {(r.src, r.id) for r in out.select("src", "id").collect()}
    b = {
        (r.src, r.id)
        for r in sample_to_budget(df.repartition(5), "src", "id", "w", budget=25.0, seed=1)
        .select("src", "id")
        .collect()
    }
    assert a == b
    # dict budgets: stratum missing from the dict gets budget 0 -> excluded
    d = sample_to_budget(df, "src", "id", "w", budget={"a": 45.0}, seed=1)
    perd = {r.src: r.n for r in d.groupBy("src").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert perd == {"a": 5}


def test_sample_to_budget_scalable_matches_exact(spark, sf_dir):
    """The prefiltered form is row-identical to the full-sort form on
    the corpus, and a margin too small for the skew still converges to
    the exact result via the per-stratum fallback."""
    from agnes_spark.operators.sampling import (
        sample_to_budget,
        sample_to_budget_scalable,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    exact = {
        (r.doc_id, r.source)
        for r in sample_to_budget(docs, "source", "doc_id", "n_chars", 2500.0, seed=5)
        .select("doc_id", "source").collect()
    }
    fast = {
        (r.doc_id, r.source)
        for r in sample_to_budget_scalable(
            docs, "source", "doc_id", "n_chars", 2500.0, seed=5
        ).select("doc_id", "source").collect()
    }
    assert fast == exact
    # margin far below what the budget needs -> fallback path must fire
    # and still produce the identical selection
    tiny = {
        (r.doc_id, r.source)
        for r in sample_to_budget_scalable(
            docs, "source", "doc_id", "n_chars", 2500.0, seed=5, margin=0.1
        ).select("doc_id", "source").collect()
    }
    assert tiny == exact


def test_budget_fill_by_rank_quality_first(spark):
    """Quality-first budget fill: per stratum the HIGHEST-ranked rows
    are kept until the weight budget is crossed (overshoot <= one
    row), ranks are emitted 1-based in rank order, and a dict budget
    excludes unlisted strata."""
    from pyspark.sql import functions as F

    from agnes_spark.operators.sampling import budget_fill_by_rank
    from agnes_spark.sources.memory import table

    df = table(
        spark,
        {
            "id": list(range(8)),
            "src": ["a"] * 4 + ["b"] * 4,
            "q": [5, 9, 9, 1, 7, 2, 8, 6],
            "w": [10.0, 10.0, 25.0, 10.0, 10.0, 10.0, 10.0, 10.0],
        },
        types={"id": "bigint", "src": "string", "q": "bigint", "w": "double"},
    )
    out = budget_fill_by_rank(
        df, "src", "w", 30.0, [F.col("q").desc(), F.col("id").asc()]
    ).collect()
    got = {(r.src, r.id): r.fill_rank for r in out}
    # a: rank order is id1(q9,w10), id2(q9,w25), id0(q5), id3(q1);
    #    cum-before 0,10,35 -> keep id1, id2 (overshoots to 35), stop.
    # b: order id6(q8), id4(q7), id7(q6), id5(q2); cum-before 0,10,20,30
    #    -> keep first three.
    assert got == {
        ("a", 1): 1, ("a", 2): 2,
        ("b", 6): 1, ("b", 4): 2, ("b", 7): 3,
    }
    d = budget_fill_by_rank(
        df, "src", "w", {"b": 15.0}, [F.col("q").desc(), F.col("id").asc()]
    ).collect()
    assert {(r.src, r.id) for r in d} == {("b", 6), ("b", 4)}


def test_budget_fill_by_rank_scalable_matches_exact(spark, sf_dir):
    """threshold-then-boundary-sort is row-identical (ids AND ranks) to
    the exact windowed form — including when the boundary key is tied
    across many rows and when a stratum fits whole under its budget."""
    from pyspark.sql import functions as F

    from agnes_spark.operators.sampling import (
        budget_fill_by_rank,
        budget_fill_by_rank_scalable,
    )
    from agnes_spark.sources.memory import table

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id",
        "source",
        "n_chars",
        # coarse key with heavy ties so budget boundaries land INSIDE a key
        (-(F.col("n_chars") % 7)).alias("negk"),
    )
    order = [F.col("negk").asc(), F.col("doc_id").asc()]
    exact = {
        (r.source, r.doc_id, r.fill_rank)
        for r in budget_fill_by_rank(docs, "source", "n_chars", 1800.0, order).collect()
    }
    fast = {
        (r.source, r.doc_id, r.fill_rank)
        for r in budget_fill_by_rank_scalable(
            docs, "source", "n_chars", 1800.0, key_col="negk", tiebreak_col="doc_id"
        ).collect()
    }
    assert fast == exact and exact
    # budget larger than any stratum -> every row kept, whole-stratum path
    n = docs.count()
    assert (
        budget_fill_by_rank_scalable(
            docs, "source", "n_chars", 1e12, key_col="negk", tiebreak_col="doc_id"
        ).count()
        == n
    )


def test_interpolate_linear_fills_between_neighbors(spark):
    from agnes_spark.operators.timeseries import interpolate_linear
    from agnes_spark.sources.memory import table

    # dyadic values/positions -> interpolation is FP-exact
    df = table(
        spark,
        {
            "k": ["a"] * 5 + ["b"] * 2,
            "t": ["2024-01-01 00:00:00", "2024-01-01 01:00:00",
                  "2024-01-01 02:00:00", "2024-01-01 03:00:00",
                  "2024-01-01 04:00:00",
                  "2024-01-01 00:00:00", "2024-01-01 01:00:00"],
            "v": [1.0, None, None, 9.0, None, None, 2.0],
        },
        types={"k": "string", "t": "string", "v": "double"},
    ).withColumn("t", F.col("t").cast("timestamp"))
    out = interpolate_linear(df, ["k"], "t", "v")
    got = {(r.k, str(r.t)): r.v_filled for r in out.collect()}
    # linear between 1.0 and 9.0 across 3 hours
    assert got[("a", "2024-01-01 01:00:00")] == 1.0 + 8.0 / 3
    assert got[("a", "2024-01-01 02:00:00")] == 1.0 + 16.0 / 3
    # trailing gap (no next neighbor) and leading gap stay NULL
    assert got[("a", "2024-01-01 04:00:00")] is None
    assert got[("b", "2024-01-01 00:00:00")] is None
    # non-null rows pass through untouched
    assert got[("a", "2024-01-01 03:00:00")] == 9.0


def test_interpolate_linear_equal_timestamp_bracket_is_null(spark):
    """A null row whose nearest neighbors share ITS timestamp (dup
    rows per instant) must yield NULL, not Inf/NaN from the zero-width
    bracket division."""
    import math

    from agnes_spark.operators.timeseries import interpolate_linear
    from agnes_spark.sources.memory import table

    df = table(
        spark,
        {
            "k": ["a"] * 3,
            "t": ["2024-01-01 00:00:00"] * 3,
            "v": [1.0, None, 9.0],
        },
        types={"k": "string", "t": "string", "v": "double"},
    ).withColumn("t", F.col("t").cast("timestamp"))
    vals = [r.v_filled for r in interpolate_linear(df, ["k"], "t", "v").collect()]
    nulls = [v for v in vals if v is None]
    assert len(nulls) == 1  # the null row stays null
    assert not any(v is not None and (math.isinf(v) or math.isnan(v)) for v in vals)


def test_weighted_sample_aes_properties(spark, sf_dir):
    from agnes_spark.operators.sampling import weighted_sample_aes

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a = weighted_sample_aes(docs, "doc_id", "n_chars", k=50).collect()
    b = weighted_sample_aes(docs, "doc_id", "n_chars", k=50).collect()
    # deterministic: identical selection and order on re-run
    assert [r.doc_id for r in a] == [r.doc_id for r in b]
    assert len(a) == 50 and len({r.doc_id for r in a}) == 50
    # a different seed draws a different sample
    c = weighted_sample_aes(docs, "doc_id", "n_chars", k=50, seed=7).collect()
    assert {r.doc_id for r in c} != {r.doc_id for r in a}
    # weight bias: the sample's mean length exceeds the corpus mean
    corpus_mean = docs.agg(F.avg("n_chars")).first()[0]
    sample_mean = sum(r.n_chars for r in a) / len(a)
    assert sample_mean > corpus_mean


def test_weighted_sample_aes_fractional_and_nonpositive_weights(spark):
    """Fractional weights keep their TRUE inclusion odds (no clamp to
    1.0 — the old clamp collapsed normalized weights to uniform), and
    weight <= 0 rows are never sampleable."""
    from agnes_spark.operators.sampling import weighted_sample_aes

    rows = [(i, 0.001) for i in range(200)] + [(i, 100.0) for i in range(200, 220)]
    rows += [(999, 0.0), (1000, -5.0)]
    df = spark.createDataFrame(rows, "id long, w double")
    got = weighted_sample_aes(df, "id", "w", k=20)
    ids = [r.id for r in got.collect()]
    assert len(ids) == 20
    # zero/negative weights excluded outright
    assert 999 not in ids and 1000 not in ids
    # heavy rows (weight 1e5x the light ones) dominate the sample:
    # under the old clamp all weights collapsed to 1 -> ~2 heavy rows
    # expected; with true weights nearly all 20 heavy rows win
    heavy = sum(1 for i in ids if 200 <= i < 220)
    assert heavy >= 15
    # ranks are valid (0,1) powers — no NaN from negative bases
    assert all(0.0 < r.aes_rank <= 1.0 for r in got.collect())


def test_welch_ttest_matches_direct_formula(spark):
    from agnes_spark.operators.stats import welch_ttest

    a = [12, 15, 11, 19, 14, 13, 16]
    b = [22, 25, 21, 24, 28]
    rows = [("a", v) for v in a] + [("b", v) for v in b] + [("c", 999)]
    df = spark.createDataFrame(rows, "grp string, val long")
    got = welch_ttest(df, "grp", "val", "a", "b").collect()[0]

    # independent reference computation in plain Python floats
    def stats(xs):
        n = len(xs)
        m = sum(xs) / n
        var = sum((x - m) ** 2 for x in xs) / (n - 1)
        return n, m, var
    na, ma, va = stats(a)
    nb, mb, vb = stats(b)
    sea, seb = va / na, vb / nb
    t = (ma - mb) / (sea + seb) ** 0.5
    dfw = (sea + seb) ** 2 / (sea**2 / (na - 1) + seb**2 / (nb - 1))

    assert (got.n_a, got.n_b) == (na, nb)
    assert abs(got.mean_a - ma) < 1e-9 and abs(got.mean_b - mb) < 1e-9
    assert abs(got.t_stat - t) < 1e-9
    assert abs(got.df_welch - dfw) < 1e-9


def test_welch_ttest_float_path(spark):
    from agnes_spark.operators.stats import welch_ttest

    df = spark.createDataFrame(
        [(0, 1.5), (0, 2.5), (0, 3.5), (1, 4.0), (1, 6.0), (1, 8.0)],
        "grp int, val double",
    )
    got = welch_ttest(df, "grp", "val", 0, 1).collect()[0]
    assert got.mean_a == 2.5 and got.mean_b == 6.0
    assert got.t_stat < 0  # group 1 is larger


def test_benford_digit_profile_known_counts(spark):
    import math

    from agnes_spark.operators.stats import BENFORD_FREQS, benford_digit_profile

    # literals must be the exactly-rounded log10(1 + 1/d) doubles
    for d in range(1, 10):
        assert BENFORD_FREQS[d] == math.log10(1 + 1 / d)

    # values engineered so leading digits are known: 1x, 2x, 9x, and
    # non-positives that must be excluded
    vals = [1.23, 12.3, 123.0, 2.5, 0.29, 9.99, 0.0, -5.0]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    rows = {r.digit: r for r in benford_digit_profile(df, "x").collect()}
    assert {d: r.n_obs for d, r in rows.items()} == {1: 3, 2: 2, 9: 1}
    n = 6
    exp1 = n * BENFORD_FREQS[1]
    assert abs(rows[1].expected_n - exp1) < 1e-12
    assert abs(rows[1].chi2_contrib - (3 - exp1) ** 2 / exp1) < 1e-9


def test_js_divergence_profile(spark):
    import math

    from pyspark.sql import functions as F

    from agnes_spark.operators.stats import js_divergence_profile

    # A: 3x "en", 1x "fr"; B: 2x "en", 2x "de" — "de" absent from A,
    # "fr" absent from B (disjoint-support guard)
    rows = [(0, "en")] * 3 + [(0, "fr")] + [(1, "en")] * 2 + [(1, "de")] * 2
    df = spark.createDataFrame(rows, "side int, lang string")
    prof = {
        r.category: r
        for r in js_divergence_profile(df, "lang", F.col("side") == 0).collect()
    }

    def contrib(p, q):
        m = (p + q) / 2
        t = lambda x: x * math.log(x / m) if x > 0 else 0.0  # noqa: E731
        return 0.5 * t(p) + 0.5 * t(q)

    assert (prof["en"].n_a, prof["en"].n_b) == (3, 2)
    assert abs(prof["en"].jsd_contrib - contrib(0.75, 0.5)) < 1e-12
    assert abs(prof["fr"].jsd_contrib - contrib(0.25, 0.0)) < 1e-12
    assert abs(prof["de"].jsd_contrib - contrib(0.0, 0.5)) < 1e-12
    total = sum(r.jsd_contrib for r in prof.values())
    assert 0 < total <= math.log(2) + 1e-12

    # identical slices -> zero divergence
    same = spark.createDataFrame(
        [(0, "en"), (1, "en"), (0, "fr"), (1, "fr")], "side int, lang string"
    )
    z = js_divergence_profile(same, "lang", F.col("side") == 0).collect()
    assert all(abs(r.jsd_contrib) < 1e-15 for r in z)


def test_mann_whitney_u_matches_direct_formula(spark):
    import math
    from collections import Counter

    from agnes_spark.operators.stats import mann_whitney_u

    a = [12, 15, 11, 19, 14, 13, 16, 15, 15]
    b = [22, 25, 21, 24, 15, 28, 13]
    rows = [("a", v) for v in a] + [("b", v) for v in b] + [("c", 999)]
    df = spark.createDataFrame(rows, "grp string, val long")
    got = mann_whitney_u(df, "grp", "val", "a", "b").collect()[0]

    cnt = Counter(a + b)
    ranks, start = {}, 1
    for v in sorted(cnt):
        ranks[v] = start + (cnt[v] - 1) / 2
        start += cnt[v]
    Ra = sum(ranks[v] for v in a)
    Ua = Ra - len(a) * (len(a) + 1) / 2
    n = len(a) + len(b)
    T = sum(t**3 - t for t in cnt.values())
    var = len(a) * len(b) / 12 * ((n + 1) - T / (n * (n - 1)))
    z = (Ua - len(a) * len(b) / 2) / math.sqrt(var)
    assert (got.n_a, got.n_b) == (9, 7)
    assert got.u2_a == 2 * Ua and got.tie_cubes == T
    assert abs(got.z - z) < 1e-12


def test_ks_two_sample_exact_numerator(spark):
    from collections import Counter

    from agnes_spark.operators.stats import ks_two_sample

    a = [12, 15, 11, 19, 14, 13, 16, 15, 15]
    b = [22, 25, 21, 24, 15, 28, 13]
    df = spark.createDataFrame(
        [("a", v) for v in a] + [("b", v) for v in b], "grp string, val long"
    )
    got = ks_two_sample(df, "grp", "val", "a", "b").collect()[0]
    na, nb = len(a), len(b)
    dmax = max(
        abs(sum(1 for x in a if x <= v) * nb - sum(1 for x in b if x <= v) * na)
        for v in set(a + b)
    )
    assert got.d_num == dmax
    assert abs(got.d - dmax / (na * nb)) < 1e-15


def test_mutual_information_independent_is_zero(spark):
    from agnes_spark.operators.stats import mutual_information

    # perfectly independent 2x2 grid -> MI exactly 0 per cell
    rows = [(x, y) for x in "ab" for y in "cd" for _ in range(25)]
    df = spark.createDataFrame(rows, "x string, y string")
    out = mutual_information(df, "x", "y").collect()
    assert len(out) == 4
    assert all(abs(r.mi_contrib) < 1e-15 for r in out)
    # fully dependent -> total MI = ln(2) for a balanced 2-value pair
    import math

    dep = spark.createDataFrame(
        [("a", "c")] * 30 + [("b", "d")] * 30, "x string, y string"
    )
    tot = sum(r.mi_contrib for r in mutual_information(dep, "x", "y").collect())
    assert abs(tot - math.log(2)) < 1e-12


def test_domain_mixture_weights_flattens_dominant_domain(spark):
    from agnes_spark.operators.sampling import domain_mixture_weights

    df = table(
        spark,
        {
            "lang": ["en", "en", "fr", "de"],
            "n": [700, 200, 80, 20],
        },
        types={"lang": "string", "n": "bigint"},
    )
    rows = {r.lang: r for r in domain_mixture_weights(df, ["lang"], "n", 0.5).collect()}
    # weights normalize to 1 and tau=0.5 compresses the range:
    # weight ratio en/de must be far below the 45x share ratio
    total = sum(r.weight for r in rows.values())
    assert abs(total - 1.0) < 1e-9
    assert rows["en"].n_size == 900 and abs(rows["en"].share - 0.9) < 1e-12
    assert rows["en"].weight / rows["de"].weight < 10
    assert rows["en"].weight > rows["fr"].weight > rows["de"].weight


def test_spearman_corr_matches_pandas(spark):
    from agnes_spark.operators.stats import spearman_corr

    xs = [3, 1, 4, 1, 5, 9, 2, 6, 5, 3, 5, 8]
    ys = [2, 7, 1, 8, 2, 8, 1, 8, 2, 8, 4, 5]
    rows = list(zip(xs, ys)) + [(None, 1), (2, None)]
    df = spark.createDataFrame(rows, "x long, y long")
    got = spearman_corr(df, "x", "y").collect()[0]

    import numpy as np
    import pandas as pd

    rx = pd.Series(xs).rank().to_numpy()  # average tied ranks
    ry = pd.Series(ys).rank().to_numpy()
    ref = float(np.corrcoef(rx, ry)[0, 1])
    assert got.n == len(xs)
    assert abs(got.rho - ref) < 1e-12


def test_spearman_corr_perfect_monotone(spark):
    from agnes_spark.operators.stats import spearman_corr

    df = spark.createDataFrame(
        [(i, i * i) for i in range(1, 30)], "x long, y long"
    )
    got = spearman_corr(df, "x", "y").collect()[0]
    assert abs(got.rho - 1.0) < 1e-15
    inv = spark.createDataFrame(
        [(i, -i * i) for i in range(1, 30)], "x long, y long"
    )
    assert abs(spearman_corr(inv, "x", "y").collect()[0].rho + 1.0) < 1e-15


def test_anova_oneway_matches_direct_formula(spark):
    from agnes_spark.operators.stats import anova_oneway

    groups = {
        "a": [12, 15, 11, 19, 14],
        "b": [22, 25, 21, 24, 15, 28],
        "c": [5, 9, 7, 6],
    }
    rows = [(g, v) for g, vs in groups.items() for v in vs]
    df = spark.createDataFrame(rows, "grp string, val long")
    got = anova_oneway(df, "grp", "val").collect()[0]

    allv = [v for vs in groups.values() for v in vs]
    n, k = len(allv), len(groups)
    mean = sum(allv) / n
    ssb = sum(len(vs) * (sum(vs) / len(vs) - mean) ** 2 for vs in groups.values())
    ssw = sum(
        (v - sum(vs) / len(vs)) ** 2 for vs in groups.values() for v in vs
    )
    f = (ssb / (k - 1)) / (ssw / (n - k))
    assert (got.k, got.n) == (k, n)
    assert abs(got.ss_between - ssb) < 1e-9
    assert abs(got.ss_within - ssw) < 1e-9
    assert abs(got.f_stat - f) < 1e-9


def test_cusum_profile_peak_at_level_shift(spark):
    from agnes_spark.operators.timeseries import cusum_profile

    # 10 days at 100 then 10 days at 200 -> |S| peaks exactly at the shift
    rows = [(i, 100) for i in range(10)] + [(i, 200) for i in range(10, 20)]
    df = spark.createDataFrame(rows, "t long, v long")
    out = cusum_profile(df, "t", "v").orderBy("t").collect()
    n, tot = 20, 100 * 10 + 200 * 10
    cum = 0
    for i, r in enumerate(out, start=1):
        cum += r.v
        assert int(r.s_num) == n * cum - i * tot
    peaks = [r.t for r in out if r.is_peak]
    assert peaks == [9]


def test_apply_changelog_last_op_wins(spark):
    from agnes_spark.operators.incremental import apply_changelog

    rows = [
        (1, 10, 1, "I"),
        (1, 11, 2, "U"),
        (2, 20, 1, "I"),
        (2, 0, 2, "D"),
        (3, 30, 1, "I"),
        (2, 25, 3, "I"),  # re-insert after delete
        (4, 40, 1, "I"),
        (4, 0, 2, "D"),
    ]
    df = spark.createDataFrame(rows, "k long, v long, seq long, op string")
    out = {r.k: (r.v, r.op) for r in apply_changelog(df, ["k"], "seq").collect()}
    assert out == {1: (11, "U"), 2: (25, "I"), 3: (30, "I")}


def test_gini_coefficient_known_values(spark):
    from agnes_spark.operators.stats import gini_coefficient

    # perfectly equal -> 0
    eq = spark.createDataFrame([(i, 10) for i in range(8)], "k long, v long")
    g = gini_coefficient(eq, "v").collect()[0]
    assert g.n == 8 and g.total == 80
    assert abs(g.gini) < 1e-15

    # direct formula on an unequal, tied sample
    vals = [1, 1, 2, 5, 5, 5, 20, 61]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "k long, v long")
    got = gini_coefficient(df, "v").collect()[0]
    s = sorted(vals)
    n, tot = len(s), sum(s)
    ref = (2 * sum((i + 1) * x for i, x in enumerate(s)) - (n + 1) * tot) / (n * tot)
    assert got.n == n and got.total == tot
    assert abs(got.gini - ref) < 1e-12


def test_view_stats_all_na_column(spark):
    df = spark.createDataFrame([(None, 1.0), (None, 2.0), (None, 3.0)], "a double, b double")
    (a,) = view_stats(df, ["a"]).collect()
    assert (a.field, a.num_na, a.num_exists) == ("a", 3, 0)
    assert a.sum == 0.0 and a.stdev == 0.0
    assert a.mean is None and a.min is None and a.max is None


def test_view_stats_integral_sum_past_int64(spark):
    """bigint sums go through decimal(19,0): 3 x 4e18 passes 2^63
    without an ANSI overflow error."""
    big = 4_000_000_000_000_000_000
    df = spark.createDataFrame([(big,), (big,), (big,), (None,)], "k bigint")
    (k,) = view_stats(df).collect()
    assert (k.field, k.num_na, k.num_exists) == ("k", 1, 3)
    assert k.sum == float(3 * big)
    assert k.mean == float(big) and k.min == float(big) and k.max == float(big)
    assert k.stdev == 0.0


def test_view_stats_decimal_column(spark):
    from decimal import Decimal

    vals = [Decimal("1.25"), Decimal("2.50"), None, Decimal("-0.75")]
    df = spark.createDataFrame([(v,) for v in vals], "d decimal(10,2)")
    (d,) = view_stats(df).collect()
    xs = [float(v) for v in vals if v is not None]
    mean = sum(xs) / len(xs)
    stdev = math.sqrt(sum((x - mean) ** 2 for x in xs) / (len(xs) - 1))
    assert (d.field, d.num_na, d.num_exists) == ("d", 1, 3)
    assert math.isclose(d.sum, sum(xs)) and math.isclose(d.mean, mean)
    assert math.isclose(d.stdev, stdev)
    assert (d.min, d.max) == (-0.75, 2.5)


def test_view_stats_schema(spark, lineitem):
    vs = view_stats(lineitem, ["l_quantity", "l_linenumber"])
    assert vs.schema.simpleString() == (
        "struct<field:string,num_na:bigint,num_exists:bigint,sum:double,"
        "mean:double,stdev:double,min:double,max:double>"
    )


# the interactive workload's ops (perfbench/run.py): every one builds
# its plan without running a job
INTERACTIVE_LAZY = (
    "subview", "filter_pred", "sort_two_keys", "join_equal", "join_band",
    "merge_views", "melt_wide", "aggregate_sum", "view_stats", "q1_pricing_summary",
)


def test_interactive_ops_build_without_a_job(spark, sf_dir, jobs_run):
    """With the source catalog warm, building an interactive op's plan,
    or a row-index key's (sort_comparator, unique_indices), launches no
    Spark job; dbscan_customers, the positive control, does (it counts
    its points and checkpoints its pair frame while building)."""
    import __spark_entry__ as entry

    registry = entry.queries()
    lazy = INTERACTIVE_LAZY + ("sort_comparator", "unique_indices")

    def jobs_while_building(name):
        return jobs_run(lambda: registry[name](spark, sf_dir))[1]

    for name in lazy + ("dbscan_customers",):
        registry[name](spark, sf_dir)  # warms the catalog
    assert {n: jobs_while_building(n) for n in lazy} == {n: set() for n in lazy}
    assert jobs_while_building("dbscan_customers")


def _different_frames_merge(spark, sf_dir):
    """A positional merge of views over two frames: the row-index path."""
    from agnes_spark import DataView
    from agnes_spark.sources.catalog import read_source

    cust = DataView(read_source(spark, f"{sf_dir}/customer.parquet")).sort_by_label("c_custkey")
    nation = DataView(read_source(spark, f"{sf_dir}/nation.parquet")).sort_by_label("n_nationkey")
    return cust.subview("c_custkey").merge(nation.subview("n_name")).df


@pytest.mark.parametrize(
    "name", ["merge_views", "sort_comparator", "unique_indices", "different_frames"]
)
def test_merge_views_leaves_no_persistent_rdd(spark, sf_dir, persistent_rdds, name):
    """Two calls of a row-aligned op (the merge_views key, the two
    row-index keys, a positional merge of views over different frames),
    each collected, leave the session with no more persistent RDDs
    than it had."""
    import __spark_entry__ as entry

    if name == "different_frames":
        build = _different_frames_merge
    else:
        build = entry.queries()[name]

    before = persistent_rdds()
    for _ in range(2):
        assert build(spark, sf_dir).collect()
    assert persistent_rdds() - before == set()
