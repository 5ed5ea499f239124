"""Field statistics.

Reference: agnes src/stats.rs (NaCount, Sum, Mean, SumSq, Variance,
Extrema) and src/view_stats.rs:230 `view_stats`. agnes folds each stat
in a separate pass over the column; Spark-first we compute ALL stats
for a field (or all fields) in a single aggregate — one scan, one
map-side partial agg, one tiny shuffle, regardless of data size.

The aggregate is written as Spark SQL text from one per-field template
(`_stat_sql`) and handed to the JVM in a single `selectExpr`: building
it costs a few py4j round trips however many fields it covers, where a
`Column` tree costs about 600 per field.

NA semantics preserved from the reference:
- sum / sum_sq treat NA as 0 (== Spark's null-skipping sum);
- mean / var / stdev ignore NAs (Spark avg/var_samp/stddev ditto);
- var/stdev return 0.0 when no values exist (stats.rs:115 doc);
- min/max return NULL when no values exist.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from agnes_spark.sqltext import quote_ident, quote_str


def _stat_sql(label: str, integral: bool) -> dict[str, str]:
    """SQL text of every agnes stat of column `label`, by stat name."""
    c = quote_ident(label)
    if integral:
        # int64 accumulation of sum/sum_sq overflows once |key| *
        # sqrt(rows) passes ~3e9 — the sf1.0 sweep caught
        # sum(p_partkey^2) at 1.6e21 erroring under ANSI while the
        # DuckDB oracle's HUGEINT kept going. Widen to decimal(38,0)
        # (exact to 1e38) and emit double like the float path.
        d = f"CAST({c} AS DECIMAL(19,0))"
        total, total_sq = f"CAST(sum({d}) AS DOUBLE)", f"CAST(sum({d} * {d}) AS DOUBLE)"
    else:
        total, total_sq = f"sum({c})", f"sum({c} * {c})"
    return {
        "num_na": f"count(CASE WHEN {c} IS NULL THEN 1 END)",
        "num_exists": f"count({c})",
        "sum": f"coalesce({total}, 0D)",
        "mean": f"avg({c})",
        "sum_sq": f"coalesce({total_sq}, 0D)",
        "var": f"coalesce(var_samp({c}), 0D)",
        "varp": f"coalesce(var_pop({c}), 0D)",
        "stdev": f"coalesce(stddev_samp({c}), 0D)",
        "min": f"min({c})",
        "max": f"max({c})",
    }


_INTEGRAL_TYPES = {"tinyint", "smallint", "int", "bigint"}


def field_stats_df(df: DataFrame, label: str) -> DataFrame:
    """All agnes field stats for one column as a 1-row DataFrame
    (`label` is a column name, never a path), built as one
    `selectExpr` of the per-field SQL template."""
    integral = dict(df.dtypes).get(label) in _INTEGRAL_TYPES
    stats = _stat_sql(label, integral)
    return df.selectExpr(*[f"{e} AS {quote_ident(s)}" for s, e in stats.items()])


def field_stats(df: DataFrame, label: str) -> dict:
    return field_stats_df(df, label).collect()[0].asDict()


# view_stats' output columns after `field`, in order, with their types
_VIEW_STATS_COLS = (
    ("num_na", "long"),
    ("num_exists", "long"),
    ("sum", "double"),
    ("mean", "double"),
    ("stdev", "double"),
    ("min", "double"),
    ("max", "double"),
)


def view_stats(df: DataFrame, labels: list[str] | None = None) -> DataFrame:
    """Per-numeric-field summary (field, num_na, num_exists, sum, mean,
    stdev, min, max) — agnes src/view_stats.rs ViewStats table.

    One aggregate over all fields (single scan), reshaped to one row
    per field in Catalyst. The plan is one `selectExpr` of SQL text,
    `inline(array(named_struct(...), ...))` with one struct per field,
    each stat from the per-field template cast to the output schema:
    Spark parses it once, so building costs the same few py4j round
    trips for 3 fields or 30. Labels are column names, quoted in the
    text, never paths. The result is a lazy plan like any other view;
    nothing runs until the caller's action. An empty label list
    (given, or no numeric column to default to) raises ValueError.
    """
    numeric = {"int", "bigint", "smallint", "tinyint", "float", "double", "decimal"}
    if labels is None:
        labels = [c for c, t in df.dtypes if t in numeric or t.startswith("decimal")]
    if not labels:
        raise ValueError(
            "view_stats needs at least one label: the label list is empty "
            "(no labels given, or the frame has no numeric column)"
        )
    dtypes = dict(df.dtypes)
    per_field = []
    for c in labels:
        stats = _stat_sql(c, dtypes.get(c) in _INTEGRAL_TYPES)
        cols = ", ".join(f"'{s}', CAST({stats[s]} AS {t})" for s, t in _VIEW_STATS_COLS)
        per_field.append(f"named_struct('field', {quote_str(c)}, {cols})")
    return df.selectExpr(f"inline(array({', '.join(per_field)}))")


def welch_ttest(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Welch's unequal-variance two-sample t-test between two groups of
    `group_col`, over `value_col`. Returns ONE row: (n_a, n_b, mean_a,
    mean_b, t_stat, df_welch) — the experimentation primitive (A/B
    readout) computed entirely from one grouped aggregate.

    Scale shape: a single filter+groupBy pass (map-side partial aggs,
    two result rows) collected into a scalar projection — no window,
    no second scan, nothing driver-side but the 2-row pivot. The
    t statistic and Welch-Satterthwaite df are assembled in Spark
    expressions from (n, sum, sum of squares), so callers who need
    per-segment tests can swap the filter for a groupBy over segment
    pairs without touching the math. Both groups need n >= 2 (the
    sample variances divide by n-1). The exact integral path holds
    while sum(v^2) fits decimal(38,0) — |v| up to ~1e14 at a billion
    rows — beyond which Spark raises rather than silently truncating.
    """
    g = F.col(group_col)
    raw = F.col(value_col)
    # integral inputs sum EXACTLY via decimal accumulators, then convert
    # to double ONCE — the statistic becomes bit-deterministic across
    # partitionings and engines (double sums are order-dependent the
    # moment partial sums pass 2^53). Floating inputs keep double sums.
    integral = dict(df.dtypes)[value_col] in {"tinyint", "smallint", "int", "bigint"}
    if integral:
        vd = raw.cast("decimal(19,0)")
        sum_expr, sumsq_expr = F.sum(vd), F.sum(vd * vd)
    else:
        v = raw.cast("double")
        sum_expr, sumsq_expr = F.sum(v), F.sum(v * v)
    agg = (
        df.filter(g.isin([group_a, group_b]) & raw.isNotNull())
        .groupBy(g.alias("__g"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            sum_expr.cast("double").alias("s"),
            sumsq_expr.cast("double").alias("ss"),
        )
    )
    a = agg.filter(F.col("__g") == group_a).select(
        F.col("n").alias("na"), F.col("s").alias("sa"), F.col("ss").alias("ssa")
    )
    b = agg.filter(F.col("__g") == group_b).select(
        F.col("n").alias("nb"), F.col("s").alias("sb"), F.col("ss").alias("ssb")
    )
    j = a.crossJoin(b)
    ma, mb = F.col("sa") / F.col("na"), F.col("sb") / F.col("nb")
    va = (F.col("ssa") - F.col("na") * ma * ma) / (F.col("na") - 1)
    vb = (F.col("ssb") - F.col("nb") * mb * mb) / (F.col("nb") - 1)
    sea, seb = va / F.col("na"), vb / F.col("nb")
    se2 = sea + seb
    return j.select(
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        ma.alias("mean_a"),
        mb.alias("mean_b"),
        ((ma - mb) / F.sqrt(se2)).alias("t_stat"),
        (
            (se2 * se2)
            / (sea * sea / (F.col("na") - 1) + seb * seb / (F.col("nb") - 1))
        ).alias("df_welch"),
    )


# P(leading digit = d) = log10(1 + 1/d), precomputed once so Spark and
# any cross-checking engine consume the IDENTICAL double literals
# (libm log10 implementations may differ in the last ulp)
BENFORD_FREQS = {
    1: 0.3010299956639812,
    2: 0.17609125905568124,
    3: 0.12493873660829992,
    4: 0.09691001300805642,
    5: 0.07918124604762482,
    6: 0.06694678963061322,
    7: 0.05799194697768673,
    8: 0.05115252244738129,
    9: 0.04575749056067514,
}


def benford_digit_profile(df: DataFrame, value_col: str) -> DataFrame:
    """Benford's-law leading-digit profile of a positive numeric
    column — the classic forensic screen for fabricated amounts.
    Returns 9 rows: (digit, n_obs, expected_n, chi2_contrib), where
    chi2_contrib = (n_obs - expected_n)^2 / expected_n (the global
    chi-square statistic is their sum).

    Scale shape: one filter + one 9-group hash aggregate + a 1-row
    total broadcast back onto 9 rows — nothing else, at any size. The
    leading digit is taken from the decimal STRING form of the value
    floored to cents, so no log/pow floating point touches the
    grouping key. Domain: amounts >= 0.01 (smaller positives floor to
    zero cents and land in a spurious digit-0 bucket — pre-scale such
    columns before profiling).
    """
    v = F.col(value_col)
    cents = F.floor(v * 100).cast("bigint")
    digits = (
        df.filter(v > 0)
        .select(F.substring(cents.cast("string"), 1, 1).cast("int").alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n_obs"))
    )
    total = digits.agg(F.sum("n_obs").alias("n_total"))
    freq = F.create_map(
        *[F.lit(x) for kv in BENFORD_FREQS.items() for x in kv]
    )
    exp_n = F.col("n_total") * freq[F.col("digit")]
    return (
        digits.crossJoin(total)
        .select(
            F.col("digit"),
            F.col("n_obs").cast("long").alias("n_obs"),
            exp_n.alias("expected_n"),
            ((F.col("n_obs") - exp_n) * (F.col("n_obs") - exp_n) / exp_n).alias(
                "chi2_contrib"
            ),
        )
    )


def js_divergence_profile(
    df: DataFrame, category_col: str, in_a: "F.Column"
) -> DataFrame:
    """Jensen-Shannon divergence between the categorical distributions
    of two slices of `df` (rows where boolean `in_a` is true vs the
    rest) — the distribution-drift screen for corpus snapshots, shard
    mixes, or before/after filter audits. Returns one row per category:
    (category, n_a, n_b, jsd_contrib), where the total JSD in nats is
    sum(jsd_contrib); it is 0 iff the distributions match and bounded
    by ln(2).

    Scale shape: ONE hash aggregate over (category) with conditional
    counts, a 1-row totals broadcast back onto the tiny category frame,
    and a pure projection for the divergence terms. Absent categories
    contribute p*ln(p/m) -> 0 via the explicit zero guard (the
    analytic limit), so disjoint supports still work.
    """
    counts = df.groupBy(F.col(category_col).alias("category")).agg(
        F.count(F.when(in_a, F.lit(1))).alias("n_a"),
        F.count(F.when(~in_a, F.lit(1))).alias("n_b"),
    )
    totals = counts.agg(
        F.sum("n_a").alias("ta"), F.sum("n_b").alias("tb")
    )
    p = F.col("n_a") / F.col("ta")
    q = F.col("n_b") / F.col("tb")
    m = (p + q) / 2
    term = lambda x: F.when(x > 0, x * F.log(x / m)).otherwise(F.lit(0.0))  # noqa: E731
    return counts.crossJoin(totals).select(
        "category",
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        (0.5 * term(p) + 0.5 * term(q)).alias("jsd_contrib"),
    )


def _bucketed_prefix_sums(
    per_v: DataFrame, cums: dict[str, str], n_buckets: int = 64
) -> DataFrame:
    """(v, *counts, *cums): a per-distinct-value count frame `per_v`
    (v plus the count columns named in `cums`) with, for each count
    column c, the EXCLUSIVE prefix sum `cums[c]`: the sum of c over
    strictly smaller values, as a long.

    The prefix sum is two-level so no global single-partition window
    ever sees the data: values bucket by range (bounds from one tiny
    min/max agg), per-bucket totals (n_buckets rows) prefix-sum on the
    constant-size bucket frame, and the within-bucket cumsum windows
    partition BY BUCKET — at any scale each task holds one bucket's
    distinct values, not the whole grid.
    """
    bounds = per_v.agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
    bucketed = per_v.crossJoin(F.broadcast(bounds)).withColumn(
        "__bkt",
        F.least(
            F.lit(n_buckets - 1),
            F.floor(
                (F.col("v") - F.col("lo"))
                * F.lit(n_buckets)
                / (F.col("hi") - F.col("lo") + F.lit(1))
            ).cast("int"),
        ),
    )
    w_in = (
        Window.partitionBy("__bkt")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # bucket offsets: n_buckets rows — the single-partition window is
    # bounded by the constant bucket count, never by data size
    w_bkt = Window.orderBy("__bkt").rowsBetween(Window.unboundedPreceding, -1)
    offs = (
        bucketed.groupBy("__bkt")
        .agg(*[F.sum(c).alias(f"__b_{c}") for c in cums])
        .select(
            "__bkt",
            *[
                F.coalesce(F.sum(f"__b_{c}").over(w_bkt), F.lit(0)).alias(f"__off_{c}")
                for c in cums
            ],
        )
    )
    return bucketed.join(F.broadcast(offs), "__bkt").select(
        "v",
        *cums,
        *[
            (F.col(f"__off_{c}") + F.coalesce(F.sum(c).over(w_in), F.lit(0)))
            .cast("long")
            .alias(cum)
            for c, cum in cums.items()
        ],
    )


def _pooled_value_counts(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
    n_buckets: int = 64,
) -> DataFrame:
    """Per-distinct-value counts of two groups with EXCLUSIVE pooled
    prefix sums — the shared substrate of the rank tests
    (mann_whitney_u, ks_two_sample). Returns (v, ca, cb, cum_a, cum_b,
    cum_all) where cum_* counts strictly-smaller values
    (_bucketed_prefix_sums)."""
    g = F.col(group_col)
    per_v = (
        df.filter(g.isin([group_a, group_b]) & F.col(value_col).isNotNull())
        .groupBy(F.col(value_col).alias("v"))
        .agg(
            F.count(F.when(g == group_a, F.lit(1))).cast("long").alias("ca"),
            F.count(F.when(g == group_b, F.lit(1))).cast("long").alias("cb"),
        )
        # NOT persisted: A/B-measured slower with a persist here
        # (mann_whitney 0.80->0.98s, ks_test 0.96->1.34s min — the
        # single-consumer substrate pipelines better than it caches)
    )
    return _bucketed_prefix_sums(
        per_v, {"ca": "cum_a", "cb": "cum_b"}, n_buckets
    ).withColumn("cum_all", F.col("cum_a") + F.col("cum_b"))


def mann_whitney_u(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Mann-Whitney U rank-sum test (two-sided normal approximation
    with tie correction) — the nonparametric A/B readout for skewed
    metrics where welch_ttest's normality assumption fails.

    Exact-integer core: with per-value tied ranks, twice the rank sum
    of group A is sum(ca * (2*cum_before + t + 1)) over distinct
    values (t = pooled count at the value) — all integers, so r2_a,
    u2_a (twice U_a) and the tie term sum(t^3 - t) are
    engine-exact; the z statistic is assembled from those integers in
    one double expression (identical literals both engines). Scale
    shape: one value-grid aggregate + the two-level prefix sum of
    _pooled_value_counts; nothing global, nothing driver-side.
    """
    pv = _pooled_value_counts(df, group_col, value_col, group_a, group_b)
    t = F.col("ca") + F.col("cb")
    agg = pv.agg(
        F.sum("ca").cast("long").alias("n_a"),
        F.sum("cb").cast("long").alias("n_b"),
        F.sum(F.col("ca") * (F.lit(2) * F.col("cum_all") + t + F.lit(1)))
        .cast("long")
        .alias("r2_a"),
        F.sum(t * t * t - t).cast("long").alias("tie_cubes"),
    )
    na, nb = F.col("n_a"), F.col("n_b")
    n = na + nb
    u2_a = F.col("r2_a") - na * (na + F.lit(1))
    # var(U) = na*nb/12 * ((n+1) - tie_cubes/(n*(n-1))); z uses twice-U
    var_u = (
        na.cast("double")
        * nb.cast("double")
        / F.lit(12.0)
        * (
            (n + F.lit(1)).cast("double")
            - F.col("tie_cubes").cast("double")
            / (n.cast("double") * (n - F.lit(1)).cast("double"))
        )
    )
    return agg.select(
        "n_a",
        "n_b",
        u2_a.alias("u2_a"),
        "tie_cubes",
        (
            (u2_a.cast("double") - na.cast("double") * nb.cast("double"))
            / (F.lit(2.0) * F.sqrt(var_u))
        ).alias("z"),
    )


def ks_two_sample(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic: D = max over values of
    |ECDF_a - ECDF_b| — the distribution-shift screen that sees shape
    changes a mean test misses. Exact rational output: the max is
    taken over the INTEGER numerator |incl_a*n_b - incl_b*n_a| (both
    ECDFs put over the common denominator n_a*n_b), so d_num is
    engine-exact and d = d_num/(n_a*n_b) only rounds at the end. Same
    scale shape as mann_whitney_u (shared _pooled_value_counts)."""
    pv = _pooled_value_counts(df, group_col, value_col, group_a, group_b)
    totals = pv.agg(
        F.sum("ca").cast("long").alias("n_a"),
        F.sum("cb").cast("long").alias("n_b"),
    )
    incl_a = F.col("cum_a") + F.col("ca")  # CDF is inclusive at v
    incl_b = F.col("cum_b") + F.col("cb")
    return (
        pv.crossJoin(F.broadcast(totals))
        .select(
            "n_a",
            "n_b",
            F.abs(incl_a * F.col("n_b") - incl_b * F.col("n_a")).alias("__num"),
        )
        .groupBy("n_a", "n_b")
        .agg(F.max("__num").cast("long").alias("d_num"))
        .select(
            "n_a",
            "n_b",
            "d_num",
            (
                F.col("d_num").cast("double")
                / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
            ).alias("d"),
        )
    )


def mutual_information(
    df: DataFrame, col_x: str, col_y: str
) -> DataFrame:
    """Pointwise mutual-information decomposition of two categorical
    columns: one row per (x, y) cell with its exact count and its
    contribution n_xy/N * ln(N*n_xy/(n_x*n_y)) to the total MI in
    nats — the feature-dependence screen behind chi2_independence,
    but in information units (sums to 0 iff independent).

    All inputs to the ln are ratios of exact integer counts (ln of
    round-6-stable arguments, the lm_surprise precedent), so the
    contributions are cross-engine stable. One cell aggregate + two
    tiny margin frames broadcast back; never a global window.
    """
    cells = df.groupBy(
        F.col(col_x).alias("x"), F.col(col_y).alias("y")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_xy"))
    mx = cells.groupBy("x").agg(F.sum("n_xy").alias("n_x"))
    my = cells.groupBy("y").agg(F.sum("n_xy").alias("n_y"))
    tot = cells.agg(F.sum("n_xy").alias("n_tot"))
    return (
        cells.join(F.broadcast(mx), "x")
        .join(F.broadcast(my), "y")
        .crossJoin(F.broadcast(tot))
        .select(
            "x",
            "y",
            "n_xy",
            (
                F.col("n_xy").cast("double")
                / F.col("n_tot").cast("double")
                * F.log(
                    F.col("n_tot").cast("double")
                    * F.col("n_xy").cast("double")
                    / (F.col("n_x").cast("double") * F.col("n_y").cast("double"))
                )
            ).alias("mi_contrib"),
        )
    )

def _value_counts_cum(df: DataFrame, value_col: str, n_buckets: int = 64) -> DataFrame:
    """Per-distinct-value counts with EXCLUSIVE prefix sums:
    (v, t, cum) where t = count at v and cum counts strictly-smaller
    values (_bucketed_prefix_sums) — the single-column substrate under
    spearman_corr and gini_coefficient."""
    per_v = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(F.col(value_col).alias("v"))
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        # NOT persisted: A/B under bench isolation (cache cleared per
        # run, min-of-5, canary-bracketed) measured persists SLOWER
        # (gini 0.75->1.21s, spearman 2.10->3.04s min) — exchange
        # reuse already covers the multi-consumption in the cold path
        # and the cache write is a pure materialization barrier
    )
    return _bucketed_prefix_sums(per_v, {"t": "cum"}, n_buckets)


def _doubled_ranks(df: DataFrame, value_col: str, n_buckets: int = 64) -> DataFrame:
    """Per-distinct-value DOUBLED average tied rank: (v, r2) with
    r2 = 2*cum_before + t + 1 (t = count at v), an exact integer for
    any tie pattern — the substrate of spearman_corr."""
    vc = _value_counts_cum(df, value_col, n_buckets)
    return vc.select(
        "v",
        (F.lit(2) * F.col("cum") + F.col("t") + F.lit(1)).cast("long").alias("r2"),
    )


def gini_coefficient(df: DataFrame, value_col: str) -> DataFrame:
    """Gini concentration coefficient of a nonnegative value column —
    the inequality readout behind every revenue/usage concentration
    dashboard. Returns ONE row (n, total, g_num, gini) with the
    tied-safe closed form

        G = (2*sum_i r_i x_i - (n+1)*sum x) / (n * sum x)

    where r_i are 1..n ranks in sorted order (within a tie run every
    permutation gives the same sum, so ties are harmless). The rank
    sum folds over the DISTINCT-value grid:
    sum_v v * (2*t*cum + t*(t+1)) — all exact integers through
    decimal accumulators, so g_num = 2*sum(r x) - (n+1)*sum(x) is
    engine-exact and gini is one double division. Scale shape: one
    value-grid aggregate + the bucketed prefix sum + one global
    aggregate; no global window, nothing driver-side."""
    vc = _value_counts_cum(df, value_col)
    vd = F.col("v").cast("decimal(19,0)")
    td = F.col("t").cast("decimal(19,0)")
    cd = F.col("cum").cast("decimal(19,0)")
    agg = vc.agg(
        F.sum(F.col("t")).cast("long").alias("n"),
        F.sum(vd * td).cast("decimal(38,0)").alias("total"),
        # 2 * sum_i r_i x_i over the tie run at v: v*(2*t*cum + t*(t+1))
        F.sum(vd * (F.lit(2) * td * cd + td * (td + F.lit(1))))
        .cast("decimal(38,0)")
        .alias("rx2"),
    )
    nd = F.col("n").cast("decimal(38,0)")
    g_num = F.col("rx2") - (nd + F.lit(1)) * F.col("total")
    return agg.select(
        "n",
        F.col("total").cast("long").alias("total"),
        g_num.cast("decimal(38,0)").alias("g_num"),
        (
            g_num.cast("double")
            / (F.col("n").cast("double") * F.col("total").cast("double"))
        ).alias("gini"),
    )


def spearman_corr(df: DataFrame, col_x: str, col_y: str) -> DataFrame:
    """Spearman rank correlation (tie-aware, average-rank convention)
    between two numeric columns. Returns ONE row (n, rho).

    Exact-integer core: each column's doubled average tied rank r2 is
    an integer (_doubled_ranks), rows get their ranks back via two
    equi joins on the value, and the five Pearson sufficient sums over
    (r2x, r2y) accumulate in decimal(38,0) — engine- and
    partitioning-exact. rho is ONE double expression over those sums
    (the doubling cancels between numerator and denominator). Rows
    with a NULL in either column are excluded (pairwise-complete).

    Scale shape: two grouped value-grid aggregates + bucketed prefix
    sums + two shuffle joins on the value + one global aggregate —
    no global window, nothing driver-side.
    """
    pairs = df.filter(
        F.col(col_x).isNotNull() & F.col(col_y).isNotNull()
    ).select(F.col(col_x).alias("__x"), F.col(col_y).alias("__y"))
    rx = _doubled_ranks(pairs, "__x").withColumnRenamed("r2", "r2x")
    ry = _doubled_ranks(pairs, "__y").withColumnRenamed("r2", "r2y")
    ranked = (
        pairs.join(rx, pairs["__x"] == rx["v"])
        .drop("v")
        .join(ry, pairs["__y"] == ry["v"])
        .drop("v")
    )
    dx = F.col("r2x").cast("decimal(19,0)")
    dy = F.col("r2y").cast("decimal(19,0)")
    agg = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(dx).cast("double").alias("sx"),
        F.sum(dy).cast("double").alias("sy"),
        F.sum(dx * dx).cast("double").alias("sxx"),
        F.sum(dy * dy).cast("double").alias("syy"),
        F.sum(dx * dy).cast("double").alias("sxy"),
    )
    nd = F.col("n").cast("double")
    num = nd * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        (nd * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (nd * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return agg.select("n", (num / den).alias("rho"))


def anova_oneway(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """One-way ANOVA F-test across ALL levels of `group_col` over
    `value_col`. Returns ONE row (k, n, ss_between, ss_within, f_stat).

    Exact accumulation: per-group (n, sum, sum-of-squares) ride
    decimal accumulators for integral inputs (the welch_ttest
    discipline), so the sufficient statistics are partitioning- and
    engine-exact. The cross-group sum of S_g^2/n_g — the one place a
    sum of DOUBLES appears — folds the per-group terms in GROUP-KEY
    ORDER via aggregate(sort_array(collect_list(...))), making the
    result bit-deterministic (the search_bm25 ordered-sum convention);
    the group-cardinality frame this collects is bounded by the number
    of distinct levels, which a categorical factor keeps small at any
    row scale. Groups need n_g >= 1 and k >= 2; f_stat needs N > k.
    """
    g = F.col(group_col)
    raw = F.col(value_col)
    integral = dict(df.dtypes)[value_col] in {"tinyint", "smallint", "int", "bigint"}
    if integral:
        vd = raw.cast("decimal(19,0)")
        sum_expr, sumsq_expr = F.sum(vd), F.sum(vd * vd)
    else:
        v = raw.cast("double")
        sum_expr, sumsq_expr = F.sum(v), F.sum(v * v)
    per = (
        df.filter(g.isNotNull() & raw.isNotNull())
        .groupBy(g.alias("__g"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            sum_expr.alias("s"),
            sumsq_expr.alias("ss"),
        )
    )
    term = (
        F.col("s").cast("double") * F.col("s").cast("double")
        / F.col("n").cast("double")
    )
    agg = per.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n").cast("long").alias("n_tot"),
        F.sum("s").cast("double").alias("s_all"),
        F.sum("ss").cast("double").alias("ss_all"),
        F.aggregate(
            F.sort_array(F.collect_list(F.struct(F.col("__g"), term.alias("term")))),
            F.lit(0.0),
            lambda acc, x: acc + x["term"],
        ).alias("fold"),
    )
    nd = F.col("n_tot").cast("double")
    kd = F.col("k").cast("double")
    ssb = F.col("fold") - F.col("s_all") * F.col("s_all") / nd
    ssw = F.col("ss_all") - F.col("fold")
    return agg.select(
        "k",
        F.col("n_tot").alias("n"),
        ssb.alias("ss_between"),
        ssw.alias("ss_within"),
        ((ssb / (kd - F.lit(1.0))) / (ssw / (nd - kd))).alias("f_stat"),
    )


def ols_two_features(
    df: DataFrame, y_col: str, x1_col: str, x2_col: str
) -> DataFrame:
    """Two-predictor ordinary least squares y ~ b0 + b1*x1 + b2*x2,
    solved in closed form: the 3x3 normal equations accumulate as
    EXACT integers (decimal(38,0) sums of integral inputs — the welch
    discipline), then Cramer's rule evaluates four determinants as
    FIXED double expression trees mirrored token-for-token by the
    oracle, so the coefficients are bit-deterministic cross-engine.
    Inputs must be integral columns (quantize upstream). One
    map-combined aggregate to a single row; no joins, no windows.
    Returns (n, b0, b1, b2)."""
    y = F.col(y_col).cast("long")
    x1 = F.col(x1_col).cast("long")
    x2 = F.col(x2_col).cast("long")
    dec = "decimal(38,0)"
    s = df.filter(
        y.isNotNull() & x1.isNotNull() & x2.isNotNull()
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(x1.cast(dec)).cast("double").alias("sx1"),
        F.sum(x2.cast(dec)).cast("double").alias("sx2"),
        F.sum((x1 * x1).cast(dec)).cast("double").alias("sx11"),
        F.sum((x1 * x2).cast(dec)).cast("double").alias("sx12"),
        F.sum((x2 * x2).cast(dec)).cast("double").alias("sx22"),
        F.sum(y.cast(dec)).cast("double").alias("sy"),
        F.sum((x1 * y).cast(dec)).cast("double").alias("sx1y"),
        F.sum((x2 * y).cast(dec)).cast("double").alias("sx2y"),
    )
    n = F.col("n").cast("double")
    sx1, sx2 = F.col("sx1"), F.col("sx2")
    sx11, sx12, sx22 = F.col("sx11"), F.col("sx12"), F.col("sx22")
    sy, sx1y, sx2y = F.col("sy"), F.col("sx1y"), F.col("sx2y")
    det = (
        n * (sx11 * sx22 - sx12 * sx12)
        - sx1 * (sx1 * sx22 - sx12 * sx2)
        + sx2 * (sx1 * sx12 - sx11 * sx2)
    )
    d0 = (
        sy * (sx11 * sx22 - sx12 * sx12)
        - sx1 * (sx1y * sx22 - sx12 * sx2y)
        + sx2 * (sx1y * sx12 - sx11 * sx2y)
    )
    d1 = (
        n * (sx1y * sx22 - sx12 * sx2y)
        - sy * (sx1 * sx22 - sx12 * sx2)
        + sx2 * (sx1 * sx2y - sx1y * sx2)
    )
    d2 = (
        n * (sx11 * sx2y - sx1y * sx12)
        - sx1 * (sx1 * sx2y - sx1y * sx2)
        + sy * (sx1 * sx12 - sx11 * sx2)
    )
    return s.select(
        "n",
        (d0 / det).alias("b0"),
        (d1 / det).alias("b1"),
        (d2 / det).alias("b2"),
    )


def kaplan_meier(
    df: DataFrame, duration_col: str, event_col: str
) -> DataFrame:
    """Kaplan-Meier survival estimator over (duration, event) pairs
    (event=1: observed failure; event=0: right-censored). Returns one
    row per distinct duration with at least one observed failure:
    (t, n_risk, n_events, survival) where survival is the product-
    limit estimate S(t) = prod_{u<=t} (1 - d_u / n_u).

    Determinism: d_u and the at-risk suffix counts n_u are exact
    integers; each factor is one double division; the running product
    folds left over the duration-ordered factor list (factors at
    censor-only times are exactly 1.0, a bit-exact no-op, so both
    engines can fold the SAME full list). The duration frame is
    bounded by the distinct-duration count (calendar-scale), so the
    ordered window and the 1-row factor-list broadcast are bounded-
    frame operations, never data-sized."""
    t = F.col(duration_col).cast("long")
    e = F.col(event_col).cast("int")
    per = df.filter(t.isNotNull()).groupBy(t.alias("t")).agg(
        F.sum(e).cast("long").alias("d"),
        F.count(F.lit(1)).cast("long").alias("tot"),
    )
    w_at_risk = (
        Window.orderBy(F.desc("t"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    risk = per.withColumn("n", F.sum("tot").over(w_at_risk))
    factor = F.lit(1.0) - F.col("d").cast("double") / F.col("n").cast(
        "double"
    )
    w_rn = Window.orderBy("t")
    rows = risk.withColumn("f", factor).withColumn(
        "rn", F.row_number().over(w_rn)
    )
    fl = rows.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("t", "f"))),
            lambda st: st.getField("f"),
        ).alias("fl")
    )
    return (
        rows.crossJoin(F.broadcast(fl))
        .withColumn(
            "survival",
            F.aggregate(
                F.slice("fl", 1, F.col("rn")),
                F.lit(1.0),
                lambda acc, x: acc * x,
            ),
        )
        .filter(F.col("d") > 0)
        .select(
            F.col("t"),
            F.col("n").alias("n_risk"),
            F.col("d").alias("n_events"),
            "survival",
        )
        .orderBy("t")
    )


def trimmed_mean(
    df: DataFrame, value_col: str, trim_pct: int = 5, n_buckets: int = 64
) -> DataFrame:
    """Symmetric trimmed mean of an integral column: drop the lowest
    and highest `trim_pct` percent of OBSERVATIONS (by count, ties
    split by position within the sorted multiset) and average the
    rest — the robust location estimate between mean and median.

    Exact throughout: the per-value kept-count is integer interval
    arithmetic over the _value_counts_cum prefix frame (two-level
    bucketed prefix sum — no global window over the data-sized value
    frame), the kept sum is an exact integer, and the mean is ONE
    final division. Returns (n_total, n_kept, mean)."""
    # NOT persisted: A/B under bench isolation measured a persist here
    # SLOWER (1.76->2.47s min) — see _value_counts_cum
    vc = _value_counts_cum(df, value_col, n_buckets)
    totals = vc.agg(F.sum("t").cast("long").alias("nn"))
    lo_cut = (
        (F.col("nn") * trim_pct - F.pmod(F.col("nn") * trim_pct, F.lit(100)))
        / 100
    ).cast("long")
    joined = vc.crossJoin(F.broadcast(totals)).withColumn(
        "__lo", lo_cut
    ).withColumn("__hi", F.col("nn") - F.col("__lo"))
    kept = F.greatest(
        F.lit(0).cast("long"),
        F.least(F.col("cum") + F.col("t"), F.col("__hi"))
        - F.greatest(F.col("cum"), F.col("__lo")),
    )
    agg = joined.withColumn("__k", kept).agg(
        F.max("nn").alias("n_total"),
        F.sum("__k").cast("long").alias("n_kept"),
        F.sum((F.col("__k") * F.col("v")).cast("decimal(38,0)"))
        .cast("double")
        .alias("__s"),
    )
    return agg.select(
        "n_total",
        "n_kept",
        (F.col("__s") / F.col("n_kept").cast("double")).alias("mean"),
    )


def ks_distance_matrix(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Pairwise two-sample Kolmogorov-Smirnov distances between ALL
    groups — the drift matrix a multi-feed ingest monitors (which
    sources' distributions disagree, not just one suspect pair).
    Returns (group_a, group_b, n_a, n_b, ks_num, ks) per unordered
    pair, where ks = max_v |ECDF_a(v) - ECDF_b(v)| and ks_num is the
    EXACT integer max_v |cum_a(v)*n_b - cum_b(v)*n_a| (so the
    argmax and all comparisons are integer-exact; ks itself is one
    final division).

    Scale shape: ECDFs evaluate on the groups x distinct-values
    grid (bounded by group count times value cardinality, never by
    rows): one grouped count, a per-group running-sum window
    (partitioned — no global window), then a value-aligned self-join
    and one grouped max."""
    g = F.col(group_col)
    v = F.col(value_col).cast("long")
    counts = (
        df.filter(g.isNotNull() & v.isNotNull())
        .groupBy(g.alias("__g"), v.alias("__v"))
        .agg(F.count(F.lit(1)).cast("long").alias("__t"))
    )
    groups = counts.select("__g").distinct()
    values = counts.select("__v").distinct()
    grid = groups.crossJoin(values).join(counts, ["__g", "__v"], "left")
    w = (
        Window.partitionBy("__g")
        .orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ecdf = grid.withColumn(
        "__cum", F.sum(F.coalesce("__t", F.lit(0))).over(w).cast("long")
    )
    totals = counts.groupBy("__g").agg(F.sum("__t").cast("long").alias("__n"))
    e = ecdf.join(totals, "__g").select("__g", "__v", "__cum", "__n")
    a = e.select(
        F.col("__g").alias("group_a"),
        F.col("__v").alias("__v"),
        F.col("__cum").alias("ca"),
        F.col("__n").alias("n_a"),
    )
    b = e.select(
        F.col("__g").alias("group_b"),
        F.col("__v").alias("__v"),
        F.col("__cum").alias("cb"),
        F.col("__n").alias("n_b"),
    )
    pairs = a.join(b, "__v").filter(F.col("group_a") < F.col("group_b"))
    num = F.abs(F.col("ca") * F.col("n_b") - F.col("cb") * F.col("n_a"))
    agg = pairs.groupBy("group_a", "group_b").agg(
        F.max("n_a").alias("n_a"),
        F.max("n_b").alias("n_b"),
        F.max(num).cast("long").alias("ks_num"),
    )
    return agg.select(
        "group_a",
        "group_b",
        "n_a",
        "n_b",
        "ks_num",
        (
            F.col("ks_num").cast("double")
            / (F.col("n_a") * F.col("n_b")).cast("double")
        ).alias("ks"),
    )


def winsorized_mean(
    df: DataFrame, value_col: str, pct: int = 5, n_buckets: int = 64
) -> DataFrame:
    """Winsorized mean: CLAMP the lowest/highest `pct` percent of
    observations to the cut values instead of dropping them (the
    finance-style robust mean; trimmed_mean drops, winsorizing
    saturates — sample size is preserved). Cut values are the
    observations at positions lo+1 and n-lo of the sorted multiset;
    every kept/clamped count is integer interval arithmetic over the
    _value_counts_cum prefix frame, the winsorized sum is exact, and
    the mean is ONE division. Returns (n_total, lo_cut, hi_cut,
    mean)."""
    # NOT persisted: A/B under bench isolation measured a persist here
    # SLOWER (2.31->2.58s min) — see _value_counts_cum
    vc = _value_counts_cum(df, value_col, n_buckets)
    totals = vc.agg(F.sum("t").cast("long").alias("nn"))
    j = vc.crossJoin(F.broadcast(totals))
    lo = (
        (F.col("nn") * pct - F.pmod(F.col("nn") * pct, F.lit(100))) / 100
    ).cast("long")
    j = j.withColumn("__lo", lo).withColumn("__hi", F.col("nn") - F.col("__lo"))
    # cut values: the observations at sorted positions lo+1 and hi
    in_lo = (F.col("cum") < F.col("__lo") + 1) & (
        F.col("cum") + F.col("t") >= F.col("__lo") + 1
    )
    in_hi = (F.col("cum") < F.col("__hi")) & (
        F.col("cum") + F.col("t") >= F.col("__hi")
    )
    cuts = j.agg(
        F.max(F.when(in_lo, F.col("v"))).alias("lo_cut"),
        F.max(F.when(in_hi, F.col("v"))).alias("hi_cut"),
        F.max("nn").alias("n_total"),
    )
    body = j.crossJoin(F.broadcast(cuts.select("lo_cut", "hi_cut")))
    mid = F.greatest(
        F.lit(0).cast("long"),
        F.least(F.col("cum") + F.col("t"), F.col("__hi"))
        - F.greatest(F.col("cum"), F.col("__lo")),
    )
    below = F.greatest(
        F.lit(0).cast("long"),
        F.least(F.col("cum") + F.col("t"), F.col("__lo")) - F.col("cum"),
    )
    above = F.greatest(
        F.lit(0).cast("long"),
        F.col("cum") + F.col("t") - F.greatest(F.col("cum"), F.col("__hi")),
    )
    s = body.agg(
        F.sum(
            (
                mid * F.col("v")
                + below * F.col("lo_cut")
                + above * F.col("hi_cut")
            ).cast("decimal(38,0)")
        )
        .cast("double")
        .alias("__s")
    )
    return (
        cuts.crossJoin(F.broadcast(s))
        .select(
            "n_total",
            "lo_cut",
            "hi_cut",
            (F.col("__s") / F.col("n_total").cast("double")).alias("mean"),
        )
    )


def theil_sen(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """Theil–Sen robust trend estimator (Theil 1950; Sen, JASA 1968):
    the median of pairwise slopes (y_j - y_i) / (x_j - x_i) over all
    pairs with x_i < x_j, plus the matching median-residual intercept
    median(y_i - slope * x_i) — the 29%-breakdown alternative to OLS
    that one outlier day cannot bend.

    Deterministic across engines: integral inputs, ONE double division
    per pair, ONE multiply+subtract per residual, and the LOWER median
    selected by row_number over (value, x_i[, x_j]) — no percentile
    interpolation, ties pinned.

    Scale shape: callers must pre-aggregate to ONE ROW PER DISTINCT x
    (e.g. a day index) — the pair frame is then bounded by the SQUARE
    OF THE CALENDAR (2.4k days -> ~3M pairs), never by input rows, and
    the global median windows ride that bounded frame.

    Returns one row: (n_points, n_pairs, slope, intercept)."""
    pts = df.select(
        F.col(x_col).cast("long").alias("x"), F.col(y_col).cast("long").alias("y")
    )
    a = pts.select(F.col("x").alias("xa"), F.col("y").alias("ya"))
    b = pts.select(F.col("x").alias("xb"), F.col("y").alias("yb"))
    pairs = a.join(b, F.col("xa") < F.col("xb")).select(
        "xa",
        "xb",
        (
            (F.col("yb") - F.col("ya")).cast("double")
            / (F.col("xb") - F.col("xa")).cast("double")
        ).alias("slope"),
    )
    # the pair frame feeds bounds, bucket counts AND the median-bucket
    # probe — materialize once instead of re-running the pair join
    # three times
    pairs = pairs.localCheckpoint(eager=True)
    # median SELECTION without a global sort (the trimmed/winsorized
    # bucket-offset pattern): 1-row bounds -> uniform slope buckets ->
    # prefix counts locate the median bucket -> sort ONLY that bucket
    # (~cnt/n_buckets rows). Selection picks the identical k-th element
    # in (slope, xa, xb) order, so the result — and the oracle — are
    # unchanged; only the single-partition sort of the full pair frame
    # is gone (8.2s -> ~2s at 2.9M pairs).
    n_buckets = 4096
    bounds = pairs.agg(
        F.min("slope").alias("lo"),
        F.max("slope").alias("hi"),
        F.count(F.lit(1)).cast("long").alias("cnt"),
    )
    k = F.floor((F.col("cnt") + F.lit(1)) / F.lit(2)).cast("long")
    bucketed = pairs.crossJoin(F.broadcast(bounds)).withColumn(
        "bk",
        F.when(F.col("hi") == F.col("lo"), F.lit(0)).otherwise(
            F.least(
                F.lit(n_buckets - 1),
                F.floor(
                    (F.col("slope") - F.col("lo"))
                    / (F.col("hi") - F.col("lo"))
                    * F.lit(float(n_buckets))
                ).cast("int"),
            )
        ),
    )
    bcounts = bucketed.groupBy("bk").agg(F.count(F.lit(1)).cast("long").alias("c"))
    w_cum = Window.orderBy("bk").rowsBetween(Window.unboundedPreceding, -1)
    target = (
        bcounts.withColumn(
            "cum", F.coalesce(F.sum("c").over(w_cum), F.lit(0)).cast("long")
        )
        .crossJoin(F.broadcast(bounds.select("cnt")))
        .filter((F.col("cum") < k) & (k <= F.col("cum") + F.col("c")))
        .select("bk", "cum", F.col("cnt").alias("n_pairs"))
    )
    w_inb = Window.orderBy("slope", "xa", "xb")
    sl = (
        bucketed.join(F.broadcast(target), "bk")
        .withColumn("rn", F.row_number().over(w_inb))
        .filter(
            F.col("rn")
            == F.floor((F.col("n_pairs") + F.lit(1)) / F.lit(2)).cast("long")
            - F.col("cum")
        )
        .select("slope", "n_pairs")
    )
    w_all = Window.partitionBy()
    res = pts.crossJoin(F.broadcast(sl)).select(
        "n_pairs",
        "slope",
        "x",
        (F.col("y").cast("double") - F.col("slope") * F.col("x").cast("double")).alias(
            "r"
        ),
    )
    w_r = Window.orderBy("r", "x")
    rr = res.select(
        "n_pairs",
        "slope",
        "r",
        F.row_number().over(w_r).alias("rn"),
        F.count(F.lit(1)).over(w_all).cast("long").alias("np"),
    )
    return rr.filter(
        F.col("rn") == F.floor((F.col("np") + F.lit(1)) / F.lit(2)).cast("long")
    ).select(
        F.col("np").alias("n_points"),
        "n_pairs",
        "slope",
        F.col("r").alias("intercept"),
    )
