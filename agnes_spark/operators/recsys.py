"""Item-item collaborative filtering over co-occurrence baskets.

The classic recsys neighborhood model (Sarwar et al., WWW'01
"Item-Based Collaborative Filtering"): two items are similar when
the baskets containing them overlap, scored by binary cosine
similarity c_ab / sqrt(d_a * d_b) where c_ab counts shared baskets
and d_x the item's basket degree.

Scale shape: ONE shuffle collects each basket's distinct items as an
array (collect_set — no separate distinct pre-pass), pairs expand
map-side (`functions.unordered_pairs`, bounded by items-per-basket
squared — never item-cardinality squared), degrees and the basket
count derive from the same arrays, and the top-k cut is a per-item
window.
The score is one double division over exact integer counts and one
correctly-rounded sqrt of an exact integer product, so results are
bit-deterministic cross-engine; ranking ties break by neighbor id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from agnes_spark.functions import unordered_pairs


def _basket_counts(
    df: DataFrame, basket_col: str, item_col: str, min_common: int
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """ONE shuffle shared by every consumer, and the counts derived
    from it: (baskets, deg, common). `baskets` holds the distinct
    items of each basket as an array; collect_set dedups (basket,
    item) repeats inside the aggregate, so no `.distinct()` pre-pass
    (a full (o, p) exchange of the fact rows) is needed. `deg` (p, d)
    counts each item's baskets and `common` (a, b, c) the baskets an
    item pair a < b shares, kept when c >= `min_common`; both read the
    baskets' exchange through ReuseExchange."""
    arr = df.groupBy(F.col(basket_col).alias("o")).agg(
        F.collect_set(F.col(item_col).cast("long")).alias("items")
    )
    deg = (
        arr.select(F.explode("items").alias("p"))
        .groupBy("p")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    common = (
        arr.select(F.explode(unordered_pairs("items")).alias("__p"))
        .select("__p.a", "__p.b")
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .filter(F.col("c") >= min_common)
    )
    return arr, deg, common


def itemitem_cosine(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_common: int = 2,
    topk: int = 3,
) -> DataFrame:
    """Top-`topk` most similar items per item: (p, q, common, sim)
    with binary-cosine sim, at least `min_common` shared baskets,
    ties broken by ascending q. Duplicate (basket, item) rows
    collapse first so c and d count DISTINCT baskets."""
    _, deg, common = _basket_counts(df, basket_col, item_col, min_common)
    sym = common.select(
        F.col("a").alias("p"), F.col("b").alias("q"), "c"
    ).unionByName(
        common.select(F.col("b").alias("p"), F.col("a").alias("q"), "c")
    )
    scored = (
        sym.join(deg.select(F.col("p"), F.col("d").alias("dp")), "p")
        .join(
            deg.select(F.col("p").alias("q"), F.col("d").alias("dq")), "q"
        )
        .withColumn(
            "sim",
            F.col("c").cast("double")
            / F.sqrt((F.col("dp") * F.col("dq")).cast("double")),
        )
    )
    w = Window.partitionBy("p").orderBy(F.desc("sim"), F.asc("q"))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= topk)
        .select("p", "q", F.col("c").alias("common"), "sim")
    )


def association_rules(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_common: int = 2,
    top: int = 20,
) -> DataFrame:
    """Directed association rules a -> b from co-occurrence baskets
    (Agrawal & Srikant, VLDB'94 semantics at pair length): support
    c/N, confidence c/d_a, lift c*N/(d_a*d_b), keeping the global
    top-`top` rules by (lift desc, antecedent, consequent). Same
    one-shuffle pair generation as itemitem_cosine; every score is a
    fixed expression over exact integers — bit-deterministic."""
    arr, deg, common = _basket_counts(df, basket_col, item_col, min_common)
    n_baskets = arr.agg(F.count(F.lit(1)).cast("long").alias("nb"))
    directed = common.select(
        F.col("a").alias("ante"), F.col("b").alias("cons"), "c"
    ).unionByName(
        common.select(F.col("b").alias("ante"), F.col("a").alias("cons"), "c")
    )
    scored = (
        directed.join(
            deg.select(F.col("p").alias("ante"), F.col("d").alias("da")),
            "ante",
        )
        .join(
            deg.select(F.col("p").alias("cons"), F.col("d").alias("db")),
            "cons",
        )
        .crossJoin(F.broadcast(n_baskets))
        .select(
            "ante",
            "cons",
            F.col("c").alias("common"),
            (F.col("c").cast("double") / F.col("nb").cast("double")).alias(
                "support"
            ),
            (F.col("c").cast("double") / F.col("da").cast("double")).alias(
                "confidence"
            ),
            (
                (F.col("c") * F.col("nb")).cast("double")
                / (F.col("da") * F.col("db")).cast("double")
            ).alias("lift"),
        )
    )
    return scored.orderBy(
        F.desc("lift"), F.asc("ante"), F.asc("cons")
    ).limit(top)
