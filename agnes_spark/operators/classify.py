"""Multinomial naive-Bayes training over tokenized text.

The classic bag-of-words classifier trainer (McCallum & Nigam,
AAAI'98 workshop): per class c and token t, the Laplace-smoothed
likelihood P(t|c) = (n_tc + 1) / (N_c + V). This module trains the
model and surfaces its most DISCRIMINATIVE tokens per class by lift
P(t|c) / P(t) — the artifact analysts actually read, and the exact
quantity a classify pass would score with.

Everything is exact-integer counting plus SINGLE divisions:
n_tc, N_c, n_t, N, V are exact counts; each probability is one
division; lift is one division of two such doubles — the whole
model is bit-deterministic cross-engine with zero logs (no libm
divergence surface). ONE token explode + grouped count over the
corpus; class totals, token totals and the corpus/vocab totals are
rollups of that bounded (class, token) frame, which broadcast as
bounded frames.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from agnes_spark.functions import ws_tokens


def naive_bayes_top_tokens(
    df: DataFrame,
    class_col: str,
    text_col: str,
    top: int = 5,
    min_count: int = 3,
) -> DataFrame:
    """Top-`top` tokens per class by naive-Bayes lift
    P(t|c) / P(t) (Laplace-smoothed), tokens with at least
    `min_count` in-class occurrences. Returns
    (class, token, n, lift) ordered by class, then lift desc,
    then token."""
    tok = df.select(
        F.col(class_col).alias("cls"),
        F.explode(ws_tokens(F.col(text_col))).alias("token"),
    )
    # every count is an exact-integer rollup of the bounded (class,
    # token) frame — the class totals, token totals, corpus total and
    # vocab size are all sums/distincts of n. The frame is not
    # persisted: its consumers re-derive it (Spark reuses the shared
    # exchange where their plans match), which measured no slower than
    # a cache that nothing released.
    ctc = tok.groupBy("cls", "token").agg(F.count(F.lit(1)).cast("long").alias("n"))
    nc = ctc.groupBy("cls").agg(F.sum("n").cast("long").alias("nc"))
    ct = ctc.groupBy("token").agg(F.sum("n").cast("long").alias("ct"))
    totals = ctc.agg(
        F.sum("n").cast("long").alias("nn"),
        F.countDistinct("token").cast("long").alias("v"),
    )
    scored = (
        ctc.filter(F.col("n") >= min_count)
        .join(nc, "cls")
        .join(ct, "token")
        .crossJoin(F.broadcast(totals))
        .withColumn(
            "lift",
            (
                (F.col("n") + F.lit(1)).cast("double")
                / (F.col("nc") + F.col("v")).cast("double")
            )
            / (
                (F.col("ct") + F.lit(1)).cast("double")
                / (F.col("nn") + F.col("v")).cast("double")
            ),
        )
    )
    w = Window.partitionBy("cls").orderBy(F.desc("lift"), F.asc("token"))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= top)
        .select(F.col("cls"), "token", "n", "lift")
        .orderBy("cls", F.desc("lift"), "token")
    )
