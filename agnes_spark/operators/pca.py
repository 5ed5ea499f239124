"""PCA top principal component by power iteration.

The distributed-heavy half is the exact integer Gram matrix
(embeddings.gram_matrix_int: one Arrow pass, d^2 partials per
batch); everything after runs on the BOUNDED d x d covariance frame
— per-round matrix-vector folds over 64-element arrays, with only
the current d-float iterate collected to the driver (the kmeans
centroid precedent).

Bit-determinism ledger:
- G_jk and the per-dimension sums are exact integers;
- each covariance cell is the fixed expression
  (G - s_j*s_k/n) / (n - 1) over exact-valued doubles;
- every matvec/norm/Rayleigh accumulation folds in dimension order
  with the first term as the seed (mirroring list_reduce);
- normalization is one sqrt + one division per component;
- v0 = all-ones (no RNG).
So a fixed round count yields bit-identical results on any engine —
the property the gate's unrolled SQL oracle checks.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from agnes_spark.operators.embeddings import gram_matrix_int
from agnes_spark.session import supersede


def _cov_rows(df: DataFrame, vec_col: str, scale: int) -> tuple[DataFrame, int]:
    """(covariance-row frame, n): one row per dimension i with the
    64-element covariance row as a dimension-ordered double array."""
    q = F.transform(
        F.col(vec_col), lambda x: F.round(x.cast("double") * scale).cast("long")
    )
    qdf = df.select(q.alias("q_vec")).localCheckpoint(eager=True)
    n = qdf.count()
    g = gram_matrix_int(qdf, "q_vec")
    gfull = g.unionByName(
        g.filter(F.col("i") != F.col("j")).select(
            F.col("j").alias("i"), F.col("i").alias("j"), "g"
        )
    )
    sums = (
        qdf.select(F.posexplode("q_vec").alias("j", "v"))
        .groupBy("j")
        .agg(F.sum("v").cast("long").alias("s"))
    )
    nd = F.lit(float(n))
    cells = (
        gfull.join(F.broadcast(sums.select(F.col("j").alias("i"), F.col("s").alias("si"))), "i")
        .join(F.broadcast(sums.select("j", F.col("s").alias("sj"))), "j")
        .withColumn(
            "c",
            (
                F.col("g").cast("double")
                - F.col("si").cast("double") * F.col("sj").cast("double") / nd
            )
            / (nd - F.lit(1.0)),
        )
    )
    crows = cells.groupBy("i").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("j", "c"))),
            lambda st: st.getField("c"),
        ).alias("carr")
    )
    crows = crows.localCheckpoint(eager=True)
    supersede(qdf, None)  # the result reads only crows
    return crows, n


def _matvec_local(C: list[list[float]], v: list[float]) -> list[float]:
    """w = C v folded in dimension order over the DRIVER-collected
    covariance rows — the same ((0.0 + t_0) + t_1) + ... IEEE-double
    fold the engine-side F.aggregate(zip_with(...), 0.0, +) computed,
    term by term, so the iterate is bit-identical to the r12
    per-round Spark job while costing zero jobs. The frame is d x d
    (64 x 64 here) — bounded driver work, the kmeans-centroid
    precedent; only the final fold stays engine-side."""
    w = []
    for row in C:
        acc = 0.0
        for j, vj in enumerate(v):
            acc = acc + row[j] * vj
        w.append(acc)
    return w


def pca_power_top(
    df: DataFrame,
    vec_col: str,
    rounds: int = 6,
    scale: int = 1000,
    n_components_out: int = 4,
) -> DataFrame:
    """Top principal component of the (quantized) embedding cloud:
    one row with the Rayleigh eigenvalue and the first
    `n_components_out` coordinates of C v_final / lambda. The final
    fold runs engine-side over the bounded covariance frame."""
    crows, _n = _cov_rows(df, vec_col, scale)
    # ONE collect of the bounded d x d covariance replaces a Spark
    # job per power-iteration round (6 collect jobs + a size probe at
    # d=64 were pure driver-latency; the iterate itself is 4k flops)
    C = [
        r["carr"]
        for r in sorted(crows.select("i", "carr").collect(), key=lambda r: r["i"])
    ]
    d = len(C)
    v = [1.0] * d
    for _ in range(rounds):
        w = _matvec_local(C, v)
        # seed with the first term, mirroring no-init list folds
        norm = w[0] * w[0]
        for x in w[1:]:
            norm = norm + x * x
        norm = math.sqrt(norm)
        v = [x / norm for x in w]

    vlit = F.array(*[F.lit(float(x)) for x in v])
    terms = F.zip_with(F.col("carr"), vlit, lambda a, b: a * b)
    wdf = crows.select(
        "i",
        F.aggregate(terms, F.lit(0.0), lambda acc, x: acc + x).alias("w"),
    )
    lam = F.aggregate(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("i").alias("i"),
                        F.col("w").alias("w"),
                        vlit[F.col("i")].alias("vi"),
                    )
                )
            ),
            lambda st: st.getField("w") * st.getField("vi"),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    agg = wdf.agg(
        lam.alias("eigenvalue"),
        *[
            F.max(F.when(F.col("i") == k, F.col("w"))).alias(f"w{k}")
            for k in range(n_components_out)
        ],
    )
    return agg.select(
        "eigenvalue",
        *[
            (F.col(f"w{k}") / F.col("eigenvalue")).alias(f"c{k}")
            for k in range(n_components_out)
        ],
    )
