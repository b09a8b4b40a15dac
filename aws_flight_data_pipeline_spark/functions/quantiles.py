"""DDSketch log-bucket Column builders of the batch quantile profile
(plans/sketch_queries.py).

Geometry (Masson/Rim/Lee, VLDB 2019): gamma = (1+alpha)/(1-alpha); bucket
j = ceil(ln(x)/ln(gamma)); the midpoint estimate 2*gamma^j/(gamma+1) is
within alpha relative error of any value in bucket j. Buckets are INTEGER
counts: deterministic, exactly mergeable by addition, and cross-engine
verifiable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

DD_ALPHA = 0.01
DD_QS: tuple[tuple[int, float], ...] = ((50, 0.5), (95, 0.95), (99, 0.99))


def dd_gamma(alpha: float = DD_ALPHA) -> float:
    return (1 + alpha) / (1 - alpha)


def dd_bucket(x: Column, alpha: float = DD_ALPHA) -> Column:
    """Log-bucket index of a positive value."""
    return F.ceil(F.log(x) / F.log(F.lit(dd_gamma(alpha)))).cast("bigint")


def dd_histogram(df: DataFrame, scope_col: str, value_col: str, alpha: float = DD_ALPHA) -> DataFrame:
    """Per-scope sketch: integer (scope, j, c) bucket counts."""
    return (
        df.select(F.col(scope_col).alias("scope"), dd_bucket(F.col(value_col), alpha).alias("j"))
        .groupBy("scope", "j")
        .agg(F.count("*").cast("bigint").alias("c"))
    )


def dd_profile(
    buckets: DataFrame,
    alpha: float = DD_ALPHA,
    qs: tuple[tuple[int, float], ...] = DD_QS,
    with_global: bool = True,
) -> DataFrame:
    """Quantile read-off: cumulative-count walk over the (scope, j, c)
    bucket frame -> one row per scope with n_rows, n_buckets, and
    q{p}_bucket / q{p}_est columns. ``with_global`` adds a GLOBAL scope by
    re-aggregating the per-scope sketches (never rescanning raw data)."""
    g = dd_gamma(alpha)
    if with_global:
        glob = (
            buckets.groupBy("j")
            .agg(F.sum("c").cast("bigint").alias("c"))
            .select(F.lit("GLOBAL").alias("scope"), "j", "c")
        )
        buckets = buckets.unionByName(glob)
    wcum = Window.partitionBy("scope").orderBy("j")
    wall = Window.partitionBy("scope")
    walk = buckets.select(
        "scope", "j", "c",
        F.sum("c").over(wcum).alias("cum"),
        F.sum("c").over(wall).alias("n"),
    )
    qb = walk.groupBy("scope").agg(
        F.max("n").alias("n_rows"),
        F.count("*").alias("n_buckets"),
        *[
            F.min(F.when(F.col("cum") >= F.ceil(q * F.col("n")), F.col("j"))).alias(
                f"q{p}_bucket"
            )
            for p, q in qs
        ],
    )
    est_cols = []
    for p, _ in qs:
        est_cols += [
            F.col(f"q{p}_bucket"),
            F.round(2 * F.pow(F.lit(g), F.col(f"q{p}_bucket")) / (g + 1), 4).alias(
                f"q{p}_est"
            ),
        ]
    return qb.select("scope", "n_rows", "n_buckets", *est_cols)
