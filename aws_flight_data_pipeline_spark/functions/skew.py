"""Skew-mitigation helpers: salted two-phase aggregation.

The reference never needs these (Athena hides skew handling); at 100 TB a
groupBy on a skewed key (one country carrying half the traffic, one hot
event_type) concentrates a shuffle partition on one task. AQE's skew-join
splitting handles JOIN skew automatically; skewed AGGREGATION keys are
handled here by the classic salt→partial→merge rewrite:

    groupBy(k).agg(f)  ≡  groupBy(k, salt).agg(partial f) → groupBy(k).agg(merge)

Works for any algebraic aggregate (sum/count/min/max and anything composed of
them, e.g. avg = sum/count). The first shuffle spreads each hot key over
``n_salts`` reducers; the second shuffles only ``n_groups × n_salts`` rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def with_salt(df: DataFrame, n_salts: int = 16, col_name: str = "_salt") -> DataFrame:
    """Add a uniform salt column. Deterministic (hash of all columns, not
    rand()) so retried tasks and oracle comparisons see identical salting —
    spreading quality is equivalent for skew purposes."""
    return df.withColumn(col_name, F.pmod(F.hash(*df.columns), F.lit(n_salts)))


def salted_sum_count(
    df: DataFrame,
    keys: list[str],
    value: str | Column,
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase salted sum+count per key → columns ``sum_value, cnt, avg_value``.

    The building block for skew-proof sum/count/avg on a hot-keyed groupBy;
    results are bit-equal to the direct groupBy (summation order aside).
    """
    v = F.col(value) if isinstance(value, str) else value
    partial = (
        with_salt(df, n_salts)
        .groupBy(*keys, "_salt")
        .agg(F.sum(v).alias("_psum"), F.count(v).alias("_pcnt"))
    )
    return (
        partial.groupBy(*keys)
        .agg(F.sum("_psum").alias("sum_value"), F.sum("_pcnt").alias("cnt"))
        .withColumn("avg_value", F.col("sum_value") / F.col("cnt"))
    )
