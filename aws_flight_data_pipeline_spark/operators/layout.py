"""Multi-dimensional data layout: Z-order (Morton) clustering for locality.

The reference's lake prunes on linear y/m/d/h partition keys only
(``sql/athena/03_create_processed_tables.sql:69-74`` declares the partition
columns; ``07_optimization_guide.sql`` §"partition pruning" sells the 90%+
scan reduction). Linear keys prune ONE dimension: a query that boxes BOTH an
entity range and a time range still reads every file of the matching hours.
Z-ordering interleaves the bits of k normalized coordinates so records close
in the k-D box are close in the 1-D sort key; writing files range-partitioned
by that key makes parquet row-group min/max stats tight on EVERY interleaved
dimension, so a box predicate prunes files/row-groups on all dims at once —
the technique behind Delta/Iceberg ``OPTIMIZE ZORDER BY``, here as plain
Column arithmetic over plain parquet.

Everything is shift/mask/multiply Column math — JVM whole-stage codegen, no
UDFs; ``versioned.optimize(cluster_by=(a, b))`` writes along the key with one
range exchange (the same shuffle a plain ``ORDER BY`` write would pay; only
the sort KEY changes).

At 100 TB: the grid normalization needs global min/max per dimension — a
1-row broadcast aggregate (bytes to the driver, never rows). For an append
pipeline, freeze the bounds in table metadata instead of re-deriving them
per batch so file ranges stay comparable across writes; re-cluster
(compact + re-sort) only when drift accumulates, exactly like
``versioned.optimize(cluster_by=(a, b))``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def normalize_to_grid(col: Column, lo: Column, hi: Column, bits: int) -> Column:
    """Map ``col`` from [lo, hi] onto the integer grid [0, 2**bits - 1].

    ``floor(delta * M / span)`` over doubles — both engines of the parity
    harness (Spark, DuckDB) execute the identical IEEE sequence, and the
    magnitudes here (grid cells ≤ 2**16) are orders below the 2**52 exactness
    bound, so the result is cross-engine deterministic. A degenerate
    dimension (hi == lo) collapses to cell 0.
    """
    m = F.lit((1 << bits) - 1)
    span = (hi - lo).cast("double")
    return (
        F.when(span <= 0.0, F.lit(0))
        .otherwise(F.floor((col - lo).cast("double") * m / span))
        .cast("long")
    )


def morton_interleave(a: Column, b: Column, bits: int) -> Column:
    """Interleave the low ``bits`` bits of two grid coordinates.

    Bit i of ``a`` lands at position 2i+1, bit i of ``b`` at 2i, so the key
    orders records along the classic Z curve: adjacent key ranges are aligned
    2-D blocks. Pure shift/mask/add — one codegen'd projection.
    """
    terms = []
    for i in range(bits):
        terms.append(
            F.shiftright(a, i).bitwiseAND(F.lit(1)) * F.lit(1 << (2 * i + 1))
        )
        terms.append(
            F.shiftright(b, i).bitwiseAND(F.lit(1)) * F.lit(1 << (2 * i))
        )
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out.cast("long")


def zorder_key(
    df: DataFrame, col_a: str, col_b: str, bits: int = 8
) -> DataFrame:
    """Attach a Z-order key column ``_z`` over two numeric columns.

    Bounds come from a 1-row aggregate broadcast-cross-joined onto the frame
    (the scalar-stats pattern of ``zscore_anomalies``) — the plan stays lazy
    and nothing but 4 numbers crosses stages.
    """
    bounds = df.agg(
        F.min(col_a).alias("_lo_a"),
        F.max(col_a).alias("_hi_a"),
        F.min(col_b).alias("_lo_b"),
        F.max(col_b).alias("_hi_b"),
    )
    with_bounds = df.crossJoin(F.broadcast(bounds))
    ga = normalize_to_grid(
        F.col(col_a), F.col("_lo_a"), F.col("_hi_a"), bits
    )
    gb = normalize_to_grid(
        F.col(col_b), F.col("_lo_b"), F.col("_hi_b"), bits
    )
    return with_bounds.withColumn(
        "_z", morton_interleave(ga, gb, bits)
    ).drop("_lo_a", "_hi_a", "_lo_b", "_hi_b")
