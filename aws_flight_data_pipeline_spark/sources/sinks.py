"""Partitioned sinks: processed fact table, quarantine split, summary tables.

The reference's writer stack (pandas→Arrow→S3 with SNAPPY/dictionary/row-group
tuning, `optimized_converter.py:550-580`) collapses to Spark's Parquet writer:
encoding, dictionary, statistics and row groups are writer defaults; partition
layout is `partitionBy`. Chunking/threading/merging disappear into tasks.

Scale posture: writers repartition by the partition columns first so each
task writes few files (no small-file explosion at 1000 executors), and the
quarantine split is two filtered writes off one locally checkpointed copy
of the scored DataFrame, so its plan is computed once.
"""

from __future__ import annotations

import contextlib
from typing import Callable, Iterator, Sequence

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

PARTITION_COLS = ("year", "month", "day", "hour")


def time_partitions_builder(
    cols: Sequence[str], ts_col: str = "collection_time"
) -> Callable[[DataFrame], DataFrame]:
    """Build the y/m/d/h partition columns once for inputs with columns
    ``cols``; the returned function adds them in one ``withColumns``."""
    ts = F.timestamp_seconds(F.col(ts_col))
    parts = {
        "year": F.date_format(ts, "yyyy"),
        "month": F.date_format(ts, "MM"),
        "day": F.date_format(ts, "dd"),
        "hour": F.date_format(ts, "HH"),
    }
    return lambda df: df.withColumns(parts)


def with_time_partitions(df: DataFrame, ts_col: str = "collection_time") -> DataFrame:
    """Derive string y/m/d/h partition columns from a unix-seconds column —
    the `year=YYYY/month=MM/...` layout of `flight_data_ingestion.py:354-368`
    (zero-padded strings to match the reference's key format)."""
    return time_partitions_builder(df.columns, ts_col)(df)


def write_processed(df: DataFrame, path: str, mode: str = "append") -> None:
    """Write the processed fact table partitioned y/m/d/h (03_create_processed
    _tables.sql:69-74), SNAPPY parquet."""
    (
        df.repartition(*[F.col(c) for c in PARTITION_COLS])
        .write.mode(mode)
        .option("compression", "snappy")
        .partitionBy(*PARTITION_COLS)
        .parquet(path)
    )


@contextlib.contextmanager
def materialized(df: DataFrame) -> Iterator[DataFrame]:
    """``df`` computed once, as a ``localCheckpoint``, for the body of the
    ``with`` block; the checkpoint's blocks are released when the block
    exits, also when it raises or returns early. (A ``persist`` would write
    one small file per shuffle partition downstream: a cached plan does not
    get AQE's partition coalescing.)"""
    df = df.localCheckpoint()
    try:
        yield df
    finally:
        # the checkpointed frame is a scan of one persisted RDD; PySpark has
        # no public call that unpersists a local checkpoint
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)


def write_quarantine_split(
    df: DataFrame, clean_path: str, quarantine_path: str, quarantine_col: Column | str = "should_quarantine"
) -> None:
    """Split one scored DataFrame into clean + quarantine parquet stores —
    the quarantine lifecycle sink (`quarantine_system.py:238-336`) as two
    filtered writes. ``df`` is computed once: both halves are written from
    one :func:`materialized` copy, released after the writes."""
    q = F.col(quarantine_col) if isinstance(quarantine_col, str) else quarantine_col
    with materialized(df) as scored:
        scored.filter(~q).write.mode("append").option("compression", "snappy").parquet(clean_path)
        scored.filter(q).write.mode("append").option("compression", "snappy").parquet(quarantine_path)


def write_summary(df: DataFrame, path: str, partition_cols: tuple[str, ...] = ("year", "month", "day")) -> None:
    """Materialize an aggregate summary table (the views-as-cache pattern the
    reference recommends, 07_optimization_guide.sql:486-571 — OSS Spark has no
    auto-materialized views, so summaries are written explicitly)."""
    existing = [c for c in partition_cols if c in df.columns]
    writer = df.write.mode("overwrite").option("compression", "snappy")
    if existing:
        writer = writer.partitionBy(*existing)
    writer.parquet(path)


def _partitions_pred(parts: list[dict], partition_cols: tuple[str, ...]) -> Column:
    """OR over the affected partitions of the AND of their column
    equalities — the filter that prunes a lake scan to exactly those
    partitions."""
    pred = None
    for p in parts:
        clause = None
        for c in partition_cols:
            eq = F.col(c) == F.lit(p[c])
            clause = eq if clause is None else (clause & eq)
        pred = clause if pred is None else (pred | clause)
    return pred


def _overwrite_partitions(df: DataFrame, path: str, partition_cols: tuple[str, ...]) -> None:
    """Dynamic partition overwrite: atomically replace ONLY the partitions
    present in ``df``. The mode is a per-write option (it takes precedence
    over the session conf), so no other writer on the session sees it."""
    (
        df.repartition(*[F.col(c) for c in partition_cols])
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .option("compression", "snappy")
        .partitionBy(*partition_cols)
        .parquet(path)
    )


def upsert_partitions(
    increment: DataFrame,
    path: str,
    key_cols: tuple[str, ...] = ("icao24", "collection_time"),
    partition_cols: tuple[str, ...] = PARTITION_COLS,
) -> DataFrame:
    """MERGE (upsert) into a plain-parquet lake via dynamic partition
    overwrite — no table format required.

    The reference corrects late/amended records by rewriting affected S3
    prefixes; the scale-correct Spark expression is: (1) find the AFFECTED
    partitions from the increment (a tiny distinct over the increment only —
    the lake is never scanned beyond those partitions); (2) read just those
    partitions and anti-join out rows whose key the increment replaces
    (partition filters prune the scan to the affected slice); (3) write
    increment + survivors with ``partitionOverwriteMode=dynamic``, which
    atomically replaces ONLY the partitions present in the written frame —
    untouched partitions are never read or rewritten, so cost is
    O(affected slice), not O(lake).

    Returns a 1-row accounting frame (partitions touched, rows replaced /
    kept / inserted) — the ingestion-log shape.
    """
    spark = increment.sparkSession
    parts = [r.asDict() for r in increment.select(*partition_cols).distinct().collect()]
    if not parts:
        return spark.range(1).select(
            F.lit(0).cast("bigint").alias("partitions_touched"),
            F.lit(0).cast("bigint").alias("rows_replaced"),
            F.lit(0).cast("bigint").alias("rows_kept"),
            F.lit(0).cast("bigint").alias("rows_inserted"),
        )
    existing = spark.read.parquet(path).filter(_partitions_pred(parts, partition_cols))
    keys = increment.select(*key_cols).distinct()
    # the (small, affected-slice) survivor set is materialized BEFORE the
    # overwrite — Spark refuses to lazily overwrite an input path, and the
    # barrier also guarantees the accounting counts and the written rows are
    # the same snapshot
    with materialized(existing.join(keys, list(key_cols), "left_anti")) as survivors:
        n_existing = existing.count()
        kept = survivors.count()
        replaced = n_existing - kept
        inserted = increment.count()

        merged = survivors.unionByName(increment.select(*survivors.columns))
        _overwrite_partitions(merged, path, partition_cols)
    return spark.range(1).select(
        F.lit(len(parts)).cast("bigint").alias("partitions_touched"),
        F.lit(replaced).cast("bigint").alias("rows_replaced"),
        F.lit(kept).cast("bigint").alias("rows_kept"),
        F.lit(inserted).cast("bigint").alias("rows_inserted"),
    )


def merge_rollup_increment(
    increment: DataFrame,
    rollup_path: str,
    group_cols: tuple[str, ...],
    partition_cols: tuple[str, ...],
    partial_aggs: dict[str, Column],
    merge_aggs: dict[str, Column],
) -> DataFrame:
    """Incrementally maintain a materialized rollup from new raw rows —
    the missing piece between ``write_summary`` (full rebuild) and
    ``upsert_partitions`` (row replacement): aggregate MAINTENANCE.

    The reference refreshes its summary views by re-running the full query
    (``06_create_summary_views.sql`` via the optimization guide's
    views-as-cache pattern); at 100 TB a daily re-aggregation of the whole
    fact table is the most expensive recurring job in the lake. This
    operator keeps the rollup as MERGEABLE PARTIALS (counts, sums, mins,
    maxes — anything associative+commutative; derived ratios are computed at
    read time) so each refresh costs O(increment + affected partitions of
    the ROLLUP), never a fact-table rescan:

    1. aggregate the increment to partials at the rollup grain
       (``partial_aggs``: raw rows → partial columns);
    2. find affected rollup partitions from the increment alone (a tiny
       distinct — the partition grain is coarser than the group grain,
       e.g. day ⊃ (day, event_type));
    3. read ONLY those partitions of the existing rollup (partition-pruned
       scan of a table that is itself orders smaller than the facts), union
       the increment partials, and re-merge (``merge_aggs``: partial columns
       → partial columns, e.g. ``SUM(cnt)``, ``MIN(min_v)``);
    4. dynamic-partition-overwrite exactly the affected partitions.

    ``partition_cols`` must be a subset of ``group_cols``. Returns the same
    1-row accounting frame shape as :func:`upsert_partitions`.
    """
    spark = increment.sparkSession
    inc_partial = increment.groupBy(*group_cols).agg(
        *[c.alias(n) for n, c in partial_aggs.items()]
    )
    parts = [r.asDict() for r in inc_partial.select(*partition_cols).distinct().collect()]
    if not parts:
        return spark.range(1).select(
            F.lit(0).cast("bigint").alias("partitions_touched"),
            F.lit(0).cast("bigint").alias("groups_written"),
        )

    # Only "path does not exist yet" may fall back to the bare increment: a
    # broad except here would also swallow schema-mismatch (unionByName
    # resolves eagerly) or transient storage errors, and the dynamic
    # overwrite below would then silently REPLACE affected rollup partitions
    # with increment-only partials — losing accumulated aggregates.
    try:
        existing = spark.read.parquet(rollup_path).filter(
            _partitions_pred(parts, partition_cols)
        )
    except AnalysisException:  # first increment: rollup does not exist yet
        combined = inc_partial
    else:
        combined = existing.unionByName(inc_partial.select(*existing.columns))
    merged = combined.groupBy(*group_cols).agg(
        *[c.alias(n) for n, c in merge_aggs.items()]
    )
    # materialize before overwriting the path being read (same barrier as
    # upsert_partitions) — the affected slice of a rollup is small by design
    with materialized(merged) as merged:
        groups_written = merged.count()
        _overwrite_partitions(merged, rollup_path, partition_cols)
    return spark.range(1).select(
        F.lit(len(parts)).cast("bigint").alias("partitions_touched"),
        F.lit(groups_written).cast("bigint").alias("groups_written"),
    )
