"""Partitioned sinks: processed fact table and quarantine split.

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
