"""End-to-end partitioned-lake lifecycle: enrich → partitioned write →
partition-pruned read-back. The 94%-cost-reduction story of the reference
(README.md:806-815, partition projection) realized as Spark Hive-style
partition discovery — proven by asserting PartitionFilters in the actual
read plan, not just row counts."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from aws_flight_data_pipeline_spark.sources.sinks import (
    PARTITION_COLS,
    with_time_partitions,
    write_processed,
)
from tests.flight_fixtures import PROCESSED_DDL, processed_rows


@pytest.fixture(scope="module")
def lake(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("lake") / "processed")
    df = with_time_partitions(
        spark.createDataFrame(processed_rows(), schema=PROCESSED_DDL)
    )
    write_processed(df, path)
    return path, df


def test_partitioned_layout_on_disk(lake):
    path, df = lake
    years = os.listdir(path)
    assert any(y.startswith("year=") for y in years)
    # drill one branch down to the hour level
    y = sorted(p for p in years if p.startswith("year="))[0]
    m = sorted(os.listdir(os.path.join(path, y)))[0]
    d = sorted(os.listdir(os.path.join(path, y, m)))[0]
    h = sorted(os.listdir(os.path.join(path, y, m, d)))[0]
    assert m.startswith("month=") and d.startswith("day=") and h.startswith("hour=")


def test_readback_roundtrip(spark, lake):
    path, df = lake
    back = spark.read.parquet(path)
    assert back.count() == df.count()
    # partition values kept as zero-padded strings (inference disabled)
    row = back.select(*PARTITION_COLS).first()
    assert all(isinstance(row[c], str) for c in PARTITION_COLS)


def test_partition_filter_prunes_scan(spark, lake):
    path, df = lake
    back = spark.read.parquet(path)
    one_hour = df.select(*PARTITION_COLS).first()
    pruned = back.filter(
        (F.col("year") == one_hour["year"])
        & (F.col("month") == one_hour["month"])
        & (F.col("day") == one_hour["day"])
        & (F.col("hour") == one_hour["hour"])
    )
    plan = spark._jvm.PythonSQLUtils.explainString(pruned._jdf.queryExecution(), "formatted")
    assert "PartitionFilters: [isnotnull(year" in plan
    # the filter never appears as a post-scan Filter over data columns
    expected = df.filter(
        (F.col("year") == one_hour["year"])
        & (F.col("month") == one_hour["month"])
        & (F.col("day") == one_hour["day"])
        & (F.col("hour") == one_hour["hour"])
    ).count()
    assert pruned.count() == expected > 0

