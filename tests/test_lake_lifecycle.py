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
from tests.conftest import persisted_rdd_ids
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


def test_upsert_partitions_touches_only_affected(spark, tmp_path):
    """MERGE semantics on plain parquet: replaced keys disappear, inserts
    land, and files in untouched partitions are byte-identical (dynamic
    overwrite rewrites only the affected partitions)."""
    import glob

    from aws_flight_data_pipeline_spark.sources.sinks import upsert_partitions

    path = str(tmp_path / "processed")
    df = with_time_partitions(
        spark.createDataFrame(processed_rows(), schema=PROCESSED_DDL)
    )
    write_processed(df, path)
    before = spark.read.parquet(path)
    n_before = before.count()

    # the increment: one existing key amended + one brand-new aircraft,
    # both landing in ONE existing partition
    target = before.orderBy("icao24").first()
    part_vals = {c: target[c] for c in PARTITION_COLS}
    amended = before.filter(F.col("icao24") == target["icao24"]).filter(
        *[F.col(c) == part_vals[c] for c in PARTITION_COLS[:1]]
    ).limit(1).withColumn("origin_country", F.lit("AMENDED"))
    inserted = amended.withColumn("icao24", F.lit("zzznew")).withColumn(
        "origin_country", F.lit("INSERTED")
    )
    increment = amended.unionByName(inserted).localCheckpoint()

    untouched_glob = None
    for d in glob.glob(os.path.join(path, "year=*/month=*/day=*/hour=*")):
        if f"hour={part_vals['hour']}" not in d or f"day={part_vals['day']}" not in d:
            untouched_glob = d
            break
    snap = None
    if untouched_glob:
        snap = {
            f: os.path.getmtime(f)
            for f in glob.glob(os.path.join(untouched_glob, "*.parquet"))
        }

    persisted = persisted_rdd_ids(spark)
    report = upsert_partitions(increment, path).collect()[0]
    assert not persisted_rdd_ids(spark) - persisted  # survivor checkpoint released
    after = spark.read.parquet(path)

    amended_key = increment.filter(F.col("origin_country") == "AMENDED").first()
    got = after.filter(
        (F.col("icao24") == amended_key["icao24"])
        & (F.col("collection_time") == amended_key["collection_time"])
    ).collect()
    assert len(got) == 1 and got[0]["origin_country"] == "AMENDED"  # replaced, not duplicated
    assert after.filter(F.col("icao24") == "zzznew").count() == 1    # inserted
    assert after.count() == n_before + 1                              # net one new row
    assert report["rows_inserted"] == 2 and report["rows_replaced"] >= 1
    assert report["partitions_touched"] >= 1

    if snap:  # untouched partition files were never rewritten
        now = {
            f: os.path.getmtime(f)
            for f in glob.glob(os.path.join(untouched_glob, "*.parquet"))
        }
        assert now == snap
