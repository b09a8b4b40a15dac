"""Lake maintenance operators: small-file audit → compaction plan → compact.

The failure mode under test is file-count pathology (streaming writers
leaving many KB-sized files), so the fixture deliberately writes an
over-partitioned lake and the assertions check the full loop: the audit
sees every file and every row, the plan flags the pathology, compaction
removes it without losing a row.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aws_flight_data_pipeline_spark.sources.maintenance import (
    compact,
    compaction_plan,
    lake_file_audit,
)

N_SMALL_FILES = 12


@pytest.fixture(scope="module")
def small_file_lake(spark, tmp_path_factory):
    src = str(tmp_path_factory.mktemp("maint") / "cust_small")
    cust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    cust.repartition(N_SMALL_FILES).write.mode("overwrite").parquet(src)
    return src, cust.count()


def test_audit_sees_every_file_and_row(spark, small_file_lake):
    src, n_rows = small_file_lake
    audit = lake_file_audit(spark, src)
    rows = audit.collect()
    assert len(rows) == N_SMALL_FILES
    assert sum(r["row_count"] for r in rows) == n_rows
    assert all(r["bytes"] > 0 for r in rows)
    assert all(r["file"].endswith(".parquet") for r in rows)
    # unpartitioned lake: partition dir is the lake root ('' after stripping)
    assert all(r["partition"] == "" for r in rows)


def test_audit_splits_hive_partitions(spark, small_file_lake, tmp_path_factory):
    src = str(tmp_path_factory.mktemp("maint") / "cust_part")
    cust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    cust.withColumn("seg", F.col("c_mktsegment")).write.mode("overwrite").partitionBy(
        "seg"
    ).parquet(src)
    audit = lake_file_audit(spark, src)
    parts = {r["partition"] for r in audit.collect()}
    assert all(p.startswith("seg=") for p in parts)
    assert len(parts) == 5


def test_plan_flags_small_file_pathology(spark, small_file_lake):
    src, n_rows = small_file_lake
    # huge target → ideal layout is ONE file, so 12 files must be flagged
    plan = compaction_plan(lake_file_audit(spark, src), target_bytes=1 << 30).collect()
    assert len(plan) == 1
    p = plan[0]
    assert p["file_count"] == N_SMALL_FILES
    assert p["total_rows"] == n_rows
    assert p["target_file_count"] == 1
    assert bool(p["needs_compaction"]) is True


def test_plan_leaves_ideal_layout_alone(spark, small_file_lake):
    src, _ = small_file_lake
    # tiny target → every existing file is already under target: no verdict
    plan = compaction_plan(lake_file_audit(spark, src), target_bytes=1).collect()
    assert bool(plan[0]["needs_compaction"]) is False


def test_compact_preserves_rows_and_collapses_files(spark, small_file_lake, tmp_path_factory):
    src, n_rows = small_file_lake
    dst = str(tmp_path_factory.mktemp("maint") / "cust_compacted")
    n_written = compact(spark, src, dst, target_bytes=1 << 30)
    assert n_written == 1
    audit = lake_file_audit(spark, dst)
    rows = audit.collect()
    assert len(rows) == 1
    assert rows[0]["row_count"] == n_rows
    # the round trip is lossless, not just row-count equal
    src_df = spark.read.parquet(src)
    assert spark.read.parquet(dst).exceptAll(src_df).count() == 0

