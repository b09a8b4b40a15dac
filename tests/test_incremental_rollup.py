"""Incremental materialized-rollup maintenance (sinks.merge_rollup_increment):
a rollup maintained across N increments must equal the batch aggregation of
all raw rows, and a refresh must rewrite ONLY the partitions its increment
touches."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from aws_flight_data_pipeline_spark.sources.sinks import merge_rollup_increment
from aws_flight_data_pipeline_spark.sources.testdata import load_table
from tests.conftest import persisted_rdd_ids

GROUP = ("event_day", "event_type")
PART = ("event_day",)

def _partials():
    # built lazily: Column construction needs an active SparkContext
    return {
        "cnt": F.count("*"),
        "cents": F.sum(F.round(F.col("value") * 100).cast("long")),
        "min_v": F.min("value"),
        "max_v": F.max("value"),
    }


def _mergers():
    return {
        "cnt": F.sum("cnt"),
        "cents": F.sum("cents"),
        "min_v": F.min("min_v"),
        "max_v": F.max("max_v"),
    }


def _events(spark):
    e = load_table(spark, "/root/testdata/sf0.001", "events")
    return e.withColumn("event_day", F.date_format("ts", "yyyy-MM-dd"))


def test_incremental_rollup_equals_batch_aggregation(spark, tmp_path):
    e = _events(spark)
    path = str(tmp_path / "rollup")
    persisted = persisted_rdd_ids(spark)
    for i in range(3):
        acct = merge_rollup_increment(
            e.filter(F.col("event_id") % 3 == i), path, GROUP, PART, _partials(), _mergers()
        ).first()
        assert acct["partitions_touched"] > 0
        assert not persisted_rdd_ids(spark) - persisted  # merged checkpoint released

    rolled = spark.read.parquet(path)
    batch = e.groupBy(*GROUP).agg(*[c.alias(n) for n, c in _partials().items()])
    assert rolled.count() == batch.count()
    cols = [*GROUP, *_partials().keys()]
    diff = rolled.select(*cols).exceptAll(batch.select(*cols))
    assert diff.count() == 0
    # derived metrics come out exact at read time
    avg = rolled.select(
        (F.col("cents") / (100.0 * F.col("cnt"))).alias("avg_v")
    ).agg(F.min("avg_v"), F.max("avg_v")).first()
    assert avg[0] is not None


def test_incremental_rollup_touches_only_affected_partitions(spark, tmp_path):
    e = _events(spark)
    path = str(tmp_path / "rollup")
    days = sorted(r["event_day"] for r in e.select("event_day").distinct().collect())
    assert len(days) >= 3
    merge_rollup_increment(e, path, GROUP, PART, _partials(), _mergers())

    untouched_dir = os.path.join(path, f"event_day={days[0]}")
    touched_dir = os.path.join(path, f"event_day={days[-1]}")
    before_untouched = sorted(os.listdir(untouched_dir))
    before_touched = sorted(os.listdir(touched_dir))

    # second increment confined to the LAST day: only that partition may change
    inc = e.filter(F.col("event_day") == days[-1])
    n_inc = inc.count()
    assert n_inc > 0
    acct = merge_rollup_increment(inc, path, GROUP, PART, _partials(), _mergers()).first()
    assert acct["partitions_touched"] == 1

    assert sorted(os.listdir(untouched_dir)) == before_untouched  # files untouched
    assert sorted(os.listdir(touched_dir)) != before_touched  # rewritten

    # and the merged counts reflect the double-counted increment rows exactly
    total = spark.read.parquet(path).agg(F.sum("cnt")).first()[0]
    assert total == e.count() + n_inc
