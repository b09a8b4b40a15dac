"""Pins the all_queries() cache-discipline contract (plans/registry.py):
building query N+1 releases query N's tracked caches, a build-ahead consumer
that evaluates in any order still gets correct results, and the most recent
build's caches actually materialize (cache hits) when it runs."""

from __future__ import annotations

from aws_flight_data_pipeline_spark.functions import caching
from aws_flight_data_pipeline_spark.plans.registry import all_queries
from tests.conftest import persisted_rdd_ids

# two cache-using REGISTERED queries: the fuzzy-dedup pipeline tracks
# bands/cands/cand_docs; the wide pHash near-dup tracks its hash and
# distinct-hash-group frames (dedup_minhash_signatures, the previous
# Q_SECOND, rotated out of the driver registry in round 10)
Q_FIRST = "dedup_pipeline_end_to_end"
Q_SECOND = "multimodal_phash_neardup_wide"


def _storage_used(df) -> bool:
    lvl = df.storageLevel
    return lvl.useMemory or lvl.useDisk


def test_build_ahead_reverse_evaluation(spark, sf_dir):
    qs = all_queries()

    df1 = qs[Q_FIRST](spark, sf_dir)
    first_tracked = list(caching._LIVE)
    assert first_tracked, f"{Q_FIRST} should track at least one cache"
    assert all(_storage_used(t) for t in first_tracked)

    df2 = qs[Q_SECOND](spark, sf_dir)
    # the contract: building the second query released the first's caches...
    assert all(not _storage_used(t) for t in first_tracked), (
        "previous build's tracked caches must be unpersisted at next build"
    )
    second_tracked = list(caching._LIVE)
    assert all(t not in first_tracked for t in second_tracked)

    # ...and evaluation in REVERSE build order is still correct on both
    n2 = df2.count()
    n1 = df1.count()
    assert n2 > 0 and n1 > 0

    # the second (latest) build's caches are real hits: materialized blocks
    # exist after its evaluation
    if second_tracked:
        infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        assert any(i.numCachedPartitions() > 0 for i in infos), (
            "latest build's tracked caches should hold materialized blocks"
        )

    caching.release_tracked()
    assert not caching._LIVE


def test_tracked_localcheckpoint_releases_persistent_rdds(spark):
    """tracked_localcheckpoint: the checkpoint's internal persisted RDD
    (eager or deferred) is registered and release_tracked() unpersists it —
    bench.py's leaked_caches == 0 contract must hold for checkpoint-based
    plans exactly as for cache-based ones. Also pins the semantic point:
    the checkpointed frame's plan is a truncated leaf (no lineage back to
    the source), and its rows are the same."""
    from pyspark.sql import functions as F

    from aws_flight_data_pipeline_spark.functions.caching import (
        release_tracked,
        tracked_localcheckpoint,
    )

    release_tracked()
    before = persisted_rdd_ids(spark)

    src = spark.range(0, 1000).select(
        "id", F.pmod(F.col("id"), F.lit(7)).alias("k")
    )
    for eager in (True, False):
        ck = tracked_localcheckpoint(src.groupBy("k").count(), eager=eager)
        assert persisted_rdd_ids(spark) - before  # checkpoint persisted
        rows = {(r["k"], r["count"]) for r in ck.collect()}
        assert rows == {(i, 143 if i < 6 else 142) for i in range(7)}
        # lineage truncated: the analyzed plan is a scan over an existing RDD
        plan = ck._jdf.queryExecution().analyzed().toString()
        assert "LogicalRDD" in plan or "ExistingRDD" in plan

        release_tracked()
        assert not persisted_rdd_ids(spark) - before
