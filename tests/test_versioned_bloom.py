"""Per-file bloom index on the versioned table: point-lookup file
skipping where min/max stats cannot prune (interleaved key domains),
exactness of bloom-pruned reads, and carry semantics through append /
rollback / merge / delete."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aws_flight_data_pipeline_spark.sources import versioned as vt


@pytest.fixture()
def table(tmp_path):
    return str(tmp_path / "tbl")


def _commit_interleaved(spark, table):
    """Two files over the SAME key range (evens vs odds): every file's
    [min, max] covers any probe, so range stats never skip — only the
    bloom can."""
    evens = spark.range(0, 1000).select((F.col("id") * 2).alias("k"), F.lit("e").alias("tag"))
    odds = spark.range(0, 1000).select((F.col("id") * 2 + 1).alias("k"), F.lit("o").alias("tag"))
    vt.commit(evens.coalesce(1), table, stats_cols=("k",), bloom_cols=("k",))
    vt.commit(odds.coalesce(1), table, mode="append", stats_cols=("k",), bloom_cols=("k",))


def test_point_lookup_skips_via_bloom_not_stats(spark, table):
    _commit_interleaved(spark, table)
    # k=42 is even: the odd file's range [1, 1999] contains 42, but its
    # bloom (almost surely at 1% fpp over 1000 keys) does not
    kept, skipped = vt.plan_files(table, where={"k": (42, 42)})
    assert len(kept) == 1 and skipped == 1
    rows = vt.read(spark, table, where={"k": (42, 42)}).collect()
    assert [(r["k"], r["tag"]) for r in rows] == [(42, "e")]


def test_range_predicates_never_use_bloom(spark, table):
    _commit_interleaved(spark, table)
    kept, skipped = vt.plan_files(table, where={"k": (10, 20)})
    assert len(kept) == 2 and skipped == 0  # overlapping ranges: both kept


def test_absent_key_prunes_everything_but_read_stays_exact(spark, table):
    _commit_interleaved(spark, table)
    # 2001 is outside both files' [min, max] — stats prune; 999999 even if
    # in-range of nothing; probe an in-range never-inserted value is
    # impossible here (all ints 0..1999 present), so grow the domain:
    vt.commit(
        spark.range(0, 10).select((F.col("id") * 1000 + 10_000).alias("k"), F.lit("x").alias("tag")).coalesce(1),
        table,
        mode="append",
        stats_cols=("k",),
        bloom_cols=("k",),
    )
    # 10_500 sits inside the third file's [10_000, 19_000] range but is
    # not one of its 10 keys — bloom skips it; result is exactly empty
    kept, skipped = vt.plan_files(table, where={"k": (10_500, 10_500)})
    assert len(kept) == 0 and skipped == 3
    assert vt.read(spark, table, where={"k": (10_500, 10_500)}).count() == 0


def test_no_false_negatives_across_all_keys(spark, table):
    _commit_interleaved(spark, table)
    # every present key must keep its file (bloom has no false negatives)
    for k in (0, 1, 2, 999, 1000, 1998, 1999):
        rows = vt.read(spark, table, where={"k": (k, k)}).collect()
        assert len(rows) == 1 and rows[0]["k"] == k


def test_blooms_carry_through_rollback_and_delete(spark, table):
    _commit_interleaved(spark, table)
    vt.commit(
        spark.range(0, 5).select((F.col("id") + 5000).alias("k"), F.lit("z").alias("tag")).coalesce(1),
        table,
        mode="append",
        stats_cols=("k",),
        bloom_cols=("k",),
    )
    vt.rollback(table, to_version=1)
    m = vt._read_manifest(table, vt.latest_version(table))
    assert len(m["blooms"]) == 2  # the two interleaved files, post-rollback
    # delete rewrites the even file (contains 42); the rewrite records a
    # bloom on the parent's bloom column, the odd file's carries
    vt.delete_where(spark, table, {"k": (42, 42)})
    m = vt._read_manifest(table, vt.latest_version(table))
    assert len(m["blooms"]) == 2 and set(m["blooms"]) == set(m["files"])
    # reads stay exact either way
    assert vt.read(spark, table, where={"k": (42, 42)}).count() == 0
    assert vt.read(spark, table, where={"k": (43, 43)}).count() == 1


def test_string_keys_and_unindexable_columns(spark, table):
    df = spark.createDataFrame(
        [("alpha", 1.5), ("beta", 2.5)], "name string, score double"
    )
    vt.commit(df.coalesce(1), table, bloom_cols=("name", "score"))
    m = vt._read_manifest(table, 0)
    (fb,) = m["blooms"].values()
    assert "name" in fb and "score" not in fb  # floats are not indexed
    kept, skipped = vt.plan_files(table, where={"name": ("alpha", "alpha")})
    assert len(kept) == 1 and skipped == 0
    kept, skipped = vt.plan_files(table, where={"name": ("gamma", "gamma")})
    assert len(kept) == 0 and skipped == 1


def test_optimize_rebuilds_blooms(spark, table):
    _commit_interleaved(spark, table)
    vt.optimize(spark, table, cluster_by=("k",), n_files=4, bloom_cols=("k",))
    m = vt._read_manifest(table, vt.latest_version(table))
    assert len(m["blooms"]) == 4  # every rewritten file re-indexed
    # clustered rewrite: range stats handle ranges, blooms handle points
    assert vt.read(spark, table, where={"k": (42, 42)}).count() == 1
    kept, skipped = vt.plan_files(table, where={"k": (42, 42)})
    assert len(kept) == 1 and skipped == 3
