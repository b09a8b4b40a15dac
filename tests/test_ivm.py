"""Incremental view maintenance (sources/ivm.py): change-feed-driven
rollup refresh with retractions, exactly-once cursor semantics, tombstone
hiding, and the incremental-equals-recompute invariant under churn.

Reference analog: the summary views are full re-runs of their defining
query (sql/athena/06_create_summary_views.sql, 07:529-571); here the
maintained rollup must equal that full recompute after every refresh.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aws_flight_data_pipeline_spark.sources import ivm
from aws_flight_data_pipeline_spark.sources import versioned as vt


@pytest.fixture()
def paths(tmp_path):
    return str(tmp_path / "fact"), str(tmp_path / "rollup")


def _fact(spark, rows):
    """rows: (id, grp, amount)"""
    return spark.createDataFrame(rows, "id bigint, grp string, amount bigint")


def _recompute(spark, fact_path):
    return (
        vt.read(spark, fact_path)
        .groupBy("grp")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum("amount").cast("bigint").alias("sum_amount"),
        )
    )


def _assert_view_equals_recompute(spark, fact_path, rollup_path):
    view = {
        (r["grp"]): (r["n_rows"], r["sum_amount"])
        for r in ivm.read_view(spark, rollup_path).collect()
    }
    full = {
        (r["grp"]): (r["n_rows"], r["sum_amount"])
        for r in _recompute(spark, fact_path).collect()
    }
    assert view == full


def _refresh(spark, fact_path, rollup_path):
    return ivm.refresh_view(
        spark, fact_path, rollup_path, group_cols=("grp",), sum_cols=("amount",)
    )


def test_first_refresh_is_full_build(spark, paths):
    fact, rollup = paths
    vt.commit(_fact(spark, [(1, "a", 10), (2, "a", 20), (3, "b", 5)]), fact)
    out = _refresh(spark, fact, rollup)
    assert out["refreshed"] and out["from_version"] is None and out["to_version"] == 0
    _assert_view_equals_recompute(spark, fact, rollup)


def test_refresh_at_head_is_a_noop(spark, paths):
    fact, rollup = paths
    vt.commit(_fact(spark, [(1, "a", 10)]), fact)
    _refresh(spark, fact, rollup)
    before = vt.latest_version(rollup)
    out = _refresh(spark, fact, rollup)
    assert out == {
        "refreshed": False,
        "from_version": 0,
        "to_version": 0,
        "groups_touched": 0,
    }
    assert vt.latest_version(rollup) == before  # nothing published


def test_insert_increment_updates_only_affected_groups(spark, paths):
    fact, rollup = paths
    vt.commit(_fact(spark, [(1, "a", 10), (2, "b", 5)]), fact)
    _refresh(spark, fact, rollup)
    vt.commit(_fact(spark, [(3, "a", 7), (4, "c", 1)]), fact, mode="append")
    out = _refresh(spark, fact, rollup)
    assert out["groups_touched"] == 2  # a updated, c inserted; b untouched
    _assert_view_equals_recompute(spark, fact, rollup)


def test_delete_retracts_and_full_retraction_tombstones(spark, paths):
    fact, rollup = paths
    vt.commit(
        _fact(spark, [(1, "a", 10), (2, "a", 20), (3, "b", 5), (4, "b", 6)]), fact
    )
    _refresh(spark, fact, rollup)
    vt.delete_where(spark, fact, {"grp": ("b", "b")})
    _refresh(spark, fact, rollup)
    _assert_view_equals_recompute(spark, fact, rollup)
    # the fully-retracted group survives physically as a count-0 tombstone…
    raw = {r["grp"]: r["n_rows"] for r in vt.read(spark, rollup).collect()}
    assert raw["b"] == 0
    # …but the view hides it
    assert {r["grp"] for r in ivm.read_view(spark, rollup).collect()} == {"a"}


def test_update_surfaces_as_delete_insert_pair(spark, paths):
    fact, rollup = paths
    vt.commit(_fact(spark, [(1, "a", 10), (2, "b", 5)]), fact)
    _refresh(spark, fact, rollup)
    # MERGE-style update: row 1 moves from grp a to grp b with a new amount
    vt.merge_into(
        spark,
        fact,
        _fact(spark, [(1, "b", 100)]),
        on=("id",),
    )
    _refresh(spark, fact, rollup)
    _assert_view_equals_recompute(spark, fact, rollup)
    view = {r["grp"]: (r["n_rows"], r["sum_amount"]) for r in ivm.read_view(spark, rollup).collect()}
    assert view == {"b": (2, 105)}  # a fully retracted, b absorbed the move


def test_multi_version_catchup_in_one_refresh(spark, paths):
    fact, rollup = paths
    vt.commit(_fact(spark, [(1, "a", 1)]), fact)
    _refresh(spark, fact, rollup)
    # three fact commits before the next refresh: the net diff folds them
    vt.commit(_fact(spark, [(2, "a", 2)]), fact, mode="append")
    vt.commit(_fact(spark, [(3, "c", 30)]), fact, mode="append")
    vt.delete_where(spark, fact, {"id": (2, 2)})
    out = _refresh(spark, fact, rollup)
    assert out["from_version"] == 0 and out["to_version"] == 3
    _assert_view_equals_recompute(spark, fact, rollup)
    # id=2 was inserted AND deleted within the window: net diff cancels it,
    # so group a must not have been touched at all
    assert out["groups_touched"] == 1  # only c


def test_cursor_moves_atomically_with_the_merge(spark, paths):
    fact, rollup = paths
    vt.commit(_fact(spark, [(1, "a", 1)]), fact)
    _refresh(spark, fact, rollup)
    vt.commit(_fact(spark, [(2, "b", 2)]), fact, mode="append")
    _refresh(spark, fact, rollup)
    v = vt.latest_version(rollup)
    assert vt._read_manifest(rollup, v)["source_version"] == 1
    # a replayed refresh (same head) is a no-op — exactly-once
    out = _refresh(spark, fact, rollup)
    assert not out["refreshed"]
    assert vt.latest_version(rollup) == v


def test_netted_out_churn_moves_cursor_without_data_movement(spark, paths):
    fact, rollup = paths
    vt.commit(_fact(spark, [(1, "a", 1)]), fact)
    _refresh(spark, fact, rollup)
    data_version = vt.latest_version(rollup)
    files_before = vt._read_manifest(rollup, data_version)["files"]
    # append then roll the fact back: cur < head but the net diff is empty
    vt.commit(_fact(spark, [(2, "b", 2)]), fact, mode="append")
    vt.rollback(fact, to_version=0)
    out = _refresh(spark, fact, rollup)
    assert out["refreshed"] and out["groups_touched"] == 0
    v = vt.latest_version(rollup)
    m = vt._read_manifest(rollup, v)
    assert m["mode"] == "cursor" and m["files"] == files_before  # metadata-only
    assert m["source_version"] == 2
    _assert_view_equals_recompute(spark, fact, rollup)


def test_fact_optimize_is_invisible_to_the_view(spark, paths):
    fact, rollup = paths
    vt.commit(_fact(spark, [(1, "a", 1)]), fact)
    vt.commit(_fact(spark, [(2, "b", 2)]), fact, mode="append")
    _refresh(spark, fact, rollup)
    vt.optimize(spark, fact)  # compaction rewrites files but not rows
    out = _refresh(spark, fact, rollup)
    assert out["refreshed"] and out["groups_touched"] == 0
    _assert_view_equals_recompute(spark, fact, rollup)


def test_non_aggregated_column_churn_is_metadata_only(spark, paths):
    fact, rollup = paths
    vt.commit(_fact(spark, [(1, "a", 10), (2, "b", 5)]), fact)
    _refresh(spark, fact, rollup)
    # id is not a group or sum column: rewriting it (1 -> 9 on the same
    # (grp, amount) identity) must not rewrite the rollup
    vt.merge_into(spark, fact, _fact(spark, [(9, "a", 10)]), on=("grp", "amount"))
    out = _refresh(spark, fact, rollup)
    m = vt._read_manifest(rollup, vt.latest_version(rollup))
    assert m["mode"] == "cursor"
    assert out["groups_touched"] == 0
    _assert_view_equals_recompute(spark, fact, rollup)


def test_incremental_equals_recompute_under_mixed_churn(spark, paths):
    fact, rollup = paths
    rows = [(i, "g" + str(i % 5), i * 3) for i in range(50)]
    vt.commit(_fact(spark, rows), fact)
    _refresh(spark, fact, rollup)
    vt.delete_where(spark, fact, {"id": (10, 19)})
    _refresh(spark, fact, rollup)
    vt.commit(_fact(spark, [(100 + i, "g9", i) for i in range(7)]), fact, mode="append")
    vt.merge_into(spark, fact, _fact(spark, [(0, "g9", 999), (1, "g1", -4)]), on=("id",))
    _refresh(spark, fact, rollup)
    _assert_view_equals_recompute(spark, fact, rollup)


def test_refresh_on_empty_fact_raises_cleanly(spark, paths):
    fact, rollup = paths
    with pytest.raises(FileNotFoundError):
        _refresh(spark, fact, rollup)


def test_rollback_of_the_rollup_refreshes_from_the_restored_cursor(spark, paths):
    fact, rollup = paths
    vt.commit(_fact(spark, [(1, "a", 1)]), fact)
    _refresh(spark, fact, rollup)
    vt.commit(_fact(spark, [(2, "b", 2)]), fact, mode="append")
    _refresh(spark, fact, rollup)
    # the restored snapshot folds in fact v0 only, and so does its cursor
    vt.rollback(rollup, 0)
    assert ivm._cursor(rollup) == 0
    out = _refresh(spark, fact, rollup)
    assert out["refreshed"] and out["from_version"] == 0
    _assert_view_equals_recompute(spark, fact, rollup)


def test_rollup_cursor_survives_optimize_and_vacuum(spark, paths):
    fact, rollup = paths
    vt.commit(_fact(spark, [(1, "a", 1), (2, "b", 2)]), fact)
    _refresh(spark, fact, rollup)
    vt.optimize(spark, rollup, n_files=1)
    vt.vacuum(rollup, keep_last=1, min_age_seconds=0)
    vt.commit(_fact(spark, [(3, "b", 3)]), fact, mode="append")
    out = _refresh(spark, fact, rollup)
    assert out["from_version"] == 0  # an increment, not a full rebuild
    _assert_view_equals_recompute(spark, fact, rollup)
