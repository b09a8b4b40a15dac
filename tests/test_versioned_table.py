"""Versioned-table semantics: atomic commits, snapshot isolation, time
travel, rollback, vacuum retention, additive schema evolution, and the
optimistic-concurrency conflict path."""

from __future__ import annotations

import os

import pytest

from aws_flight_data_pipeline_spark.sources import versioned as vt
from tests.conftest import drain


@pytest.fixture()
def table(tmp_path):
    return str(tmp_path / "tbl")


def _df(spark, lo, hi, tag):
    return spark.range(lo, hi).selectExpr("id", f"'{tag}' AS tag")


def test_append_overwrite_and_time_travel(spark, table):
    v0 = vt.commit(_df(spark, 0, 10, "a"), table)
    v1 = vt.commit(_df(spark, 10, 15, "b"), table, mode="append")
    v2 = vt.commit(_df(spark, 100, 103, "c"), table, mode="overwrite")
    assert (v0, v1, v2) == (0, 1, 2)

    assert vt.read(spark, table).count() == 3  # latest = overwrite
    assert vt.read(spark, table, version=0).count() == 10
    assert vt.read(spark, table, version=1).count() == 15
    tags = {r["tag"] for r in vt.read(spark, table, version=1).select("tag").distinct().collect()}
    assert tags == {"a", "b"}


def test_readers_hold_a_consistent_snapshot(spark, table):
    vt.commit(_df(spark, 0, 10, "a"), table)
    snapshot = vt.read(spark, table)  # resolved against v0
    vt.commit(_df(spark, 0, 999, "b"), table, mode="overwrite")
    # the already-resolved plan still reads v0's files
    assert snapshot.count() == 10
    assert vt.read(spark, table).count() == 999


def test_rollback_restores_without_data_movement(spark, table):
    vt.commit(_df(spark, 0, 10, "a"), table)
    vt.commit(_df(spark, 0, 3, "b"), table, mode="overwrite")
    v = vt.rollback(table, to_version=0)
    assert v == 2
    out = vt.read(spark, table)
    assert out.count() == 10
    assert {r["tag"] for r in out.select("tag").distinct().collect()} == {"a"}
    # history keeps every version (append-only log)
    hist = {r["version"]: r["mode"] for r in vt.history(spark, table).collect()}
    assert hist == {0: "append", 1: "overwrite", 2: "rollback"}


def test_vacuum_deletes_only_unreferenced_files(spark, table):
    vt.commit(_df(spark, 0, 10, "a"), table)
    vt.commit(_df(spark, 0, 5, "b"), table, mode="overwrite")
    vt.commit(_df(spark, 0, 7, "c"), table, mode="overwrite")
    stats = vt.vacuum(table, keep_last=2, min_age_seconds=0)
    assert stats["versions_dropped"] == 1 and stats["files_deleted"] > 0
    # retained versions still read fine
    assert vt.read(spark, table, version=1).count() == 5
    assert vt.read(spark, table, version=2).count() == 7
    # vacuumed version fails CLEANLY (bounded time travel, not a torn read)
    with pytest.raises(FileNotFoundError):
        vt.read(spark, table, version=0)


def test_vacuum_keeps_files_shared_with_retained_versions(spark, table):
    vt.commit(_df(spark, 0, 10, "a"), table)
    vt.commit(_df(spark, 10, 15, "b"), table, mode="append")  # shares v0's files
    vt.commit(_df(spark, 15, 18, "c"), table, mode="append")
    stats = vt.vacuum(table, keep_last=2, min_age_seconds=0)
    # v0 manifest dropped, but its files are referenced by v1/v2 appends
    assert stats["versions_dropped"] == 1 and stats["files_deleted"] == 0
    assert vt.read(spark, table).count() == 18


def test_additive_schema_evolution_reads_as_nulls(spark, table):
    vt.commit(_df(spark, 0, 5, "a"), table)
    evolved = spark.range(5, 8).selectExpr("id", "'b' AS tag", "id * 2 AS extra")
    vt.commit(evolved, table, mode="append")
    out = vt.read(spark, table)
    assert set(out.columns) == {"id", "tag", "extra"}
    assert out.where("extra IS NULL").count() == 5
    assert out.where("extra IS NOT NULL").count() == 3


def test_concurrent_commit_conflict(spark, table):
    vt.commit(_df(spark, 0, 5, "a"), table)
    # a racing writer wins version 1 between the loser's parent resolution
    # and its publish: the publish-time O_CREAT|O_EXCL create must lose
    manifest = {"version": 1, "parent": 0, "mode": "append", "files": [],
                "n_files": 0, "committed_at": 0}
    vt._publish(table, 1, manifest)
    with pytest.raises(vt.CommitConflict):
        vt._publish(table, 1, manifest)
    # a crashed/losing writer leaves data with no manifest referencing it —
    # unreferenced garbage that vacuum collects without touching live data
    _df(spark, 5, 9, "b").write.parquet(os.path.join(table, "data", "vorphan-dead"))
    stats = vt.vacuum(table, keep_last=2, min_age_seconds=0)
    assert stats["files_deleted"] > 0
    assert not os.path.exists(os.path.join(table, "data", "vorphan-dead"))
    assert vt.read(spark, table, version=0).count() == 5


def test_read_missing_version_raises_cleanly(spark, table):
    with pytest.raises(FileNotFoundError):
        vt.read(spark, table)
    vt.commit(_df(spark, 0, 2, "a"), table)
    with pytest.raises(FileNotFoundError):
        vt.read(spark, table, version=7)


def test_manifest_stats_file_skipping(spark, table):
    # range-clustered write -> disjoint per-file id ranges -> skippable
    df = spark.range(0, 4000).selectExpr("id", "id % 7 AS v").repartitionByRange(8, "id")
    vt.commit(df, table, stats_cols=("id",))
    kept, skipped = vt.plan_files(table, where={"id": (100, 150)})
    assert skipped > 0 and len(kept) < 8, (kept, skipped)
    # pruned read == plain filtered read, exactly
    out = vt.read(spark, table, where={"id": (100, 150)})
    assert sorted(r["id"] for r in out.collect()) == list(range(100, 151))


def test_stats_survive_append_and_rollback(spark, table):
    a = spark.range(0, 100).selectExpr("id").repartitionByRange(2, "id")
    b = spark.range(1000, 1100).selectExpr("id").repartitionByRange(2, "id")
    vt.commit(a, table, stats_cols=("id",))
    vt.commit(b, table, mode="append", stats_cols=("id",))
    kept, skipped = vt.plan_files(table, where={"id": (1050, 1060)})
    assert skipped >= 2  # both of a's files are provably out of range
    vt.rollback(table, to_version=0)
    kept0, skipped0 = vt.plan_files(table, where={"id": (1050, 1060)})
    assert kept0 == [] and skipped0 == 2  # rollback carried v0's stats
    assert vt.read(spark, table, where={"id": (1050, 1060)}).count() == 0


def test_missing_stats_are_conservative(spark, table):
    vt.commit(spark.range(0, 50).selectExpr("id"), table)  # no stats recorded
    kept, skipped = vt.plan_files(table, where={"id": (9999, 10000)})
    assert skipped == 0 and len(kept) >= 1  # cannot prove disjoint -> keep
    assert vt.read(spark, table, where={"id": (10, 12)}).count() == 3


def test_optimize_compacts_and_enables_skipping(spark, table):
    # three scattered appends -> many unclustered files
    for lo in (0, 1000, 2000):
        vt.commit(
            spark.range(lo, lo + 1000).selectExpr("id", "id % 5 AS v").repartition(4),
            table, mode="append",
        )
    before, _ = vt.plan_files(table)
    v = vt.optimize(spark, table, cluster_by=("id",), n_files=6)
    after, _ = vt.plan_files(table)
    assert len(after) <= 6 < len(before)
    # content-identical, and prior versions still time-travel
    assert sorted(r["id"] for r in vt.read(spark, table).collect()) == list(range(3000))
    assert vt.read(spark, table, version=0).count() == 1000
    # the clustered rewrite recorded prunable stats
    kept, skipped = vt.plan_files(table, where={"id": (100, 120)})
    assert skipped > 0 and len(kept) < len(after)
    hist = {r["version"]: r["mode"] for r in vt.history(spark, table).collect()}
    assert hist[v] == "overwrite"


def test_optimize_zorder_two_columns(spark, table):
    df = spark.range(0, 2000).selectExpr("id AS a", "(id * 37) % 2000 AS b")
    vt.commit(df.repartition(8), table)
    vt.optimize(spark, table, cluster_by=("a", "b"), n_files=8)
    out = vt.read(spark, table)
    assert out.count() == 2000
    assert sorted(r["a"] for r in out.collect()) == list(range(2000))
    # both clustered dims carry manifest stats
    m = vt._read_manifest(table, vt.latest_version(table))
    some = next(iter(m["stats"].values()))
    assert set(some) == {"a", "b"}


def test_streaming_sink_is_exactly_once(spark, table, tmp_path):
    src = str(tmp_path / "incoming")
    for lo in (0, 100, 200):
        spark.range(lo, lo + 100).selectExpr("id").coalesce(1).write.mode(
            "append"
        ).parquet(src)
    stream = (
        spark.readStream.schema("id long").option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = vt.streaming_versioned_sink(stream, table, str(tmp_path / "ckpt"))
    drain(q, 120)

    assert vt.read(spark, table).count() == 300
    assert len(vt._list_versions(table)) == 3
    # at-least-once replay of an already-committed batch is a no-op
    replay = spark.range(0, 100).selectExpr("id")
    assert vt.commit_stream_batch(replay, 1, table) is None
    assert vt.read(spark, table).count() == 300
    # a NEW batch id commits
    assert vt.commit_stream_batch(spark.range(300, 310).selectExpr("id"), 77, table) == 3
    assert vt.read(spark, table).count() == 310


def test_delete_where_rewrites_only_overlapping_files(spark, table):
    df = spark.range(0, 4000).selectExpr("id", "id % 3 AS v").repartitionByRange(8, "id")
    vt.commit(df, table, stats_cols=("id",))
    out = vt.delete_where(spark, table, {"id": (100, 150)})
    assert out["rows_deleted"] == 51
    # stat-pruned copy-on-write: most of the 8 range-clustered files carry
    assert out["files_rewritten"] <= 2 and out["files_carried"] >= 6
    ids = sorted(r["id"] for r in vt.read(spark, table).collect())
    assert len(ids) == 4000 - 51 and 100 not in ids and 151 in ids
    # time travel still shows the pre-delete snapshot
    assert vt.read(spark, table, version=0).count() == 4000
    # pruning still works on the rewritten table
    kept, skipped = vt.plan_files(table, where={"id": (3900, 3950)})
    assert skipped > 0


def test_delete_where_no_match_is_metadata_only(spark, table):
    vt.commit(
        spark.range(0, 100).selectExpr("id").repartitionByRange(2, "id"),
        table, stats_cols=("id",),
    )
    before = vt.latest_version(table)
    out = vt.delete_where(spark, table, {"id": (5000, 6000)})
    assert out == {
        "version": before, "files_rewritten": 0, "files_carried": 2, "rows_deleted": 0,
    }
    assert vt.latest_version(table) == before  # no new version published


def test_delete_keeps_null_predicate_rows_on_evolved_schema(spark, table):
    # pre-evolution files have no 'extra' column: their rows read back as
    # NULL for the predicate column and SQL DELETE semantics must KEEP them
    vt.commit(spark.range(0, 50).selectExpr("id"), table)
    vt.commit(
        spark.range(50, 60).selectExpr("id", "id AS extra"), table, mode="append"
    )
    out = vt.delete_where(spark, table, {"extra": (50, 54)})
    assert out["rows_deleted"] == 5
    remaining = vt.read(spark, table)
    assert remaining.count() == 55  # all 50 NULL-extra rows survived
    assert remaining.where("extra IS NULL").count() == 50


def test_vacuum_grace_period_spares_fresh_unreferenced_files(spark, table):
    vt.commit(spark.range(0, 10).selectExpr("id"), table)
    vt.commit(spark.range(0, 5).selectExpr("id"), table, mode="overwrite")
    # a concurrent writer's just-written (not yet published) data
    spark.range(90, 99).selectExpr("id").write.parquet(
        os.path.join(table, "data", "vinflight-writer")
    )
    stats = vt.vacuum(table, keep_last=1)  # default grace: 600 s
    assert stats["files_deleted"] == 0  # everything is younger than the grace
    assert os.path.exists(os.path.join(table, "data", "vinflight-writer"))
    # with grace waived the unreferenced files go
    stats = vt.vacuum(table, keep_last=1, min_age_seconds=0)
    assert stats["files_deleted"] > 0
    assert vt.read(spark, table).count() == 5


def test_batch_id_guard_survives_vacuum(spark, table):
    for b in range(4):
        vt.commit_stream_batch(
            spark.range(b * 10, b * 10 + 10).selectExpr("id"), b, table
        )
    vt.vacuum(table, keep_last=1, min_age_seconds=0)
    # manifests 0..2 are gone, but the ledger still knows their batch ids
    assert vt.commit_stream_batch(spark.range(0, 10).selectExpr("id"), 0, table) is None
    assert vt.read(spark, table).count() == 40
