"""MERGE INTO (stats-scoped copy-on-write upsert), the net change-data-feed
reader, and the streaming CDC-apply sink on the versioned table."""

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


def _rows(df):
    return sorted((r["id"], r["tag"]) for r in df.collect())


def test_merge_upserts_and_accounts(spark, table):
    vt.commit(_df(spark, 0, 10, "a"), table)
    out = vt.merge_into(spark, table, _df(spark, 5, 15, "b"), on=("id",))
    assert out["rows_updated"] == 5 and out["rows_inserted"] == 5
    assert out["rows_deleted"] == 0 and out["version"] == 1
    got = _rows(vt.read(spark, table))
    assert got == [(i, "a") for i in range(5)] + [(i, "b") for i in range(5, 15)]
    # copy-on-write: the pre-merge snapshot is intact
    assert _rows(vt.read(spark, table, version=0)) == [(i, "a") for i in range(10)]


def test_merge_prunes_untouched_files_via_stats(spark, table):
    # two range-disjoint files with recorded id stats
    from pyspark.sql import functions as F

    clustered = (
        spark.range(0, 100)
        .selectExpr("id", "'a' AS tag")
        .repartitionByRange(2, F.col("id"))
        .sortWithinPartitions("id")
    )
    vt.commit(clustered, table, stats_cols=("id",))
    # keys 90..94 live entirely in the upper file
    out = vt.merge_into(spark, table, _df(spark, 90, 95, "b"), on=("id",))
    assert out["files_rewritten"] == 1 and out["files_carried"] == 1
    assert out["rows_updated"] == 5 and out["rows_inserted"] == 0
    assert vt.read(spark, table).where("tag = 'b'").count() == 5
    assert vt.read(spark, table).count() == 100


def test_merge_delete_mode(spark, table):
    vt.commit(_df(spark, 0, 10, "a"), table)
    out = vt.merge_into(
        spark, table, _df(spark, 7, 20, "x"), on=("id",),
        when_matched="delete", when_not_matched="ignore",
    )
    assert out["rows_deleted"] == 3 and out["rows_inserted"] == 0
    assert _rows(vt.read(spark, table)) == [(i, "a") for i in range(7)]


def test_merge_insert_if_absent(spark, table):
    vt.commit(_df(spark, 0, 10, "a"), table)
    out = vt.merge_into(
        spark, table, _df(spark, 5, 12, "b"), on=("id",),
        when_matched="ignore", when_not_matched="insert",
    )
    assert out["rows_updated"] == 0 and out["rows_inserted"] == 2
    got = _rows(vt.read(spark, table))
    assert got == [(i, "a") for i in range(10)] + [(10, "b"), (11, "b")]


def test_merge_noop_publishes_nothing(spark, table):
    vt.commit(_df(spark, 0, 10, "a"), table)
    n_files = vt._read_manifest(table, 0)["n_files"]
    out = vt.merge_into(
        spark, table, _df(spark, 50, 55, "b"), on=("id",),
        when_matched="update", when_not_matched="ignore",
    )
    assert out == {
        "version": 0, "files_rewritten": 0, "files_carried": n_files,
        "rows_updated": 0, "rows_deleted": 0, "rows_inserted": 0,
    }
    assert vt.latest_version(table) == 0


def test_merge_into_empty_table_inserts_everything(spark, table):
    out = vt.merge_into(spark, table, _df(spark, 0, 7, "a"), on=("id",))
    assert out["rows_inserted"] == 7 and out["version"] == 0
    assert vt.read(spark, table).count() == 7


def test_merge_source_only_columns_evolve_additively(spark, table):
    vt.commit(_df(spark, 0, 6, "a"), table)
    src = spark.range(4, 8).selectExpr("id", "'b' AS tag", "id * 10 AS extra")
    vt.merge_into(spark, table, src, on=("id",))
    got = vt.read(spark, table)
    assert got.count() == 8
    # carried-forward target rows read the evolved column as NULL
    assert got.where("extra IS NULL").count() == 4
    assert got.where("extra = 70").count() == 1


def test_merge_null_key_inserts(spark, table):
    vt.commit(_df(spark, 0, 3, "a"), table)
    src = spark.sql("SELECT CAST(NULL AS BIGINT) AS id, 'n' AS tag")
    out = vt.merge_into(spark, table, src, on=("id",))
    assert out["rows_updated"] == 0 and out["rows_inserted"] == 1
    assert vt.read(spark, table).where("id IS NULL").count() == 1


def test_table_changes_append_is_inserts_only(spark, table):
    vt.commit(_df(spark, 0, 5, "a"), table)
    vt.commit(_df(spark, 5, 8, "b"), table, mode="append")
    ch = vt.table_changes(spark, table, 0, 1)
    got = sorted((r["id"], r["tag"], r["_change_type"]) for r in ch.collect())
    assert got == [(5, "b", "insert"), (6, "b", "insert"), (7, "b", "insert")]


def test_table_changes_update_is_delete_insert_pair(spark, table):
    vt.commit(_df(spark, 0, 5, "a"), table)
    vt.merge_into(spark, table, _df(spark, 3, 5, "b"), on=("id",))
    ch = vt.table_changes(spark, table, 0, 1)
    got = sorted((r["id"], r["tag"], r["_change_type"]) for r in ch.collect())
    assert got == [
        (3, "a", "delete"), (3, "b", "insert"),
        (4, "a", "delete"), (4, "b", "insert"),
    ]


def test_table_changes_scans_only_churned_files(spark, table):
    from pyspark.sql import functions as F

    clustered = (
        spark.range(0, 100)
        .selectExpr("id", "'a' AS tag")
        .repartitionByRange(4, F.col("id"))
        .sortWithinPartitions("id")
    )
    vt.commit(clustered, table, stats_cols=("id",))
    vt.delete_where(spark, table, {"id": (95, 97)})
    added, removed = vt.changed_files(table, 0, 1)
    # only the one file containing 95..97 churned; 3 of 4 files carried
    assert len(removed) == 1 and len(added) == 1
    got = sorted((r["id"], r["_change_type"]) for r in vt.table_changes(spark, table, 0).collect())
    assert got == [(95, "delete"), (96, "delete"), (97, "delete")]


def test_table_changes_net_diff_across_span(spark, table):
    vt.commit(_df(spark, 0, 5, "a"), table)
    vt.commit(_df(spark, 5, 6, "b"), table, mode="append")       # v1: +5
    vt.delete_where(spark, table, {"id": (5, 5)})                # v2: -5
    ch = vt.table_changes(spark, table, 0, 2)
    assert ch.count() == 0  # inserted then deleted: nets out
    same = vt.table_changes(spark, table, 0, 0)
    assert same.count() == 0 and "_change_type" in same.columns


@pytest.mark.slow
def test_streaming_upsert_sink_converges_with_seq_ordering(spark, tmp_path):
    import datetime as dt

    table = str(tmp_path / "tbl")
    src = str(tmp_path / "incoming")
    base = dt.datetime(2024, 1, 1)
    # batch 1: key 1 v1, key 2 v1 — batch 2: key 1 v3 then v2 (same batch,
    # out of order: max seq_col must win), key 3 v1
    b1 = [(1, "k1-v1", base), (2, "k2-v1", base)]
    b2 = [
        (1, "k1-v3", base + dt.timedelta(seconds=30)),
        (1, "k1-v2", base + dt.timedelta(seconds=20)),
        (3, "k3-v1", base + dt.timedelta(seconds=5)),
    ]
    for ch in (b1, b2):
        spark.createDataFrame(ch, "id long, payload string, ts timestamp").coalesce(
            1
        ).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("id long, payload string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = vt.streaming_upsert_sink(
        stream, table, str(tmp_path / "ckpt"), on=("id",), seq_col="ts"
    )
    drain(q, 180)
    got = sorted((r["id"], r["payload"]) for r in vt.read(spark, table).collect())
    assert got == [(1, "k1-v3"), (2, "k2-v1"), (3, "k3-v1")]
    # replayed batch ids are skipped (the head's stamp survives vacuum)
    vt.vacuum(table, keep_last=1, min_age_seconds=0)
    assert vt._batch_committed(table, 0) and vt._batch_committed(table, 1)
