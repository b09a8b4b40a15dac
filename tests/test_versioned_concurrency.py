"""Round-7 versioned-table hardening: O(1) head resolution on long commit
chains, retry-with-rebase for racing writers, bloom-scoped MERGE target
pruning, the enforced MERGE source-uniqueness precondition, the bounded
newest-first batch-ledger walk, and the vacuum leftover/guard fixes."""

from __future__ import annotations

import json
import os
import threading

import pytest

from aws_flight_data_pipeline_spark.sources import versioned as vt


@pytest.fixture()
def table(tmp_path):
    return str(tmp_path / "tbl")


def _df(spark, lo, hi, tag):
    return spark.range(lo, hi).selectExpr("id", f"'{tag}' AS tag")


# ---------------------------------------------------------------- head hint


def test_long_chain_reads_touch_bounded_manifests(spark, table, monkeypatch):
    # a 100-version chain (a streaming sink's afternoon): one real 100-row
    # commit, then 99 metadata-only commits through the write path;
    # resolving the head and reading the table must NOT list or parse the
    # whole chain
    vt.commit(spark.range(0, 100).selectExpr("id", "'x' AS tag"), table)
    pm = vt._read_manifest(table, 0)
    for v in range(1, 100):
        vt._publish_version(table, pm, "append", keep=pm["files"])
        pm = vt._read_manifest(table, v)
    reads = []
    real = vt._read_manifest

    def counting(path, version):
        reads.append(version)
        return real(path, version)

    monkeypatch.setattr(vt, "_read_manifest", counting)
    listings = []
    real_list = vt._list_versions

    def counting_list(path):
        listings.append(path)
        return real_list(path)

    monkeypatch.setattr(vt, "_list_versions", counting_list)

    assert vt.latest_version(table) == 99
    assert vt.read(spark, table).count() == 100
    assert len(reads) <= 2  # the head manifest (+1 plan_files re-read)
    assert listings == []  # the hint made the directory listing unnecessary


def test_head_hint_survives_staleness_and_deletion(spark, table):
    vt.commit(_df(spark, 0, 5, "a"), table)
    vt.commit(_df(spark, 5, 8, "b"), table, mode="append")
    # stale hint (writer crashed before updating it): probe-forward repairs
    with open(vt._head_path(table), "w") as fh:
        json.dump({"version": 0}, fh)
    assert vt.latest_version(table) == 1
    # deleted hint: fall back to listing
    os.remove(vt._head_path(table))
    assert vt.latest_version(table) == 1
    # corrupt hint: fall back to listing
    with open(vt._head_path(table), "w") as fh:
        fh.write("not json")
    assert vt.latest_version(table) == 1
    # well-formed JSON of the wrong shape: fall back to listing too
    for garbage in ([], {"version": None}, "5"):
        with open(vt._head_path(table), "w") as fh:
            json.dump(garbage, fh)
        assert vt.latest_version(table) == 1
        assert vt.read(spark, table).count() == 8


# ------------------------------------------------------- retry-with-rebase


def test_two_racing_appends_both_land_with_retry(spark, table):
    vt.commit(_df(spark, 0, 5, "base"), table)
    errors = []
    barrier = threading.Barrier(2)

    def writer(lo, hi, tag):
        try:
            barrier.wait(timeout=30)
            vt.commit(_df(spark, lo, hi, tag), table, mode="append", retries=5)
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    t1 = threading.Thread(target=writer, args=(10, 15, "w1"))
    t2 = threading.Thread(target=writer, args=(20, 25, "w2"))
    t1.start(), t2.start()
    t1.join(60), t2.join(60)
    assert errors == []
    assert vt.latest_version(table) == 2
    got = vt.read(spark, table)
    assert got.count() == 15
    assert got.where("tag = 'w1'").count() == 5
    assert got.where("tag = 'w2'").count() == 5


def test_losing_merge_retries_against_new_head(spark, table):
    vt.commit(_df(spark, 0, 10, "a"), table)
    # steal version 1 right before the merge publishes, once
    real_publish = vt._publish
    stolen = {"done": False}

    def stealing(path, version, manifest):
        if not stolen["done"]:
            stolen["done"] = True
            m0 = vt._read_manifest(path, 0)
            real_publish(
                path,
                version,
                {**m0, "version": version, "parent": 0, "committed_at": 0},
            )
        return real_publish(path, version, manifest)

    vt._publish = stealing
    try:
        out = vt.merge_into(
            spark, table, _df(spark, 5, 12, "m"), on=("id",), retries=3
        )
    finally:
        vt._publish = real_publish
    assert out["version"] == 2  # rebased on top of the thief
    got = vt.read(spark, table)
    assert got.where("tag = 'm'").count() == 7
    assert got.count() == 12


def test_no_retry_still_raises_conflict(spark, table):
    vt.commit(_df(spark, 0, 5, "a"), table)
    real_publish = vt._publish

    def always_stolen(path, version, manifest):
        m0 = vt._read_manifest(path, 0)
        try:
            real_publish(path, version, {**m0, "version": version, "parent": 0})
        except vt.CommitConflict:
            pass
        return real_publish(path, version, manifest)

    vt._publish = always_stolen
    try:
        with pytest.raises(vt.CommitConflict):
            vt.commit(_df(spark, 5, 8, "b"), table, mode="append", retries=0)
    finally:
        vt._publish = real_publish


# ------------------------------------------------------- merge x bloom


def test_trickle_merge_rewrites_only_bloom_hit_files(spark, table):
    # interleaved key domain: id % 4 decides the file, so EVERY file's
    # [min, max] spans the whole domain and range pruning keeps all four
    from pyspark.sql import functions as F

    base = (
        spark.range(0, 400)
        .selectExpr("id", "'a' AS tag")
        .repartition(4, F.col("id") % 4)
    )
    vt.commit(base, table, stats_cols=("id",), bloom_cols=("id",))
    m = vt._read_manifest(table, 0)
    n_files = m["n_files"]
    assert n_files >= 3 and len(m.get("blooms", {})) == n_files
    # 3 trickle keys, all congruent mod 4 -> they live in ONE file (hash
    # partitioning co-locates equal residues regardless of file count)
    src = spark.createDataFrame(
        [(8, "m"), (12, "m"), (16, "m")], "id long, tag string"
    )
    out = vt.merge_into(spark, table, src, on=("id",))
    assert out["rows_updated"] == 3 and out["rows_inserted"] == 0
    # range pruning alone keeps every file (all span the domain); the
    # bloom probe narrows the rewrite to the single co-resident file
    assert out["files_rewritten"] == 1
    assert out["files_carried"] == n_files - 1
    got = vt.read(spark, table)
    assert got.where("tag = 'm'").count() == 3
    assert got.count() == 400


def test_bloom_prune_never_loses_matches(spark, table):
    from pyspark.sql import functions as F

    base = (
        spark.range(0, 200)
        .selectExpr("id", "'a' AS tag")
        .repartition(4, F.col("id") % 4)
    )
    vt.commit(base, table, stats_cols=("id",), bloom_cols=("id",))
    # keys spread across every residue class: all files legitimately hit
    src = spark.createDataFrame(
        [(5, "m"), (6, "m"), (7, "m"), (8, "m")], "id long, tag string"
    )
    out = vt.merge_into(spark, table, src, on=("id",))
    assert out["rows_updated"] == 4
    assert vt.read(spark, table).where("tag = 'm'").count() == 4


# ------------------------------------------------- source uniqueness guard


def test_merge_raises_on_duplicate_source_keys(spark, table):
    vt.commit(_df(spark, 0, 10, "a"), table)
    dup = spark.createDataFrame([(3, "x"), (3, "y")], "id long, tag string")
    with pytest.raises(ValueError, match="more than one row per key"):
        vt.merge_into(spark, table, dup, on=("id",))
    # table untouched
    assert vt.latest_version(table) == 0


def test_merge_allows_duplicate_null_keys(spark, table):
    vt.commit(_df(spark, 0, 3, "a"), table)
    src = spark.createDataFrame(
        [(None, "n1"), (None, "n2")], "id long, tag string"
    )
    out = vt.merge_into(spark, table, src, on=("id",))
    assert out["rows_inserted"] == 2
    assert vt.read(spark, table).where("id IS NULL").count() == 2


# ---------------------------------------------- batch stamp inheritance


def test_batch_stamp_hidden_behind_maintenance_commits(spark, table):
    # a streaming commit publishes its stamped manifest, then maintenance
    # commits pile on before restart: replay detection must still see the
    # stamped batch
    vt.commit(_df(spark, 0, 10, "a"), table, meta={"batch_id": 7})
    vt.commit(_df(spark, 10, 12, "b"), table, mode="append")  # maintenance
    vt.commit(_df(spark, 12, 14, "c"), table, mode="append")  # maintenance
    assert [vt._read_manifest(table, v)["batch_id"] for v in vt._list_versions(table)] == [7, 7, 7]
    assert vt._batch_committed(table, 7)


# --------------------------------------------------------- vacuum hardening


def test_vacuum_keep_last_zero_is_rejected(spark, table):
    vt.commit(_df(spark, 0, 5, "a"), table)
    with pytest.raises(ValueError, match="keep_last"):
        vt.vacuum(table, keep_last=0)
    assert vt.latest_version(table) == 0  # untouched


def test_vacuum_reaps_crashed_temporary_dirs(spark, table):
    vt.commit(_df(spark, 0, 5, "a"), table)
    vt.commit(_df(spark, 5, 8, "b"), table, mode="overwrite")
    # a crashed write: txn dir holding only a _temporary/ subtree
    crashed = os.path.join(table, "data", "vcrashed-txn")
    os.makedirs(os.path.join(crashed, "_temporary", "0"))
    with open(os.path.join(crashed, "_temporary", "0", "part"), "w") as fh:
        fh.write("junk")
    old = (0, 0)
    os.utime(crashed, old)
    for root, dirs, files in os.walk(crashed):
        for n in dirs + files:
            os.utime(os.path.join(root, n), old)
    stats = vt.vacuum(table, keep_last=1, min_age_seconds=60)
    assert not os.path.exists(crashed)
    assert stats["versions_dropped"] == 1


def test_vacuum_grace_spares_young_leftovers(spark, table):
    vt.commit(_df(spark, 0, 5, "a"), table)
    crashed = os.path.join(table, "data", "vinflight-txn")
    os.makedirs(os.path.join(crashed, "_temporary"))
    vt.vacuum(table, keep_last=1, min_age_seconds=600)
    # fresh in-flight write: must survive the sweep
    assert os.path.exists(crashed)
