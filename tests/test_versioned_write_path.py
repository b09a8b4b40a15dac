"""The versioned table's single write path: every writer stages into a txn
dir and publishes through ``versioned._publish``. Pins the on-disk format
(manifest keys per mode, txn-dir and manifest naming) so tables written by
earlier releases stay readable, injects a publish failure into each writer
and a torn manifest write into the commit point, and checks the stats and
bloom policy for files a rewrite writes."""

from __future__ import annotations

import glob
import json
import os
import re

import pyarrow.parquet as pq
import pytest

from aws_flight_data_pipeline_spark.sources import invindex as ix
from aws_flight_data_pipeline_spark.sources import ivm
from aws_flight_data_pipeline_spark.sources import versioned as vt

_BASE_KEYS = {
    "version", "parent", "mode", "schema", "files", "n_files", "stats",
    "blooms", "committed_at",
}
_INDEX_KEYS = {"tombstones", "source_version", "index_n_docs", "index_sum_dl"}

#: manifest key set per ``mode``, as written by tables before the single
#: write path existed; a rollback carries the restored version's keys, so
#: rolling back to a version without tombstones records none
MANIFEST_KEYS = {
    "append": _BASE_KEYS,
    "overwrite": _BASE_KEYS,
    "merge": _BASE_KEYS | {"rows_updated", "rows_deleted", "rows_inserted"},
    "delete": _BASE_KEYS | {"rows_deleted"},
    "rollback": _BASE_KEYS | {"rolled_back_to"},
    "index-refresh": _BASE_KEYS | _INDEX_KEYS,
    "index-compact": _BASE_KEYS | _INDEX_KEYS,
    "cursor": _BASE_KEYS | {"source_version"},
}

_TXN_DIR = re.compile(r"^v(\d{9})-[0-9a-f]{12}(-post|-tomb)?$")


def _head(path):
    return vt._read_manifest(path, vt.latest_version(path))


def _rows(spark, path):
    return sorted(tuple(r) for r in vt.read(spark, path).collect())


def _base(spark, path, lo=0, hi=10):
    return vt.commit(
        spark.range(lo, hi).selectExpr("id", "id * 1000 AS ts", "'a' AS tag"),
        path,
        stats_cols=("id", "ts"),
        bloom_cols=("id",),
    )


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _churned_index(spark, tmp_path):
    """An index built over two docs whose source then saw one delete and
    one insert: the next refresh stages postings AND tombstones."""
    docs, idx = str(tmp_path / "docs"), str(tmp_path / "idx")
    vt.commit(_docs(spark, [(1, "alpha beta"), (2, "beta")]), docs, stats_cols=("doc_id",))
    ix.refresh_index(spark, docs, idx)
    vt.delete_where(spark, docs, {"doc_id": (1, 1)})
    vt.commit(_docs(spark, [(3, "gamma")]), docs)
    return docs, idx


def _fact(spark, rows):
    return spark.createDataFrame(rows, "id long, grp string, amount long")


def _netted_out_view(spark, tmp_path):
    """A rollup whose fact table moved but netted out to no change: the
    next refresh only stamps the cursor."""
    fact, roll = str(tmp_path / "fact"), str(tmp_path / "roll")
    vt.commit(_fact(spark, [(1, "a", 1)]), fact)
    ivm.refresh_view(spark, fact, roll, ("grp",), ("amount",))
    vt.commit(_fact(spark, [(2, "b", 2)]), fact, mode="append")
    vt.rollback(fact, 0)
    return fact, roll


def _setup_commit(spark, tmp_path):
    t = str(tmp_path / "t")
    _base(spark, t)
    return t, lambda: _base(spark, t, 10, 15), True


def _setup_merge(spark, tmp_path):
    t = str(tmp_path / "t")
    _base(spark, t)
    src = spark.range(5, 15).selectExpr("id", "id * 1000 AS ts", "'m' AS tag")
    return t, lambda: vt.merge_into(spark, t, src, on=("id",)), True


def _setup_delete(spark, tmp_path):
    t = str(tmp_path / "t")
    _base(spark, t)
    return t, lambda: vt.delete_where(spark, t, {"id": (0, 3)}), True


def _setup_rollback(spark, tmp_path):
    t = str(tmp_path / "t")
    _base(spark, t)
    _base(spark, t, 10, 15)
    return t, lambda: vt.rollback(t, 0), False


def _setup_refresh_index(spark, tmp_path):
    docs, idx = _churned_index(spark, tmp_path)
    return idx, lambda: ix.refresh_index(spark, docs, idx), True


def _setup_compact_index(spark, tmp_path):
    docs, idx = _churned_index(spark, tmp_path)
    ix.refresh_index(spark, docs, idx)
    return idx, lambda: ix.compact_index(spark, idx), True


def _setup_cursor_stamp(spark, tmp_path):
    fact, roll = _netted_out_view(spark, tmp_path)
    return roll, lambda: ivm.refresh_view(spark, fact, roll, ("grp",), ("amount",)), False


class _PublishFailed(RuntimeError):
    pass


def _failing_publish(path, version, manifest):
    raise _PublishFailed(f"injected failure publishing version {version}")


def _txn_dirs(path):
    return set(os.listdir(os.path.join(path, "data")))


def _referenced_dirs(m):
    return {f.split("/")[1] for f in m["files"] + m.get("tombstones", [])}


@pytest.mark.parametrize(
    "setup",
    [
        _setup_commit,
        _setup_merge,
        _setup_delete,
        _setup_rollback,
        _setup_refresh_index,
        _setup_compact_index,
        _setup_cursor_stamp,
    ],
    ids=lambda f: f.__name__[len("_setup_"):],
)
def test_failed_publish_leaves_table_unchanged(spark, tmp_path, monkeypatch, setup):
    path, write, stages = setup(spark, tmp_path)
    version, rows = vt.latest_version(path), _rows(spark, path)
    referenced = _referenced_dirs(_head(path))

    monkeypatch.setattr(vt, "_publish", _failing_publish)
    with pytest.raises(_PublishFailed):
        write()
    monkeypatch.undo()

    assert vt.latest_version(path) == version
    assert _rows(spark, path) == rows
    orphans = _txn_dirs(path) - _referenced_dirs(_head(path))
    if stages:
        assert orphans, "the writer staged nothing before publishing"
    vt.vacuum(path, keep_last=1, min_age_seconds=0)
    assert _txn_dirs(path) == referenced
    assert _rows(spark, path) == rows


def _assert_naming(path):
    commits = sorted(os.listdir(os.path.join(path, "_commits")))
    versions = [int(f[:-5]) for f in commits if re.fullmatch(r"\d{9}\.json", f)]
    assert versions == list(range(len(versions)))
    assert set(commits) - {f"{v:09d}.json" for v in versions} <= {"_head.json"}
    for d in _txn_dirs(path):
        assert _TXN_DIR.match(d), d
    earlier: set[str] = set()
    for v in versions:
        m = vt._read_manifest(path, v)
        data_added = set(m["files"]) - earlier
        # the dir glob a reader of the format uses to find a version's data
        globbed = {
            os.path.relpath(f, path)
            for f in glob.glob(os.path.join(path, "data", f"v{v:09d}-*", "*.parquet"))
        }
        assert data_added <= globbed
        earlier |= set(m["files"])


def test_manifest_format_per_mode(spark, tmp_path):
    t = str(tmp_path / "t")
    seen = {}

    _base(spark, t)
    seen["append"] = _head(t)
    vt.commit(
        spark.range(0, 20).selectExpr("id", "id * 1000 AS ts", "'a' AS tag"),
        t,
        mode="overwrite",
        stats_cols=("id", "ts"),
        bloom_cols=("id",),
    )
    seen["overwrite"] = _head(t)
    src = spark.range(5, 25).selectExpr("id", "id * 1000 AS ts", "'m' AS tag")
    vt.merge_into(spark, t, src, on=("id",))
    seen["merge"] = _head(t)
    vt.delete_where(spark, t, {"id": (0, 3)})
    seen["delete"] = _head(t)
    vt.rollback(t, 0)
    seen["rollback"] = _head(t)
    _assert_naming(t)

    docs, idx = _churned_index(spark, tmp_path)
    ix.refresh_index(spark, docs, idx)
    seen["index-refresh"] = _head(idx)
    ix.compact_index(spark, idx)
    seen["index-compact"] = _head(idx)
    assert any(d.endswith("-post") for d in _txn_dirs(idx))
    assert any(d.endswith("-tomb") for d in _txn_dirs(idx))
    _assert_naming(idx)

    fact, roll = _netted_out_view(spark, tmp_path)
    ivm.refresh_view(spark, fact, roll, ("grp",), ("amount",))
    seen["cursor"] = _head(roll)

    # a stream-state table: batch-stamped overwrites and a skipped replay
    state = str(tmp_path / "state")
    for b in range(3):
        if not vt._batch_committed(state, b):
            vt.commit(spark.range(b, b + 2), state, mode="overwrite", meta={"batch_id": b})
    assert vt.commit_stream_batch(spark.range(1), 1, state) is None
    assert [vt._read_manifest(state, v)["batch_id"] for v in vt._list_versions(state)] == [
        0,
        1,
        2,
    ]
    _assert_naming(state)

    for mode, m in seen.items():
        assert m["mode"] == mode
        assert set(m) == MANIFEST_KEYS[mode], mode
        assert m["n_files"] == len(m["files"])
        assert set(m["stats"]) <= set(m["files"]) and set(m["blooms"]) <= set(m["files"])
    # every non-empty data file of the plain table carries stats on the
    # stats columns (a zero-row file's footer has no min/max to record)
    for mode in ("append", "overwrite", "merge", "delete", "rollback"):
        m = seen[mode]
        for f in m["files"]:
            rows = pq.ParquetFile(os.path.join(t, f)).metadata.num_rows
            want = {"id", "ts"} if rows else set()
            assert set(m["stats"][f]) == want, (mode, f)
    assert seen["index-compact"]["tombstones"] == []
    assert len(seen["index-refresh"]["tombstones"]) == 1


def test_insert_only_merge_keeps_table_stats(spark, tmp_path):
    t = str(tmp_path / "t")
    vt.commit(spark.range(0, 10).selectExpr("id", "id AS ts"), t, stats_cols=("ts",))
    base_files = set(_head(t)["files"])
    src = spark.range(100, 110).selectExpr("id", "10000 + id AS ts")
    out = vt.merge_into(spark, t, src, on=("id",))
    assert out["rows_inserted"] == 10 and out["files_rewritten"] == 0

    m = _head(t)
    new_files = [f for f in m["files"] if f not in base_files]
    assert new_files
    for f in new_files:
        assert set(m["stats"][f]) == {"id", "ts"}
    # every base row has ts <= 9 and every inserted row ts >= 10100
    kept, skipped = vt.plan_files(t, where={"ts": (0, 9)})
    assert set(kept) == base_files and skipped == len(new_files)


def test_torn_manifest_write_publishes_nothing(spark, tmp_path, monkeypatch):
    t = str(tmp_path / "t")
    _base(spark, t)
    version, rows = vt.latest_version(t), _rows(spark, t)
    dump = json.dump

    def torn_dump(obj, fh, **kwargs):
        if "files" not in obj:
            return dump(obj, fh, **kwargs)
        text = json.dumps(obj, **kwargs)
        fh.write(text[: len(text) // 2])
        raise OSError("injected failure partway through the manifest write")

    monkeypatch.setattr(json, "dump", torn_dump)
    with pytest.raises(OSError, match="injected"):
        _base(spark, t, 10, 15)
    monkeypatch.undo()

    assert vt.latest_version(t) == version
    assert _rows(spark, t) == rows
    assert sorted(os.listdir(os.path.join(t, "_commits"))) == ["000000000.json", "_head.json"]
    assert _base(spark, t, 10, 15) == version + 1
    assert _rows(spark, t) == sorted(rows + [(i, i * 1000, "a") for i in range(10, 15)])


def test_merge_rewrite_keeps_blooms_for_point_lookups(spark, tmp_path):
    t = str(tmp_path / "t")
    schema = "id long, tag string"
    for ids in ((0, 10, 100), (50, 150)):
        vt.commit(
            spark.createDataFrame([(i, "a") for i in ids], schema).coalesce(1),
            t,
            stats_cols=("id",),
            bloom_cols=("id",),
        )
    before = set(_head(t)["files"])
    out = vt.merge_into(spark, t, spark.createDataFrame([(10, "m")], schema), on=("id",))
    assert out["files_rewritten"] == 1

    m = _head(t)
    assert set(m["blooms"]) == set(m["files"])
    # the survivors {0, 100} keep a [0, 100] range, so only the bloom can
    # tell a lookup of 50 that the rewritten file does not hold it
    rewritten = set(m["files"]) - before
    spanning = [f for f in rewritten if m["stats"][f]["id"][0] <= 50 <= m["stats"][f]["id"][1]]
    assert spanning
    kept, _ = vt.plan_files(t, where={"id": (50, 50)})
    assert not set(kept) & set(spanning)
    assert sorted(tuple(r) for r in vt.read(spark, t, where={"id": (50, 50)}).collect()) == [
        (50, "a")
    ]


def test_compaction_of_a_bloomless_index_stays_bloomless(spark, tmp_path):
    docs, idx = str(tmp_path / "docs"), str(tmp_path / "idx")
    vt.commit(_docs(spark, [(1, "alpha beta"), (2, "beta")]), docs, stats_cols=("doc_id",))
    ix.refresh_index(spark, docs, idx, bloom_cols=())
    vt.delete_where(spark, docs, {"doc_id": (1, 1)})
    ix.refresh_index(spark, docs, idx, bloom_cols=())
    assert ix.compact_index(spark, idx)["compacted"]
    m = _head(idx)
    assert m["blooms"] == {}
    assert set(m["stats"]) == set(m["files"])


def test_corrupt_head_manifest_is_named_and_older_versions_stay_readable(spark, tmp_path):
    t = str(tmp_path / "t")
    _base(spark, t)
    older = _rows(spark, t)
    _base(spark, t, 10, 15)
    head = vt.latest_version(t)
    mp = vt._manifest_path(t, head)
    with open(mp, "w") as fh:
        fh.write('{"version": 1, "files": [')
    commits = sorted(os.listdir(os.path.join(t, "_commits")))

    with pytest.raises(ValueError, match=re.escape(mp)):
        vt.read(spark, t)
    with pytest.raises(ValueError, match=re.escape(mp)):
        _base(spark, t, 15, 20)

    assert sorted(tuple(r) for r in vt.read(spark, t, version=head - 1).collect()) == older
    assert sorted(os.listdir(os.path.join(t, "_commits"))) == commits
