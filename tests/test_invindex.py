"""Incrementally-maintained inverted index (sources/invindex.py): postings
correctness under insert/delete churn, tombstone semantics, exactly-once
cursor behavior, compaction, and vacuum's tombstone awareness."""

from __future__ import annotations

import os

import pytest

from aws_flight_data_pipeline_spark.sources import invindex as ix
from aws_flight_data_pipeline_spark.sources import versioned as vt


@pytest.fixture()
def paths(tmp_path):
    return str(tmp_path / "docs"), str(tmp_path / "index")


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _bm25(spark, ipath, terms=("alpha",)):
    return {
        r["doc_id"]: r["score_e6"]
        for r in ix.bm25_topk_from_index(spark, ipath, terms, topk=100).collect()
    }


def test_full_build_then_insert_refresh(spark, paths):
    dpath, ipath = paths
    vt.commit(_docs(spark, [(1, "alpha beta"), (2, "alpha alpha")]), dpath)
    out = ix.refresh_index(spark, dpath, ipath)
    assert out["refreshed"] and out["from_version"] is None
    st = ix.index_state(ipath)
    assert st == {"cursor": 0, "n_docs": 2, "sum_dl": 4}

    vt.commit(_docs(spark, [(3, "beta gamma delta")]), dpath, mode="append")
    out = ix.refresh_index(spark, dpath, ipath)
    assert out["refreshed"] and out["from_version"] == 0
    st = ix.index_state(ipath)
    assert st == {"cursor": 1, "n_docs": 3, "sum_dl": 7}
    hits = _bm25(spark, ipath, ("beta",))
    assert set(hits) == {1, 3}


def test_refresh_is_idempotent_at_head(spark, paths):
    dpath, ipath = paths
    vt.commit(_docs(spark, [(1, "alpha")]), dpath)
    ix.refresh_index(spark, dpath, ipath)
    out = ix.refresh_index(spark, dpath, ipath)
    assert out["refreshed"] is False
    # postings not duplicated
    assert vt.read(spark, ipath).count() == 1


def test_delete_lands_as_tombstone_not_rewrite(spark, paths):
    dpath, ipath = paths
    vt.commit(
        _docs(spark, [(i, "alpha beta") for i in range(10)]),
        dpath,
        stats_cols=("doc_id",),
    )
    ix.refresh_index(spark, dpath, ipath)
    files_before = set(vt._read_manifest(ipath, vt.latest_version(ipath))["files"])
    vt.delete_where(spark, dpath, {"doc_id": (0, 4)})
    ix.refresh_index(spark, dpath, ipath)
    m = vt._read_manifest(ipath, vt.latest_version(ipath))
    # no posting file rewritten: delete is a tombstone side-file
    assert files_before <= set(m["files"])
    assert len(m.get("tombstones", [])) >= 1
    # queries see the deletion
    assert set(_bm25(spark, ipath)) == {5, 6, 7, 8, 9}
    # stats reflect the deletion exactly
    assert ix.index_state(ipath)["n_docs"] == 5


def test_update_is_delete_insert_and_composes(spark, paths):
    dpath, ipath = paths
    vt.commit(_docs(spark, [(1, "alpha alpha"), (2, "beta")]), dpath)
    ix.refresh_index(spark, dpath, ipath)
    # update doc 1: alpha disappears, gamma appears
    vt.merge_into(spark, dpath, _docs(spark, [(1, "gamma")]), on=("doc_id",))
    ix.refresh_index(spark, dpath, ipath)
    assert set(_bm25(spark, ipath, ("alpha",))) == set()
    assert set(_bm25(spark, ipath, ("gamma",))) == {1}
    st = ix.index_state(ipath)
    assert st["n_docs"] == 2 and st["sum_dl"] == 2  # 'gamma' + 'beta'


def test_compaction_folds_tombstones_and_keeps_cursor(spark, paths):
    dpath, ipath = paths
    vt.commit(
        _docs(spark, [(i, "alpha") for i in range(8)]), dpath, stats_cols=("doc_id",)
    )
    ix.refresh_index(spark, dpath, ipath)
    vt.delete_where(spark, dpath, {"doc_id": (0, 3)})
    ix.refresh_index(spark, dpath, ipath)
    before = _bm25(spark, ipath)
    st_before = ix.index_state(ipath)
    out = ix.compact_index(spark, ipath)
    assert out["compacted"] and out["tombstones_dropped"] >= 1
    m = vt._read_manifest(ipath, vt.latest_version(ipath))
    assert m.get("tombstones", []) == []
    # physically dropped: raw postings rows now equal the live set
    assert vt.read(spark, ipath).count() == 4
    assert _bm25(spark, ipath) == before
    assert ix.index_state(ipath) == st_before
    # compacting twice is a no-op
    assert ix.compact_index(spark, ipath)["compacted"] is False


def test_vacuum_spares_tombstone_files(spark, paths):
    dpath, ipath = paths
    vt.commit(
        _docs(spark, [(i, "alpha") for i in range(6)]), dpath, stats_cols=("doc_id",)
    )
    ix.refresh_index(spark, dpath, ipath)
    vt.delete_where(spark, dpath, {"doc_id": (0, 2)})
    ix.refresh_index(spark, dpath, ipath)
    m = vt._read_manifest(ipath, vt.latest_version(ipath))
    tomb = m["tombstones"][0]
    vt.vacuum(ipath, keep_last=1, min_age_seconds=0)
    assert os.path.exists(os.path.join(ipath, tomb))
    assert set(_bm25(spark, ipath)) == {3, 4, 5}


def test_generic_maintenance_preserves_tombstones(spark, paths):
    # 'tombstones' is a manifest key generic maintenance ops don't know
    # about: an OPTIMIZE on the index path rebuilds the manifest — it must
    # INHERIT the tombstone list (versioned._publish) or every tombstoned
    # document's postings silently resurrect
    dpath, ipath = paths
    vt.commit(
        _docs(spark, [(i, "alpha") for i in range(8)]), dpath, stats_cols=("doc_id",)
    )
    ix.refresh_index(spark, dpath, ipath)
    vt.delete_where(spark, dpath, {"doc_id": (0, 3)})
    ix.refresh_index(spark, dpath, ipath)
    assert set(_bm25(spark, ipath)) == {4, 5, 6, 7}

    vt.optimize(spark, ipath, cluster_by=("tok",), n_files=2, stats_cols=("tok",))
    m = vt._read_manifest(ipath, vt.latest_version(ipath))
    assert len(m.get("tombstones", [])) >= 1
    assert set(_bm25(spark, ipath)) == {4, 5, 6, 7}

    # rollback carries the target snapshot's mask (and an explicit empty
    # list when rolling back past the delete — not the head's non-empty one)
    v_pre_delete = 0  # initial index build
    vt.rollback(ipath, v_pre_delete)
    m = vt._read_manifest(ipath, vt.latest_version(ipath))
    assert m.get("tombstones", []) == []
    assert set(_bm25(spark, ipath)) == set(range(8))


def test_bm25_empty_terms_raises(spark, paths):
    dpath, ipath = paths
    vt.commit(_docs(spark, [(1, "alpha")]), dpath)
    ix.refresh_index(spark, dpath, ipath)
    with pytest.raises(ValueError, match="at least one term"):
        ix.bm25_topk_from_index(spark, ipath, ())


def test_term_reads_prune_posting_files(spark, paths):
    dpath, ipath = paths
    # two token ranges far apart -> clustered into different files
    rows = [(i, "aardvark apple") for i in range(50)] + [
        (100 + i, "zebra zoo") for i in range(50)
    ]
    vt.commit(_docs(spark, rows), dpath)
    ix.refresh_index(spark, dpath, ipath)
    v = vt.latest_version(ipath)
    kept_z, skipped_z = vt.plan_files(ipath, v, {"tok": ("zebra", "zebra")})
    assert skipped_z >= 1  # the aardvark/apple file(s) pruned by tok stats
    assert set(_bm25(spark, ipath, ("zebra",))) == {100 + i for i in range(50)}


def _index_with_delete(spark, dpath, ipath):
    """Eight docs indexed at docs v0, then docs 0-3 deleted and the index
    refreshed to docs v1 (one tombstone file)."""
    vt.commit(
        _docs(spark, [(i, "alpha") for i in range(8)]), dpath, stats_cols=("doc_id",)
    )
    ix.refresh_index(spark, dpath, ipath)
    vt.delete_where(spark, dpath, {"doc_id": (0, 3)})
    ix.refresh_index(spark, dpath, ipath)


def test_rollback_restores_index_state_and_refresh_catches_up(spark, paths):
    dpath, ipath = paths
    _index_with_delete(spark, dpath, ipath)
    assert ix.index_state(ipath) == {"cursor": 1, "n_docs": 4, "sum_dl": 4}
    vt.rollback(ipath, 0)
    assert ix.index_state(ipath) == {"cursor": 0, "n_docs": 8, "sum_dl": 8}
    out = ix.refresh_index(spark, dpath, ipath)
    assert out["refreshed"] and out["from_version"] == 0 and out["docs_removed"] == 4
    assert ix.index_state(ipath) == {"cursor": 1, "n_docs": 4, "sum_dl": 4}
    assert set(_bm25(spark, ipath)) == {4, 5, 6, 7}


def test_index_state_survives_optimize_and_vacuum(spark, paths):
    dpath, ipath = paths
    _index_with_delete(spark, dpath, ipath)
    state, before = ix.index_state(ipath), _bm25(spark, ipath)
    vt.optimize(spark, ipath, n_files=2)
    vt.vacuum(ipath, keep_last=1, min_age_seconds=0)
    assert ix.index_state(ipath) == state
    assert _bm25(spark, ipath) == before
