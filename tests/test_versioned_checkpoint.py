"""Cursor reads on a long versioned-table chain: the snapshot's cursor
keys (``batch_id``, ``source_version``, ``index_*``) ride every manifest,
so a ~1,000-commit streaming-style chain answers the stream replay guard,
the view cursor and the index state from the head manifest alone — one
manifest read, however many maintenance commits sit above the last stamp
— while time travel, vacuum and exactly-once semantics stay unchanged."""

from __future__ import annotations

import os

from aws_flight_data_pipeline_spark.sources import invindex as ix
from aws_flight_data_pipeline_spark.sources import ivm
from aws_flight_data_pipeline_spark.sources import versioned as vt

N_COMMITS = 1_000


def _stamps(v: int) -> dict:
    """The cursor keys a commit at version ``v`` sets: a stream batch
    every 50 commits, a view/index refresh every 70."""
    out = {}
    if v % 50 == 25:
        out["batch_id"] = v
    if v % 70 == 0:
        out.update(source_version=v, index_n_docs=v // 10, index_sum_dl=v)
    return out


def _grow_chain(spark, tmp_path, n=N_COMMITS):
    """One real data commit, then ``n`` metadata-only commits through the
    write path (``_publish_version``), stamped per :func:`_stamps` — the
    30-second-trigger streaming chain's shape without paying n Spark
    writes. The newest stamps (975 and 980 at the default ``n``) sit below
    the head, under maintenance commits that set no cursor."""
    path = str(tmp_path / "t")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id bigint, tag string")
    vt.commit(df, path, stats_cols=("id",))
    pm = vt._read_manifest(path, 0)
    for v in range(1, n + 1):
        vt._publish_version(path, pm, "stamp", keep=pm["files"], extra=_stamps(v))
        pm = vt._read_manifest(path, v)
    return path


def test_thousand_commit_chain_reads_are_bounded(spark, tmp_path, monkeypatch):
    path = _grow_chain(spark, tmp_path)
    # every manifest carries the newest stamp at or below it
    for v in (24, 25, 26, 974, 975, 976, N_COMMITS):
        m = vt._read_manifest(path, v)
        assert m.get("batch_id") == (None if v < 25 else (v - 25) // 50 * 50 + 25)
        assert m.get("source_version") == (None if v < 70 else v // 70 * 70)

    reads = {"n": 0}
    real = vt._read_manifest

    def counting(p, v):
        reads["n"] += 1
        return real(p, v)

    monkeypatch.setattr(vt, "_read_manifest", counting)

    # head resolution: the _head.json hint, zero manifest reads
    reads["n"] = 0
    assert vt.latest_version(path) == N_COMMITS
    assert reads["n"] == 0

    # replay guard: the head manifest alone, 25 maintenance commits above
    # the last stamp
    for batch_id, committed in ((975, True), (50, True), (976, False)):
        reads["n"] = 0
        assert vt._batch_committed(path, batch_id) is committed
        assert reads["n"] == 1

    # view cursor and index state: the head manifest alone
    reads["n"] = 0
    assert ivm._cursor(path) == 980
    assert reads["n"] == 1
    reads["n"] = 0
    assert ix.index_state(path) == {"cursor": 980, "n_docs": 98, "sum_dl": 980}
    assert reads["n"] == 1

    # change feed across the whole chain: exactly the two endpoint manifests
    reads["n"] = 0
    vt.changed_files(path, 0, N_COMMITS)
    assert reads["n"] == 2

    # _commits/ holds the manifests and the head hint, nothing else
    assert sorted(os.listdir(os.path.join(path, "_commits"))) == sorted(
        [f"{v:09d}.json" for v in range(N_COMMITS + 1)] + ["_head.json"]
    )


def test_exactly_once_and_time_travel_on_a_long_chain(spark, tmp_path):
    path = _grow_chain(spark, tmp_path, n=105)
    head = vt.latest_version(path)

    # exactly-once: a replay of an already-stamped batch is a no-op, also
    # from below the newest stamp (75) and under maintenance commits
    df = spark.createDataFrame([(9, "z")], "id bigint, tag string")
    assert vt.commit_stream_batch(df, 50, path) is None
    assert vt.commit_stream_batch(df, 75, path) is None
    assert vt.latest_version(path) == head

    # a NEW batch still commits and stamps
    v = vt.commit_stream_batch(df, 10_001, path)
    assert v == head + 1
    assert vt._batch_committed(path, 10_001)

    # time travel to v0 unchanged
    assert vt.read(spark, path, version=0).count() == 2

    # vacuum unchanged: retains the head, and every dropped stamp is still
    # answered by the retained head's high-water mark
    vt.vacuum(path, keep_last=2, min_age_seconds=0)
    assert vt.read(spark, path).count() == 3
    assert [vt._read_manifest(path, w)["batch_id"] for w in vt._list_versions(path)] == [
        75,
        10_001,
    ]
    assert vt._batch_committed(path, 50)
    assert vt.commit_stream_batch(df, 25, path) is None
