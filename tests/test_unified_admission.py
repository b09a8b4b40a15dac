"""Unified streaming admission gate (streams.streaming_unified_admission_gate):
quality funnel + decontamination + learning near-dup election composed into
ONE pass per micro-batch, one batch-stamped commit per output table.

Pinned over a mixed fixture (clean + low-quality + contaminated + intra- and
cross-batch duplicates): the DECISION columns (passed_quality, contamination
attribution, admitted, reject_stage) are micro-batch-boundary invariant —
stream over N batches equals unified_admission_decisions over the same docs
in one pass against the base index. The dedup MECHANISM flags legitimately differ by boundary (a
cross-batch dup shows is_exact=true vs the learned state; the same pair in
one batch shows intra_batch_dup=true), which is why they are separate
columns from the decision.

Also pinned: the learned state rejects a cross-batch near-duplicate, a
crash after any of the three commits replays to the uninterrupted tables,
and vacuum keeps the state's per-batch deltas."""

from __future__ import annotations

import pytest

import os
import time

from aws_flight_data_pipeline_spark.plans.curation_queries import shingle_tokenizer
from aws_flight_data_pipeline_spark.sources import invindex as ix
from aws_flight_data_pipeline_spark.sources import versioned as vt
from aws_flight_data_pipeline_spark.streaming.streams import (
    corpus_admission_index,
    streaming_unified_admission_gate,
    unified_admission_decisions,
)
from tests.conftest import drain, persisted_rdd_ids, stream_documents

SCHEMA = "doc_id long, text string, source string, lang string"


def _qdoc(seed: str) -> str:
    """A document that PASSES every quality rule: 30 words ('the a' + 28
    distinct 5-char words), avg word length in [4,6], all 2-grams distinct."""
    assert len(seed) == 3
    return " ".join(["the", "a"] + [f"{seed}{j:02d}" for j in range(28)])


EVAL_TEXT = _qdoc("evl")
C1, C2 = _qdoc("cl1"), _qdoc("cl2")
# C1 with its last word changed: shingle Jaccard 27/29, and both LSH bands
# collide with C1's (checked once out-of-band; the hash family is fixed)
C1_NEAR = C1.rsplit(" ", 1)[0] + " cl1zz"

# batch 1: clean, contaminated (quality-passing eval copy), low-quality,
# intra-batch exact dup of doc 1.  batch 2: cross-batch exact dup of doc 1,
# a second clean doc, contaminated again, cross-batch near-dup of doc 1.
B1 = [
    (1, C1, "inc", "en"),
    (2, EVAL_TEXT, "inc", "en"),
    (3, "tiny low quality", "inc", "en"),
    (4, C1, "inc", "en"),
]
B2 = [
    (5, C1, "inc", "en"),
    (6, C2, "inc", "en"),
    (7, EVAL_TEXT, "inc", "en"),
    (8, C1_NEAR, "inc", "en"),
]

EXPECT = {
    1: (True, None, True, None),
    2: (True, 900, False, "contaminated"),
    3: (False, None, False, "quality"),
    4: (True, None, False, "duplicate"),
    5: (True, None, False, "duplicate"),
    6: (True, None, True, None),
    7: (True, 900, False, "contaminated"),
    8: (True, None, False, "duplicate"),
}


def _eval_index(spark, tmp_path) -> str:
    dpath, ipath = str(tmp_path / "eval"), str(tmp_path / "eidx")
    ev = spark.createDataFrame([(900, EVAL_TEXT)], "doc_id long, text string")
    vt.commit(ev, dpath, stats_cols=("doc_id",))
    ix.refresh_index(spark, dpath, ipath, tokenizer=shingle_tokenizer)
    return ipath


def _base_index(spark):
    corpus = spark.createDataFrame(
        [(800 + i, f"background block {i} " * 5, "base") for i in range(3)],
        "doc_id long, text string, source string",
    )
    return corpus_admission_index(corpus)


def _stamps(path: str) -> list[int]:
    """The batch stamp of each retained version of a table."""
    return [vt._read_manifest(path, v)["batch_id"] for v in vt._list_versions(path)]


def _write_batches(spark, src: str):
    for rows in (B1, B2):
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        time.sleep(0.05)
    files = sorted(
        (os.path.getmtime(f"{src}/{f}"), f"{src}/{f}")
        for f in os.listdir(src)
        if f.endswith(".parquet")
    )
    now = time.time()
    for i, (_, path) in enumerate(files):
        os.utime(path, (now + i * 30, now + i * 30))


def _decision_key(r) -> tuple:
    return (
        r["passed_quality"],
        r["contaminating_eval_id"],
        r["admitted"],
        r["reject_stage"],
    )


@pytest.mark.slow
def test_unified_gate_stream_equals_batch_one_commit_per_table(spark, tmp_path):
    ipath = _eval_index(spark, tmp_path)
    fp_index, band_buckets = _base_index(spark)
    src = str(tmp_path / "incoming")
    corpus = str(tmp_path / "corpus")
    decisions = str(tmp_path / "decisions")
    state = str(tmp_path / "state")
    _write_batches(spark, src)

    q = streaming_unified_admission_gate(
        stream_documents(spark, src, max_files_per_trigger=1),
        ipath,
        fp_index,
        band_buckets,
        state,
        str(tmp_path / "ckpt"),
        corpus,
        decisions,
    )
    drain(q, 180)

    dec = {r["doc_id"]: r for r in vt.read(spark, decisions).collect()}
    assert set(dec) == set(EXPECT)
    for doc_id, want in EXPECT.items():
        assert _decision_key(dec[doc_id]) == want, (doc_id, dec[doc_id])
    # contamination carries attribution at full exact-ppm Jaccard
    assert dec[2]["jac_ppm"] == 1_000_000 and dec[7]["jac_ppm"] == 1_000_000
    # the cross-batch dups were caught by the LEARNED state (an exact
    # match, and a near match through a shared band), the intra-batch dup
    # by the same-batch election
    assert dec[5]["is_exact"] and not dec[5]["intra_batch_dup"]
    assert dec[8]["is_near"] and not dec[8]["is_exact"]
    assert not dec[8]["intra_batch_dup"]
    assert dec[4]["intra_batch_dup"] and not dec[4]["is_exact"]

    got_corpus = {r["doc_id"] for r in vt.read(spark, corpus).collect()}
    assert got_corpus == {1, 6}
    # the state deltas hold exactly the admitted docs' index rows
    assert {r["doc_id"] for r in vt.read(spark, state).collect()} == {1, 6}

    # exactly ONE batch-stamped commit per table per non-empty micro-batch
    assert _stamps(corpus) == [0, 1]
    assert _stamps(decisions) == [0, 1]
    # and a replay of an already-committed batch is a no-op on both tables
    replay = spark.createDataFrame(B1, SCHEMA)
    head_c, head_d = vt.latest_version(corpus), vt.latest_version(decisions)
    assert vt.commit_stream_batch(replay, 0, corpus) is None
    assert vt.commit_stream_batch(replay, 0, decisions) is None
    assert vt.latest_version(corpus) == head_c
    assert vt.latest_version(decisions) == head_d

    # stream == batch: the whole fixture as ONE batch against the base
    # index produces identical decision columns for every document
    all_docs = spark.createDataFrame(B1 + B2, SCHEMA)
    batch_rows = unified_admission_decisions(
        spark, all_docs, ipath, fp_index, band_buckets
    ).collect()
    batch_dec = {r["doc_id"]: _decision_key(r) for r in batch_rows}
    assert batch_dec == {d: _decision_key(dec[d]) for d in dec}
    # in one batch every later copy of C1, exact or near, loses the
    # keep-first election to doc 1
    elected = {r["doc_id"] for r in batch_rows if r["intra_batch_dup"]}
    assert elected == {4, 5, 8}


def _table_rows(spark, path) -> list[tuple]:
    return sorted(map(tuple, vt.read(spark, path).collect()))


def _run_gate(spark, root, ipath: str) -> dict:
    """The fixture's two batches through the unified gate under ``root``
    (rerunning restarts from the checkpoint); returns the table paths."""
    paths = {t: str(root / t) for t in ("corpus", "decisions", "state")}
    fp_index, band_buckets = _base_index(spark)
    q = streaming_unified_admission_gate(
        stream_documents(spark, str(root / "incoming"), max_files_per_trigger=1),
        ipath,
        fp_index,
        band_buckets,
        paths["state"],
        str(root / "ckpt"),
        paths["corpus"],
        paths["decisions"],
    )
    drain(q, 180)
    return paths


@pytest.fixture(scope="module")
def uninterrupted_gate(spark, tmp_path_factory) -> tuple[str, dict]:
    """The eval index path, and the rows of the three tables after an
    uninterrupted two-batch run against it."""
    root = tmp_path_factory.mktemp("uninterrupted")
    ipath = _eval_index(spark, root)
    _write_batches(spark, str(root / "incoming"))
    paths = _run_gate(spark, root, ipath)
    return ipath, {t: _table_rows(spark, p) for t, p in paths.items()}


@pytest.mark.parametrize("crash_after", ["decisions", "corpus", "state"])
def test_unified_gate_restart_after_crash_between_commits(
    spark, tmp_path, monkeypatch, uninterrupted_gate, crash_after
):
    """Batch 1 crashes right after its ``crash_after`` commit, before the
    offset commit (and, unless ``crash_after`` is the state, before the
    state delta). The restart replays batch 1: a batch whose state landed
    is skipped whole, otherwise it reruns against the same state head,
    skips the commits that landed and lands the rest. Either way
    decisions, corpus and state equal the uninterrupted run."""
    ipath, want = uninterrupted_gate
    _write_batches(spark, str(tmp_path / "incoming"))
    crash_path = str(tmp_path / crash_after)
    commit = vt.commit_stream_batch

    def crashing_commit(df, batch_id, path, *args, **kwargs):
        version = commit(df, batch_id, path, *args, **kwargs)
        if batch_id == 1 and path == crash_path:
            raise RuntimeError(f"injected crash after the {crash_after} commit")
        return version

    monkeypatch.setattr(vt, "commit_stream_batch", crashing_commit)
    with pytest.raises(Exception, match="injected crash"):
        _run_gate(spark, tmp_path, ipath)
    monkeypatch.undo()
    assert _stamps(crash_path) == [0, 1]
    state_landed = crash_after == "state"
    assert _stamps(str(tmp_path / "state")) == ([0, 1] if state_landed else [0])
    assert not os.path.exists(tmp_path / "ckpt" / "commits" / "1")

    paths = _run_gate(spark, tmp_path, ipath)
    assert os.path.exists(tmp_path / "ckpt" / "commits" / "1")
    for t, p in paths.items():
        assert _stamps(p) == [0, 1], t
        assert _table_rows(spark, p) == want[t], t


def test_vacuum_keeps_admission_delta_state_reads_identical(
    spark, tmp_path, uninterrupted_gate
):
    """The gate's state is an append table of per-batch DELTAS. Vacuum
    retention drops old manifests, but the head manifest lists every live
    delta file, so no delta is deleted and the folded state reads the
    same."""
    ipath, want = uninterrupted_gate
    _write_batches(spark, str(tmp_path / "incoming"))
    state = _run_gate(spark, tmp_path, ipath)["state"]

    stats = vt.vacuum(state, keep_last=1, min_age_seconds=0)
    assert stats == {"versions_dropped": 1, "files_deleted": 0}
    assert _table_rows(spark, state) == want["state"]
    assert _stamps(state) == [1]
    assert vt._batch_committed(state, 0)


@pytest.mark.slow
def test_unified_gate_soak_bounded_state_flat_latency(spark, tmp_path):
    """Verdict-r10 #7: a 50-micro-batch soak over the unified gate. The
    per-batch release_tracked() discipline only holds if the CURVE is
    flat — bounded cached blocks, bounded temp-view catalog, and
    per-batch latency that does not grow with batch count (the state
    fold reads all prior deltas, but as ONE multi-path scan whose
    per-delta cost is a tiny file, so steady state must stay flat).

    Runs in its OWN pytest child process (fresh JVM): it measures a
    latency CURVE and asserts absolute cache/catalog state, both of
    which the end of a 30-minute shared suite session distorts
    (thousands of accumulated stages slow the tail decile; another
    test's in-flight caches are not this gate's leak) — the same
    isolation rationale as bench_scaling's per-query subprocesses."""
    import subprocess
    import sys

    if os.environ.get("AFDP_SOAK_CHILD") != "1":
        proc = subprocess.run(
            [
                sys.executable,
                "-m",
                "pytest",
                "-q",
                "-x",
                # the child must override pytest.ini's default
                # `-m "not slow"` lane filter, or it deselects the very
                # test it was spawned to run (exit 5, zero collected)
                "-m",
                "slow or not slow",
                f"{__file__}::test_unified_gate_soak_bounded_state_flat_latency",
            ],
            env={**os.environ, "AFDP_SOAK_CHILD": "1"},
            capture_output=True,
            text=True,
            timeout=1500,
            cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        )
        assert proc.returncode == 0, (proc.stdout or "")[-3000:] + (
            proc.stderr or ""
        )[-1500:]
        return

    ipath = _eval_index(spark, tmp_path)
    fp_index, band_buckets = _base_index(spark)
    src = str(tmp_path / "incoming")
    os.makedirs(src)

    # 50 single-file drops, 2 docs each: one unique clean doc (admitted,
    # so the learned state GROWS every batch — the leak-prone path) and
    # one rotating role: every 5th batch replays batch 0's doc (rejected
    # by the learned state), otherwise another unique clean doc.
    now = time.time()
    for b in range(50):
        second = (
            (10_000, _qdoc("s00"), "inc", "en")
            if b % 5 == 4
            else (20_000 + b, _qdoc(f"u{b:02d}"), "inc", "en")
        )
        rows = [(10_000 + b, _qdoc(f"s{b:02d}"), "inc", "en"), second]
        path = f"{src}/b{b:03d}.parquet"
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(path + ".tmp")
        os.rename(
            next(
                f"{path}.tmp/{f}"
                for f in os.listdir(path + ".tmp")
                if f.endswith(".parquet")
            ),
            path,
        )
        os.utime(path, (now + b * 30, now + b * 30))
    import shutil

    for b in range(50):
        shutil.rmtree(f"{src}/b{b:03d}.parquet.tmp", ignore_errors=True)

    views_before = len(spark.catalog.listTables())
    persisted = persisted_rdd_ids(spark)
    # tiny per-batch data, 50 batches: 32-way shuffles would be pure
    # scheduling overhead x thousands of stages — 4 is still plural
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        q = streaming_unified_admission_gate(
            stream_documents(spark, src, max_files_per_trigger=1),
            ipath,
            fp_index,
            band_buckets,
            str(tmp_path / "state"),
            str(tmp_path / "ckpt"),
            str(tmp_path / "corpus"),
            str(tmp_path / "decisions"),
        )
        drain(q, 600)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", "32")

    progress = [
        p
        for p in (q.recentProgress or [])
        if p and p["numInputRows"] > 0
    ]
    assert len(progress) >= 45  # 50 file-drops, allow trigger coalescing

    # 100 decision rows (2 per batch); the ten batch-0 replays were
    # rejected by the LEARNED state (is_exact via the folded deltas),
    # the original was admitted once
    rows = vt.read(spark, str(tmp_path / "decisions")).collect()
    assert len(rows) == 100
    replicas = [r for r in rows if r["doc_id"] == 10_000]
    dups = [r for r in rows if r["reject_stage"] == "duplicate"]
    assert len(dups) == 10 and all(r["is_exact"] for r in dups)
    assert all(r["doc_id"] == 10_000 for r in dups)
    assert len(replicas) == 11 and sum(r["admitted"] for r in replicas) == 1

    # bounded state: zero leaked cached blocks, no temp-view growth
    assert persisted_rdd_ids(spark) - persisted == set()
    assert len(spark.catalog.listTables()) <= views_before

    # flat latency: steady-state batches must not pay for batch count.
    # Means over the 2nd and 5th deciles (skip the warmup decile) — a
    # per-batch leak that grows the curve shows up as tail >> head.
    durs = [p["durationMs"]["triggerExecution"] for p in progress]
    head = sum(durs[5:15]) / 10.0
    tail = sum(durs[-10:]) / 10.0
    assert tail <= 2.0 * head, (head, tail, durs)
