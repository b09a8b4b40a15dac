"""Stateful streaming admission: the index must LEARN across micro-batches.

The stateless tier (`streaming_corpus_admission`) decides against a frozen
corpus index, so a near-dup pair split across two micro-batches is admitted
TWICE — the exact gap this suite pins, then proves closed by
`streaming_corpus_admission_incremental`: batch N's admitted docs fold into
the index (batch-stamped appends to a versioned state table, read at its
head) and reject their near/exact dups in batch N+1.

Ground truth is by construction (no re-derivation through the same code):
the planted texts' band collisions are deterministic (fixed hash family) and
were verified once out-of-band; every decision row is asserted exactly.
"""

from __future__ import annotations

import pytest

import os
import time

from pyspark.sql import functions as F

from aws_flight_data_pipeline_spark.sources import versioned as vt
from aws_flight_data_pipeline_spark.streaming.streams import (
    corpus_admission_index,
    stream_documents,
    streaming_corpus_admission,
    streaming_corpus_admission_incremental,
)
from tests.conftest import drain

# X and its two dups: X_NEAR changes the last of 40 distinct tokens
# (shingle Jaccard 35/41 ≈ 0.85, both LSH bands collide — verified
# deterministic); X_EXACT is byte-identical.
X = " ".join(f"novel{i:02d}" for i in range(40))
X_NEAR = " ".join(("changed" if i == 39 else f"novel{i:02d}") for i in range(40))
T_CORP = " ".join(f"corpus{i:02d}" for i in range(40))
NOVEL2 = " ".join(f"other{i:02d}" for i in range(40))


def _corpus(spark):
    rows = [(i, f"background text block {i} " * 5, "base") for i in range(1, 6)]
    rows.append((6, T_CORP, "base"))
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def _write_batches(spark, src: str):
    """Two parquet files = two micro-batches (maxFilesPerTrigger=1), mtimes
    forced so batch 1 (docs 10x) is ingested before batch 2 (docs 20x)."""
    b1 = [(101, X, "inc"), (102, T_CORP, "inc")]
    b2 = [(201, X_NEAR, "inc"), (202, X, "inc"), (203, NOVEL2, "inc")]
    for i, rows in enumerate((b1, b2)):
        spark.createDataFrame(
            rows, "doc_id long, text string, source string"
        ).coalesce(1).write.mode("append").parquet(src)
        time.sleep(0.05)
    files = sorted(
        (os.path.getmtime(f"{src}/{f}"), f"{src}/{f}")
        for f in os.listdir(src)
        if f.endswith(".parquet")
    )
    now = time.time()
    for i, (_, path) in enumerate(files):
        os.utime(path, (now + i * 30, now + i * 30))


def _decisions(df) -> dict[int, tuple]:
    return {
        r["doc_id"]: (r["is_exact"], r["is_near"], r["admitted"], r["near_matches"])
        for r in df.collect()
    }


@pytest.mark.slow
def test_stateless_tier_admits_cross_batch_near_dups(spark, tmp_path):
    """The gap: with a frozen index, X (batch 1) and X_NEAR / X_EXACT
    (batch 2) are ALL admitted — nothing vs-corpus rejects them."""
    corpus = _corpus(spark)
    fp_index, band_buckets = corpus_admission_index(corpus)
    src = str(tmp_path / "incoming")
    _write_batches(spark, src)
    out = streaming_corpus_admission(
        stream_documents(spark, src, max_files_per_trigger=1),
        fp_index,
        band_buckets,
    )
    q = (
        out.writeStream.format("memory")
        .queryName("stateless_adm")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    drain(q, 120)
    got = _decisions(spark.sql("SELECT * FROM stateless_adm"))
    assert got[101][2] and got[201][2] and got[202][2]  # all admitted (the gap)
    # vs-corpus rejection still works (identical text is exact AND — with
    # J=1 the bands always collide — a verified near-dup of corpus doc 6)
    assert got[102] == (True, True, False, [6])


@pytest.mark.slow
def test_incremental_index_rejects_cross_batch_dups(spark, tmp_path):
    corpus = _corpus(spark)
    fp_index, band_buckets = corpus_admission_index(corpus)
    src = str(tmp_path / "incoming")
    _write_batches(spark, src)
    state = str(tmp_path / "adm_state")
    decisions = str(tmp_path / "adm_decisions")
    q = streaming_corpus_admission_incremental(
        stream_documents(spark, src, max_files_per_trigger=1),
        fp_index,
        band_buckets,
        state,
        str(tmp_path / "ckpt"),
        decisions,
    )
    drain(q, 120)

    out = vt.read(spark, decisions)
    got = _decisions(out)
    batch_of = {r["doc_id"]: r["batch_id"] for r in out.collect()}

    # batch 1: X novel -> admitted; T_CORP exact+near-dups base corpus doc 6
    assert got[101] == (False, False, True, [])
    assert got[102] == (True, True, False, [6])
    # batch 2 (a LATER micro-batch — the decisions must be cross-batch)
    assert batch_of[201] > batch_of[101] and batch_of[202] > batch_of[101]
    # X_NEAR near-dups the batch-1 admission; X_EXACT exact+near-dups it
    assert got[201] == (False, True, False, [101])
    assert got[202] == (True, True, False, [101])
    assert got[203] == (False, False, True, [])

    # the state deltas hold exactly the admitted docs' index rows
    st = vt.read(spark, state)
    assert sorted(r["doc_id"] for r in st.select("doc_id").collect()) == [101, 203]


@pytest.mark.slow
def test_incremental_intra_batch_keep_first(spark, tmp_path):
    """Two near-dups arriving in the SAME micro-batch: keep-first by doc_id
    (the batch pipeline's election convention) — the earlier admitted, the
    later rejected."""
    corpus = _corpus(spark)
    fp_index, band_buckets = corpus_admission_index(corpus)
    src = str(tmp_path / "incoming")
    spark.createDataFrame(
        [(301, X, "inc"), (302, X_NEAR, "inc"), (303, X, "inc")],
        "doc_id long, text string, source string",
    ).coalesce(1).write.mode("append").parquet(src)
    q = streaming_corpus_admission_incremental(
        stream_documents(spark, src),
        fp_index,
        band_buckets,
        str(tmp_path / "adm_state"),
        str(tmp_path / "ckpt"),
        str(tmp_path / "adm_decisions"),
    )
    drain(q, 120)
    got = _decisions(vt.read(spark, str(tmp_path / "adm_decisions")))
    assert got[301][2] is True
    assert got[302][2] is False and got[303][2] is False


def _run_incremental(spark, tmp_path):
    """Both planted batches through the incremental tier; returns the
    (state, decisions, checkpoint) paths. Rerunning it restarts the stream
    from its checkpoint."""
    state, decisions, ckpt = (
        str(tmp_path / d) for d in ("adm_state", "adm_decisions", "ckpt")
    )
    corpus = _corpus(spark)
    fp_index, band_buckets = corpus_admission_index(corpus)
    q = streaming_corpus_admission_incremental(
        stream_documents(spark, str(tmp_path / "incoming"), max_files_per_trigger=1),
        fp_index,
        band_buckets,
        state,
        ckpt,
        decisions,
    )
    drain(q, 120)
    return state, decisions, ckpt


def test_incremental_replay_of_committed_batch_is_skipped(spark, tmp_path):
    """A crash after batch 1's commits but before its offset commit replays
    the batch on restart: the replay is skipped, so every admitted doc keeps
    exactly one index delta row and every doc one decision row."""
    _write_batches(spark, str(tmp_path / "incoming"))
    state, decisions, ckpt = _run_incremental(spark, tmp_path)
    heads = vt.latest_version(state), vt.latest_version(decisions)
    for f in ("1", ".1.crc"):  # the offset commit and its checksum
        os.remove(os.path.join(ckpt, "commits", f))
    _run_incremental(spark, tmp_path)

    assert os.path.exists(os.path.join(ckpt, "commits", "1"))
    assert (vt.latest_version(state), vt.latest_version(decisions)) == heads
    deltas = [r["doc_id"] for r in vt.read(spark, state).collect()]
    assert sorted(deltas) == [101, 203]
    ids = [r["doc_id"] for r in vt.read(spark, decisions).collect()]
    assert sorted(ids) == [101, 102, 201, 202, 203]


def test_vacuum_keeps_admission_delta_state_reads_identical(spark, tmp_path):
    """The admission state is an append table of per-batch DELTAS. Vacuum
    retention drops old manifests, but the head manifest lists every live
    delta file, so no delta is deleted and the folded state reads the
    same."""
    _write_batches(spark, str(tmp_path / "incoming"))
    state, _, _ = _run_incremental(spark, tmp_path)
    before = sorted(map(tuple, vt.read(spark, state).collect()))

    stats = vt.vacuum(state, keep_last=1, min_age_seconds=0)
    assert stats == {"versions_dropped": 1, "files_deleted": 0}
    assert sorted(map(tuple, vt.read(spark, state).collect())) == before
    assert [vt._read_manifest(state, v)["batch_id"] for v in vt._list_versions(state)] == [1]
    assert vt._batch_committed(state, 0)


def _frozen_snapshot(spark, ipath):
    """The tombstone-masked (eval_id, tok) live-postings snapshot — the
    same derivation _ensure_eval_index materializes once per session."""
    from aws_flight_data_pipeline_spark.sources import invindex as ix
    from aws_flight_data_pipeline_spark.sources import versioned as vt

    v = vt.latest_version(ipath)
    m = vt._read_manifest(ipath, v)
    return ix._mask_tombstones(
        spark, ipath, m, vt.read(spark, ipath, version=v)
    ).select(F.col("doc_id").alias("eval_id"), "tok")


@pytest.mark.slow
def test_frozen_postings_fast_path_matches_manifest_path(spark, tmp_path):
    """Verdict r13 #6: the frozen-postings fast path (caller-supplied
    snapshot, fully lazy) and the manifest path (per-probe versioned read
    + tombstone mask) must return IDENTICAL decision tables on a planted
    increment — under the hinted bound, the unhinted guard probe, and the
    over-bound sort-merge fallback alike (ADVICE r13 #2)."""
    from aws_flight_data_pipeline_spark.plans.curation_queries import (
        decontam_increment,
        shingle_tokenizer,
    )
    from aws_flight_data_pipeline_spark.sources import invindex as ix
    from aws_flight_data_pipeline_spark.sources import versioned as vt

    words = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo"
    w = words.split()
    dpath, ipath = str(tmp_path / "eval"), str(tmp_path / "index")
    ev = spark.createDataFrame(
        [(100, words), (200, "zulu yankee xray whiskee victor")],
        "doc_id long, text string",
    )
    vt.commit(ev, dpath, stats_cols=("doc_id",))
    ix.refresh_index(spark, dpath, ipath, tokenizer=shingle_tokenizer)
    inc = spark.createDataFrame(
        [
            (1, " ".join(w[:9]) + " xx"),  # J = 7/10, exactly at threshold
            (2, " ".join(w[:8]) + " xx yy"),  # J = 6/11, below
            (3, words),  # exact leak, J = 1
        ],
        "doc_id long, text string",
    )
    manifest = sorted(map(tuple, decontam_increment(spark, ipath, inc).collect()))
    assert {r[0] for r in manifest} == {1, 3}  # planted outcome fires
    snap = _frozen_snapshot(spark, ipath)
    hinted = decontam_increment(spark, ipath, inc, postings=snap, postings_eval_docs=2)
    unhinted = decontam_increment(spark, ipath, inc, postings=snap)
    overbound = decontam_increment(
        spark, ipath, inc, postings=snap, postings_eval_docs=10_000_000
    )
    assert sorted(map(tuple, hinted.collect())) == manifest
    assert sorted(map(tuple, unhinted.collect())) == manifest
    assert sorted(map(tuple, overbound.collect())) == manifest
