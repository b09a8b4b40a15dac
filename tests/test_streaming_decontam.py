"""Streaming decontamination gate (streams.streaming_decontam_gate):
micro-batches of candidate docs probed against the frozen eval shingle
index; clean docs land in the versioned corpus, contaminated docs are
rejected with attribution — decisions independent of micro-batch
boundaries (stream == batch), exactly-once on both tables."""

from __future__ import annotations

import pytest

import os
import time

from pyspark.sql import functions as F

from aws_flight_data_pipeline_spark.plans.curation_queries import (
    decontam_increment,
    shingle_tokenizer,
)
from aws_flight_data_pipeline_spark.sources import invindex as ix
from aws_flight_data_pipeline_spark.sources import versioned as vt
from aws_flight_data_pipeline_spark.streaming.streams import (
    stream_documents,
    streaming_decontam_gate,
)
from tests.conftest import drain

_EVAL = " ".join(f"bench{i:02d}" for i in range(12))  # 10 distinct shingles
_CLEAN1 = " ".join(f"alpha{i:02d}" for i in range(12))
_CLEAN2 = " ".join(f"beta{i:02d}" for i in range(12))


def _eval_index(spark, tmp_path) -> str:
    dpath, ipath = str(tmp_path / "eval"), str(tmp_path / "eidx")
    ev = spark.createDataFrame([(900, _EVAL)], "doc_id long, text string")
    vt.commit(ev, dpath, stats_cols=("doc_id",))
    ix.refresh_index(spark, dpath, ipath, tokenizer=shingle_tokenizer)
    return ipath


@pytest.mark.slow
def test_gate_stream_equals_batch_and_is_exactly_once(spark, tmp_path):
    ipath = _eval_index(spark, tmp_path)
    src = str(tmp_path / "incoming")
    corpus, decisions = str(tmp_path / "corpus"), str(tmp_path / "decisions")
    ckpt = str(tmp_path / "ckpt")

    # two micro-batches: leak in batch 1, clean + leak in batch 2
    b1 = [(1, _CLEAN1, "inc"), (2, _EVAL, "inc")]
    b2 = [(3, _CLEAN2, "inc"), (4, _EVAL, "inc")]
    for rows in (b1, b2):
        spark.createDataFrame(rows, "doc_id long, text string, source string").coalesce(
            1
        ).write.mode("append").parquet(src)
        time.sleep(0.05)

    docs = stream_documents(spark, src, max_files_per_trigger=1)
    q = streaming_decontam_gate(docs, ipath, corpus, decisions, ckpt)
    drain(q, 120)

    got_corpus = {r["doc_id"] for r in vt.read(spark, corpus).collect()}
    assert got_corpus == {1, 3}

    dec = {r["doc_id"]: r for r in vt.read(spark, decisions).collect()}
    assert set(dec) == {1, 2, 3, 4}
    assert dec[1]["admitted"] and dec[3]["admitted"]
    for leaked in (2, 4):
        assert not dec[leaked]["admitted"]
        assert dec[leaked]["contaminating_eval_id"] == 900
        assert dec[leaked]["jac_ppm"] == 1_000_000

    # stream == batch: the batch probe over the SAME increment produces the
    # same contamination set (decisions independent of batch boundaries)
    inc = spark.createDataFrame(b1 + b2, "doc_id long, text string, source string")
    batch_hits = {
        r["train_id"]
        for r in decontam_increment(
            spark, ipath, inc.select("doc_id", "text")
        ).collect()
    }
    assert batch_hits == {2, 4}

    # exactly-once: replaying a batch id is a no-op on both tables
    head_c = vt.latest_version(corpus)
    head_d = vt.latest_version(decisions)
    replay = spark.createDataFrame(b1, "doc_id long, text string, source string")
    assert vt.commit_stream_batch(replay, 0, corpus) is None
    assert vt.latest_version(corpus) == head_c and vt.latest_version(decisions) == head_d

    # eval retirement propagates: tombstone the benchmark doc, refresh, and
    # a NEW gate admits the formerly-leaked text
    vt.delete_where(spark, str(tmp_path / "eval"), {"doc_id": (900, 900)})
    ix.refresh_index(spark, str(tmp_path / "eval"), ipath, tokenizer=shingle_tokenizer)
    b3 = [(5, _EVAL, "inc")]
    spark.createDataFrame(b3, "doc_id long, text string, source string").coalesce(
        1
    ).write.mode("append").parquet(src)
    docs2 = stream_documents(spark, src, max_files_per_trigger=1)
    q2 = streaming_decontam_gate(
        docs2, ipath, corpus, decisions, str(tmp_path / "ckpt")
    )
    drain(q2, 120)
    assert 5 in {r["doc_id"] for r in vt.read(spark, corpus).collect()}
