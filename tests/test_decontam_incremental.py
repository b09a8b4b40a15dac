"""Incremental decontamination served from the shingle-tokenized inverted
index (plans/curation_queries.decontam_increment): exact Jaccard boundary
behavior, lossless one-sided prefix filtering, tombstoned (retired) eval
docs dropping out, and O(increment) probe semantics (the accumulated
training corpus is never read)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aws_flight_data_pipeline_spark.plans.curation_queries import (
    decontam_increment,
    shingle_tokenizer,
)
from aws_flight_data_pipeline_spark.sources import invindex as ix
from aws_flight_data_pipeline_spark.sources import versioned as vt

# 11 distinct words -> the eval doc has 9 distinct 3-gram shingles
_WORDS = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo"


@pytest.fixture()
def eval_index(spark, tmp_path):
    dpath, ipath = str(tmp_path / "eval"), str(tmp_path / "index")
    ev = spark.createDataFrame(
        [(100, _WORDS), (200, "zulu yankee xray whiskee victor")],
        "doc_id long, text string",
    )
    vt.commit(ev, dpath, stats_cols=("doc_id",))
    ix.refresh_index(spark, dpath, ipath, tokenizer=shingle_tokenizer)
    return dpath, ipath


def _probe(spark, ipath, rows):
    inc = spark.createDataFrame(rows, "doc_id long, text string")
    return {
        r["train_id"]: r for r in decontam_increment(spark, ipath, inc).collect()
    }


def test_exact_boundary_pair_included(spark, eval_index):
    _, ipath = eval_index
    w = _WORDS.split()
    # train = w1..w9 + x: 8 shingles, 7 shared with eval's 9
    # -> J = 7 / (8 + 9 - 7) = 7/10, EXACTLY at threshold: must be included
    at = " ".join(w[:9]) + " xx"
    # train = w1..w8 + x y: 8 shingles, 6 shared -> J = 6/11 < 0.7: excluded
    below = " ".join(w[:8]) + " xx yy"
    got = _probe(spark, ipath, [(1, at), (2, below)])
    assert set(got) == {1}
    assert got[1]["eval_id"] == 100
    assert got[1]["n_common"] == 7
    assert got[1]["sz_train"] == 8 and got[1]["sz_eval"] == 9
    assert got[1]["jac_ppm"] == 700_000


def test_exact_duplicate_scores_million_ppm(spark, eval_index):
    _, ipath = eval_index
    got = _probe(spark, ipath, [(5, _WORDS)])
    assert got[5]["eval_id"] == 100 and got[5]["jac_ppm"] == 1_000_000


def test_retired_eval_doc_drops_out_via_tombstone(spark, eval_index):
    dpath, ipath = eval_index
    assert 100 in {
        r["eval_id"] for r in _probe(spark, ipath, [(5, _WORDS)]).values()
    }
    # retire the benchmark doc: delete from the eval table, refresh the index
    vt.delete_where(spark, dpath, {"doc_id": (100, 100)})
    out = ix.refresh_index(spark, dpath, ipath, tokenizer=shingle_tokenizer)
    assert out["docs_removed"] == 1
    assert _probe(spark, ipath, [(5, _WORDS)]) == {}


def test_probe_matches_brute_force_on_real_corpus(spark, tmp_path, sf_dir):
    # one-sided prefix filtering is lossless: the probe equals the exact
    # (unfiltered) R-S join on the same increment/eval pair
    from aws_flight_data_pipeline_spark.sources.testdata import load_table

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ev = d.where(F.col("doc_id") % 7 == 0)
    inc = d.where(F.col("doc_id") % 7 == 3)
    dpath, ipath = str(tmp_path / "eval"), str(tmp_path / "index")
    vt.commit(ev, dpath, stats_cols=("doc_id",))
    ix.refresh_index(spark, dpath, ipath, tokenizer=shingle_tokenizer)
    got = decontam_increment(spark, ipath, inc)

    etok = ev.select(
        F.col("doc_id").alias("eval_id"),
        F.explode(shingle_tokenizer(F.col("text"))).alias("tok"),
    )
    ttok = inc.select(
        F.col("doc_id").alias("train_id"),
        F.explode(shingle_tokenizer(F.col("text"))).alias("tok"),
    )
    se = etok.groupBy("eval_id").agg(F.count("*").cast("bigint").alias("sz_eval"))
    st = ttok.groupBy("train_id").agg(F.count("*").cast("bigint").alias("sz_train"))
    inter = (
        ttok.join(etok, "tok")
        .groupBy("train_id", "eval_id")
        .agg(F.count("*").cast("bigint").alias("n_common"))
        .join(st, "train_id")
        .join(se, "eval_id")
    )
    union_sz = F.col("sz_train") + F.col("sz_eval") - F.col("n_common")
    from pyspark.sql.window import Window

    hit = (
        inter.where(10 * F.col("n_common") >= 7 * union_sz)
        .withColumn(
            "jac_ppm",
            F.round(F.lit(1_000_000.0) * F.col("n_common") / union_sz).cast(
                "bigint"
            ),
        )
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("train_id").orderBy(
                    F.col("jac_ppm").desc(), F.col("eval_id")
                )
            ),
        )
        .where(F.col("rk") == 1)
        .select("train_id", "eval_id", "n_common", "sz_train", "sz_eval", "jac_ppm")
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, hit.collect()))


def test_frozen_postings_fast_path_matches_manifest_path(spark, eval_index):
    """The frozen shape (a caller-supplied ``(eval_id, tok, sz_eval)``
    snapshot, one lazy pass) and the manifest shape (per-probe versioned
    read + tombstone mask) return IDENTICAL decision tables on a planted
    increment."""
    from aws_flight_data_pipeline_spark.plans.curation_queries import _live_postings

    _, ipath = eval_index
    w = _WORDS.split()
    inc = spark.createDataFrame(
        [
            (1, " ".join(w[:9]) + " xx"),  # J = 7/10, exactly at threshold
            (2, " ".join(w[:8]) + " xx yy"),  # J = 6/11, below
            (3, _WORDS),  # exact leak, J = 1
        ],
        "doc_id long, text string",
    )
    manifest = sorted(map(tuple, decontam_increment(spark, ipath, inc).collect()))
    assert {r[0] for r in manifest} == {1, 3}  # planted outcome fires
    frozen = decontam_increment(
        spark, ipath, inc, postings=_live_postings(spark, ipath)
    )
    assert sorted(map(tuple, frozen.collect())) == manifest
