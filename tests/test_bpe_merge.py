"""BPE merge-rewrite algebra: the private-space wrapping must make plain
all-occurrence replace behave as greedy left-to-right non-overlapping pair
merging (the property the bpe_merge_train oracle relies on), including the
overlap case ('a a a' merges once, not twice)."""

from __future__ import annotations

from pyspark.sql import functions as F

from aws_flight_data_pipeline_spark.plans.registry import resolve


def _merge_once(spark, text: str, pair: str) -> str:
    df = spark.createDataFrame([(text,)], "t string")
    pat = F.lit(" " + pair.replace(" ", "  ") + " ")
    rep = F.lit(" " + pair.replace(" ", "_") + " ")
    wrapped = F.concat(F.lit(" "), F.replace(F.col("t"), F.lit(" "), F.lit("  ")), F.lit(" "))
    out = df.select(
        F.trim(F.replace(F.replace(wrapped, pat, rep), F.lit("  "), F.lit(" "))).alias("t")
    )
    return out.collect()[0]["t"]


def test_merge_all_disjoint_occurrences(spark):
    assert _merge_once(spark, "x y z x y", "x y") == "x_y z x_y"


def test_overlapping_run_merges_left_to_right(spark):
    # 'a a a' has two overlapping 'a a' occurrences; greedy BPE merges one
    assert _merge_once(spark, "a a a", "a a") == "a_a a"
    # even run: both disjoint occurrences merge
    assert _merge_once(spark, "a a a a", "a a") == "a_a a_a"


def test_no_substring_false_positives(spark):
    # pair 'a b' must not fire inside tokens ending/starting with those chars
    assert _merge_once(spark, "data batch a b", "a b") == "data batch a_b"


def test_bpe_train_rounds_shrink_corpus(spark, sf_dir):
    rows = resolve("bpe_merge_train")(spark, sf_dir).collect()
    assert [r["round"] for r in rows] == [1, 2, 3]
    toks = [r["corpus_tokens_after"] for r in rows]
    assert toks[0] > toks[1] > toks[2]  # every merge removes tokens
    for r in rows:
        assert " " in r["merged_pair"] and r["pair_count"] >= 2


def test_deep64_apply_consistent_with_oracled_prefix(spark, sf_dir):
    # 64-merge apply can only merge MORE than the 6-merge oracled run:
    # same rank order, longer prefix — per-source tokens_after must be <=
    from aws_flight_data_pipeline_spark.plans.registry import resolve

    six = {r["source"]: r for r in resolve("bpe_apply_encode")(spark, sf_dir).collect()}
    deep = {
        r["source"]: r
        for r in resolve("bpe_apply_encode_deep64")(spark, sf_dir).collect()
    }
    assert set(six) == set(deep)
    for src in six:
        assert deep[src]["tokens_before"] == six[src]["tokens_before"]
        assert deep[src]["tokens_after"] <= six[src]["tokens_after"]
        assert deep[src]["docs"] == six[src]["docs"]
