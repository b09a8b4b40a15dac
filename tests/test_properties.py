"""Property-based tests (hypothesis) for the pure operator kernels.

The oracle harness checks fixed datasets; these check INVARIANTS on
adversarial inputs: score bounds, geo-kernel laws, salted-aggregation
equivalence, featurizer normalization. Each example generates a whole row
batch so one hypothesis case costs one Spark job, not one per row.
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from aws_flight_data_pipeline_spark.functions.geo import EARTH_RADIUS_KM, haversine
from aws_flight_data_pipeline_spark.functions.skew import salted_sum_count
from aws_flight_data_pipeline_spark.operators.multimodal import FEATURE_DIM, extract_features
from aws_flight_data_pipeline_spark.operators.quality import score_quality

SLOW = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

lat = st.floats(min_value=-90, max_value=90, allow_nan=False)
lon = st.floats(min_value=-180, max_value=180, allow_nan=False)


@SLOW
@given(st.lists(st.tuples(lat, lon, lat, lon), min_size=1, max_size=20))
def test_haversine_laws(spark, pairs):
    df = spark.createDataFrame(pairs, "lat1 double, lon1 double, lat2 double, lon2 double")
    rows = df.select(
        haversine(F.col("lat1"), F.col("lon1"), F.col("lat2"), F.col("lon2")).alias("d_ab"),
        haversine(F.col("lat2"), F.col("lon2"), F.col("lat1"), F.col("lon1")).alias("d_ba"),
        haversine(F.col("lat1"), F.col("lon1"), F.col("lat1"), F.col("lon1")).alias("d_aa"),
    ).collect()
    half_circumference = math.pi * EARTH_RADIUS_KM
    for r in rows:
        assert r["d_aa"] == pytest.approx(0.0, abs=1e-6)          # identity
        assert r["d_ab"] == pytest.approx(r["d_ba"], rel=1e-9)    # symmetry
        assert -1e-9 <= r["d_ab"] <= half_circumference + 1e-6    # bounds


record = st.fixed_dictionaries(
    {
        "icao24": st.one_of(st.none(), st.from_regex(r"[0-9a-f]{6}", fullmatch=True), st.just("ZZZZ")),
        "callsign": st.one_of(st.none(), st.text(alphabet="ABC123", max_size=8)),
        "origin_country": st.one_of(st.none(), st.just("US")),
        "latitude": st.one_of(st.none(), st.floats(-100, 100, allow_nan=False)),
        "longitude": st.one_of(st.none(), st.floats(-200, 200, allow_nan=False)),
        "baro_altitude_ft": st.one_of(st.none(), st.floats(-5000, 70000, allow_nan=False)),
        "velocity_knots": st.one_of(st.none(), st.floats(-10, 1000, allow_nan=False)),
        "vertical_rate_fpm": st.one_of(st.none(), st.floats(-10000, 10000, allow_nan=False)),
        "on_ground": st.one_of(st.none(), st.booleans()),
        "last_contact": st.one_of(st.none(), st.integers(1_600_000_000, 1_700_000_000)),
        "time_position": st.one_of(st.none(), st.integers(1_600_000_000, 1_700_000_000)),
    }
)

RECORD_DDL = (
    "icao24 string, callsign string, origin_country string, latitude double, "
    "longitude double, baro_altitude_ft double, velocity_knots double, "
    "vertical_rate_fpm double, on_ground boolean, last_contact long, time_position long"
)
RECORD_DDL_FIELDS = [f.split(" ")[0] for f in RECORD_DDL.split(", ")]


@SLOW
@given(st.lists(record, min_size=1, max_size=25))
# an airborne fix at a subnormal altitude: alt / 1000 underflows to zero
@example(
    records=[
        {
            **dict.fromkeys(RECORD_DDL_FIELDS),
            "baro_altitude_ft": 5e-324,
            "velocity_knots": 0.0,
            "on_ground": False,
        }
    ]
)
def test_quality_scores_always_bounded(spark, records):
    df = spark.createDataFrame(
        [tuple(r[k] for k in RECORD_DDL_FIELDS) for r in records], schema=RECORD_DDL
    )
    scored = score_quality(df, 1_700_000_000)
    rows = scored.select(
        "completeness_score", "validity_score", "consistency_score",
        "timeliness_score", "data_quality_score", "quality_grade", "should_quarantine",
    ).collect()
    for r in rows:
        for c in ("completeness_score", "validity_score", "consistency_score",
                  "timeliness_score", "data_quality_score"):
            assert r[c] is not None and -1e-9 <= r[c] <= 1 + 1e-9, (c, r[c])
        assert r["quality_grade"] in {"A", "B", "C", "D", "F"}
        assert r["should_quarantine"] is not None


@SLOW
@given(
    st.lists(
        st.tuples(st.sampled_from(["a", "b", "hot"]), st.integers(-1000, 1000)),
        min_size=1,
        max_size=40,
    ),
    st.integers(min_value=1, max_value=32),
)
def test_salted_aggregation_equivalence(spark, rows, n_salts):
    df = spark.createDataFrame(rows, "k string, v long")
    salted = {
        r["k"]: (r["sum_value"], r["cnt"])
        for r in salted_sum_count(df, ["k"], "v", n_salts=n_salts).collect()
    }
    plain = {
        r["k"]: (r["s"], r["c"])
        for r in df.groupBy("k").agg(F.sum("v").alias("s"), F.count("v").alias("c")).collect()
    }
    assert salted == plain


@SLOW
@given(st.lists(st.binary(min_size=1, max_size=200), min_size=1, max_size=15))
def test_feature_histograms_normalized(spark, payloads):
    df = spark.createDataFrame(
        [(i, "image", p) for i, p in enumerate(payloads)],
        "asset_id long, modality string, payload binary",
    )
    feats = {r["asset_id"]: r["features"] for r in extract_features(df).collect()}
    for i, p in enumerate(payloads):
        f = feats[i]
        assert len(f) == FEATURE_DIM
        assert sum(f) == pytest.approx(1.0)
        expected = np.bincount(np.frombuffer(p, np.uint8) >> 4, minlength=FEATURE_DIM) / len(p)
        assert f == pytest.approx(expected.tolist())


_word = st.text(alphabet="abcdefg", min_size=1, max_size=6)


@SLOW
@given(st.lists(st.lists(_word, min_size=1, max_size=30), min_size=1, max_size=10))
def test_shingle_and_fast_minhash_laws(spark, docs):
    from aws_flight_data_pipeline_spark.functions.text import (
        MINHASH_P,
        minhash_nums,
        minhash_signature_fast,
        shingles,
    )

    rows = [(" ".join(toks),) for toks in docs]
    df = spark.createDataFrame(rows, "text string")
    out = df.select(
        shingles(F.col("text"), 3).alias("sh"),
        F.size(F.split(F.trim(F.col("text")), " ")).alias("n_tok"),
    ).withColumn("nums", minhash_nums(F.col("sh"))).select(
        "sh", "n_tok", minhash_signature_fast(F.col("nums"), 8).alias("sig")
    )
    for r in out.collect():
        # shingle count: ≤ max(1, n_tok - 2) pre-dedup, ≥ 1; each ≤ 3 tokens
        assert 1 <= len(r["sh"]) <= max(1, r["n_tok"] - 2)
        assert all(1 <= len(s.split(" ")) <= 3 for s in r["sh"])
        # signature: 8 hash families, each in [0, p)
        assert len(r["sig"]) == 8
        assert all(0 <= v < MINHASH_P for v in r["sig"])


@SLOW
@given(st.lists(_word, min_size=3, max_size=25))
def test_fast_minhash_is_token_order_invariant(spark, toks):
    from aws_flight_data_pipeline_spark.functions.text import (
        minhash_nums,
        minhash_signature_fast,
    )

    fwd = " ".join(toks)
    # same multiset of 3-gram shingles in a DIFFERENT array order: reverse
    # the document and reverse each shingle back (min over a set is
    # order-invariant, so the signatures must agree when shingle sets agree)
    df = spark.createDataFrame([(fwd,)], "text string")
    arr = F.array_distinct(F.split(F.col("text"), " "))
    sig_of = lambda a: minhash_signature_fast(minhash_nums(a), 8)
    row = df.select(
        sig_of(arr).alias("s1"), sig_of(F.reverse(arr)).alias("s2")
    ).first()
    assert row["s1"] == row["s2"]


def test_simhash_codegen_frame_matches_hof_fold(spark):
    """_simhash_frame (explode + conditional-sum codegen path) must produce
    bit-identical signatures to the HOF-fold reference implementation
    (_simhash_votes + _pack_simhash) — same hash, same majority-vote
    criterion, different execution strategy."""
    from aws_flight_data_pipeline_spark.plans.text_queries import (
        _pack_simhash,
        _simhash_frame,
        _simhash_votes,
    )
    from aws_flight_data_pipeline_spark.sources.testdata import load_table

    d = load_table(spark, "/root/testdata/sf0.001", "documents")
    ref = d.select(
        "doc_id", _simhash_votes().alias("votes")
    ).select("doc_id", _pack_simhash(F.col("votes")).alias("ref_sh"))
    got = _simhash_frame(d)
    n_docs = d.count()
    joined = got.join(ref, "doc_id")
    assert joined.count() == n_docs  # no docs dropped by the explode
    assert joined.where(F.col("sh") != F.col("ref_sh")).count() == 0


_tok = st.text(alphabet="abcxyz", min_size=1, max_size=4)
_doc = st.lists(_tok, min_size=1, max_size=12)


def _greedy_merge(toks: list[str], pair: tuple[str, str]) -> list[str]:
    """Reference greedy left-to-right non-overlapping BPE merge."""
    out, i = [], 0
    while i < len(toks):
        if i + 1 < len(toks) and (toks[i], toks[i + 1]) == pair:
            out.append(toks[i] + "_" + toks[i + 1])
            i += 2
        else:
            out.append(toks[i])
            i += 1
    return out


@SLOW
@given(st.lists(_doc, min_size=1, max_size=8))
def test_word_ngrams_laws(spark, docs):
    from aws_flight_data_pipeline_spark.functions.text import word_ngrams

    df = spark.createDataFrame([(" ".join(d),) for d in docs], "t string")
    for k in (2, 3):
        rows = df.select(word_ngrams(F.col("t"), k).alias("g")).collect()
        for d, r in zip(docs, rows):
            grams = r["g"]
            assert len(grams) == max(len(d) - k + 1, 1)  # count law
            if len(d) >= k:
                for i, g in enumerate(grams):
                    assert g == " ".join(d[i : i + k])  # content + order law


@SLOW
@given(st.data())
def test_bpe_rewrite_equals_greedy_reference(spark, data):
    docs = data.draw(st.lists(_doc, min_size=1, max_size=6))
    # pick a pair that actually occurs somewhere when possible
    cand = [(d[i], d[i + 1]) for d in docs for i in range(len(d) - 1)]
    pair = data.draw(st.sampled_from(cand)) if cand else ("a", "b")
    ptxt = " ".join(pair)

    df = spark.createDataFrame([(" ".join(d),) for d in docs], "t string")
    pat = F.lit(" " + ptxt.replace(" ", "  ") + " ")
    rep = F.lit(" " + ptxt.replace(" ", "_") + " ")
    wrapped = F.concat(F.lit(" "), F.replace(F.col("t"), F.lit(" "), F.lit("  ")), F.lit(" "))
    rows = df.select(
        F.trim(F.replace(F.replace(wrapped, pat, rep), F.lit("  "), F.lit(" "))).alias("m")
    ).collect()
    for d, r in zip(docs, rows):
        assert r["m"] == " ".join(_greedy_merge(d, pair))
