"""Unit tests for the flight-domain operators, mirroring the reference's test
strategy (SURVEY.md §5): phase truth table, speed categories, dedup
strategies, rate calcs, imputation, quality scoring thresholds, anomaly
detectors — against fixed golden fixtures (FIXTURES.md §8, pinned
now=1693401600 ≈ 2023-08-30T12:40Z).
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from aws_flight_data_pipeline_spark.functions.geo import haversine
from aws_flight_data_pipeline_spark.operators.anomaly import detect_anomalies
from aws_flight_data_pipeline_spark.operators.enrich import (
    enrich,
    flight_phase_detailed,
    speed_category_banded,
)
from aws_flight_data_pipeline_spark.operators.quality import score_quality
from aws_flight_data_pipeline_spark.operators.sequence import (
    apply_missing_value_strategies,
    dedup,
    default_quality_score,
    fill_mean,
    fill_mode,
    forward_fill,
    linear_interpolate,
    with_acceleration,
    with_climb_rate,
    with_leg_distance,
)

NOW = 1693401600  # 2023-08-30T12:40Z (FIXTURES.md §8)


# ---------------------------------------------------------------------------
# Phase truth table (reference: tests/unit/test_data_transformer.py:294)
# ---------------------------------------------------------------------------

PHASE_CASES = [
    (50.0, 5.0, 0.0, "ground"),
    (50.0, 20.0, 0.0, "taxi"),
    (50.0, 80.0, 600.0, "takeoff"),
    (2000.0, 200.0, 800.0, "takeoff"),
    (5000.0, 250.0, 600.0, "climb"),
    (35000.0, 450.0, 0.0, "cruise"),
    (25000.0, 400.0, -400.0, "descent"),
    (2000.0, 180.0, -500.0, "approach"),
]


def test_flight_phase_truth_table(spark):
    df = spark.createDataFrame(
        [(a, s, c) for a, s, c, _ in PHASE_CASES], "alt double, spd double, cr double"
    )
    out = df.withColumn(
        "phase", flight_phase_detailed(F.col("alt"), F.col("spd"), F.col("cr"))
    ).collect()
    for row, (_, _, _, expected) in zip(out, PHASE_CASES):
        assert row.phase == expected, (row.alt, row.spd, row.cr, row.phase, expected)


SPEED_CASES = [
    (2.0, "stationary"),
    (15.0, "taxi_speed"),
    (100.0, "low_speed"),
    (250.0, "medium_speed"),
    (500.0, "high_speed"),
    (700.0, "supersonic"),
]


def test_speed_categorization(spark):
    df = spark.createDataFrame([(s,) for s, _ in SPEED_CASES], "spd double")
    out = df.withColumn("cat", speed_category_banded(F.col("spd"))).collect()
    for row, (_, expected) in zip(out, SPEED_CASES):
        assert row.cat == expected


def test_haversine_known_distances(spark):
    # NYC→LA ≈ 3944 km; same-point ≈ 0 (reference test oracle,
    # tests/unit/test_basic_functionality.py:109-138)
    df = spark.createDataFrame(
        [(40.7128, -74.0060, 34.0522, -118.2437), (40.7128, -74.0060, 40.7128, -74.0060)],
        "lat1 double, lon1 double, lat2 double, lon2 double",
    )
    out = df.select(
        haversine(F.col("lat1"), F.col("lon1"), F.col("lat2"), F.col("lon2")).alias("km")
    ).collect()
    assert 3900 < out[0].km < 4000
    assert out[1].km < 0.001


# ---------------------------------------------------------------------------
# Enrichment (unit conversions + business rules)
# ---------------------------------------------------------------------------


FLIGHT_DDL = (
    "icao24 string, callsign string, origin_country string, time_position long, "
    "last_contact long, longitude double, latitude double, baro_altitude double, "
    "on_ground boolean, velocity double, true_track double, vertical_rate double, "
    "sensors string, geo_altitude double, squawk string, spi boolean, "
    "position_source int, collection_time long"
)


def _flight_row(**kw):
    base = dict(
        icao24="abc123",
        callsign="UAL123  ",
        origin_country="United States",
        time_position=NOW - 10,
        last_contact=NOW - 5,
        longitude=-74.0060,
        latitude=40.7128,
        baro_altitude=3048.0,  # meters -> 10000 ft
        on_ground=False,
        velocity=128.86,  # m/s -> ~250.5 kts
        true_track=90.0,
        vertical_rate=0.0,
        sensors=None,
        geo_altitude=3078.0,
        squawk="1200",
        spi=False,
        position_source=0,
        collection_time=NOW,
    )
    base.update(kw)
    return base


def _flight_df(spark, rows):
    return spark.createDataFrame(rows, FLIGHT_DDL)


def test_enrich_golden_record(spark):
    df = _flight_df(spark, [_flight_row()])
    out = enrich(df).collect()[0]
    assert out.baro_altitude_ft == 10000
    assert abs(out.velocity_knots - 250.5) < 0.1
    assert abs(out.velocity_kmh - 463.9) < 0.2
    assert out.altitude_category == "MEDIUM"
    assert out.speed_category == "APPROACH"
    assert out.estimated_phase == "LEVEL_FLIGHT"
    assert out.callsign_normalized == "UAL123"
    assert out.airline_code == "UAL"
    assert out.region == "NORTH_AMERICA"
    assert out.completeness_score == 1.0


def test_enrich_null_handling(spark):
    df = _flight_df(
        spark, [_flight_row(baro_altitude=None, geo_altitude=None, velocity=None, callsign=None)]
    )
    out = enrich(df).collect()[0]
    assert out.altitude_category == "UNKNOWN"
    assert out.speed_category == "UNKNOWN"
    assert out.estimated_phase == "UNKNOWN"
    assert out.callsign_normalized is None
    assert out.airline_code is None
    assert out.completeness_score == round(5 / 8, 3)


def test_enrich_ground_phase_and_regions(spark):
    rows = [
        _flight_row(on_ground=True),
        _flight_row(latitude=51.47, longitude=-0.45),  # London -> EUROPE
        _flight_row(latitude=1.35, longitude=103.8),  # Singapore -> ASIA_PACIFIC
        # (Tokyo at lat 35.55 falls OUTSIDE the reference's ASIA_PACIFIC box,
        # which caps at lat 20 — flight_data_processor.py:167-179)
        _flight_row(latitude=-33.9, longitude=151.2),  # Sydney -> OTHER
    ]
    out = enrich(_flight_df(spark, rows)).collect()
    assert out[0].estimated_phase == "GROUND"
    assert out[1].region == "EUROPE"
    assert out[2].region == "ASIA_PACIFIC"
    assert out[3].region == "OTHER"


# ---------------------------------------------------------------------------
# Sequence operators
# ---------------------------------------------------------------------------


def test_climb_rate_and_acceleration(spark):
    # reference oracle: +1000 ft & +30 kts over 60 s -> 1000 fpm, 30 kts/min
    df = spark.createDataFrame(
        [("a", 0, 1000.0, 200.0), ("a", 60, 2000.0, 230.0)],
        "icao24 string, timestamp long, altitude_ft double, speed_knots double",
    )
    out = with_acceleration(with_climb_rate(df)).orderBy("timestamp").collect()
    assert out[0].climb_rate_fpm is None
    assert abs(out[1].climb_rate_fpm - 1000.0) < 1e-9
    assert abs(out[1].acceleration_kts_min - 30.0) < 1e-9


def test_leg_and_cumulative_distance(spark):
    df = spark.createDataFrame(
        [("a", 0, 40.7128, -74.0060), ("a", 60, 34.0522, -118.2437)],
        "icao24 string, timestamp long, latitude double, longitude double",
    )
    out = with_leg_distance(df).orderBy("timestamp").collect()
    assert out[0].leg_distance is None and out[0].cumulative_distance == 0.0
    assert 2400 < out[1].leg_distance < 2500  # ≈2451 miles NYC→LA
    assert abs(out[1].cumulative_distance - out[1].leg_distance) < 1e-9


def test_linear_interpolation_midpoint(spark):
    df = spark.createDataFrame(
        [("a", 0, 0.0), ("a", 5, None), ("a", 10, 10.0), ("a", 20, None)],
        "icao24 string, timestamp long, altitude_ft double",
    )
    out = linear_interpolate(df, "altitude_ft").orderBy("timestamp").collect()
    assert [r.altitude_ft for r in out] == [0.0, 5.0, 10.0, 10.0]  # tail -> ffill


def test_forward_fill_and_mode_and_mean(spark):
    df = spark.createDataFrame(
        [("a", 0, "7700", 1.0), ("a", 1, None, None), ("a", 2, "7700", 3.0), ("a", 3, "1200", None)],
        "icao24 string, timestamp long, squawk string, v double",
    )
    ff = forward_fill(df, "squawk").orderBy("timestamp").collect()
    assert [r.squawk for r in ff] == ["7700", "7700", "7700", "1200"]
    fm = fill_mode(df, "squawk").orderBy("timestamp").collect()
    assert fm[1].squawk == "7700"  # modal value
    mean = fill_mean(df, "v").orderBy("timestamp").collect()
    assert mean[1].v == 2.0 and mean[3].v == 2.0


_GAPPY = [("a", 0, 1.0), ("a", 10, None), ("a", 20, 3.0), ("a", 30, 3.0), ("a", 40, None)]


@pytest.mark.parametrize(
    "strategy, expected",
    [
        ("drop", [1.0, 3.0, 3.0]),
        ("forward_fill", [1.0, 1.0, 3.0, 3.0, 3.0]),
        ("backward_fill", [1.0, 3.0, 3.0, 3.0, None]),
        ("interpolate", [1.0, 2.0, 3.0, 3.0, 3.0]),
        ("mean", [1.0, 7 / 3, 3.0, 3.0, 7 / 3]),
        ("mode", [1.0, 3.0, 3.0, 3.0, 3.0]),
    ],
)
def test_missing_value_strategy_dispatch(spark, strategy, expected):
    df = spark.createDataFrame(_GAPPY, "icao24 string, timestamp long, x double")
    out = apply_missing_value_strategies(df, {"x": strategy}).orderBy("timestamp")
    assert [r.x for r in out.collect()] == pytest.approx(expected)


def test_missing_value_strategy_unknown_raises(spark):
    df = spark.createDataFrame(_GAPPY, "icao24 string, timestamp long, x double")
    with pytest.raises(ValueError, match="unknown missing-value strategy: median"):
        apply_missing_value_strategies(df, {"x": "median"})


def test_dedup_strategies(spark):
    rows = [
        ("a", 100, 1.0, None),  # worse quality (null field)
        ("a", 100, 2.0, 5.0),  # best quality
        ("b", 100, 9.0, 9.0),
    ]
    df = spark.createDataFrame(rows, "icao24 string, timestamp long, v double, extra double")
    first = dedup(df, ("icao24", "timestamp"), "first").orderBy("icao24").collect()
    last = dedup(df, ("icao24", "timestamp"), "last").orderBy("icao24").collect()
    best = dedup(
        df, ("icao24", "timestamp"), "best_quality", quality_col=default_quality_score(df)
    ).orderBy("icao24").collect()
    assert len(first) == len(last) == len(best) == 2
    assert best[0].extra == 5.0  # kept the complete row


# ---------------------------------------------------------------------------
# Quality scoring
# ---------------------------------------------------------------------------


QUALITY_DDL = (
    "rid int, icao24 string, callsign string, origin_country string, time_position long, "
    "last_contact long, latitude double, longitude double, baro_altitude double, "
    "baro_altitude_ft double, velocity double, velocity_knots double, "
    "vertical_rate_fpm double, on_ground boolean"
)
_QRID = iter(range(10**6)).__next__


def _quality_row(**kw):
    base = dict(
        rid=_QRID(),
        icao24="abc123",
        callsign="UAL123",
        origin_country="US",
        time_position=NOW - 10,
        last_contact=NOW - 5,
        latitude=40.7,
        longitude=-74.0,
        baro_altitude=3048.0,
        baro_altitude_ft=10000.0,
        velocity=128.0,
        velocity_knots=250.0,
        vertical_rate_fpm=0.0,
        on_ground=False,
    )
    base.update(kw)
    return base


def _quality_df(spark, rows):
    for i, r in enumerate(rows):
        r["rid"] = i
    return spark.createDataFrame(rows, QUALITY_DDL)


def test_quality_perfect_record(spark):
    out = score_quality(_quality_df(spark, [_quality_row()]), NOW).collect()[0]
    assert out.completeness_score == 1.0
    assert out.validity_score == 1.0
    assert out.consistency_score == 1.0
    assert out.timeliness_score == 1.0
    assert out.data_quality_score == 1.0
    assert out.quality_grade == "A"
    assert not out.should_quarantine


def test_quality_missing_critical_quarantines(spark):
    out = score_quality(
        _quality_df(spark, [_quality_row(latitude=None, longitude=None)]), NOW
    ).collect()[0]
    assert out.completeness_score < 0.25  # two critical fields missing
    assert out.should_quarantine


def test_quality_validity_failures(spark):
    out = score_quality(
        _quality_df(
            spark, [_quality_row(baro_altitude_ft=70000.0, velocity_knots=900.0, icao24="XYZ")]
        ),
        NOW,
    ).collect()[0]
    # altitude, velocity, icao24-format fail out of 6 checks
    assert abs(out.validity_score - 0.5) < 1e-9
    assert out.should_quarantine  # bad icao24 format is critical


def test_quality_timeliness_decay_and_grades(spark):
    rows = [
        _quality_row(last_contact=NOW - 30),  # fresh -> 1.0
        _quality_row(last_contact=NOW - 180),  # within threshold: 1 - 120/240*0.2 = 0.9
        _quality_row(last_contact=NOW - 600),  # aged: max(0.5, 1-540/240)=0.5
        _quality_row(last_contact=NOW - 3600),  # stale -> 0.2
    ]
    out = score_quality(_quality_df(spark, rows), NOW).orderBy(F.desc("timeliness_score")).collect()
    assert abs(out[0].timeliness_score - 1.0) < 1e-9
    assert abs(out[1].timeliness_score - 0.9) < 1e-9
    assert abs(out[2].timeliness_score - 0.5) < 1e-9
    assert abs(out[3].timeliness_score - 0.2) < 1e-9
    assert out[3].quality_grade in ("B", "C")  # only timeliness degraded


def test_consistency_teleportation(spark):
    rows = [
        _quality_row(last_contact=NOW - 60, latitude=40.7, longitude=-74.0),
        _quality_row(last_contact=NOW - 30, latitude=51.5, longitude=-0.1),  # NYC->London in 30 s
    ]
    out = score_quality(_quality_df(spark, rows), NOW).orderBy("last_contact").collect()
    assert out[0].consistency_score == 1.0
    assert out[1].consistency_score < 1.0  # teleportation flagged


# ---------------------------------------------------------------------------
# Anomaly detection
# ---------------------------------------------------------------------------


def test_anomaly_flags(spark):
    rows = [
        _quality_row(),  # clean
        _quality_row(baro_altitude_ft=70000.0),  # impossible altitude
        _quality_row(velocity_knots=-5.0),  # impossible velocity
        _quality_row(last_contact=NOW + 600),  # future timestamp
        _quality_row(latitude=37.1, longitude=-115.8),  # Area51 zone
        _quality_row(velocity_knots=float("nan")),  # corruption
    ]
    out = detect_anomalies(_quality_df(spark, rows), NOW).collect()
    by_idx = {r.rid: set(r.anomaly_flags) for r in out}
    assert by_idx[0] == set()
    assert "impossible_altitude" in by_idx[1]
    assert "impossible_velocity" in by_idx[2]
    assert "future_timestamp" in by_idx[3]
    assert "forbidden_zone" in by_idx[4]
    assert "data_corruption" in by_idx[5]
    counts = {r.rid: r.anomaly_count for r in out}
    assert counts[0] == 0 and counts[1] >= 1


def test_anomaly_position_jump(spark):
    rows = [
        _quality_row(last_contact=NOW - 60, latitude=40.7, longitude=-74.0),
        _quality_row(last_contact=NOW - 30, latitude=51.5, longitude=-0.1),
    ]
    out = detect_anomalies(_quality_df(spark, rows), NOW).orderBy("last_contact").collect()
    assert "position_jump" in set(out[1].anomaly_flags)


@pytest.mark.parametrize("now", [float(NOW), np.int64(NOW)], ids=["float", "numpy_int64"])
def test_now_of_any_numeric_type_scores_like_int_now(spark, now):
    rows = [
        _quality_row(last_contact=NOW - 180),
        _quality_row(last_contact=NOW + 600, baro_altitude_ft=70000.0),
    ]
    df = _quality_df(spark, rows)

    def run(n):
        return detect_anomalies(score_quality(df, n), n).orderBy("rid").collect()

    assert run(now) == run(NOW)


def test_anomaly_inventory_lists_preexisting_outlier_columns(spark):
    # outlier flags already on the input (e.g. a re-scored processed table)
    # are listed in the inventory next to the ones the suite computes
    df = _quality_df(spark, [_quality_row(), _quality_row()]).withColumn(
        "vertical_rate_fpm_zscore_outlier", F.lit(True)
    ).withColumn("latitude_iqr_outlier", F.col("rid") == 1)
    out = detect_anomalies(df, NOW).orderBy("rid").collect()
    assert set(out[0].anomaly_flags) == {"vertical_rate_fpm_zscore_outlier"}
    assert set(out[1].anomaly_flags) == {"vertical_rate_fpm_zscore_outlier", "latitude_iqr_outlier"}
    assert [r.anomaly_count for r in out] == [1, 2]
