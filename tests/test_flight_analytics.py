"""Tests for the analytical query library (the reference's 10 Athena queries
+ summary views) over seeded synthetic flight data."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aws_flight_data_pipeline_spark.plans import flight_analytics as fa
from aws_flight_data_pipeline_spark.sources.sinks import with_time_partitions
from tests.flight_fixtures import (
    AIRCRAFT_REF_DDL,
    AIRPORT_REF_DDL,
    NOW,
    PROCESSED_DDL,
    QUALITY_METRICS_DDL,
    aircraft_reference_rows,
    airport_reference_rows,
    processed_rows,
    quality_metrics_rows,
)


@pytest.fixture(scope="module")
def processed(spark):
    rows = processed_rows()
    df = spark.createDataFrame(rows, PROCESSED_DDL)
    df = with_time_partitions(df)
    return fa.with_analytics_categories(df).cache()


@pytest.fixture(scope="module")
def aircraft_ref(spark, processed):
    return spark.createDataFrame(
        aircraft_reference_rows(processed_rows()), AIRCRAFT_REF_DDL
    )


@pytest.fixture(scope="module")
def airport_ref(spark):
    return spark.createDataFrame(airport_reference_rows(), AIRPORT_REF_DDL)


@pytest.fixture(scope="module")
def quality_metrics(spark):
    return spark.createDataFrame(quality_metrics_rows(), QUALITY_METRICS_DDL)


def test_q1_flight_status_overview(processed):
    out = fa.q1_flight_status_overview(processed, NOW).collect()[0]
    assert out.total_active_flights > 0
    assert out.countries_active >= 1
    dist = (
        out.low_altitude_flights
        + out.medium_altitude_flights
        + out.high_altitude_flights
        + out.very_high_altitude_flights
    )
    assert dist == out.total_active_flights  # bands partition the space
    assert 0.7 < out.avg_quality_score <= 1.0


def test_q2_altitude_bands_partition_and_percentages(processed):
    rows = fa.q2_altitude_band_distribution(processed, NOW).collect()
    assert len(rows) >= 3
    assert abs(sum(r.percentage_of_total for r in rows) - 100.0) < 0.5
    # ordered by band floor
    mins = [r.min_altitude_ft for r in rows]
    assert mins == sorted(mins)


def test_q3_quality_hourly_limit(quality_metrics):
    rows = fa.q3_quality_metrics_hourly(quality_metrics, NOW).collect()
    assert 0 < len(rows) <= 168
    assert all(0 <= r.avg_quality_score <= 1 for r in rows)


def test_q4_peak_traffic_rank_monotone(processed):
    rows = fa.q4_peak_traffic(processed, NOW).collect()
    assert rows and rows[0].traffic_rank == 1
    counts = [r.flight_count for r in rows]
    assert counts == sorted(counts, reverse=True)
    assert all(r.time_of_day in ("Morning", "Afternoon", "Evening", "Night") for r in rows)


def test_q5_route_corridors(processed):
    rows = fa.q5_route_corridors(processed, NOW, min_flights=2).collect()
    assert rows
    assert all(r.total_flights >= 2 for r in rows)
    assert all(0 < r.route_consistency_score <= 1.0 for r in rows)


def test_q6_anomaly_zscore_topk(processed):
    rows = fa.q6_anomaly_zscore(processed, NOW).collect()
    assert len(rows) <= 100
    zs = [r.max_zscore for r in rows]
    assert zs == sorted(zs, reverse=True)
    assert all(r.max_zscore > 2.0 for r in rows)


def test_q7_aircraft_performance_left_join(processed, aircraft_ref):
    rows = fa.q7_aircraft_performance(processed, aircraft_ref, NOW, min_obs=5).collect()
    assert rows
    models = {r.aircraft_model for r in rows}
    assert "Unknown" in models  # unmatched dim rows preserved by LEFT join
    assert all(r.observations >= 5 for r in rows)


def test_q8_airport_proximity(processed, airport_ref):
    rows = fa.q8_airport_proximity(processed, airport_ref, NOW).collect()
    assert rows  # trajectories start/end at the fixture airports
    assert all(r.closest_approach_miles <= 50.0 for r in rows)
    assert all(r.nearby_flights >= r.unique_aircraft for r in rows)


def test_q9_temporal_patterns_dow_approximation(processed):
    rows = fa.q9_temporal_patterns(processed, NOW).collect()
    assert rows
    assert all(1 <= r.approx_day_of_week <= 7 for r in rows)
    assert all(r.traffic_intensity in ("Peak", "High", "Moderate", "Light") for r in rows)


def test_q10_quality_assessment_trend(quality_metrics):
    rows = fa.q10_quality_assessment(quality_metrics, NOW).collect()
    assert 0 < len(rows) <= 30
    assert all(r.quality_grade in "ABCDF" for r in rows)
    # newest-first ordering
    keys = [(r.year, r.month, r.day) for r in rows]
    assert keys == sorted(keys, reverse=True)


def test_hourly_and_daily_views(processed):
    hourly = fa.hourly_flight_summary(processed)
    hrows = hourly.collect()
    assert hrows
    r0 = hrows[0]
    assert r0.grounded_aircraft + r0.airborne_aircraft == r0.total_flights
    daily = fa.daily_flight_summary(processed).collect()
    assert daily
    assert all(d.peak_hour_flights >= d.avg_hourly_flights for d in daily)


def test_realtime_metrics_window(processed):
    out = fa.realtime_flight_metrics(processed, NOW, window_hours=4).collect()[0]
    assert out.total_observations > 0
    assert out.airborne_count + out.ground_count == out.total_observations
    assert out.latest_collection_time <= NOW


def test_quality_dashboard_and_high_quality_view(processed, quality_metrics):
    dash = fa.data_quality_dashboard(quality_metrics).collect()
    assert dash and all(d.total_records > 0 for d in dash)
    hq = fa.high_quality_flights(processed)
    assert hq.count() > 0
    assert hq.filter(F.col("data_quality_score") <= 0.8).count() == 0


def test_latest_flight_activity_view(spark, tmp_path):
    import json

    from aws_flight_data_pipeline_spark.plans.flight_analytics import latest_flight_activity
    from aws_flight_data_pipeline_spark.sources.opensky import read_raw_batches

    d = tmp_path / "raw"
    d.mkdir()
    state = ["abc123", "UAL1    ", "US", 1693401600, 1693401600, -73.0, 40.0,
             3048.0, False, 128.0, 90.0, 0.0, None, 3100.0, "7700", False, 0]
    for i, n_states in enumerate([3, 1]):
        with open(d / f"flight_data_{i}.json", "w") as f:
            json.dump({"time": 1693401600 + i * 30, "states": [state] * n_states}, f)
    rows = latest_flight_activity(read_raw_batches(spark, str(d))).collect()
    # newest batch first, cardinality(states) per batch
    assert [(r["batch_time"], r["aircraft_count"]) for r in rows] == [
        (1693401630, 1),
        (1693401600, 3),
    ]
    assert rows[0]["batch_timestamp"].year == 2023


def test_distinct_counts_plan_no_expand(processed, aircraft_ref, airport_ref):
    """Every exact distinct count stays one aggregation round: no Expand
    (the RewriteDistinctAggregates plan of several COUNT(DISTINCT)s)."""
    built = {
        "q1": fa.q1_flight_status_overview(processed, NOW),
        "q2": fa.q2_altitude_band_distribution(processed, NOW),
        "q4": fa.q4_peak_traffic(processed, NOW),
        "q5": fa.q5_route_corridors(processed, NOW),
        "q7": fa.q7_aircraft_performance(processed, aircraft_ref, NOW),
        "q8": fa.q8_airport_proximity(processed, airport_ref, NOW),
        "q9": fa.q9_temporal_patterns(processed, NOW),
        "hourly_flight_summary": fa.hourly_flight_summary(processed),
        "daily_flight_summary": fa.daily_flight_summary(processed),
        "realtime_flight_metrics": fa.realtime_flight_metrics(processed, NOW),
    }
    for name, df in built.items():
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "Expand" not in plan, f"{name}: distinct count plans an Expand"


def test_exact_distinct_counts_skip_nulls(spark):
    """Distinct counts are exact: NULLs are skipped, a repeated icao24 counts
    once per group, an empty input counts 0 (not NULL), and the columns
    stay bigint."""
    t11, t13 = NOW - 7200, NOW - 600  # hours 11 and 13 of NOW's day
    # (collection_time, icao24, callsign, origin_country, baro_altitude_ft)
    fixes = [
        (t11, "a1", "UAL1", "US", 3000.0),
        (t11 + 10, "a1", "UAL1", "US", 35000.0),
        (t11 + 20, "a2", None, "DE", 3000.0),
        (t11 + 30, "a3", "BAW2", None, 35000.0),
        (t13, "a1", "UAL1", "US", 35000.0),
        (t13 + 10, "a4", "UAL1", None, 3000.0),
        (t13 + 20, "a4", None, None, 3000.0),
        (t13 + 30, "a5", "DLH3", "FR", 35000.0),
        (t13 + 40, None, "DLH3", "FR", 3000.0),
    ]
    rows = [
        dict(
            icao24=icao, callsign=cs, origin_country=oc, collection_time=t,
            last_contact=t - 2, longitude=-73.0, latitude=40.0, baro_altitude_ft=alt,
            velocity_knots=400.0, vertical_rate_fpm=0.0, true_track=90.0,
            on_ground=False, flight_phase="cruise", data_quality_score=0.9,
            completeness_score=0.9, validity_score=0.9, consistency_score=0.9,
        )
        for t, icao, cs, oc, alt in fixes
    ]
    df = fa.with_analytics_categories(
        with_time_partitions(spark.createDataFrame(rows, PROCESSED_DDL))
    )

    def n_distinct(fs, i):
        return len({f[i] for f in fs} - {None})

    by_hour = {"11": fixes[:4], "13": fixes[4:]}
    hourly = fa.hourly_flight_summary(df)
    got = {
        r.hour: (r.unique_aircraft, r.unique_callsigns, r.countries_active)
        for r in hourly.collect()
    }
    assert got == {h: tuple(n_distinct(fs, i) for i in (1, 2, 3)) for h, fs in by_hour.items()}

    def band(alt):
        return next(label for bound, label in fa.ALTITUDE_BANDS if alt < bound)

    q2 = fa.q2_altitude_band_distribution(df, NOW)
    assert {r.altitude_band: r.unique_aircraft for r in q2.collect()} == {
        b: n_distinct([f for f in fixes if band(f[4]) == b], 1) for b in {band(f[4]) for f in fixes}
    }

    rt = fa.realtime_flight_metrics(df, NOW)
    assert rt.collect()[0].active_aircraft == n_distinct(fixes, 1)

    q1_empty = fa.q1_flight_status_overview(df, NOW + 10 * 86400)
    out = q1_empty.collect()[0]
    assert out.total_active_flights == 0 and out.countries_active == 0

    for frame, cols in (
        (hourly, ("unique_aircraft", "unique_callsigns", "countries_active")),
        (q2, ("unique_aircraft",)),
        (rt, ("active_aircraft",)),
        (q1_empty, ("countries_active",)),
    ):
        types = dict(frame.dtypes)
        assert all(types[c] == "bigint" for c in cols), types


def test_top_k_ties_break_on_the_group_key(spark):
    """q4 and q5 rank with ``rank()``, so equal counts share a rank; the
    rows a top-k keeps out of a tie must not depend on partition order.
    48 hours with one flight each compete for q4's 20 slots and 60
    corridors with two fixes each for q5's 25: each keeps the earliest
    hours and the lowest (lat_grid, lon_grid) cells."""
    import datetime as dt

    hours = [
        dt.datetime.fromtimestamp(NOW - k * 3600, dt.timezone.utc) for k in range(48)
    ]
    keys = [(h.strftime("%Y"), h.strftime("%m"), h.strftime("%d"), h.strftime("%H")) for h in hours]
    traffic = spark.createDataFrame(
        [(*key, 0.9, False, f"a{i:03d}", 400.0, 30000.0) for i, key in enumerate(keys)],
        "year string, month string, day string, hour string, data_quality_score double, "
        "on_ground boolean, icao24 string, velocity_knots double, baro_altitude_ft double",
    ).repartition(7)
    q4 = fa.q4_peak_traffic(traffic, NOW).collect()
    assert {r.traffic_rank for r in q4} == {1}
    assert [(r.year, r.month, r.day, r.hour) for r in q4] == sorted(keys)[:20]

    y, m, d, _ = keys[0]
    cells = [(2.0 * i, 2.0 * j) for i in range(6) for j in range(10)]
    corridors = spark.createDataFrame(
        [
            (y, m, d, False, lat, lon, 0.9, "Cruise", 35000.0, f"c{n}", f"CS{n}", 90.0, 450.0)
            for n, (lat, lon) in enumerate(reversed(cells))
            for _ in range(2)
        ],
        "year string, month string, day string, on_ground boolean, latitude double, "
        "longitude double, data_quality_score double, flight_phase string, "
        "baro_altitude_ft double, icao24 string, callsign string, true_track double, "
        "velocity_knots double",
    ).repartition(7)
    q5 = fa.q5_route_corridors(corridors, NOW, min_flights=2).collect()
    assert {r.corridor_rank for r in q5} == {1}
    assert [(r.lat_grid, r.lon_grid) for r in q5] == sorted(cells)[:25]
