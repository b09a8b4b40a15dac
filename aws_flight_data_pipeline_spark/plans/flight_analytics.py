"""The reference's analytical SQL surface as parameterized DataFrame plans.

Reproduces the 10 Athena queries (`sql/athena/04_analytical_queries.sql`,
`05_analytical_queries_part2.sql`) and the summary views
(`06_analytics_views.sql`, `03:302-353`) over a processed flight DataFrame.
Every function takes the input DataFrame(s) plus an injected ``now``
(SURVEY §7.3: the reference's current_date/current_timestamp calls are
parameterized for determinism) and returns a DataFrame.

Scale notes: lookback filters hit the string y/m/d/h partition columns when
present → Catalyst prunes partitions; the airport-proximity theta join keeps
the reference's ±1° band prefilter and broadcasts the airports dim; every
"view" is a plain groupBy aggregate suitable for materialization via
versioned.commit, or incremental upkeep via ivm.refresh_view (the
views-as-cache pattern, 07:486-571); exact distinct counts go through
_n_distinct (size(collect_set)), one aggregation round with no Expand.

NOTE on category labels: the reference's ETL emits LOW/MEDIUM/… while its SQL
corpus matches 'Low'/'Normal'/… — labels no component ever produces. This
engine closes that gap: with_analytics_categories() derives the analytics
label space the SQL expects (documented bands; speed 'Normal' boundary 450
from 04:287).
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from aws_flight_data_pipeline_spark.functions.geo import approx_distance_miles


def _utc(now_unix: int) -> _dt.datetime:
    return _dt.datetime.fromtimestamp(now_unix, tz=_dt.timezone.utc)


def _partition_lookback(df: DataFrame, now_unix: int, days: int) -> DataFrame:
    """Partition-prunable lookback filter on the string y/m/d partition
    columns (the reference's `year = year(current_date) AND day >= ...`
    pattern, 04:30-33); falls back to collection_time when unpartitioned."""
    now = _utc(now_unix)
    if {"year", "month", "day"} <= set(df.columns):
        days_list = [now - _dt.timedelta(days=d) for d in range(days + 1)]
        keys = [(d.strftime("%Y"), d.strftime("%m"), d.strftime("%d")) for d in days_list]
        cond = None
        for y, m, dd in keys:
            c = (F.col("year") == y) & (F.col("month") == m) & (F.col("day") == dd)
            cond = c if cond is None else (cond | c)
        return df.filter(cond)
    cutoff = now_unix - days * 86400
    return df.filter(F.col("collection_time") >= cutoff)


def with_analytics_categories(df: DataFrame) -> DataFrame:
    """Analytics-layer label space consumed by the SQL corpus (04:47-63,
    06:31-75): altitude Low/Medium/High/Very High, speed Slow/Normal/Fast/
    Very Fast (Normal boundary 450 kts per 04:287), title-case flight_phase."""
    alt = F.col("baro_altitude_ft")
    spd = F.col("velocity_knots")
    df = df.withColumn(
        "altitude_category",
        F.when(alt.isNull(), "Unknown")
        .when(alt < 10000, "Low")
        .when(alt < 25000, "Medium")
        .when(alt < 35000, "High")
        .otherwise("Very High"),
    ).withColumn(
        "speed_category",
        F.when(spd.isNull(), "Unknown")
        .when(spd < 200, "Slow")
        .when(spd < 450, "Normal")
        .when(spd < 550, "Fast")
        .otherwise("Very Fast"),
    )
    if "flight_phase" in df.columns:
        df = df.withColumn("flight_phase", F.initcap(F.col("flight_phase")))
    elif "estimated_phase" in df.columns:
        df = df.withColumn(
            "flight_phase",
            F.initcap(F.lower(F.regexp_replace("estimated_phase", "_", " "))),
        )
    return df


def _count_when(cond: Column, name: str) -> Column:
    return F.sum(F.when(cond, 1).otherwise(0)).alias(name)


def _n_distinct(col: str) -> Column:
    """Exact COUNT(DISTINCT col): collect_set skips NULLs and yields 0 on an
    empty group, and any number of them share one ObjectHashAggregate pair,
    where countDistinct plans an Expand plus extra aggregation rounds."""
    return F.size(F.collect_set(col)).cast("long")


# ---------------------------------------------------------------------------
# The 10 analytical queries
# ---------------------------------------------------------------------------


def q1_flight_status_overview(processed: DataFrame, now_unix: int) -> DataFrame:
    """QUERY 1 (04:10-75): current-hour active-flight dashboard — one wide
    conditional hash-agg over quality-filtered airborne rows."""
    now = _utc(now_unix)
    df = processed
    if {"year", "month", "day", "hour"} <= set(df.columns):
        df = df.filter(
            (F.col("year") == now.strftime("%Y"))
            & (F.col("month") == now.strftime("%m"))
            & (F.col("day") == now.strftime("%d"))
            & (F.col("hour") == now.strftime("%H"))
        )
    df = df.filter((F.col("data_quality_score") > 0.7) & ~F.col("on_ground"))
    ac, sc, fp = F.col("altitude_category"), F.col("speed_category"), F.col("flight_phase")
    return df.agg(
        F.count("*").alias("total_active_flights"),
        _n_distinct("origin_country").alias("countries_active"),
        _count_when(ac == "Low", "low_altitude_flights"),
        _count_when(ac == "Medium", "medium_altitude_flights"),
        _count_when(ac == "High", "high_altitude_flights"),
        _count_when(ac == "Very High", "very_high_altitude_flights"),
        _count_when(sc == "Slow", "slow_flights"),
        _count_when(sc == "Normal", "normal_speed_flights"),
        _count_when(sc == "Fast", "fast_flights"),
        _count_when(sc == "Very Fast", "very_fast_flights"),
        _count_when(fp == "Takeoff", "takeoff_flights"),
        _count_when(fp == "Climb", "climb_flights"),
        _count_when(fp == "Cruise", "cruise_flights"),
        _count_when(fp == "Descent", "descent_flights"),
        _count_when(fp == "Approach", "approach_flights"),
        F.avg("data_quality_score").alias("avg_quality_score"),
        F.min("data_quality_score").alias("min_quality_score"),
        F.avg("baro_altitude_ft").alias("avg_altitude_ft"),
        F.max("baro_altitude_ft").alias("max_altitude_ft"),
        F.avg("velocity_knots").alias("avg_speed_knots"),
        F.max("velocity_knots").alias("max_speed_knots"),
    )


ALTITUDE_BANDS = (
    (1000, "Surface (0-1K ft)"),
    (5000, "Low (1-5K ft)"),
    (10000, "Medium-Low (5-10K ft)"),
    (20000, "Medium (10-20K ft)"),
    (30000, "Medium-High (20-30K ft)"),
    (40000, "High (30-40K ft)"),
    (50000, "Very High (40-50K ft)"),
)


def altitude_band(alt: Column) -> Column:
    """The 8-band CASE of QUERY 2 (04:86-95)."""
    expr = None
    for bound, label in ALTITUDE_BANDS:
        expr = F.when(alt < bound, label) if expr is None else expr.when(alt < bound, label)
    return expr.otherwise("Extreme (50K+ ft)")


def q2_altitude_band_distribution(processed: DataFrame, now_unix: int) -> DataFrame:
    """QUERY 2 (04:82-146): altitude-band distribution — band CASE group,
    ratio-of-total window, speed/quality stats, percentiles; ordered by band
    floor. The flagship pattern (SURVEY §7.2)."""
    df = _partition_lookback(processed, now_unix, 1).filter(
        ~F.col("on_ground")
        & F.col("baro_altitude_ft").isNotNull()
        & (F.col("baro_altitude_ft") > 0)
        & (F.col("data_quality_score") > 0.6)
    )
    fp = F.col("flight_phase")
    agg = (
        df.groupBy(altitude_band(F.col("baro_altitude_ft")).alias("altitude_band"))
        .agg(
            F.count("*").alias("flight_count"),
            _n_distinct("icao24").alias("unique_aircraft"),
            F.avg("velocity_knots").alias("avg_speed_knots"),
            F.stddev("velocity_knots").alias("speed_stddev"),
            _count_when(fp == "Cruise", "cruise_count"),
            _count_when(fp == "Climb", "climb_count"),
            _count_when(fp == "Descent", "descent_count"),
            F.avg("data_quality_score").alias("avg_quality_score"),
            F.min("baro_altitude_ft").alias("min_altitude_ft"),
            F.max("baro_altitude_ft").alias("max_altitude_ft"),
            F.percentile_approx("baro_altitude_ft", 0.5).alias("median_altitude_ft"),
            F.percentile_approx("baro_altitude_ft", 0.95).alias("p95_altitude_ft"),
        )
    )
    return agg.withColumn(
        "percentage_of_total",
        F.round(100.0 * F.col("flight_count") / F.sum("flight_count").over(Window.partitionBy()), 2),
    ).orderBy("min_altitude_ft")


def q3_quality_metrics_hourly(quality_metrics: DataFrame, now_unix: int) -> DataFrame:
    """QUERY 3 (04:154-217): hourly data-quality trend over the quality-
    metrics table, last 7 days, newest first, LIMIT 168."""
    df = _partition_lookback(quality_metrics, now_unix, 7)
    return (
        df.groupBy("year", "month", "day", "hour")
        .agg(
            F.sum("total_records").alias("total_records"),
            F.sum("valid_records").alias("valid_records"),
            F.avg("avg_overall_quality").alias("avg_quality_score"),
            F.min("min_quality").alias("min_quality_score"),
            F.avg("quarantine_rate").alias("avg_quarantine_rate"),
        )
        .withColumn(
            "validity_ratio",
            F.col("valid_records") / F.nullif(F.col("total_records"), F.lit(0)),
        )
        .orderBy(F.desc("year"), F.desc("month"), F.desc("day"), F.desc("hour"))
        .limit(168)
    )


def q4_peak_traffic(processed: DataFrame, now_unix: int) -> DataFrame:
    """QUERY 4 (04:220-322): hourly traffic with rank, centered moving
    average, time-of-day classification; top 20 peak hours, ties broken by
    the hour key so the kept rows do not depend on partitioning."""
    df = _partition_lookback(processed, now_unix, 7).filter(
        (F.col("data_quality_score") > 0.7) & ~F.col("on_ground")
    )
    hourly = df.groupBy("year", "month", "day", "hour").agg(
        F.count("*").alias("flight_count"),
        _n_distinct("icao24").alias("unique_aircraft"),
        F.avg("velocity_knots").alias("avg_speed"),
        F.avg("baro_altitude_ft").alias("avg_altitude"),
    )
    w_rank = Window.orderBy(F.desc("flight_count"))
    w_ma = Window.orderBy("year", "month", "day", "hour").rowsBetween(-2, 2)
    hod = F.col("hour").cast("int")
    return (
        hourly.withColumn("traffic_rank", F.rank().over(w_rank))
        .withColumn("moving_avg_flights", F.avg("flight_count").over(w_ma))
        .withColumn(
            "time_of_day",
            F.when((hod >= 6) & (hod < 12), "Morning")
            .when((hod >= 12) & (hod < 18), "Afternoon")
            .when((hod >= 18) & (hod < 22), "Evening")
            .otherwise("Night"),
        )
        .orderBy("traffic_rank", "year", "month", "day", "hour")
        .limit(20)
    )


def q5_route_corridors(processed: DataFrame, now_unix: int, min_flights: int = 50) -> DataFrame:
    """QUERY 5 (04:325-475): 2°-grid route-corridor identification — grid
    group, heading/altitude/speed stats, HAVING floor, consistency score,
    rank + region/type classification; top 25, ties broken by the grid
    cell so the kept rows do not depend on partitioning."""
    df = _partition_lookback(processed, now_unix, 3).filter(
        ~F.col("on_ground")
        & F.col("latitude").isNotNull()
        & F.col("longitude").isNotNull()
        & (F.col("data_quality_score") > 0.8)
        & (F.col("flight_phase") == "Cruise")
        & (F.col("baro_altitude_ft") > 20000)
    )
    grid = df.withColumn("lat_grid", F.round(F.col("latitude") / 2.0) * 2).withColumn(
        "lon_grid", F.round(F.col("longitude") / 2.0) * 2
    )
    corr = (
        grid.groupBy("lat_grid", "lon_grid")
        .agg(
            F.count("*").alias("total_flights"),
            _n_distinct("icao24").alias("unique_aircraft"),
            _n_distinct("callsign").alias("unique_flights"),
            F.avg("true_track").alias("avg_heading_degrees"),
            F.stddev("true_track").alias("heading_variance"),
            F.avg("baro_altitude_ft").alias("avg_cruise_altitude"),
            F.avg("velocity_knots").alias("avg_speed_knots"),
        )
        .filter(F.col("total_flights") >= min_flights)
        .withColumn(
            "route_consistency_score",
            1.0 / (1.0 + F.coalesce(F.col("heading_variance"), F.lit(0.0)) / 180.0),
        )
    )
    lat, lon = F.col("lat_grid"), F.col("lon_grid")
    region = (
        F.when((lat >= 30) & (lat <= 60) & (lon >= -130) & (lon <= -60), "North America")
        .when((lat >= 40) & (lat <= 70) & (lon >= -10) & (lon <= 40), "Europe")
        .when((lat >= 20) & (lat <= 50) & (lon >= 100) & (lon <= 140), "East Asia")
        .when((lat >= 30) & (lat <= 50) & (lon >= 40) & (lon <= 80), "Central Asia/Middle East")
        .when((lat >= -40) & (lat <= -10) & (lon >= 110) & (lon <= 160), "Australia/Oceania")
        .when((lat >= -40) & (lat <= 10) & (lon >= -80) & (lon <= -30), "South America")
        .when((lat >= -40) & (lat <= 40) & (lon >= -20) & (lon <= 60), "Africa")
        .otherwise("Other/Oceanic")
    )
    ctype = (
        F.when(F.col("total_flights") > 1000, "Major International Corridor")
        .when(F.col("total_flights") > 500, "Regional Corridor")
        .when(F.col("total_flights") > 200, "Secondary Route")
        .otherwise("Local Route")
    )
    return (
        corr.withColumn("corridor_rank", F.rank().over(Window.orderBy(F.desc("total_flights"))))
        .withColumn("geographic_region", region)
        .withColumn("corridor_type", ctype)
        .orderBy("corridor_rank", "lat_grid", "lon_grid")
        .limit(25)
    )


def q6_anomaly_zscore(processed: DataFrame, now_unix: int) -> DataFrame:
    """QUERY 6 (04:478-606): statistical anomaly candidates — one-row global
    stats cross-joined (broadcast) to every flight, altitude/speed z-scores,
    top 100 by GREATEST(z) with deterministic icao24 tiebreak."""
    df = _partition_lookback(processed, now_unix, 1).filter(
        (F.col("data_quality_score") > 0.5)
        & ~F.col("on_ground")
        & F.col("baro_altitude_ft").isNotNull()
        & F.col("velocity_knots").isNotNull()
    )
    stats = df.agg(
        F.avg("baro_altitude_ft").alias("alt_mean"),
        F.stddev("baro_altitude_ft").alias("alt_std"),
        F.avg("velocity_knots").alias("spd_mean"),
        F.stddev("velocity_knots").alias("spd_std"),
    )
    az = F.abs((F.col("baro_altitude_ft") - F.col("alt_mean")) / F.nullif(F.col("alt_std"), F.lit(0.0)))
    sz = F.abs((F.col("velocity_knots") - F.col("spd_mean")) / F.nullif(F.col("spd_std"), F.lit(0.0)))
    return (
        df.crossJoin(F.broadcast(stats))
        .withColumn("altitude_zscore", az)
        .withColumn("speed_zscore", sz)
        .filter((F.col("altitude_zscore") > 2.0) | (F.col("speed_zscore") > 2.0))
        .withColumn("max_zscore", F.greatest("altitude_zscore", "speed_zscore"))
        .select(
            "icao24", "callsign", "baro_altitude_ft", "velocity_knots",
            "altitude_zscore", "speed_zscore", "max_zscore",
        )
        .orderBy(F.desc("max_zscore"), "icao24")
        .limit(100)
    )


def q7_aircraft_performance(
    processed: DataFrame, aircraft_reference: DataFrame, now_unix: int, min_obs: int = 20
) -> DataFrame:
    """QUERY 7 (05:10-137): per-model performance — LEFT broadcast join to the
    aircraft dimension, HAVING observation floor, efficiency composite,
    top 50."""
    df = _partition_lookback(processed, now_unix, 7).filter(
        (F.col("data_quality_score") > 0.7) & ~F.col("on_ground")
    )
    joined = df.join(F.broadcast(aircraft_reference), "icao24", "left")
    agg = (
        joined.groupBy(
            F.coalesce(F.col("model"), F.lit("Unknown")).alias("aircraft_model"),
            F.coalesce(F.col("manufacturername"), F.lit("Unknown")).alias("manufacturer"),
        )
        .agg(
            F.count("*").alias("observations"),
            _n_distinct("icao24").alias("unique_aircraft"),
            F.avg("velocity_knots").alias("avg_speed_knots"),
            F.avg("baro_altitude_ft").alias("avg_altitude_ft"),
            F.stddev("velocity_knots").alias("speed_consistency"),
            F.avg("data_quality_score").alias("avg_quality"),
        )
        .filter(F.col("observations") >= min_obs)
    )
    return (
        agg.withColumn(
            "efficiency_score",
            F.col("avg_speed_knots") / F.nullif(F.col("avg_altitude_ft") / 1000.0, F.lit(0.0)),
        )
        .withColumn("performance_rank", F.rank().over(Window.orderBy(F.desc("avg_speed_knots"))))
        .orderBy("performance_rank", "aircraft_model")
        .limit(50)
    )


def q8_airport_proximity(
    processed: DataFrame, airport_reference: DataFrame, now_unix: int, radius_miles: float = 50.0
) -> DataFrame:
    """QUERY 8 (05:139-308): airport-area traffic — the theta/range join:
    ±1° lat/lon band prefilter (keeps it off the cartesian path), flat-earth
    approximate distance ≤ radius, nearest-airport top-1 via the QUALIFY
    rewrite, then per-airport rollup; top 25 airports.

    Scale: airports is a small dim → broadcast nested-loop with a band
    predicate; per-flight candidate set is bounded by the ±1° box."""
    flights = _partition_lookback(processed, now_unix, 1).filter(
        F.col("latitude").isNotNull()
        & F.col("longitude").isNotNull()
        & (F.col("data_quality_score") > 0.6)
    )
    airports = airport_reference.filter(F.col("airport_type") == "large_airport").select(
        F.col("icao_code"),
        F.col("airport_name"),
        F.col("latitude").alias("apt_lat"),
        F.col("longitude").alias("apt_lon"),
    )
    band = (F.abs(F.col("latitude") - F.col("apt_lat")) <= 1.0) & (
        F.abs(F.col("longitude") - F.col("apt_lon")) <= 1.0
    )
    dist = approx_distance_miles(
        F.col("apt_lat"), F.col("apt_lon"), F.col("latitude"), F.col("longitude")
    )
    near = (
        flights.join(F.broadcast(airports), band)
        .withColumn("distance_miles", dist)
        .filter(F.col("distance_miles") <= radius_miles)
    )
    # QUALIFY ROW_NUMBER() = 1 rewrite (05:266): nearest airport per fix
    w = Window.partitionBy("icao24", "collection_time").orderBy("distance_miles", "icao_code")
    nearest = near.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return (
        nearest.groupBy("icao_code", "airport_name")
        .agg(
            F.count("*").alias("nearby_flights"),
            _n_distinct("icao24").alias("unique_aircraft"),
            F.avg("distance_miles").alias("avg_distance_miles"),
            F.min("distance_miles").alias("closest_approach_miles"),
            _count_when(F.col("on_ground"), "ground_operations"),
            _count_when(~F.col("on_ground") & (F.col("baro_altitude_ft") < 10000), "approach_departures"),
        )
        .orderBy(F.desc("nearby_flights"), "icao_code")
        .limit(25)
    )


def q9_temporal_patterns(processed: DataFrame, now_unix: int) -> DataFrame:
    """QUERY 9 (05:311-467): day-of-week × hour traffic heatmap, keeping the
    reference's deliberate ((day-1)%7)+1 day-of-week approximation (05:316,
    04:260 — documented quirk, SURVEY §7.3)."""
    df = _partition_lookback(processed, now_unix, 7).filter(
        (F.col("data_quality_score") > 0.7) & ~F.col("on_ground")
    )
    dow = ((F.col("day").cast("int") - 1) % 7) + 1
    return (
        df.groupBy(dow.alias("approx_day_of_week"), F.col("hour"))
        .agg(
            F.count("*").alias("flight_count"),
            _n_distinct("icao24").alias("unique_aircraft"),
            F.avg("velocity_knots").alias("avg_speed"),
        )
        .withColumn(
            "traffic_intensity",
            F.when(F.col("flight_count") > 1000, "Peak")
            .when(F.col("flight_count") > 500, "High")
            .when(F.col("flight_count") > 200, "Moderate")
            .otherwise("Light"),
        )
        .orderBy("approx_day_of_week", "hour")
    )


def q10_quality_assessment(quality_metrics: DataFrame, now_unix: int) -> DataFrame:
    """QUERY 10 (05:469-657): daily quality rollup with LAG trend and A–F
    grading; last 30 days."""
    df = _partition_lookback(quality_metrics, now_unix, 30)
    daily = df.groupBy("year", "month", "day").agg(
        F.sum("total_records").alias("total_records"),
        F.avg("avg_overall_quality").alias("avg_overall_quality"),
        F.avg("avg_completeness").alias("avg_completeness"),
        F.avg("avg_validity").alias("avg_validity"),
        F.avg("avg_consistency").alias("avg_consistency"),
        F.avg("quarantine_rate").alias("avg_quarantine_rate"),
    )
    w = Window.orderBy("year", "month", "day")
    grade = (
        F.when(F.col("avg_overall_quality") >= 0.95, "A")
        .when(F.col("avg_overall_quality") >= 0.85, "B")
        .when(F.col("avg_overall_quality") >= 0.70, "C")
        .when(F.col("avg_overall_quality") >= 0.50, "D")
        .otherwise("F")
    )
    return (
        daily.withColumn("prev_quality", F.lag("avg_overall_quality").over(w))
        .withColumn("quality_trend", F.col("avg_overall_quality") - F.col("prev_quality"))
        .withColumn("quality_grade", grade)
        .orderBy(F.desc("year"), F.desc("month"), F.desc("day"))
        .limit(30)
    )


# ---------------------------------------------------------------------------
# Summary views (06_analytics_views.sql; materialize via versioned.commit /
# ivm.refresh_view)
# ---------------------------------------------------------------------------


def hourly_flight_summary(processed: DataFrame) -> DataFrame:
    """View 1 (06:12-175): the wide hourly rollup — volume, status, altitude/
    speed stats + percentiles, category/phase/region distributions, quality."""
    df = processed.filter(F.col("data_quality_score") > 0.5)
    ac, sc, fp = F.col("altitude_category"), F.col("speed_category"), F.col("flight_phase")
    lat, lon = F.col("latitude"), F.col("longitude")
    return df.groupBy("year", "month", "day", "hour").agg(
        F.count("*").alias("total_flights"),
        _n_distinct("icao24").alias("unique_aircraft"),
        _n_distinct("callsign").alias("unique_callsigns"),
        _n_distinct("origin_country").alias("countries_active"),
        _count_when(F.col("on_ground"), "grounded_aircraft"),
        _count_when(~F.col("on_ground"), "airborne_aircraft"),
        F.avg("baro_altitude_ft").alias("avg_altitude_ft"),
        F.min("baro_altitude_ft").alias("min_altitude_ft"),
        F.max("baro_altitude_ft").alias("max_altitude_ft"),
        F.stddev("baro_altitude_ft").alias("altitude_stddev_ft"),
        F.percentile_approx("baro_altitude_ft", 0.5).alias("median_altitude_ft"),
        F.percentile_approx("baro_altitude_ft", 0.95).alias("p95_altitude_ft"),
        F.avg("velocity_knots").alias("avg_speed_knots"),
        F.stddev("velocity_knots").alias("speed_stddev_knots"),
        F.percentile_approx("velocity_knots", 0.5).alias("median_speed_knots"),
        _count_when(ac == "Low", "low_altitude_count"),
        _count_when(ac == "Medium", "medium_altitude_count"),
        _count_when(ac == "High", "high_altitude_count"),
        _count_when(ac == "Very High", "very_high_altitude_count"),
        _count_when(sc == "Slow", "slow_speed_count"),
        _count_when(sc == "Normal", "normal_speed_count"),
        _count_when(sc == "Fast", "fast_speed_count"),
        _count_when(sc == "Very Fast", "very_fast_speed_count"),
        _count_when(fp == "Ground", "ground_phase_count"),
        _count_when(fp == "Takeoff", "takeoff_phase_count"),
        _count_when(fp == "Climb", "climb_phase_count"),
        _count_when(fp == "Cruise", "cruise_phase_count"),
        _count_when(fp == "Descent", "descent_phase_count"),
        _count_when(fp == "Approach", "approach_phase_count"),
        _count_when(lat.between(30, 70) & lon.between(-130, -60), "north_america_flights"),
        _count_when(lat.between(35, 70) & lon.between(-15, 45), "europe_flights"),
        _count_when(lat.between(20, 50) & lon.between(100, 150), "east_asia_flights"),
        _count_when(lat.between(-45, -10) & lon.between(110, 180), "oceania_flights"),
        F.avg("data_quality_score").alias("avg_data_quality_score"),
        F.min("data_quality_score").alias("min_data_quality_score"),
        _count_when(F.col("data_quality_score") >= 0.9, "excellent_quality_count"),
        _count_when(F.col("data_quality_score") < 0.7, "poor_quality_count"),
        F.avg("completeness_score").alias("avg_completeness_score"),
        F.avg("validity_score").alias("avg_validity_score"),
        F.avg("consistency_score").alias("avg_consistency_score"),
    )


def daily_flight_summary(processed: DataFrame) -> DataFrame:
    """View 2 (06:182-325): daily rollup of the hourly view — two chained
    aggregations including peak-hour via MAX over the hourly counts."""
    hourly = hourly_flight_summary(processed)
    w_peak = Window.partitionBy("year", "month", "day")
    hourly = hourly.withColumn("peak_hour_flights", F.max("total_flights").over(w_peak))
    return hourly.groupBy("year", "month", "day").agg(
        F.sum("total_flights").alias("total_flights"),
        F.sum("unique_aircraft").alias("aircraft_hours"),
        F.count("*").alias("active_hours"),
        F.avg("total_flights").alias("avg_hourly_flights"),
        F.max("peak_hour_flights").alias("peak_hour_flights"),
        F.avg("avg_altitude_ft").alias("avg_altitude_ft"),
        F.avg("avg_speed_knots").alias("avg_speed_knots"),
        F.avg("avg_data_quality_score").alias("avg_data_quality_score"),
    )


def realtime_flight_metrics(processed: DataFrame, now_unix: int, window_hours: int = 4) -> DataFrame:
    """View 3 (06:332-497): rolling last-N-hours operational metrics
    (06:512-515's collection_time >= now−14400 filter, parameterized)."""
    cutoff = now_unix - window_hours * 3600
    df = processed.filter(F.col("collection_time") >= cutoff)
    return df.agg(
        F.count("*").alias("total_observations"),
        _n_distinct("icao24").alias("active_aircraft"),
        _count_when(~F.col("on_ground"), "airborne_count"),
        _count_when(F.col("on_ground"), "ground_count"),
        F.avg("baro_altitude_ft").alias("avg_altitude_ft"),
        F.avg("velocity_knots").alias("avg_speed_knots"),
        F.max("velocity_knots").alias("max_speed_knots"),
        F.avg("data_quality_score").alias("avg_quality"),
        F.max("collection_time").alias("latest_collection_time"),
    )


def data_quality_dashboard(quality_metrics: DataFrame) -> DataFrame:
    """View 4 (06:505-...): quality-metrics dashboard rollup per day."""
    return (
        quality_metrics.groupBy("year", "month", "day")
        .agg(
            F.sum("total_records").alias("total_records"),
            F.sum("quarantined_records").alias("quarantined_records"),
            F.avg("avg_overall_quality").alias("avg_overall_quality"),
            F.avg("avg_completeness").alias("avg_completeness"),
            F.avg("avg_validity").alias("avg_validity"),
            F.avg("avg_consistency").alias("avg_consistency"),
            F.avg("avg_timeliness").alias("avg_timeliness"),
            F.max("quarantine_rate").alias("worst_quarantine_rate"),
        )
        .orderBy(F.desc("year"), F.desc("month"), F.desc("day"))
    )


def high_quality_flights(processed: DataFrame) -> DataFrame:
    """View 5 (03:332-353): the high-quality subset — score > 0.8 AND
    completeness > 0.7 AND validity > 0.8."""
    return processed.filter(
        (F.col("data_quality_score") > 0.8)
        & (F.col("completeness_score") > 0.7)
        & (F.col("validity_score") > 0.8)
    )


def latest_flight_activity(raw_batches: DataFrame) -> DataFrame:
    """View 6 (02:156-191, raw side): per-batch activity — batch time and
    aircraft count via cardinality(states)."""
    return raw_batches.select(
        F.col("time").alias("batch_time"),
        F.size("states").alias("aircraft_count"),
        F.timestamp_seconds(F.col("time")).alias("batch_timestamp"),
    ).orderBy(F.desc("batch_time"))
