"""Enrichment transform: unit conversions + business-rule derived columns.

Pure DataFrame → DataFrame (no I/O), replacing the reference's per-record
Python loops (`flight_data_ingestion.py:301-349`, `flight_data_processor.py:
72-191`) with two ``withColumns`` levels — the unit conversions, then the
business rules that read them — which Catalyst collapses into one narrow
projection with zero shuffles at any scale. :func:`enrich_builder` builds
both levels once, so a stream can reuse them for every micro-batch.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from aws_flight_data_pipeline_spark.config import TransformationConfig

# Unit conversion factors (flight_data_ingestion.py:310-313,
# data_transformer.py:376,402)
M_TO_FT = 3.28084
MS_TO_KNOTS = 1.94384
MS_TO_KMH = 3.6
MS_TO_FPM = 196.850394  # m/s -> ft/min
KNOTS_TO_MPH = 1.15078


def unit_conversion_columns() -> dict[str, Column]:
    """Metric→aviation unit conversions + has_* presence flags
    (flight_data_ingestion.py:301-325), as one level of new columns."""
    return {
        "baro_altitude_m": F.col("baro_altitude"),
        "geo_altitude_m": F.col("geo_altitude"),
        "baro_altitude_ft": F.round(F.col("baro_altitude") * M_TO_FT, 0).cast("int"),
        "geo_altitude_ft": F.round(F.col("geo_altitude") * M_TO_FT, 0).cast("int"),
        "velocity_ms": F.col("velocity"),
        "velocity_knots": F.round(F.col("velocity") * MS_TO_KNOTS, 1),
        "velocity_kmh": F.round(F.col("velocity") * MS_TO_KMH, 1),
        "vertical_rate_ms": F.col("vertical_rate"),
        "vertical_rate_fpm": F.round(F.col("vertical_rate") * MS_TO_FPM, 0).cast("int"),
        "has_position": F.col("latitude").isNotNull() & F.col("longitude").isNotNull(),
        "has_altitude": F.col("baro_altitude").isNotNull(),
        "has_velocity": F.col("velocity").isNotNull(),
    }


def altitude_category(altitude_ft: Column) -> Column:
    """LOW <1000 / MEDIUM <18000 / HIGH <35000 / VERY_HIGH, UNKNOWN on null
    (flight_data_processor.py:89-101)."""
    return (
        F.when(altitude_ft.isNull(), "UNKNOWN")
        .when(altitude_ft < 1000, "LOW")
        .when(altitude_ft < 18000, "MEDIUM")
        .when(altitude_ft < 35000, "HIGH")
        .otherwise("VERY_HIGH")
    )


def speed_category_processor(velocity_knots: Column) -> Column:
    """SLOW <50 / TAXI <200 / APPROACH <400 / CRUISE <600 / HIGH_SPEED
    (flight_data_processor.py:104-117 variant)."""
    return (
        F.when(velocity_knots.isNull(), "UNKNOWN")
        .when(velocity_knots < 50, "SLOW")
        .when(velocity_knots < 200, "TAXI")
        .when(velocity_knots < 400, "APPROACH")
        .when(velocity_knots < 600, "CRUISE")
        .otherwise("HIGH_SPEED")
    )


def speed_category_banded(velocity_knots: Column, config: TransformationConfig | None = None) -> Column:
    """Configurable [lo, hi) bucket variant (data_transformer.py:590-610):
    stationary/taxi_speed/low_speed/medium_speed/high_speed/supersonic."""
    cfg = config or TransformationConfig()
    expr: Column | None = None
    for name, (lo, hi) in cfg.speed_thresholds.items():
        cond = (velocity_knots >= lo) & (velocity_knots < hi)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    assert expr is not None
    return F.when(velocity_knots.isNull(), "unknown").otherwise(expr.otherwise("unknown"))


def estimated_phase(
    on_ground: Column, altitude_ft: Column, velocity_knots: Column, vertical_rate_fpm: Column
) -> Column:
    """Simple per-record phase estimate (flight_data_processor.py:119-145):
    GROUND / TAKEOFF / LANDING / LOW_ALTITUDE / CRUISE / CLIMB / DESCENT /
    LEVEL_FLIGHT / UNKNOWN."""
    vr = vertical_rate_fpm
    return (
        F.when(on_ground, "GROUND")
        .when(
            altitude_ft.isNotNull() & velocity_knots.isNotNull(),
            F.when(
                altitude_ft < 1000,
                F.when(vr.isNotNull() & (vr > 0), "TAKEOFF")
                .when(vr.isNotNull() & (vr < 0), "LANDING")
                .otherwise("LOW_ALTITUDE"),
            )
            .when((altitude_ft > 25000) & (velocity_knots > 300), "CRUISE")
            .otherwise(
                F.when(vr.isNotNull() & (vr > 500), "CLIMB")
                .when(vr.isNotNull() & (vr < -500), "DESCENT")
                .otherwise("LEVEL_FLIGHT")
            ),
        )
        .otherwise("UNKNOWN")
    )


def flight_phase_detailed(
    altitude_ft: Column,
    speed_knots: Column,
    climb_rate_fpm: Column,
    config: TransformationConfig | None = None,
) -> Column:
    """Sequence-aware phase cascade (data_transformer.py:523-588): ground /
    taxi / takeoff / climb / cruise / descent / approach. Null inputs are
    treated as 0, matching the reference's NaN→0 coercion."""
    cfg = config or TransformationConfig()
    alt = F.coalesce(altitude_ft, F.lit(0.0))
    spd = F.coalesce(speed_knots, F.lit(0.0))
    cr = F.coalesce(climb_rate_fpm, F.lit(0.0))
    return (
        F.when(
            alt <= cfg.ground_altitude_threshold_ft,
            F.when(spd <= 5, "ground")
            .when(spd <= cfg.taxi_speed_threshold_knots, "taxi")
            .otherwise("takeoff"),
        )
        .when(
            cr >= cfg.takeoff_climb_rate_threshold,
            F.when(alt < 3000, "takeoff").otherwise("climb"),
        )
        .when(
            cr <= cfg.approach_descent_rate_threshold,
            F.when(alt < 3000, "approach").otherwise("descent"),
        )
        .when(alt >= cfg.cruise_altitude_threshold_ft, "cruise")
        .when(spd < 150, "approach")
        .otherwise("cruise")
    )


def region_code(latitude: Column, longitude: Column) -> Column:
    """Lon/lat box region (flight_data_processor.py:167-179): NORTH_AMERICA /
    EUROPE / ASIA_PACIFIC / OTHER / UNKNOWN."""
    return (
        F.when(latitude.isNull() | longitude.isNull(), "UNKNOWN")
        .when((longitude >= -125) & (longitude <= -66) & (latitude >= 20) & (latitude <= 72), "NORTH_AMERICA")
        .when((longitude >= -15) & (longitude <= 55) & (latitude >= 35) & (latitude <= 70), "EUROPE")
        .when((longitude >= 95) & (longitude <= 145) & (latitude >= -45) & (latitude <= 20), "ASIA_PACIFIC")
        .otherwise("OTHER")
    )


COMPLETENESS_FIELDS = (
    "icao24",
    "callsign",
    "origin_country",
    "longitude",
    "latitude",
    "baro_altitude_ft",
    "velocity_knots",
    "true_track",
)


def completeness_score_8field(df_cols: tuple[str, ...] = COMPLETENESS_FIELDS) -> Column:
    """Non-null ratio over the 8 completeness fields, rounded to 3
    (flight_data_processor.py:148-154)."""
    present = sum(
        (F.when(F.col(c).isNotNull(), 1).otherwise(0) for c in df_cols), start=F.lit(0)
    )
    return F.round(present / F.lit(len(df_cols)), 3)


def business_rule_columns(config: TransformationConfig | None = None) -> dict[str, Column]:
    """The business-rule pass (flight_data_processor.py:72-191): altitude
    and speed categories, estimated phase, completeness, callsign
    normalization + airline code, region. Reads the unit-conversion
    columns, so it is the level after :func:`unit_conversion_columns`."""
    alt_ft = F.coalesce(F.col("baro_altitude_ft"), F.col("geo_altitude_ft"))
    cs = F.trim(F.col("callsign"))
    return {
        "altitude_category": altitude_category(alt_ft),
        "speed_category": speed_category_processor(F.col("velocity_knots")),
        "estimated_phase": estimated_phase(
            F.coalesce(F.col("on_ground"), F.lit(False)),
            alt_ft,
            F.col("velocity_knots"),
            F.col("vertical_rate_fpm"),
        ),
        "completeness_score": completeness_score_8field(),
        "callsign_normalized": F.when(cs.isNotNull() & (F.length(cs) > 0), F.upper(cs)),
        "airline_code": F.when(F.length(cs) >= 3, F.substring(cs, 1, 3)),
        "region": region_code(F.col("latitude"), F.col("longitude")),
    }


def enrich_builder(
    cols: Sequence[str], config: TransformationConfig | None = None
) -> Callable[[DataFrame], DataFrame]:
    """Build the enrichment once for inputs with columns ``cols``: the
    returned function applies the two column levels (unit conversions, then
    the business rules that read them) as two ``withColumns``."""
    conversions, rules = unit_conversion_columns(), business_rule_columns(config)
    return lambda df: df.withColumns(conversions).withColumns(rules)


def enrich(df: DataFrame, config: TransformationConfig | None = None) -> DataFrame:
    """Unit conversions + business rules in one narrow pass."""
    return enrich_builder(df.columns, config)(df)
