"""Anomaly detection operators: flag columns + anomaly inventory array.

The reference detects record-by-record with an in-memory per-aircraft history
dict (`anomaly_detector.py:228-681`); here every detector is a column
predicate, the cross-fix detectors use per-aircraft lag windows, and the
statistical detectors join a broadcast one-row (or per-group) stats frame —
the `04:483-537` z-score query shape. The whole suite is one pass + one
window shuffle + one tiny stats broadcast at any scale.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from aws_flight_data_pipeline_spark.config import AnomalyConfig
from aws_flight_data_pipeline_spark.functions.geo import EARTH_RADIUS_MILES, haversine
from aws_flight_data_pipeline_spark.operators.quality import now_column


def physical_impossibility_flags(cols: Sequence[str], cfg: AnomalyConfig | None = None) -> dict[str, Column]:
    """Hard physics violations (anomaly_detector.py:228-294)."""
    cfg = cfg or AnomalyConfig()
    flags: dict[str, Column] = {}
    if "baro_altitude_ft" in cols:
        alt = F.col("baro_altitude_ft")
        flags["impossible_altitude"] = alt.isNotNull() & (
            (alt > cfg.max_altitude_feet) | (alt < cfg.min_altitude_feet)
        )
    if "velocity_knots" in cols:
        v = F.col("velocity_knots")
        flags["impossible_velocity"] = v.isNotNull() & (
            (v > cfg.max_velocity_knots) | (v < cfg.min_velocity_knots)
        )
    if "vertical_rate_fpm" in cols:
        vr = F.col("vertical_rate_fpm")
        flags["impossible_vertical_rate"] = vr.isNotNull() & (
            F.abs(vr) > cfg.max_vertical_rate_fpm
        )
    return flags


def corruption_flags(cols: Sequence[str], numeric_cols: tuple[str, ...] = (
    "latitude", "longitude", "baro_altitude_ft", "velocity_knots", "vertical_rate_fpm"
)) -> dict[str, Column]:
    """NaN / Inf / absurd-magnitude detection (anomaly_detector.py:565-621)."""
    present = [c for c in numeric_cols if c in cols]
    corrupt = F.lit(False)
    for c in present:
        col = F.col(c).cast("double")
        corrupt = corrupt | (
            col.isNotNull()
            & (F.isnan(col) | col.isin(float("inf"), float("-inf")) | (F.abs(col) > 1e10))
        )
    return {"data_corruption": corrupt}


def geographic_flags(cols: Sequence[str], cfg: AnomalyConfig | None = None) -> dict[str, Column]:
    """Forbidden-zone membership (anomaly_detector.py:378-418); zones are a
    literal when-chain (broadcast-join a zones table instead if the zone list
    grows beyond a handful)."""
    cfg = cfg or AnomalyConfig()
    if not {"latitude", "longitude"} <= set(cols):
        return {}
    lat, lon = F.col("latitude"), F.col("longitude")
    in_any = F.lit(False)
    for z in cfg.forbidden_zones:
        in_any = in_any | (
            (lat >= z.min_lat) & (lat <= z.max_lat) & (lon >= z.min_lon) & (lon <= z.max_lon)
        )
    return {"forbidden_zone": lat.isNotNull() & lon.isNotNull() & in_any}


def temporal_flags(cols: Sequence[str], now_unix: Column, cfg: AnomalyConfig | None = None) -> dict[str, Column]:
    """Future timestamps / ancient data (anomaly_detector.py:522-563), vs an
    injected now."""
    cfg = cfg or AnomalyConfig()
    if "last_contact" not in cols:
        return {}
    lc = F.col("last_contact").cast("double")
    now = now_unix.cast("double")
    return {
        "future_timestamp": lc.isNotNull() & (lc > now + cfg.future_data_threshold),
        "stale_timestamp": lc.isNotNull() & (lc < now - cfg.max_data_age_days * 86400.0),
    }


def movement_flags(
    cols: Sequence[str],
    cfg: AnomalyConfig | None = None,
    key: str = "icao24",
    ts: str = "last_contact",
) -> dict[str, Column]:
    """Cross-fix detectors via lag windows (anomaly_detector.py:420-520):
    position jump (speed > 0.5 mi/s or distance > 500 mi) and stuck aircraft
    (last 3 fixes within 0.05 mi over >30 min while 'moving')."""
    cfg = cfg or AnomalyConfig()
    if not {"latitude", "longitude", key, ts} <= set(cols):
        return {}
    w = Window.partitionBy(key).orderBy(ts)
    p_lat, p_lon = F.lag("latitude").over(w), F.lag("longitude").over(w)
    p_ts = F.lag(ts).over(w)
    dist = haversine(p_lat, p_lon, F.col("latitude"), F.col("longitude"), EARTH_RADIUS_MILES)
    dt = F.col(ts).cast("double") - p_ts.cast("double")
    jump = p_lat.isNotNull() & (dt > 0) & (
        (dist / dt > cfg.max_distance_per_second) | (dist > cfg.teleportation_threshold)
    )

    lat3, lon3, ts3 = F.lag("latitude", 2).over(w), F.lag("longitude", 2).over(w), F.lag(ts, 2).over(w)
    span = F.col(ts).cast("double") - ts3.cast("double")
    drift = haversine(lat3, lon3, F.col("latitude"), F.col("longitude"), EARTH_RADIUS_MILES)
    v = F.col("velocity_knots") if "velocity_knots" in cols else F.lit(0.0)
    og = F.col("on_ground") if "on_ground" in cols else F.lit(False)
    stuck = (
        lat3.isNotNull()
        & (span > cfg.stuck_time_threshold)
        & (drift < cfg.stuck_position_radius)
        & (F.coalesce(v, F.lit(0.0)) < cfg.stuck_velocity_threshold)
        & ~F.coalesce(og, F.lit(False))
    )
    return {"position_jump": jump, "stuck_aircraft": stuck}


def _outlier_builder(
    cols: Sequence[str],
    stat_cols: Sequence[str] = ("baro_altitude_ft", "velocity_knots"),
    cfg: AnomalyConfig | None = None,
) -> tuple[Callable[[DataFrame], DataFrame], list[str]]:
    """:func:`statistical_outlier_flags` built once for inputs with columns
    ``cols``; returns the transform and the flag columns it adds."""
    cfg = cfg or AnomalyConfig()
    present = [c for c in stat_cols if c in cols]
    if not present:
        return (lambda df: df), []
    aggs = [F.count("*").alias("_n")]
    for c in present:
        aggs += [
            F.avg(c).alias(f"_{c}_mean"),
            F.stddev_samp(c).alias(f"_{c}_std"),
            F.percentile(c, F.lit(0.25)).alias(f"_{c}_p25"),
            F.percentile(c, F.lit(0.75)).alias(f"_{c}_p75"),
        ]
    enough = F.col("_n") >= cfg.min_samples_for_stats
    outliers: dict[str, Column] = {}
    for c in present:
        z = (F.col(c) - F.col(f"_{c}_mean")) / F.nullif(F.col(f"_{c}_std"), F.lit(0.0))
        iqr = F.col(f"_{c}_p75") - F.col(f"_{c}_p25")
        lo = F.col(f"_{c}_p25") - cfg.iqr_multiplier * iqr
        hi = F.col(f"_{c}_p75") + cfg.iqr_multiplier * iqr
        outliers[f"{c}_zscore_outlier"] = enough & F.col(c).isNotNull() & (F.abs(z) > cfg.z_score_threshold)
        outliers[f"{c}_iqr_outlier"] = enough & F.col(c).isNotNull() & ((F.col(c) < lo) | (F.col(c) > hi))
    drop = ["_n"] + [f"_{c}_{s}" for c in present for s in ("mean", "std", "p25", "p75")]

    def apply(df: DataFrame) -> DataFrame:
        return df.crossJoin(F.broadcast(df.agg(*aggs))).withColumns(outliers).drop(*drop)

    return apply, list(outliers)


def statistical_outlier_flags(
    df: DataFrame,
    cols: tuple[str, ...] = ("baro_altitude_ft", "velocity_knots"),
    cfg: AnomalyConfig | None = None,
) -> DataFrame:
    """Z-score + IQR outlier flags vs whole-frame stats (anomaly_detector.py:
    296-376): one tiny agg row broadcast back to every row (the 04:483-537
    scalar-stats cross-join shape). Skipped below min_samples_for_stats."""
    return _outlier_builder(df.columns, cols, cfg)[0](df)


def _appended(cols: Sequence[str], names: Sequence[str]) -> list[str]:
    """Column names after ``withColumns`` of ``names`` on columns ``cols``
    (existing names are replaced in place)."""
    return [*cols, *(n for n in names if n not in cols)]


def detect_anomalies_builder(
    cols: Sequence[str], now_unix: Column, cfg: AnomalyConfig | None = None
) -> Callable[[DataFrame], DataFrame]:
    """Build the detector suite once for inputs with columns ``cols``: the
    returned function applies the flag columns (one ``withColumns``), the
    outlier-stats crossJoin, then the flag inventory. ``now_unix`` is a
    Column (a literal, or a column of the input)."""
    cfg = cfg or AnomalyConfig()
    flags: dict[str, Column] = {}
    flags.update(physical_impossibility_flags(cols, cfg))
    flags.update(corruption_flags(cols))
    flags.update(geographic_flags(cols, cfg))
    flags.update(temporal_flags(cols, now_unix, cfg))
    flags.update(movement_flags(cols, cfg))
    flag_cols = {name: F.coalesce(col, F.lit(False)) for name, col in flags.items()}
    cols = _appended(cols, list(flags))
    outliers, outlier_names = _outlier_builder(cols, cfg=cfg)
    cols = _appended(cols, outlier_names)
    flag_names = list(flags) + [
        c for c in cols if c.endswith("_zscore_outlier") or c.endswith("_iqr_outlier")
    ]
    arr = F.filter(
        F.array(*[F.when(F.col(n), F.lit(n)).otherwise(F.lit(None)) for n in flag_names]),
        lambda x: x.isNotNull(),
    )
    inventory = {"anomaly_flags": arr, "anomaly_count": F.size(arr)}
    return lambda df: outliers(df.withColumns(flag_cols)).withColumns(inventory)


def detect_anomalies(
    df: DataFrame, now_unix: int | float | Column, cfg: AnomalyConfig | None = None
) -> DataFrame:
    """Full detector suite: boolean flag columns + an ``anomaly_flags``
    array<string> inventory + ``anomaly_count`` (the Spark form of
    AnomalyDetector.detect_anomalies, anomaly_detector.py:132-226)."""
    return detect_anomalies_builder(df.columns, now_column(now_unix), cfg)(df)
