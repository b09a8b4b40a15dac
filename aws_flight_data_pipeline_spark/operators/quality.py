"""Four-dimension data-quality scoring as vectorized column expressions.

The reference scores record-by-record in Python (`quality_validator.py:
196-710`); here each dimension is one Column over the whole DataFrame and the
full pass is a single narrow projection (plus one window shuffle for the
consistency dimension's lag context). The reference's *batch-local*
previous-record context (`main_validator.py:108-153`) becomes a proper
per-aircraft window — strictly more correct across batch boundaries
(SURVEY §7.3 hard-part 4).

Determinism: ``now`` is always injected (never current_timestamp).
"""

from __future__ import annotations

import functools
from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from aws_flight_data_pipeline_spark.config import QualityConfig
from aws_flight_data_pipeline_spark.functions.geo import EARTH_RADIUS_MILES, haversine

ICAO24_PATTERN = "^[0-9a-f]{6}$"


def completeness_score(cols: Sequence[str], cfg: QualityConfig | None = None) -> Column:
    """Penalty model (quality_validator.py:284-332): 0.8 per missing critical
    field, 0.2 per missing important field, floored at 0, then min'd with the
    raw presence ratio. ``cols``: the input's column names."""
    cfg = cfg or QualityConfig()
    crit = [c for c in cfg.critical_fields if c in cols]
    imp = [c for c in cfg.important_fields if c in cols]
    missing_crit = sum(
        (F.when(F.col(c).isNull(), 1).otherwise(0) for c in crit), start=F.lit(0)
    )
    missing_imp = sum((F.when(F.col(c).isNull(), 1).otherwise(0) for c in imp), start=F.lit(0))
    penalized = F.greatest(
        F.lit(0.0),
        1.0 - missing_crit * cfg.missing_critical_penalty - missing_imp * cfg.missing_important_penalty,
    )
    total = len(crit) + len(imp)
    ratio = ((F.lit(len(crit)) - missing_crit) + (F.lit(len(imp)) - missing_imp)) / F.lit(total)
    return F.least(penalized, ratio)


def validity_score(cols: Sequence[str], cfg: QualityConfig | None = None) -> Column:
    """1 − failed/checked over range + format checks (quality_validator.py:
    334-522): altitude, velocity, lat/lon bounds, vertical rate, icao24 hex."""
    cfg = cfg or QualityConfig()
    checks: list[tuple[Column, Column]] = []  # (performed, failed)

    def add(present: Column, ok: Column) -> None:
        checks.append((F.when(present, 1).otherwise(0), F.when(present & ~ok, 1).otherwise(0)))

    if "baro_altitude_ft" in cols:
        alt = F.col("baro_altitude_ft")
        add(alt.isNotNull(), (alt >= cfg.altitude_min) & (alt <= cfg.altitude_max))
    if "velocity_knots" in cols:
        v = F.col("velocity_knots")
        add(v.isNotNull(), (v >= cfg.velocity_min) & (v <= cfg.velocity_max))
    if "latitude" in cols:
        lat = F.col("latitude")
        add(lat.isNotNull(), (lat >= -90.0) & (lat <= 90.0) & ~F.isnan(lat))
    if "longitude" in cols:
        lon = F.col("longitude")
        add(lon.isNotNull(), (lon >= -180.0) & (lon <= 180.0) & ~F.isnan(lon))
    if "vertical_rate_fpm" in cols:
        vr = F.col("vertical_rate_fpm")
        add(vr.isNotNull(), F.abs(vr) <= cfg.vertical_rate_max)
    if "icao24" in cols:
        ic = F.col("icao24")
        add(ic.isNotNull(), ic.rlike(ICAO24_PATTERN))

    performed = sum((p for p, _ in checks), start=F.lit(0))
    failed = sum((f for _, f in checks), start=F.lit(0))
    return F.when(performed == 0, 1.0).otherwise(1.0 - failed / performed)


def consistency_score(
    cols: Sequence[str], cfg: QualityConfig | None = None, key: str = "icao24", ts: str = "last_contact"
) -> Column:
    """Cross-field + cross-fix coherence (quality_validator.py:524-634):
    speed/altitude ratio, on_ground vs altitude, airborne-but-static, and
    position-teleportation vs the previous fix (lag window per aircraft)."""
    cfg = cfg or QualityConfig()
    checks: list[tuple[Column, Column]] = []

    def add(present: Column, ok: Column) -> None:
        checks.append((F.when(present, 1).otherwise(0), F.when(present & ~ok, 1).otherwise(0)))

    alt = F.col("baro_altitude_ft") if "baro_altitude_ft" in cols else F.lit(None)
    v = F.col("velocity_knots") if "velocity_knots" in cols else F.lit(None)
    og = F.col("on_ground") if "on_ground" in cols else F.lit(None)

    # speed/altitude ratio (airborne only): > 2 kts per 1000 ft is suspect
    airborne = og.isNotNull() & ~og
    ratio_present = airborne & alt.isNotNull() & v.isNotNull() & (alt > 0)
    # v / (alt / 1000) <= max * 1000, multiplied out: a subnormal altitude
    # makes alt / 1000 zero, and the division raises under ANSI mode
    add(ratio_present, v <= cfg.speed_altitude_ratio_max * alt)
    # on_ground claimed but altitude high
    add(og.isNotNull() & og & alt.isNotNull(), alt <= 1000)
    # airborne but low and slow
    add(airborne & alt.isNotNull() & v.isNotNull(), ~((alt < 100) & (v < 50)))

    if {"latitude", "longitude", key, ts} <= set(cols):
        w = Window.partitionBy(key).orderBy(ts)
        p_lat, p_lon, p_ts = F.lag("latitude").over(w), F.lag("longitude").over(w), F.lag(ts).over(w)
        dist = haversine(p_lat, p_lon, F.col("latitude"), F.col("longitude"), EARTH_RADIUS_MILES)
        dt = F.col(ts).cast("double") - p_ts.cast("double")
        max_mi = F.greatest(cfg.velocity_max / 3600.0 * 1.15078 * dt, F.lit(cfg.position_jump_threshold))
        add(p_lat.isNotNull() & (dt > 0), dist <= max_mi)

    performed = sum((p for p, _ in checks), start=F.lit(0))
    failed = sum((f for _, f in checks), start=F.lit(0))
    return F.when(performed == 0, 1.0).otherwise(1.0 - failed / performed)


def timeliness_score(now_unix: Column, cfg: QualityConfig | None = None) -> Column:
    """Freshness decay vs injected now (quality_validator.py:636-710):
    ≤60 s → 1.0; ≤300 s → linear 1.0→0.8; 300–1800 s → linear floor 0.5;
    >1800 s → 0.2; stale time_position caps at 0.5."""
    cfg = cfg or QualityConfig()
    fresh = now_unix.cast("double") - F.col("last_contact").cast("double")
    span = cfg.data_freshness_threshold - cfg.optimal_freshness
    base = (
        F.when(F.col("last_contact").isNull(), 1.0)
        .when(fresh > cfg.stale_data_threshold, 0.2)
        .when(
            fresh > cfg.data_freshness_threshold,
            F.greatest(F.lit(0.5), 1.0 - (fresh - cfg.optimal_freshness) / span),
        )
        .when(fresh <= cfg.optimal_freshness, 1.0)
        .otherwise(1.0 - (fresh - cfg.optimal_freshness) / span * 0.2)
    )
    pos_fresh = now_unix.cast("double") - F.col("time_position").cast("double")
    return F.when(
        F.col("time_position").isNotNull() & (pos_fresh > cfg.stale_data_threshold),
        F.least(base, F.lit(0.5)),
    ).otherwise(base)


def quality_grade(overall: Column, cfg: QualityConfig | None = None) -> Column:
    """A≥.95 B≥.85 C≥.70 D≥.50 else F (quality_validator.py:770-781)."""
    cfg = cfg or QualityConfig()
    return (
        F.when(overall >= cfg.excellent_quality_threshold, "A")
        .when(overall >= cfg.good_quality_threshold, "B")
        .when(overall >= cfg.acceptable_quality_threshold, "C")
        .when(overall >= cfg.poor_quality_threshold, "D")
        .otherwise("F")
    )


def now_column(now_unix: int | float | Column) -> Column:
    """The injected ``now`` as a Column: a Column passes through, any other
    value (int, float, numpy scalar) becomes a literal."""
    return now_unix if isinstance(now_unix, Column) else F.lit(now_unix)


def score_quality_builder(
    cols: Sequence[str], now_unix: Column, cfg: QualityConfig | None = None
) -> Callable[[DataFrame], DataFrame]:
    """Build the quality scoring once for inputs with columns ``cols``: the
    returned function applies three ``withColumns`` levels — the four
    dimension scores, the weighted overall, then grade + quarantine
    decision. ``now_unix`` is a Column (a literal, or a column of the
    input)."""
    cfg = cfg or QualityConfig()
    levels: list[dict[str, Column]] = []
    if "time_position" not in cols:
        # processed tables may drop time_position; null → base timeliness only
        levels.append({"time_position": F.lit(None).cast("long")})
        cols = [*cols, "time_position"]
    dimensions = {
        "completeness_score": completeness_score(cols, cfg),
        "validity_score": validity_score(cols, cfg),
        "consistency_score": consistency_score(cols, cfg),
        "timeliness_score": timeliness_score(now_unix, cfg),
    }
    overall = {
        "data_quality_score": cfg.completeness_weight * F.col("completeness_score")
        + cfg.validity_weight * F.col("validity_score")
        + cfg.consistency_weight * F.col("consistency_score")
        + cfg.timeliness_weight * F.col("timeliness_score")
    }
    critical_issue = (
        (F.col("completeness_score") < 1.0 - cfg.missing_critical_penalty + 1e-9)
        | F.col("icao24").isNull()
        | (~F.col("icao24").rlike(ICAO24_PATTERN))
    )
    decision = {
        "quality_grade": quality_grade(F.col("data_quality_score"), cfg),
        "should_quarantine": (F.col("data_quality_score") < cfg.quarantine_threshold) | critical_issue,
    }
    levels += [dimensions, overall, decision]
    return lambda df: functools.reduce(DataFrame.withColumns, levels, df)


def score_quality(
    df: DataFrame, now_unix: int | float | Column, cfg: QualityConfig | None = None
) -> DataFrame:
    """Add the four dimension scores, weighted overall, grade, and quarantine
    decision columns in one pass (the Spark form of
    DataQualityOrchestrator.process_records, main_validator.py:84-219)."""
    return score_quality_builder(df.columns, now_column(now_unix), cfg)(df)


def quarantine_reason(cfg: QualityConfig | None = None) -> Column:
    """Primary quarantine reason, priority-ordered (quarantine_system.py's
    per-record reason field): invalid identifier > missing critical fields >
    low overall score."""
    cfg = cfg or QualityConfig()
    return (
        F.when(
            F.col("icao24").isNull() | ~F.col("icao24").rlike(ICAO24_PATTERN),
            "invalid_identifier",
        )
        .when(
            F.col("completeness_score") < 1.0 - cfg.missing_critical_penalty + 1e-9,
            "missing_critical_fields",
        )
        .when(F.col("data_quality_score") < cfg.quarantine_threshold, "low_quality_score")
    )


def quarantine_statistics(scored: DataFrame, cfg: QualityConfig | None = None) -> DataFrame:
    """Per-reason quarantine review statistics — the review/statistics half of
    the quarantine lifecycle (quarantine_system.py:387-659) as one hash-agg
    over the quarantined subset."""
    q = scored.filter(F.col("should_quarantine")).withColumn(
        "reason", quarantine_reason(cfg)
    )
    return (
        q.groupBy("reason")
        .agg(
            F.count("*").alias("record_count"),
            F.countDistinct("icao24").alias("unique_aircraft"),
            F.round(F.avg("data_quality_score"), 4).alias("avg_quality_score"),
            F.round(F.min("data_quality_score"), 4).alias("min_quality_score"),
            F.min("last_contact").alias("oldest_record_ts"),
            F.max("last_contact").alias("newest_record_ts"),
        )
        .orderBy("reason")
    )


def quarantine_cleanup_candidates(
    quarantined: DataFrame, now_unix: int, retention_days: int = 30, ts_col: str = "last_contact"
) -> DataFrame:
    """Records past the retention window — the cleanup sweep of the
    quarantine lifecycle (quarantine_system.py:563-659). A pure filter, so on
    a time-partitioned quarantine store the scan prunes to expired
    partitions only."""
    cutoff = now_unix - retention_days * 86400
    return quarantined.filter(F.col(ts_col) < cutoff)


#: alerting.py:398-520 / config.py:168-200 thresholds
ALERT_THRESHOLDS = {
    "quality_drop": 0.10,       # vs previous batch
    "anomaly_rate": 0.05,
    "quarantine_rate": 0.15,
    "min_quality": 0.70,
}


def evaluate_alerts(summary: DataFrame, prev_summary: DataFrame | None = None) -> DataFrame:
    """Alert rows from a batch summary (alerting.py:398-520): quarantine-rate
    breach, absolute quality floor, and quality drop vs the previous batch
    (single-row crossJoin, the reference's prev-hour comparison shape).
    Returns (alert_name, severity, triggered, observed) rows."""
    s = summary
    if prev_summary is not None:
        prev = prev_summary.select(
            F.col("avg_overall_quality").alias("prev_quality")
        )
        s = s.crossJoin(F.broadcast(prev))
    else:
        s = s.withColumn("prev_quality", F.lit(None).cast("double"))

    drop = F.col("prev_quality") - F.col("avg_overall_quality")
    alerts = F.array(
        F.struct(
            F.lit("quarantine_rate_high").alias("alert_name"),
            F.lit("HIGH").alias("severity"),
            (F.col("quarantine_rate") > ALERT_THRESHOLDS["quarantine_rate"]).alias("triggered"),
            F.round(F.col("quarantine_rate"), 4).alias("observed"),
        ),
        F.struct(
            F.lit("quality_below_floor").alias("alert_name"),
            F.lit("CRITICAL").alias("severity"),
            (F.col("avg_overall_quality") < ALERT_THRESHOLDS["min_quality"]).alias("triggered"),
            F.round(F.col("avg_overall_quality"), 4).alias("observed"),
        ),
        F.struct(
            F.lit("quality_drop_vs_previous").alias("alert_name"),
            F.lit("MEDIUM").alias("severity"),
            F.coalesce(drop > ALERT_THRESHOLDS["quality_drop"], F.lit(False)).alias("triggered"),
            F.round(F.coalesce(drop, F.lit(0.0)), 4).alias("observed"),
        ),
    )
    return s.select(F.explode(alerts).alias("a")).select(
        "a.alert_name", "a.severity", "a.triggered", "a.observed"
    )


def batch_quality_summary(scored: DataFrame) -> DataFrame:
    """Per-batch aggregate metrics row — the quality-metrics table
    (03_create_processed_tables.sql:140-185) as one hash-agg."""
    return scored.agg(
        F.count("*").alias("total_records"),
        F.sum(F.when(~F.col("should_quarantine"), 1).otherwise(0)).alias("valid_records"),
        F.sum(F.when(F.col("should_quarantine"), 1).otherwise(0)).alias("quarantined_records"),
        F.round(F.avg("data_quality_score"), 4).alias("avg_overall_quality"),
        F.round(F.avg("completeness_score"), 4).alias("avg_completeness"),
        F.round(F.avg("validity_score"), 4).alias("avg_validity"),
        F.round(F.avg("consistency_score"), 4).alias("avg_consistency"),
        F.round(F.avg("timeliness_score"), 4).alias("avg_timeliness"),
        F.round(F.min("data_quality_score"), 4).alias("min_quality"),
        F.round(
            F.avg(F.when(F.col("should_quarantine"), 1.0).otherwise(0.0)), 4
        ).alias("quarantine_rate"),
    )
