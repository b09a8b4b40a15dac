"""Per-aircraft sequence operators: windows partitioned by icao24.

The reference iterates per-aircraft pandas groups in Python loops
(`data_transformer.py:306-678`) — the anti-pattern SURVEY §7.3 replaces.
Every operator here is a window function over ``partitionBy(icao24)
orderBy(ts)``; all specs share one partitioning so Spark plans a single
shuffle for the whole sequence pass, and each aircraft's trajectory is
processed where its partition lives — embarrassingly parallel at 100 TB.

Determinism: ordering always tiebreaks on a unique column when provided;
`best_quality` dedup tiebreaks on (completeness desc, key order) so results
are stable across engines (the reference's unstable pandas sort is a bug we
fix, SURVEY §7.3 hard-part 5).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from aws_flight_data_pipeline_spark.functions.geo import EARTH_RADIUS_MILES, haversine


def seq_window(key: str = "icao24", ts: str = "timestamp", *extra_order: str):
    return Window.partitionBy(key).orderBy(ts, *extra_order)


# ---------------------------------------------------------------------------
# Imputation strategies (data_transformer.py:117-126, 306-350)
# ---------------------------------------------------------------------------


def forward_fill(df: DataFrame, col: str, key: str = "icao24", ts: str = "timestamp") -> DataFrame:
    w = seq_window(key, ts).rowsBetween(Window.unboundedPreceding, 0)
    return df.withColumn(col, F.last(col, ignorenulls=True).over(w))


def backward_fill(df: DataFrame, col: str, key: str = "icao24", ts: str = "timestamp") -> DataFrame:
    w = seq_window(key, ts).rowsBetween(0, Window.unboundedFollowing)
    return df.withColumn(col, F.first(col, ignorenulls=True).over(w))


def fill_mean(df: DataFrame, col: str, key: str = "icao24") -> DataFrame:
    """Fill nulls with the per-aircraft mean (unbounded window, no join)."""
    w = Window.partitionBy(key)
    return df.withColumn(col, F.coalesce(F.col(col), F.avg(col).over(w)))


def fill_mode(df: DataFrame, col: str, key: str = "icao24") -> DataFrame:
    """Fill nulls with the per-aircraft modal value (deterministic tiebreak:
    smallest value among equally frequent)."""
    counts = (
        df.filter(F.col(col).isNotNull())
        .groupBy(key, col)
        .count()
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy(key).orderBy(F.desc("count"), F.col(col))
            ),
        )
        .filter(F.col("rn") == 1)
        .select(F.col(key).alias("_mk"), F.col(col).alias("_mode"))
    )
    out = (
        df.join(F.broadcast(counts), df[key] == counts["_mk"], "left")
        .withColumn(col, F.coalesce(F.col(col), F.col("_mode")))
        .drop("_mk", "_mode")
    )
    return out


def linear_interpolate(
    df: DataFrame, col: str, key: str = "icao24", ts: str = "timestamp"
) -> DataFrame:
    """Per-group linear interpolation in event time — the strategy with no
    Spark builtin (SURVEY §7.3 hard-part 1), composed from two one-sided
    ignore-nulls windows + lerp; boundary gaps fall back to nearest non-null
    (matching pandas interpolate(limit_direction='both'))."""
    w_prev = seq_window(key, ts).rowsBetween(Window.unboundedPreceding, 0)
    w_next = seq_window(key, ts).rowsBetween(0, Window.unboundedFollowing)
    v = F.col(col)
    ts_d = F.col(ts).cast("double")
    ts_if = F.when(v.isNotNull(), ts_d)
    prev_v = F.last(v, ignorenulls=True).over(w_prev)
    prev_t = F.last(ts_if, ignorenulls=True).over(w_prev)
    next_v = F.first(v, ignorenulls=True).over(w_next)
    next_t = F.first(ts_if, ignorenulls=True).over(w_next)
    lerp = prev_v + (next_v - prev_v) * (ts_d - prev_t) / F.nullif(next_t - prev_t, F.lit(0.0))
    return df.withColumn(
        col,
        F.when(v.isNotNull(), v)
        .when(prev_v.isNull(), next_v)
        .when(next_v.isNull(), prev_v)
        .otherwise(F.coalesce(lerp, prev_v)),
    )


def apply_missing_value_strategies(
    df: DataFrame, strategies: dict[str, str], key: str = "icao24", ts: str = "timestamp"
) -> DataFrame:
    """Dispatch the per-column strategy map (data_transformer.py:117-126)."""
    drop_cols = [c for c, s in strategies.items() if s == "drop" and c in df.columns]
    if drop_cols:
        df = df.dropna(subset=drop_cols)
    for col, strategy in strategies.items():
        if col not in df.columns or strategy == "drop":
            continue
        if strategy == "forward_fill":
            df = forward_fill(df, col, key, ts)
        elif strategy == "backward_fill":
            df = backward_fill(df, col, key, ts)
        elif strategy == "interpolate":
            df = linear_interpolate(df, col, key, ts)
        elif strategy == "mean":
            df = fill_mean(df, col, key)
        elif strategy == "mode":
            df = fill_mode(df, col, key)
        else:
            raise ValueError(f"unknown missing-value strategy: {strategy}")
    return df


# ---------------------------------------------------------------------------
# Derived sequence columns (data_transformer.py:409-518)
# ---------------------------------------------------------------------------


def with_leg_distance(
    df: DataFrame,
    key: str = "icao24",
    ts: str = "timestamp",
    lat: str = "latitude",
    lon: str = "longitude",
    radius: float = EARTH_RADIUS_MILES,
) -> DataFrame:
    """Haversine distance between consecutive fixes + cumulative distance
    (data_transformer.py:409-472; miles to match the consistency checks)."""
    w = seq_window(key, ts)
    prev_lat, prev_lon = F.lag(lat).over(w), F.lag(lon).over(w)
    leg = haversine(prev_lat, prev_lon, F.col(lat), F.col(lon), radius)
    w_run = seq_window(key, ts).rowsBetween(Window.unboundedPreceding, 0)
    return df.withColumn("leg_distance", leg).withColumn(
        "cumulative_distance", F.sum(F.coalesce(leg, F.lit(0.0))).over(w_run)
    )


def with_climb_rate(
    df: DataFrame, key: str = "icao24", ts: str = "timestamp", alt: str = "altitude_ft"
) -> DataFrame:
    """Δaltitude_ft / Δt_minutes (data_transformer.py:474-496)."""
    w = seq_window(key, ts)
    dt_min = (F.col(ts).cast("double") - F.lag(F.col(ts).cast("double")).over(w)) / 60.0
    dalt = F.col(alt) - F.lag(alt).over(w)
    return df.withColumn("climb_rate_fpm", dalt / F.nullif(dt_min, F.lit(0.0)))


def with_acceleration(
    df: DataFrame, key: str = "icao24", ts: str = "timestamp", speed: str = "speed_knots"
) -> DataFrame:
    """Δspeed_knots / Δt_minutes (data_transformer.py:499-518)."""
    w = seq_window(key, ts)
    dt_min = (F.col(ts).cast("double") - F.lag(F.col(ts).cast("double")).over(w)) / 60.0
    dspd = F.col(speed) - F.lag(speed).over(w)
    return df.withColumn("acceleration_kts_min", dspd / F.nullif(dt_min, F.lit(0.0)))


# ---------------------------------------------------------------------------
# Deduplication strategies (data_transformer.py:612-659)
# ---------------------------------------------------------------------------


def dedup(
    df: DataFrame,
    keys: tuple[str, ...] = ("icao24", "timestamp"),
    strategy: str = "last",
    ts: str = "timestamp",
    quality_col: Column | None = None,
) -> DataFrame:
    """first | last | best_quality duplicate removal on the key tuple.

    best_quality keeps the row maximizing ``quality_col`` (the reference's
    0.7·completeness + 0.3·critical-fields score) with a deterministic
    tiebreak; first/last order by the timestamp column.
    """
    if strategy == "first":
        order = [F.col(ts).asc()]
    elif strategy == "last":
        order = [F.col(ts).desc()]
    elif strategy == "best_quality":
        if quality_col is None:
            raise ValueError("best_quality dedup requires quality_col")
        order = [quality_col.desc(), F.col(ts).desc()]
    else:
        raise ValueError(f"unknown dedup strategy: {strategy}")
    w = Window.partitionBy(*keys).orderBy(*order)
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def default_quality_score(df: DataFrame) -> Column:
    """The best_quality ranking score (data_transformer.py:612-659):
    0.7·overall-completeness + 0.3·critical-field completeness."""
    all_cols = [c for c in df.columns]
    critical = [c for c in ("latitude", "longitude", "altitude_ft", "speed_knots") if c in df.columns]
    overall = sum(
        (F.when(F.col(c).isNotNull(), 1).otherwise(0) for c in all_cols), start=F.lit(0)
    ) / F.lit(len(all_cols))
    crit = sum(
        (F.when(F.col(c).isNotNull(), 1).otherwise(0) for c in critical), start=F.lit(0)
    ) / F.lit(max(len(critical), 1))
    return 0.7 * overall + 0.3 * crit


def state_runs(events: DataFrame) -> DataFrame:
    """Gaps-and-islands state runs over a change stream: ``(user_id, ver,
    state, from_us, run_events)`` — consecutive events with the same
    ``event_type`` (ordered by ``ts`` then ``event_id``) collapse into one
    run. The run constructor of the batch SCD2 history query
    (plans/sequences.py:scd2_state_history); one ``user_id`` shuffle, every
    later stage partition-local."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    chg = F.when(
        F.col("prev").isNull() | (F.col("prev") != F.col("event_type")), 1
    ).otherwise(0)
    # normalize TIMESTAMP_NTZ (raw streaming parquet reads) to session-tz
    # TIMESTAMP so unix_micros resolves; UTC is pinned by load_table
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    vers = (
        events.select(
            "user_id", "event_id", "ts", "event_type",
            F.lag("event_type").over(w).alias("prev"),
        )
        .withColumn(
            "ver",
            F.sum(chg)
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("bigint"),
        )
    )
    return vers.groupBy("user_id", "ver").agg(
        F.max("event_type").alias("state"),  # constant within a run
        F.unix_micros(F.min("ts")).alias("from_us"),
        F.count("*").alias("run_events"),
    )
