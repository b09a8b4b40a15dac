"""Per-entity sequence operators (SURVEY.md §2.8) over the events stream table.

The reference implements these as pandas groupby-sequence loops over per-
aircraft trajectories (`data_transformer.py:306-678`); here each one is a
window function partitioned by ``user_id`` (the aircraft analog) ordered by
``(ts, event_id)`` — partition-parallel, shuffle-once-per-window-spec, no
driver-side iteration. All windows in one query share the same partitioning so
Spark reuses a single shuffle.

Determinism: event ordering always includes ``event_id`` as tiebreak
(SURVEY §7.3 hard-part 5 — the reference's unstable pandas sort is the bug we
avoid). Nulls for the imputation operators are injected deterministically
(``event_id % 7 == 0``) so the oracle sees the same gaps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from aws_flight_data_pipeline_spark.functions.geo import haversine
from aws_flight_data_pipeline_spark.plans.registry import builder, query
from aws_flight_data_pipeline_spark.sources.testdata import load_table


def _r4(c):
    return F.round(c, 4)


def _w():
    return Window.partitionBy("user_id").orderBy("ts", "event_id")


def _kinematics_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All per-event kinematics from ONE window shuffle.

    Merges the reference's consecutive-point delta/cumsum
    (data_transformer.py:409-472), climb-rate/acceleration Δv/Δt
    (:474-518), and haversine trajectory distance (:409-472) — every metric
    shares the same (user_id)×(ts, event_id) window spec, so Spark plans a
    single Exchange+Sort feeding all window functions: at 100 TB the shuffle
    happens once, not three times.

    Cross-engine value notes: rate_per_min is an UNROUNDED quotient —
    subtraction and division of identical doubles are deterministic IEEE ops,
    while ROUND(quotient, 4) diverges on 4-dp half-boundaries (2-decimal
    Δvalue over whole-second Δt lands there; driver-observed). Trajectory
    legs are quantized to integer meters before the running sum so libm trig
    noise cannot accumulate (the haversine composition is the reference
    formula, asin form, R=6371 km).
    """
    e = load_table(spark, sf_dir, "events").withColumn("ts_sec", F.col("ts").cast("double"))
    e = e.withColumn("lat", (F.col("value") % 120) - 60).withColumn(
        "lon", (F.col("event_id") % 360).cast("double") - 180.0
    )
    w = _w()
    w_run = w.rowsBetween(Window.unboundedPreceding, 0)
    dv = F.col("value") - F.lag("value").over(w)
    dt_min = (F.col("ts_sec") - F.lag("ts_sec").over(w)) / 60.0
    leg_m = F.round(
        1000.0
        * haversine(F.lag("lat").over(w), F.lag("lon").over(w), F.col("lat"), F.col("lon")),
        0,
    ).cast("bigint")
    return e.select(
        "event_id",
        "user_id",
        _r4(F.col("value")).alias("value"),
        _r4(dv).alias("value_delta"),
        _r4(F.sum("value").over(w_run)).alias("running_total"),
        (dv / F.nullif(dt_min, F.lit(0.0))).alias("rate_per_min"),
        leg_m.alias("leg_distance_m"),
        F.sum(F.coalesce(leg_m, F.lit(0))).over(w_run).cast("bigint").alias("cumulative_m"),
    )  # no final global sort: compare is order-insensitive, and a cosmetic
    # ORDER BY costs a full range shuffle of every row


@query(
    "seq_kinematics",
    tags=("sequence", "window", "lag", "geo"),
    doc="Per-entity kinematics suite — LAG delta + running cumsum "
    "(data_transformer.py:409-472), Δvalue/Δt climb-rate with zero-Δt guard "
    "(:474-518), and integer-meter haversine trajectory legs + cumulative "
    "distance, all from ONE shared window shuffle (see _kinematics_frame).",
    oracle="""
        WITH fixes AS (
            SELECT event_id, user_id, ts, epoch(ts) AS ts_sec, value,
                   (value % 120) - 60                       AS lat,
                   (CAST(event_id % 360 AS DOUBLE)) - 180.0 AS lon
            FROM events
        ), legs AS (
            SELECT event_id, user_id, ts, ts_sec, value, lat, lon,
                   LAG(value)  OVER w AS prev_value,
                   LAG(ts_sec) OVER w AS prev_ts,
                   LAG(lat)    OVER w AS prev_lat,
                   LAG(lon)    OVER w AS prev_lon,
                   ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
                       AS running_total
            FROM fixes
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), dists AS (
            SELECT event_id, user_id, ts, value, prev_value, ts_sec, prev_ts,
                   running_total,
                   CAST(ROUND(1000.0 * 2.0 * 6371.0 * ASIN(SQRT(
                       POW(SIN(RADIANS(lat - prev_lat) / 2), 2)
                       + COS(RADIANS(prev_lat)) * COS(RADIANS(lat))
                         * POW(SIN(RADIANS(lon - prev_lon) / 2), 2)
                   )), 0) AS BIGINT) AS leg_m
            FROM legs
        )
        SELECT event_id, user_id,
               ROUND(value, 4) AS value,
               ROUND(value - prev_value, 4) AS value_delta,
               running_total,
               (value - prev_value) / NULLIF((ts_sec - prev_ts) / 60.0, 0) AS rate_per_min,
               leg_m AS leg_distance_m,
               CAST(SUM(COALESCE(leg_m, 0)) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS cumulative_m
        FROM dists
        ORDER BY user_id, ts, event_id
    """,
)
def seq_kinematics(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _kinematics_frame(spark, sf_dir)


def _fill_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-fill + linear interpolation from shared one-sided frames.

    Merges the reference's `ffill` and `interpolate` strategies
    (data_transformer.py:117-126, 306-350) on their shared per-event grain.
    Interpolation has no Spark builtin (SURVEY §7.3 hard-part 1): previous/
    next non-null value and timestamp come from two one-sided frames over the
    SAME window partitioning — one shuffle+sort feeds both directions (the
    backward frame is a reversed traversal of the same sorted run, no second
    Exchange) — then lerp in event time. Gaps injected at event_id % 7 == 0.
    """
    e = load_table(spark, sf_dir, "events").withColumn("ts_sec", F.col("ts").cast("double"))
    gapped = F.when(F.col("event_id") % 7 == 0, F.lit(None).cast("double")).otherwise(
        F.col("value")
    )
    e = e.withColumn("value_g", gapped)
    w_prev = _w().rowsBetween(Window.unboundedPreceding, 0)
    w_next = _w().rowsBetween(0, Window.unboundedFollowing)
    ts_if_val = F.when(F.col("value_g").isNotNull(), F.col("ts_sec"))
    e = (
        e.withColumn("prev_val", F.last("value_g", ignorenulls=True).over(w_prev))
        .withColumn("prev_ts", F.last(ts_if_val, ignorenulls=True).over(w_prev))
        .withColumn("next_val", F.first("value_g", ignorenulls=True).over(w_next))
        .withColumn("next_ts", F.first(ts_if_val, ignorenulls=True).over(w_next))
    )
    lerp = F.col("prev_val") + (F.col("next_val") - F.col("prev_val")) * (
        F.col("ts_sec") - F.col("prev_ts")
    ) / F.nullif(F.col("next_ts") - F.col("prev_ts"), F.lit(0.0))
    interp = (
        F.when(F.col("value_g").isNotNull(), F.col("value_g"))
        .when(F.col("prev_val").isNull(), F.col("next_val"))
        .when(F.col("next_val").isNull(), F.col("prev_val"))
        .otherwise(lerp)
    )
    return e.select(
        "event_id",
        "user_id",
        _r4(F.col("prev_val")).alias("value_ffill"),
        _r4(interp).alias("value_interp"),
    )  # no final global sort: compare is order-insensitive, and a cosmetic
    # ORDER BY costs a full range shuffle of every row


@query(
    "seq_imputation_fill",
    tags=("sequence", "imputation"),
    doc="Forward-fill + linear-interpolation imputation in one pass over "
    "shared one-sided frames (see _fill_frame; data_transformer.py:117-126,"
    "306-350). value_ffill is last(ignorenulls) over the preceding frame; "
    "value_interp lerps between the bracketing non-null fixes in event time.",
    oracle="""
        WITH gapped AS (
            SELECT event_id, user_id, ts, epoch(ts) AS ts_sec,
                   CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS value_g
            FROM events
        ), bounds AS (
            SELECT event_id, user_id, ts, ts_sec, value_g,
                   last_value(value_g IGNORE NULLS) OVER w_prev  AS prev_val,
                   last_value(CASE WHEN value_g IS NOT NULL THEN ts_sec END IGNORE NULLS) OVER w_prev AS prev_ts,
                   first_value(value_g IGNORE NULLS) OVER w_next AS next_val,
                   first_value(CASE WHEN value_g IS NOT NULL THEN ts_sec END IGNORE NULLS) OVER w_next AS next_ts
            FROM gapped
            WINDOW w_prev AS (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                   w_next AS (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        )
        SELECT event_id, user_id,
               ROUND(prev_val, 4) AS value_ffill,
               ROUND(CASE
                   WHEN value_g IS NOT NULL THEN value_g
                   WHEN prev_val IS NULL THEN next_val
                   WHEN next_val IS NULL THEN prev_val
                   ELSE prev_val + (next_val - prev_val)
                        * (ts_sec - prev_ts) / NULLIF(next_ts - prev_ts, 0)
               END, 4) AS value_interp
        FROM bounds
        ORDER BY user_id, ts, event_id
    """,
)
def seq_imputation_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _fill_frame(spark, sf_dir)


@query(
    "seq_sessionization",
    tags=("sequence", "session", "window"),
    doc="Gap-based sessionization (30-min inactivity) via lag-flag + running "
    "sum — the stateful micro-batch grouping the reference approximates with "
    "batch boundaries (SURVEY §2.10); batch form of session windows.",
    oracle="""
        WITH flagged AS (
            SELECT user_id, event_id, epoch(ts) AS ts_sec, value,
                   CASE WHEN epoch(ts) - LAG(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800
                        OR LAG(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                        THEN 1 ELSE 0 END AS new_session
            FROM events
        ), sessions AS (
            SELECT user_id, event_id, ts_sec, value,
                   SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_sec, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
            FROM flagged
        )
        SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
               COUNT(*) AS event_count,
               ROUND(MAX(ts_sec) - MIN(ts_sec), 4) AS session_duration_sec,
               ROUND(SUM(value), 4) AS session_value
        FROM sessions
        GROUP BY user_id, session_seq
        ORDER BY user_id, session_seq
    """,
)
def seq_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").withColumn("ts_sec", F.col("ts").cast("double"))
    w = _w()
    prev_ts = F.lag("ts_sec").over(w)
    new_session = F.when(
        prev_ts.isNull() | ((F.col("ts_sec") - prev_ts) > 1800), 1
    ).otherwise(0)
    e = e.withColumn("new_session", new_session)
    w_run = Window.partitionBy("user_id").orderBy("ts_sec", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    e = e.withColumn("session_seq", F.sum("new_session").over(w_run))
    return (
        e.groupBy("user_id", "session_seq")
        .agg(
            F.count("*").alias("event_count"),
            _r4(F.max("ts_sec") - F.min("ts_sec")).alias("session_duration_sec"),
            _r4(F.sum("value")).alias("session_value"),
        )
    )


@query(
    "seq_dedup_keep_best",
    tags=("sequence", "dedup"),
    doc="Duplicate removal with best-record strategy — key (user_id, hour), "
    "keep the max-value row with deterministic event_id tiebreak "
    "(data_transformer.py:612-659 best_quality strategy).",
    oracle="""
        WITH ranked AS (
            SELECT user_id, event_id, value,
                   date_trunc('hour', ts) AS hour_bucket,
                   ROW_NUMBER() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                                      ORDER BY value DESC, event_id) AS rn
            FROM events
        )
        SELECT user_id, event_id AS kept_event_id, ROUND(value, 4) AS best_value
        FROM ranked WHERE rn = 1
        ORDER BY user_id, kept_event_id
    """,
)
def seq_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", F.date_trunc("hour", "ts")).orderBy(
        F.desc("value"), "event_id"
    )
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("kept_event_id"),
            _r4(F.col("value")).alias("best_value"),
        )
    )


@builder(
    "seq_impute_bfill_mode_mean",
    tags=("sequence", "imputation"),
    doc="The remaining imputation strategies of data_transformer.py:306-350 "
    "in one pass: backward-fill (first ignorenulls over the FOLLOWING frame), "
    "per-entity mean fill, and per-entity MODE fill for the categorical "
    "column (computed via count+row_number with a lexicographic tiebreak — "
    "deterministic where engine mode() functions are not). Gaps injected at "
    "fixed residues; profiled per user bucket.",
    oracle="""
        WITH g AS (
            SELECT *,
                   CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS vg,
                   CASE WHEN event_id % 11 = 0 THEN NULL ELSE event_type END AS tg
            FROM events
        ), modes AS (
            SELECT user_id, event_type AS mode_type FROM (
                SELECT user_id, event_type,
                       ROW_NUMBER() OVER (PARTITION BY user_id
                                          ORDER BY COUNT(*) DESC, event_type) AS rn
                FROM g WHERE tg IS NOT NULL GROUP BY user_id, event_type
            ) WHERE rn = 1
        ), filled AS (
            SELECT g.user_id % 10 AS user_bucket,
                   vg IS NULL AS value_gap,
                   first_value(vg IGNORE NULLS) OVER (
                       PARTITION BY g.user_id ORDER BY ts, event_id
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS bfill,
                   -- per-user mean from exact integer cents: order-independent
                   -- sums, so both engines compute the identical double
                   CAST(SUM(CAST(ROUND(vg * 100) AS BIGINT)) OVER (PARTITION BY g.user_id)
                        AS BIGINT)
                       / (100.0 * COUNT(vg) OVER (PARTITION BY g.user_id)) AS umean,
                   tg IS NULL AS type_gap,
                   COALESCE(tg, m.mode_type) AS type_filled
            FROM g LEFT JOIN modes m ON g.user_id = m.user_id
        )
        SELECT user_bucket,
               CAST(SUM(CASE WHEN value_gap THEN 1 ELSE 0 END) AS BIGINT) AS n_value_gaps,
               CAST(SUM(CASE WHEN value_gap THEN CAST(ROUND(bfill * 100) AS BIGINT) END)
                    AS BIGINT) AS bfill_cents_total,
               COUNT(CASE WHEN value_gap THEN bfill END) AS bfill_count,
               -- mean-fill as exact integer cents summed then divided once:
               -- ROUND(AVG(umean), 4) lands on 4-dp half-boundaries (the
               -- documented Spark-up/DuckDB-down divergence); ROUND(umean*100)
               -- is boundary-safe because an exact .5 is dyadic (both engines
               -- see the identical binary value and round away from zero)
               CAST(SUM(CASE WHEN value_gap THEN CAST(ROUND(umean * 100) AS BIGINT) END)
                    AS BIGINT) AS mean_fill_cents_total,
               CAST(SUM(CASE WHEN value_gap THEN CAST(ROUND(umean * 100) AS BIGINT) END)
                    AS BIGINT)
                   / (100.0 * COUNT(CASE WHEN value_gap THEN umean END)) AS avg_mean_fill,
               CAST(SUM(CASE WHEN type_gap THEN 1 ELSE 0 END) AS BIGINT) AS n_type_gaps,
               COUNT(DISTINCT CASE WHEN type_gap THEN type_filled END) AS distinct_mode_fills
        FROM filled
        GROUP BY user_bucket
        ORDER BY user_bucket
    """,
)
def seq_impute_bfill_mode_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    g = e.withColumn(
        "vg", F.when(F.col("event_id") % 7 == 0, F.lit(None).cast("double")).otherwise(F.col("value"))
    ).withColumn(
        "tg", F.when(F.col("event_id") % 11 == 0, F.lit(None).cast("string")).otherwise(F.col("event_type"))
    )
    mode_w = Window.partitionBy("user_id").orderBy(F.desc("cnt"), "event_type")
    modes = (
        g.filter(F.col("tg").isNotNull())
        .groupBy("user_id", "event_type")
        .agg(F.count("*").alias("cnt"))
        .withColumn("rn", F.row_number().over(mode_w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("mode_type"))
    )
    bfill_w = _w().rowsBetween(0, Window.unboundedFollowing)
    user_w = Window.partitionBy("user_id")
    # per-user mean from exact integer cents — order-independent, so both
    # engines compute the identical double (plain AVG(double) sums in
    # engine-specific order)
    umean = (
        F.sum(F.round(F.col("vg") * 100).cast("long")).over(user_w).cast("bigint")
        / (100.0 * F.count("vg").over(user_w))
    )
    filled = g.join(modes, "user_id", "left").select(
        (F.col("user_id") % 10).alias("user_bucket"),
        F.col("vg").isNull().alias("value_gap"),
        F.first("vg", ignorenulls=True).over(bfill_w).alias("bfill"),
        umean.alias("umean"),
        F.col("tg").isNull().alias("type_gap"),
        F.coalesce(F.col("tg"), F.col("mode_type")).alias("type_filled"),
    )
    vgap = F.col("value_gap")
    # integer cents, no floating rounding of averages: a rounded AVG of
    # 2-decimal values lands on exact 4-dp half-boundaries (e.g. 628254/14400
    # = 43.62875) where Spark rounds the shortest-decimal string UP and the
    # oracle rounds the binary double DOWN — only integer encodings (and
    # single end divisions of them) are boundary-proof here
    mean_fill_cents = F.sum(F.when(vgap, F.round(F.col("umean") * 100).cast("long"))).cast(
        "bigint"
    )
    return (
        filled.groupBy("user_bucket")
        .agg(
            F.sum(F.when(vgap, 1).otherwise(0)).alias("n_value_gaps"),
            F.sum(F.when(vgap, F.round(F.col("bfill") * 100).cast("long")))
            .cast("bigint")
            .alias("bfill_cents_total"),
            F.count(F.when(vgap, F.col("bfill"))).alias("bfill_count"),
            mean_fill_cents.alias("mean_fill_cents_total"),
            (mean_fill_cents / (100.0 * F.count(F.when(vgap, F.col("umean"))))).alias(
                "avg_mean_fill"
            ),
            F.sum(F.when(F.col("type_gap"), 1).otherwise(0)).alias("n_type_gaps"),
            F.countDistinct(F.when(F.col("type_gap"), F.col("type_filled"))).alias(
                "distinct_mode_fills"
            ),
        )
        .orderBy("user_bucket")
    )


@query(
    "event_time_tumbling_window",
    tags=("sequence", "window", "streaming"),
    doc="Event-time tumbling 1-hour window aggregate — the batch-verifiable "
    "twin of streaming.windowed_traffic_summary (same window() operator "
    "Structured Streaming runs incrementally with a watermark; SURVEY §2.10). "
    "Window start is formatted UTC so the oracle's date_trunc matches exactly.",
    oracle="""
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS window_start,
               event_type,
               COUNT(*) AS event_count,
               COUNT(DISTINCT user_id) AS unique_users,
               ROUND(SUM(CAST(ROUND(value * 100) AS BIGINT)) / (100.0 * COUNT(*)), 4)
                   AS avg_value
        FROM events
        GROUP BY 1, 2
        ORDER BY 1, 2
    """,
)
def event_time_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("event_count"),
            F.countDistinct("user_id").alias("unique_users"),
            # cents-exact mean: value is 2-decimal, so summing exact integer
            # cents makes the average the same IEEE double in every engine —
            # a plain AVG(double) lands on 4-dp half-boundaries where Spark
            # and the oracle round differently (seen with 3k+ small groups)
            _r4(
                F.sum(F.round(F.col("value") * 100).cast("long")) / (100.0 * F.count("*"))
            ).alias("avg_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:00:00").alias("window_start"),
            "event_type",
            "event_count",
            "unique_users",
            "avg_value",
        )
        .orderBy("window_start", "event_type")
    )


@builder(
    "scd2_state_history",
    tags=("sequence", "scd2", "gaps-and-islands", "window"),
    doc="Slowly-changing-dimension (type 2) history built from a change "
    "stream: per user, consecutive events with the same event_type collapse "
    "into one validity run (gaps-and-islands — LAG change flag, running-sum "
    "version id, one hash-agg per run), the dimension-table construction "
    "that turns an append-only event log into point-in-time joinable "
    "history (the as-of join in operators/asof.py is the consumer). Two "
    "windows over the same (user, time) partitioning and two hash-aggs — "
    "one shuffle of the event stream by user_id at any scale, since every "
    "later stage is partition-local. Timestamps travel as epoch "
    "microseconds (unix_micros / epoch_us), integer-exact cross-engine.",
    oracle="""
        WITH lagged AS (
            SELECT user_id, event_id, ts, event_type,
                   LAG(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS prev
            FROM events
        ),
        vers AS (
            SELECT user_id, ts, event_type,
                   CAST(SUM(CASE WHEN prev IS NULL OR prev <> event_type
                                 THEN 1 ELSE 0 END) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS BIGINT) AS ver
            FROM lagged
        ),
        runs AS (
            SELECT user_id, ver, MAX(event_type) AS state,
                   CAST(MIN(epoch_us(ts)) AS BIGINT) AS from_us,
                   CAST(COUNT(*) AS BIGINT) AS run_events
            FROM vers GROUP BY user_id, ver
        )
        SELECT user_id,
               CAST(MAX(ver) AS BIGINT) AS n_versions,
               CAST(SUM(run_events) AS BIGINT) AS n_events,
               CAST(MAX(run_events) AS BIGINT) AS longest_run_events,
               max_by(state, ver) AS current_state,
               CAST(max_by(from_us, ver) AS BIGINT) AS current_since_us
        FROM runs
        GROUP BY user_id
        ORDER BY user_id
    """,
)
def scd2_state_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_flight_data_pipeline_spark.operators.sequence import state_runs

    e = load_table(spark, sf_dir, "events")
    runs = state_runs(e.select("user_id", "event_id", "ts", "event_type"))
    return (
        runs.groupBy("user_id")
        .agg(
            F.max("ver").alias("n_versions"),
            F.sum("run_events").cast("bigint").alias("n_events"),
            F.max("run_events").alias("longest_run_events"),
            F.max_by("state", "ver").alias("current_state"),
            F.max_by("from_us", "ver").cast("bigint").alias("current_since_us"),
        )
        .orderBy("user_id")
    )


@builder(
    "seq_resample_grid",
    tags=("sequence", "resample", "gap-fill", "timeseries"),
    doc="Time-grid resampling with gap fill: each user's event stream is "
    "materialized onto a regular hourly grid between their first and last "
    "event (sequence + explode — grid rows are generated, never stored), "
    "per-bucket count / exact-cents sum / deterministic last observation "
    "(max struct(us, event_id) election), and forward-filled observations "
    "across empty buckets via last(ignorenulls) over the one-sided frame — "
    "the regularization step ahead of windowed feature extraction, which "
    "per-event imputation (seq_imputation_fill) cannot provide because "
    "empty intervals have no row to fill. Grid cardinality is "
    "O(users x span/step), independent of event volume — at 100 TB the "
    "explode output stays proportional to the DIMENSIONS of the grid while "
    "every per-bucket aggregate is one hash-agg over the raw stream.",
    oracle="""
        WITH e AS (
            SELECT user_id, event_id, epoch_us(ts) AS us,
                   CAST(ROUND(value * 100) AS BIGINT) AS cents
            FROM events
        ), eb AS (
            SELECT *, us // 3600000000 AS hour_bucket FROM e
        ), bounds AS (
            SELECT user_id, MIN(hour_bucket) AS lo, MAX(hour_bucket) AS hi
            FROM eb GROUP BY user_id
        ), grid AS (
            SELECT user_id, UNNEST(generate_series(lo, hi)) AS hour_bucket
            FROM bounds
        ), perb AS (
            SELECT user_id, hour_bucket,
                   COUNT(*) AS n_events, SUM(cents) AS sum_cents
            FROM eb GROUP BY user_id, hour_bucket
        ), lastv AS (
            SELECT user_id, hour_bucket, cents AS last_cents FROM (
                SELECT user_id, hour_bucket, cents,
                       ROW_NUMBER() OVER (PARTITION BY user_id, hour_bucket
                                          ORDER BY us DESC, event_id DESC) AS rn
                FROM eb) WHERE rn = 1
        ), joined AS (
            SELECT g.user_id, g.hour_bucket,
                   COALESCE(p.n_events, 0) AS n_events,
                   COALESCE(p.sum_cents, 0) AS sum_cents,
                   l.last_cents
            FROM grid g
            LEFT JOIN perb p USING (user_id, hour_bucket)
            LEFT JOIN lastv l USING (user_id, hour_bucket)
        )
        SELECT user_id, hour_bucket,
               CAST(n_events AS BIGINT) AS n_events,
               CAST(sum_cents AS BIGINT) AS sum_cents,
               CAST(last_value(last_cents IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY hour_bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS ffill_cents,
               CAST(CASE WHEN n_events = 0 THEN 1 ELSE 0 END AS BIGINT) AS is_gap
        FROM joined
        ORDER BY user_id, hour_bucket
    """,
)
def seq_resample_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    hour = 3_600_000_000
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("us"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    # integer bucket math (us >= 0 here; exact at any magnitude)
    eb = e.withColumn(
        "hour_bucket", ((F.col("us") - F.col("us") % hour) / hour).cast("bigint")
    )
    grid = (
        eb.groupBy("user_id")
        .agg(F.min("hour_bucket").alias("lo"), F.max("hour_bucket").alias("hi"))
        .select(
            "user_id",
            F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("hour_bucket"),
        )
    )
    perb = eb.groupBy("user_id", "hour_bucket").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum("cents").cast("bigint").alias("sum_cents"),
        # deterministic last observation: lexicographic max over the unique
        # (us, event_id) pair carries its cents along
        F.max(F.struct("us", "event_id", "cents"))["cents"].alias("last_cents"),
    )
    joined = grid.join(perb, ["user_id", "hour_bucket"], "left")
    w_ff = (
        Window.partitionBy("user_id")
        .orderBy("hour_bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return joined.select(
        "user_id",
        "hour_bucket",
        F.coalesce("n_events", F.lit(0)).cast("bigint").alias("n_events"),
        F.coalesce("sum_cents", F.lit(0)).cast("bigint").alias("sum_cents"),
        F.last("last_cents", ignorenulls=True).over(w_ff).cast("bigint").alias("ffill_cents"),
        F.when(F.coalesce("n_events", F.lit(0)) == 0, 1).otherwise(0).cast("bigint").alias("is_gap"),
    )


@builder(
    "funnel_conversion",
    tags=("sequence", "funnel", "behavioral"),
    doc="Ordered-funnel conversion (view -> click -> signup -> purchase): "
    "each stage counts users whose stage event occurs STRICTLY after "
    "their previous stage's first occurrence — the order-sensitive "
    "product-analytics operator a plain per-type count cannot express. "
    "Four chained filter+min aggregations per user (events are already "
    "clustered per user after the first shuffle; each later stage "
    "re-joins the KB-scale per-user stage frame, never the raw stream). "
    "Conversion ratios are quotients of exact integers (bit-identical "
    "doubles cross-engine), micro-scaled to BIGINT.",
    oracle="""
        WITH e AS (
            SELECT user_id, event_type, epoch_us(ts) AS us FROM events
        ), s1 AS (
            SELECT user_id, MIN(us) AS t1 FROM e
            WHERE event_type = 'view' GROUP BY user_id
        ), s2 AS (
            SELECT e.user_id, MIN(us) AS t2 FROM e JOIN s1 USING (user_id)
            WHERE event_type = 'click' AND us > t1 GROUP BY e.user_id
        ), s3 AS (
            SELECT e.user_id, MIN(us) AS t3 FROM e JOIN s2 USING (user_id)
            WHERE event_type = 'signup' AND us > t2 GROUP BY e.user_id
        ), s4 AS (
            SELECT e.user_id, MIN(us) AS t4 FROM e JOIN s3 USING (user_id)
            WHERE event_type = 'purchase' AND us > t3 GROUP BY e.user_id
        )
        SELECT CAST((SELECT COUNT(*) FROM s1) AS BIGINT) AS n_view,
               CAST((SELECT COUNT(*) FROM s2) AS BIGINT) AS n_click,
               CAST((SELECT COUNT(*) FROM s3) AS BIGINT) AS n_signup,
               CAST((SELECT COUNT(*) FROM s4) AS BIGINT) AS n_purchase,
               CAST(ROUND(1000000.0 * (SELECT COUNT(*) FROM s4)
                          / (SELECT COUNT(*) FROM s1)) AS BIGINT)
                   AS full_conv_ppm
    """,
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )

    def stage(prev: DataFrame | None, etype: str, tcol: str, prev_t: str) -> DataFrame:
        if prev is None:
            return (
                e.where(F.col("event_type") == etype)
                .groupBy("user_id")
                .agg(F.min("us").alias(tcol))
            )
        return (
            e.join(prev, "user_id")
            .where((F.col("event_type") == etype) & (F.col("us") > F.col(prev_t)))
            .groupBy("user_id")
            .agg(F.min("us").alias(tcol))
        )

    s1 = stage(None, "view", "t1", "")
    s2 = stage(s1, "click", "t2", "t1")
    s3 = stage(s2, "signup", "t3", "t2")
    s4 = stage(s3, "purchase", "t4", "t3")
    counts = [s.agg(F.count("*").alias(n)) for s, n in
              [(s1, "n_view"), (s2, "n_click"), (s3, "n_signup"), (s4, "n_purchase")]]
    row = counts[0]
    for c in counts[1:]:
        row = row.crossJoin(c)  # four 1-row frames: the serving-combine shape
    return row.select(
        F.col("n_view").cast("bigint"),
        F.col("n_click").cast("bigint"),
        F.col("n_signup").cast("bigint"),
        F.col("n_purchase").cast("bigint"),
        F.round(F.lit(1_000_000.0) * F.col("n_purchase") / F.col("n_view"))
        .cast("bigint")
        .alias("full_conv_ppm"),
    )


@query(
    "cohort_retention",
    tags=("sequence", "cohort", "behavioral", "agg"),
    doc="Weekly cohort-retention matrix over the events stream — the "
    "classic product-analytics operator the reference's dashboard layer "
    "has no primitive for: each user's cohort is their FIRST active week "
    "(Monday-truncated — Spark and DuckDB agree on ISO week starts), "
    "activity is distinct (user, week), and the matrix counts active "
    "users per (cohort week, whole weeks since) with retention as exact "
    "ppm of the cohort's size. Scale shape: one per-user min (map-side "
    "combinable), one distinct on (user, week) (same), one matrix "
    "aggregate — three shuffles total, all on user-or-cohort keys, no "
    "window over the raw event grain and nothing driver-side. Week "
    "differences are exact multiples of 7 days by construction, so the "
    "weeks_since integer division is engine-exact.",
    oracle="""
        WITH act AS (
            SELECT DISTINCT user_id,
                   CAST(date_trunc('week', ts) AS DATE) AS wk
            FROM events
        ), first AS (
            SELECT user_id, MIN(wk) AS cohort_wk FROM act GROUP BY user_id
        ), sizes AS (
            SELECT cohort_wk, CAST(COUNT(*) AS BIGINT) AS cohort_size
            FROM first GROUP BY cohort_wk
        ), mat AS (
            SELECT f.cohort_wk,
                   CAST(date_diff('day', f.cohort_wk, a.wk) // 7 AS INT)
                       AS weeks_since,
                   CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS active_users
            FROM act a JOIN first f ON a.user_id = f.user_id
            GROUP BY 1, 2
        )
        SELECT strftime(m.cohort_wk, '%Y-%m-%d') AS cohort_week,
               m.weeks_since, m.active_users, s.cohort_size,
               CAST(ROUND(1000000.0 * m.active_users / s.cohort_size)
                    AS BIGINT) AS retention_ppm
        FROM mat m JOIN sizes s ON m.cohort_wk = s.cohort_wk
        ORDER BY cohort_week, weeks_since
    """,
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    act = (
        load_table(spark, sf_dir, "events")
        .select(
            "user_id",
            F.date_trunc("week", F.col("ts")).cast("date").alias("wk"),
        )
        .distinct()
    )
    first = act.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    sizes = first.groupBy("cohort_wk").agg(
        F.count("*").cast("bigint").alias("cohort_size")
    )
    mat = (
        act.join(first, "user_id")
        .groupBy(
            "cohort_wk",
            (F.datediff(F.col("wk"), F.col("cohort_wk")) / 7)
            .cast("int")
            .alias("weeks_since"),
        )
        .agg(F.countDistinct("user_id").cast("bigint").alias("active_users"))
    )
    return (
        mat.join(sizes, "cohort_wk")
        .select(
            F.date_format("cohort_wk", "yyyy-MM-dd").alias("cohort_week"),
            "weeks_since",
            "active_users",
            "cohort_size",
            F.round(
                F.lit(1_000_000.0) * F.col("active_users") / F.col("cohort_size")
            )
            .cast("bigint")
            .alias("retention_ppm"),
        )
        .orderBy("cohort_week", "weeks_since")
    )


@query(
    "ab_test_lift",
    tags=("sequence", "experiment", "agg", "behavioral"),
    doc="A/B-experiment readout over the events stream: users assigned by "
    "user_id parity (control = even, treatment = odd — deterministic in "
    "any engine), metric = purchases per user (a conversion-rate metric "
    "saturates on this corpus — every user buys — so the readout is the "
    "two-sample difference of MEANS, the test a revenue dashboard runs). "
    "One pass: per-user purchase counts, ONE 2-row arm rollup carrying "
    "exact integer sums and sums of squares, arms pivoted to a single "
    "comparison row by conditional sums (no self-join). Means, lift, and "
    "the pooled-variance z-statistic are computed from identical BIGINTs "
    "in both engines — IEEE-identical doubles — and rounded to 1e-4.",
    oracle="""
        WITH per_user AS (
            SELECT user_id,
                   CAST(user_id % 2 AS INT) AS arm,
                   CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                        AS BIGINT) AS k
            FROM events GROUP BY user_id
        ), arms AS (
            SELECT arm,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(k) AS BIGINT) AS s1,
                   CAST(SUM(k * k) AS BIGINT) AS s2
            FROM per_user GROUP BY arm
        ), flat AS (
            SELECT CAST(SUM(CASE WHEN arm = 0 THEN n END) AS BIGINT) AS control_users,
                   CAST(SUM(CASE WHEN arm = 0 THEN s1 END) AS BIGINT) AS control_purchases,
                   CAST(SUM(CASE WHEN arm = 0 THEN s2 END) AS BIGINT) AS c_s2,
                   CAST(SUM(CASE WHEN arm = 1 THEN n END) AS BIGINT) AS treat_users,
                   CAST(SUM(CASE WHEN arm = 1 THEN s1 END) AS BIGINT) AS treat_purchases,
                   CAST(SUM(CASE WHEN arm = 1 THEN s2 END) AS BIGINT) AS t_s2
            FROM arms
        )
        SELECT control_users, control_purchases, treat_users, treat_purchases,
               CAST(ROUND(10000.0 * control_purchases / control_users) AS BIGINT)
                   AS control_mean_e4,
               CAST(ROUND(10000.0 * treat_purchases / treat_users) AS BIGINT)
                   AS treat_mean_e4,
               CAST(ROUND(10000.0 * treat_purchases / treat_users
                    - 10000.0 * control_purchases / control_users) AS BIGINT)
                   AS lift_e4,
               CAST(ROUND(
                   (1.0 * treat_purchases / treat_users
                    - 1.0 * control_purchases / control_users)
                   / SQRT(((c_s2 - 1.0 * control_purchases * control_purchases / control_users)
                           + (t_s2 - 1.0 * treat_purchases * treat_purchases / treat_users))
                          / (control_users + treat_users - 2)
                          * (1.0 / control_users + 1.0 / treat_users))
                   * 10000.0) AS BIGINT) AS z_e4
        FROM flat
    """,
)
def ab_test_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_user = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("bigint")
            .alias("k")
        )
        .select((F.col("user_id") % 2).cast("int").alias("arm"), "k")
    )
    arms = per_user.groupBy("arm").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("k").cast("bigint").alias("s1"),
        F.sum(F.col("k") * F.col("k")).cast("bigint").alias("s2"),
    )
    flat = arms.agg(
        F.sum(F.when(F.col("arm") == 0, F.col("n"))).cast("bigint").alias("control_users"),
        F.sum(F.when(F.col("arm") == 0, F.col("s1"))).cast("bigint").alias("control_purchases"),
        F.sum(F.when(F.col("arm") == 0, F.col("s2"))).cast("bigint").alias("c_s2"),
        F.sum(F.when(F.col("arm") == 1, F.col("n"))).cast("bigint").alias("treat_users"),
        F.sum(F.when(F.col("arm") == 1, F.col("s1"))).cast("bigint").alias("treat_purchases"),
        F.sum(F.when(F.col("arm") == 1, F.col("s2"))).cast("bigint").alias("t_s2"),
    )
    m_c = F.lit(1.0) * F.col("control_purchases") / F.col("control_users")
    m_t = F.lit(1.0) * F.col("treat_purchases") / F.col("treat_users")
    var_pool = (
        (
            F.col("c_s2")
            - F.lit(1.0) * F.col("control_purchases") * F.col("control_purchases") / F.col("control_users")
        )
        + (
            F.col("t_s2")
            - F.lit(1.0) * F.col("treat_purchases") * F.col("treat_purchases") / F.col("treat_users")
        )
    ) / (F.col("control_users") + F.col("treat_users") - 2)
    z = (m_t - m_c) / F.sqrt(
        var_pool
        * (F.lit(1.0) / F.col("control_users") + F.lit(1.0) / F.col("treat_users"))
    )
    return flat.select(
        "control_users",
        "control_purchases",
        "treat_users",
        "treat_purchases",
        F.round(F.lit(10000.0) * m_c).cast("bigint").alias("control_mean_e4"),
        F.round(F.lit(10000.0) * m_t).cast("bigint").alias("treat_mean_e4"),
        F.round(F.lit(10000.0) * m_t - F.lit(10000.0) * m_c)
        .cast("bigint")
        .alias("lift_e4"),
        F.round(z * 10000.0).cast("bigint").alias("z_e4"),
    )
