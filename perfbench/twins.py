"""DuckDB twins of the query surface, and the result comparison.

Each twin is an independent SQL statement over the same generated files;
it returns the columns it checks, named as in the engine's result. The
approximate percentile columns have no exact twin and are not compared.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import math
import os

import gen

ALTITUDE_BANDS = (
    (1000, "Surface (0-1K ft)"), (5000, "Low (1-5K ft)"), (10000, "Medium-Low (5-10K ft)"),
    (20000, "Medium (10-20K ft)"), (30000, "Medium-High (20-30K ft)"), (40000, "High (30-40K ft)"),
    (50000, "Very High (40-50K ft)"),
)


def _days(now: int, days: int) -> str:
    """``year||'-'||month||'-'||day IN (...)`` for the lookback window."""
    base = dt.datetime.fromtimestamp(now, tz=dt.timezone.utc)
    keys = [(base - dt.timedelta(days=d)).strftime("%Y-%m-%d") for d in range(days + 1)]
    return "year || '-' || month || '-' || day IN (" + ", ".join(f"'{k}'" for k in keys) + ")"


def _counts(col: str, pairs: list[tuple[str, str]]) -> str:
    return ", ".join(f"count(*) FILTER (WHERE {col} = '{v}') AS {name}" for v, name in pairs)


def twin_sql(now: int) -> dict[str, tuple[str, bool]]:
    """query -> (SQL, whether row order is part of the result)."""
    y, mo, d, h = gen.ymdh(now)
    band = "CASE " + " ".join(f"WHEN baro_altitude_ft < {b} THEN '{label}'" for b, label in ALTITUDE_BANDS) + " ELSE 'Extreme (50K+ ft)' END"
    q1_cols = (
        _counts("altitude_category", [("Low", "low_altitude_flights"), ("Medium", "medium_altitude_flights"),
                                      ("High", "high_altitude_flights"), ("Very High", "very_high_altitude_flights")])
        + ", " + _counts("speed_category", [("Slow", "slow_flights"), ("Normal", "normal_speed_flights"),
                                             ("Fast", "fast_flights"), ("Very Fast", "very_fast_flights")])
        + ", " + _counts("flight_phase", [("Takeoff", "takeoff_flights"), ("Climb", "climb_flights"),
                                          ("Cruise", "cruise_flights"), ("Descent", "descent_flights"),
                                          ("Approach", "approach_flights")])
    )
    hourly = (
        "SELECT year, month, day, hour, count(*) AS total_flights, count(DISTINCT icao24) AS unique_aircraft, "
        "count(DISTINCT callsign) AS unique_callsigns, count(DISTINCT origin_country) AS countries_active, "
        "count(*) FILTER (WHERE on_ground) AS grounded_aircraft, count(*) FILTER (WHERE NOT on_ground) AS airborne_aircraft, "
        "avg(baro_altitude_ft) AS avg_altitude_ft, min(baro_altitude_ft) AS min_altitude_ft, "
        "max(baro_altitude_ft) AS max_altitude_ft, stddev_samp(baro_altitude_ft) AS altitude_stddev_ft, "
        "avg(velocity_knots) AS avg_speed_knots, count(*) FILTER (WHERE data_quality_score >= 0.9) AS excellent_quality_count, "
        "avg(data_quality_score) AS avg_data_quality_score FROM lake WHERE data_quality_score > 0.5 GROUP BY ALL"
    )
    return {
        "q1_flight_status_overview": (
            f"SELECT count(*) AS total_active_flights, count(DISTINCT origin_country) AS countries_active, {q1_cols}, "
            "avg(data_quality_score) AS avg_quality_score, min(data_quality_score) AS min_quality_score, "
            "avg(baro_altitude_ft) AS avg_altitude_ft, max(baro_altitude_ft) AS max_altitude_ft, "
            "avg(velocity_knots) AS avg_speed_knots, max(velocity_knots) AS max_speed_knots "
            f"FROM lake WHERE year = '{y}' AND month = '{mo}' AND day = '{d}' AND hour = '{h}' "
            "AND data_quality_score > 0.7 AND NOT on_ground", False),
        "q2_altitude_band_distribution": (
            f"WITH g AS (SELECT {band} AS altitude_band, count(*) AS flight_count, count(DISTINCT icao24) AS unique_aircraft, "
            "avg(velocity_knots) AS avg_speed_knots, stddev_samp(velocity_knots) AS speed_stddev, "
            "count(*) FILTER (WHERE flight_phase = 'Cruise') AS cruise_count, count(*) FILTER (WHERE flight_phase = 'Climb') AS climb_count, "
            "count(*) FILTER (WHERE flight_phase = 'Descent') AS descent_count, avg(data_quality_score) AS avg_quality_score, "
            "min(baro_altitude_ft) AS min_altitude_ft, max(baro_altitude_ft) AS max_altitude_ft "
            f"FROM lake WHERE {_days(now, 1)} AND NOT on_ground AND baro_altitude_ft > 0 AND data_quality_score > 0.6 GROUP BY 1) "
            "SELECT *, 100.0 * flight_count / sum(flight_count) OVER () AS percentage_of_total FROM g ORDER BY min_altitude_ft",
            True),
        "q3_quality_metrics_hourly": (
            "SELECT year, month, day, hour, sum(total_records) AS total_records, sum(valid_records) AS valid_records, "
            "avg(avg_overall_quality) AS avg_quality_score, min(min_quality) AS min_quality_score, "
            "avg(quarantine_rate) AS avg_quarantine_rate, sum(valid_records) / sum(total_records) AS validity_ratio "
            f"FROM quality WHERE {_days(now, 7)} GROUP BY ALL ORDER BY year DESC, month DESC, day DESC, hour DESC LIMIT 168",
            True),
        "q6_anomaly_zscore": (
            f"WITH f AS (SELECT * FROM lake WHERE {_days(now, 1)} AND data_quality_score > 0.5 AND NOT on_ground "
            "AND baro_altitude_ft IS NOT NULL AND velocity_knots IS NOT NULL), "
            "s AS (SELECT avg(baro_altitude_ft) AS am, stddev_samp(baro_altitude_ft) AS asd, "
            "avg(velocity_knots) AS sm, stddev_samp(velocity_knots) AS ssd FROM f), "
            "z AS (SELECT icao24, abs((baro_altitude_ft - am) / nullif(asd, 0)) AS az, "
            "abs((velocity_knots - sm) / nullif(ssd, 0)) AS sz FROM f, s) "
            "SELECT icao24, greatest(az, sz) AS max_zscore FROM z WHERE az > 2 OR sz > 2 "
            "ORDER BY max_zscore DESC, icao24 LIMIT 100", True),
        "q7_aircraft_performance": (
            "SELECT coalesce(a.model, 'Unknown') AS aircraft_model, coalesce(a.manufacturername, 'Unknown') AS manufacturer, "
            "count(*) AS observations, count(DISTINCT l.icao24) AS unique_aircraft, avg(velocity_knots) AS avg_speed_knots, "
            "avg(baro_altitude_ft) AS avg_altitude_ft FROM lake l LEFT JOIN aircraft a ON l.icao24 = a.icao24 "
            f"WHERE {_days(now, 7)} AND data_quality_score > 0.7 AND NOT on_ground GROUP BY 1, 2 HAVING count(*) >= 20",
            False),
        "q8_airport_proximity": (
            f"WITH fl AS (SELECT * FROM lake WHERE {_days(now, 1)} AND latitude IS NOT NULL AND longitude IS NOT NULL "
            "AND data_quality_score > 0.6), "
            "ap AS (SELECT icao_code, airport_name, latitude AS apt_lat, longitude AS apt_lon FROM airports "
            "WHERE airport_type = 'large_airport'), "
            "near AS (SELECT fl.icao24, fl.collection_time, ap.icao_code, ap.airport_name, "
            "sqrt(pow(69.1 * (fl.latitude - apt_lat), 2) + pow(69.1 * (fl.longitude - apt_lon) * cos(radians(apt_lat)), 2)) "
            "AS distance_miles FROM fl JOIN ap ON abs(fl.latitude - apt_lat) <= 1.0 AND abs(fl.longitude - apt_lon) <= 1.0), "
            "r AS (SELECT *, row_number() OVER (PARTITION BY icao24, collection_time ORDER BY distance_miles, icao_code) AS rn "
            "FROM near WHERE distance_miles <= 50.0) "
            "SELECT icao_code, airport_name, count(*) AS nearby_flights, count(DISTINCT icao24) AS unique_aircraft, "
            "avg(distance_miles) AS avg_distance_miles FROM r WHERE rn = 1 GROUP BY 1, 2 "
            "ORDER BY nearby_flights DESC, icao_code LIMIT 25", True),
        "hourly_flight_summary": (hourly, False),
    }


#: absolute tolerance for columns the engine rounds before returning
ROUNDED = {"percentage_of_total": 0.0051}


def _close(a, b, col: str) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, (int, float)) and isinstance(b, (int, float)) and not isinstance(a, bool):
        if isinstance(a, float) and math.isnan(a):
            return isinstance(b, float) and math.isnan(b)
        return abs(a - b) <= max(ROUNDED.get(col, 0.0), 1e-9 * max(1.0, abs(a), abs(b)))
    return a == b


def _sort_key(row: tuple):
    return tuple((0, "") if v is None else (1, round(v, 3)) if isinstance(v, float) else (1, v) for v in row)


def compare(got: list[dict], want: list[dict], cols: list[str], ordered: bool) -> str | None:
    """None when ``got`` equals ``want`` on ``cols`` (within float
    tolerance); else a short description of the first difference."""
    g = [tuple(r.get(c) for c in cols) for r in got]
    w = [tuple(r.get(c) for c in cols) for r in want]
    if len(g) != len(w):
        return f"{len(g)} rows, expected {len(w)}"
    if not ordered:
        g, w = sorted(g, key=_sort_key), sorted(w, key=_sort_key)
    for rg, rw in zip(g, w):
        for c, a, b in zip(cols, rg, rw):
            if not _close(a, b, c):
                return f"column {c}: {a!r} != {b!r}"
    return None


def check(files: gen.LakeFiles, now: int, results: dict) -> list[str]:
    """Compare each engine result (an Arrow table) with its twin."""
    import duckdb

    con = duckdb.connect()
    try:
        part = "hive_partitioning = true, hive_types_autocast = false"
        con.execute(f"CREATE VIEW lake AS SELECT * FROM read_parquet('{files.lake}/*/*/*/*/*.parquet', {part})")
        con.execute(f"CREATE VIEW quality AS SELECT * FROM read_parquet('{files.quality}/*/*/*/*/*.parquet', {part})")
        con.execute(f"CREATE VIEW aircraft AS SELECT * FROM read_parquet('{files.aircraft}')")
        con.execute(f"CREATE VIEW airports AS SELECT * FROM read_parquet('{files.airports}')")
        errors = []
        for name, (sql, ordered) in twin_sql(now).items():
            if name not in results:
                continue
            cur = con.execute(sql)
            cols = [c[0] for c in cur.description]
            want = [dict(zip(cols, r)) for r in cur.fetchall()]
            got = results[name].to_pylist()
            diff = compare(got, want, cols, ordered)
            if diff:
                errors.append(f"{name}: {diff}")
    finally:
        con.close()
    if "latest_flight_activity" in results:
        want = []
        for path in glob.glob(os.path.join(files.raw, "*.json")):
            with open(path) as fh:
                doc = json.load(fh)
            want.append({"batch_time": doc["time"], "aircraft_count": len(doc["states"])})
        want.sort(key=lambda r: -r["batch_time"])
        diff = compare(results["latest_flight_activity"].to_pylist(), want, ["batch_time", "aircraft_count"], True)
        if diff:
            errors.append(f"latest_flight_activity: {diff}")
    return errors
