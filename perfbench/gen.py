"""Seeded input generator for the flight-pipeline benchmark.

Everything a workload feeds the engine comes from here, as files: OpenSky
``/states/all`` poll documents (with planted bad records), the processed lake
and its quality-metrics table, the aircraft and airport dimensions, and the
versioned-table increments and late corrections. The same seed gives
byte-identical files. Only the standard library and pyarrow are used, so
generation never touches Spark.
"""

from __future__ import annotations

import json
import math
import os
import random
import time
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

#: 2024-03-01T00:00:00Z; each seed shifts "now" by whole hours from here.
EPOCH = 1709251200

AIRLINES = (
    ("UAL", "United States"), ("DAL", "United States"), ("AAL", "United States"),
    ("BAW", "United Kingdom"), ("DLH", "Germany"), ("AFR", "France"),
    ("KLM", "Netherlands"), ("JAL", "Japan"), ("QFA", "Australia"), ("UAE", "United Arab Emirates"),
)

AIRPORTS = (  # icao, name, lat, lon, type
    ("KJFK", "John F Kennedy Intl", 40.6413, -73.7781, "large_airport"),
    ("KLAX", "Los Angeles Intl", 33.9416, -118.4085, "large_airport"),
    ("KORD", "Chicago O'Hare Intl", 41.9742, -87.9073, "large_airport"),
    ("KATL", "Hartsfield-Jackson Atlanta Intl", 33.6407, -84.4277, "large_airport"),
    ("EGLL", "London Heathrow", 51.4700, -0.4543, "large_airport"),
    ("LFPG", "Paris Charles de Gaulle", 49.0097, 2.5479, "large_airport"),
    ("EDDF", "Frankfurt Main", 50.0379, 8.5622, "large_airport"),
    ("EHAM", "Amsterdam Schiphol", 52.3105, 4.7683, "large_airport"),
    ("RJAA", "Tokyo Narita", 35.7720, 140.3929, "large_airport"),
    ("OMDB", "Dubai Intl", 25.2532, 55.3657, "large_airport"),
    ("YSSY", "Sydney Kingsford Smith", -33.9399, 151.1753, "large_airport"),
    ("KTEB", "Teterboro", 40.8501, -74.0608, "medium_airport"),
    ("EGLC", "London City", 51.5053, 0.0553, "medium_airport"),
    ("LFPB", "Paris Le Bourget", 48.9694, 2.4414, "medium_airport"),
)

MODELS = (
    ("A320", "Airbus"), ("A350", "Airbus"), ("B737", "Boeing"),
    ("B777", "Boeing"), ("B787", "Boeing"), ("E190", "Embraer"),
)

# phase envelopes: (alt_ft, speed_kts, vertical_rate_fpm)
PHASES = (
    ("Ground", (0, 60), (0, 15), (0, 0)),
    ("Takeoff", (200, 3000), (140, 200), (1500, 3000)),
    ("Climb", (3000, 25000), (220, 350), (600, 2500)),
    ("Cruise", (30000, 41000), (440, 560), (-100, 100)),
    ("Cruise", (30000, 41000), (440, 560), (-100, 100)),
    ("Cruise", (30000, 41000), (440, 560), (-100, 100)),
    ("Descent", (10000, 30000), (250, 380), (-2500, -600)),
    ("Approach", (500, 5000), (140, 240), (-1500, -300)),
)

#: callsigns that mark planted bad records in OpenSky polls
BAD_ICAO, BAD_POSITION, BAD_ALTITUDE = "XBADID", "XNOPOS", "XHIALT"


@dataclass(frozen=True)
class Aircraft:
    icao24: str
    callsign: str
    country: str
    origin: int
    dest: int
    phase_offset: float


@dataclass
class World:
    """The seed's fleet and clock; every generated file derives from it."""

    seed: int
    now: int
    fleet: list[Aircraft] = field(default_factory=list)


def make_world(seed: int, n_aircraft: int = 600) -> World:
    rng = random.Random(seed)
    now = EPOCH + rng.randrange(0, 60 * 24) * 3600 + 1800
    icaos: set[str] = set()
    while len(icaos) < n_aircraft:
        icaos.add(f"{rng.randrange(16**6):06x}")
    large = [i for i, a in enumerate(AIRPORTS) if a[4] == "large_airport"]
    fleet = []
    for n, icao in enumerate(sorted(icaos)):
        airline, country = AIRLINES[rng.randrange(len(AIRLINES))]
        o, d = rng.sample(large, 2)
        fleet.append(
            Aircraft(icao, f"{airline}{rng.randrange(1, 9999):04d}", country, o, d, rng.random())
        )
    rng.shuffle(fleet)
    return World(seed, now, fleet)


def _position(ac: Aircraft, t: int, rng: random.Random) -> dict:
    """A fix of ``ac`` at unix time ``t``: 6-hour round trips between its
    two airports, phase from the progress along the leg."""
    frac = ((t / 21600.0) + ac.phase_offset) % 1.0
    leg = frac * 2.0
    a, b = (ac.origin, ac.dest) if leg < 1.0 else (ac.dest, ac.origin)
    p = leg % 1.0
    oa, ob = AIRPORTS[a], AIRPORTS[b]
    phase, (alo, ahi), (slo, shi), (vlo, vhi) = PHASES[min(int(p * len(PHASES)), len(PHASES) - 1)]
    lat = oa[2] + (ob[2] - oa[2]) * p + rng.gauss(0, 0.05)
    lon = oa[3] + (ob[3] - oa[3]) * p + rng.gauss(0, 0.05)
    return {
        "phase": phase,
        "lat": round(lat, 4),
        "lon": round(lon, 4),
        "alt_ft": rng.uniform(alo, ahi),
        "kts": rng.uniform(slo, shi),
        "vr_fpm": rng.uniform(vlo, vhi),
        "track": round(math.degrees(math.atan2(ob[3] - oa[3], ob[2] - oa[2])) % 360.0, 1),
        "on_ground": phase == "Ground",
    }


# ---------------------------------------------------------------------------
# OpenSky polls
# ---------------------------------------------------------------------------


@dataclass
class PollStats:
    """What was planted, so the checks know what to expect."""

    vectors: int = 0
    bad_icao: int = 0
    bad_position: int = 0
    bad_altitude: int = 0
    duplicates: int = 0
    bytes: int = 0

    def add(self, other: "PollStats") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


def poll_document(world: World, t: int, n_vectors: int, salt: int) -> tuple[dict, PollStats]:
    """One ``/states/all`` response at time ``t``: positional state vectors
    (metres, m/s) for ``n_vectors`` aircraft, about 1% each of invalid
    icao24, missing position, impossible altitude and exact duplicates."""
    rng = random.Random(world.seed * 1_000_003 + salt)
    stats = PollStats()
    start = rng.randrange(len(world.fleet))
    states = []
    for i in range(n_vectors):
        ac = world.fleet[(start + i) % len(world.fleet)]
        fix = _position(ac, t, rng)
        contact = t - rng.randrange(0, 10)
        vec = [
            ac.icao24, f"{ac.callsign:<8}", ac.country, contact - rng.randrange(0, 3), contact,
            fix["lon"], fix["lat"], round(fix["alt_ft"] / 3.28084, 1), fix["on_ground"],
            round(fix["kts"] / 1.94384, 2), fix["track"], round(fix["vr_fpm"] / 196.850394, 2),
            None, round(fix["alt_ft"] / 3.28084 + rng.uniform(-30, 30), 1),
            f"{rng.randrange(1000, 7777)}", False, 0,
        ]
        roll = rng.random()
        if roll < 0.01:
            vec[0], vec[1] = rng.choice(("ZZ12!X", "12345", "ABCDEF", "g0000z")), f"{BAD_ICAO}{i % 100:02d}"
            stats.bad_icao += 1
        elif roll < 0.02:
            vec[5] = vec[6] = None
            vec[1] = f"{BAD_POSITION}{i % 100:02d}"
            stats.bad_position += 1
        elif roll < 0.03:
            vec[7] = round(rng.uniform(20000.0, 40000.0), 1)  # 65k-131k ft
            vec[1] = f"{BAD_ALTITUDE}{i % 100:02d}"
            stats.bad_altitude += 1
        states.append(vec)
        if 0.03 <= roll < 0.04:
            states.append(list(vec))
            stats.duplicates += 1
    stats.vectors = len(states)
    return {"time": t, "states": states}, stats


def write_poll(path: str, doc: dict) -> int:
    data = json.dumps(doc, separators=(",", ":")).encode()
    with open(path, "wb") as fh:
        fh.write(data)
    return len(data)


def poll_name(t: int, i: int) -> str:
    return f"flight_data_{t}_{i:05d}.json"


def write_landing(world: World, root: str, n_polls: int, n_vectors: int, partitioned: bool = True) -> PollStats:
    """``n_polls`` polls 30 s apart ending at ``world.now``, under
    ``year=/month=/day=/hour=`` prefixes (or flat)."""
    total = PollStats()
    for i in range(n_polls):
        t = world.now - 30 * (n_polls - 1 - i)
        doc, st = poll_document(world, t, n_vectors, salt=i)
        d = os.path.join(root, _hour_prefix(t)) if partitioned else root
        os.makedirs(d, exist_ok=True)
        st.bytes = write_poll(os.path.join(d, poll_name(t, i)), doc)
        total.add(st)
    return total


def _hour_prefix(t: int) -> str:
    y, m, d, h = ymdh(t)
    return f"year={y}/month={m}/day={d}/hour={h}"


def ymdh(t: int) -> tuple[str, str, str, str]:
    """Zero-padded UTC year, month, day, hour strings of unix time ``t``."""
    g = time.gmtime(t)
    return f"{g.tm_year:04d}", f"{g.tm_mon:02d}", f"{g.tm_mday:02d}", f"{g.tm_hour:02d}"


# ---------------------------------------------------------------------------
# Processed lake, quality metrics, dimensions
# ---------------------------------------------------------------------------


def _altitude_category(ft: int) -> str:
    return "Low" if ft < 10000 else "Medium" if ft < 25000 else "High" if ft < 35000 else "Very High"


def _speed_category(kts: float) -> str:
    return "Slow" if kts < 200 else "Normal" if kts < 450 else "Fast" if kts < 550 else "Very Fast"


LAKE_SCHEMA = pa.schema([
    ("icao24", pa.string()), ("callsign", pa.string()), ("origin_country", pa.string()),
    ("collection_time", pa.int64()), ("last_contact", pa.int64()),
    ("latitude", pa.float64()), ("longitude", pa.float64()),
    ("baro_altitude_ft", pa.int32()), ("velocity_knots", pa.float64()),
    ("vertical_rate_fpm", pa.int32()), ("true_track", pa.float64()), ("on_ground", pa.bool_()),
    ("altitude_category", pa.string()), ("speed_category", pa.string()), ("flight_phase", pa.string()),
    ("data_quality_score", pa.float64()), ("completeness_score", pa.float64()),
    ("validity_score", pa.float64()), ("consistency_score", pa.float64()),
])

QUALITY_SCHEMA = pa.schema([
    ("total_records", pa.int64()), ("valid_records", pa.int64()), ("quarantined_records", pa.int64()),
    ("avg_overall_quality", pa.float64()), ("avg_completeness", pa.float64()),
    ("avg_validity", pa.float64()), ("avg_consistency", pa.float64()),
    ("avg_timeliness", pa.float64()), ("min_quality", pa.float64()), ("quarantine_rate", pa.float64()),
])


def lake_rows(world: World, hour_start: int, n_rows: int, rng: random.Random) -> list[dict]:
    """Processed-table rows for one hour, already in the analytics label
    space the query surface reads (Title-case phases, Low/Normal bands)."""
    rows = []
    fleet = world.fleet
    start = rng.randrange(len(fleet))
    for i in range(n_rows):
        ac = fleet[(start + i) % len(fleet)]
        t = hour_start + rng.randrange(0, 3600)
        fix = _position(ac, t, rng)
        q = min(1.0, max(0.0, rng.gauss(0.88, 0.1)))
        alt = int(round(fix["alt_ft"]))
        rows.append({
            "icao24": ac.icao24, "callsign": ac.callsign, "origin_country": ac.country,
            "collection_time": t, "last_contact": t - rng.randrange(0, 10),
            "latitude": fix["lat"], "longitude": fix["lon"],
            "baro_altitude_ft": alt, "velocity_knots": round(fix["kts"], 2),
            "vertical_rate_fpm": int(round(fix["vr_fpm"])), "true_track": fix["track"],
            "on_ground": fix["on_ground"],
            "altitude_category": _altitude_category(alt), "speed_category": _speed_category(fix["kts"]),
            "flight_phase": fix["phase"],
            "data_quality_score": round(q, 4), "completeness_score": round(min(1.0, q + 0.05), 4),
            "validity_score": round(min(1.0, q + 0.08), 4), "consistency_score": round(min(1.0, q + 0.02), 4),
        })
    return rows


def _write_table(rows: list[dict], schema: pa.Schema, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    cols = {f.name: [r[f.name] for r in rows] for f in schema}
    pq.write_table(pa.table(cols, schema=schema), path, compression="snappy")


@dataclass
class LakeFiles:
    lake: str
    quality: str
    aircraft: str
    airports: str
    raw: str
    lake_files: int
    quality_files: int


def write_lake(world: World, root: str, days: int = 7, rows_per_hour: int = 60) -> LakeFiles:
    """A ``year/month/day/hour``-partitioned processed lake covering
    ``days`` days up to ``world.now``, one quality-metrics row per hour,
    the two dimensions and a few raw poll documents."""
    rng = random.Random(world.seed * 7919 + 1)
    lake, quality = os.path.join(root, "processed"), os.path.join(root, "quality_metrics")
    last_hour = world.now - world.now % 3600
    hours = [last_hour - 3600 * h for h in range(days * 24 - 1, -1, -1)]
    for h in hours:
        prefix = _hour_prefix(h)
        _write_table(lake_rows(world, h, rows_per_hour, rng), LAKE_SCHEMA, os.path.join(lake, prefix, "part-0.parquet"))
        total = rows_per_hour * 46 + rng.randrange(0, 200)
        quar = rng.randrange(0, total // 20)
        qrow = {
            "total_records": total, "valid_records": total - quar, "quarantined_records": quar,
            "avg_overall_quality": round(rng.uniform(0.75, 0.99), 4),
            "avg_completeness": round(rng.uniform(0.8, 1.0), 4), "avg_validity": round(rng.uniform(0.8, 1.0), 4),
            "avg_consistency": round(rng.uniform(0.7, 1.0), 4), "avg_timeliness": round(rng.uniform(0.6, 1.0), 4),
            "min_quality": round(rng.uniform(0.1, 0.5), 4), "quarantine_rate": round(quar / total, 4),
        }
        _write_table([qrow], QUALITY_SCHEMA, os.path.join(quality, prefix, "part-0.parquet"))
    aircraft = os.path.join(root, "aircraft.parquet")
    ac_rows = []
    for ac in world.fleet:
        if rng.random() < 0.85:
            model, maker = MODELS[rng.randrange(len(MODELS))]
            ac_rows.append({"icao24": ac.icao24, "model": model, "manufacturername": maker})
    _write_table(ac_rows, pa.schema([("icao24", pa.string()), ("model", pa.string()), ("manufacturername", pa.string())]), aircraft)
    airports = os.path.join(root, "airports.parquet")
    _write_table(
        [{"icao_code": a[0], "airport_name": a[1], "latitude": a[2], "longitude": a[3], "airport_type": a[4]} for a in AIRPORTS],
        pa.schema([("icao_code", pa.string()), ("airport_name", pa.string()), ("latitude", pa.float64()),
                   ("longitude", pa.float64()), ("airport_type", pa.string())]),
        airports,
    )
    raw = os.path.join(root, "raw")
    write_landing(world, raw, n_polls=12, n_vectors=40, partitioned=False)
    return LakeFiles(lake, quality, aircraft, airports, raw, len(hours), len(hours))


# ---------------------------------------------------------------------------
# Versioned-table increments and corrections
# ---------------------------------------------------------------------------

INCREMENT_SCHEMA = pa.schema([
    ("icao24", pa.string()), ("collection_time", pa.int64()), ("callsign", pa.string()),
    ("latitude", pa.float64()), ("longitude", pa.float64()), ("baro_altitude_ft", pa.int32()),
    ("velocity_knots", pa.float64()), ("data_quality_score", pa.float64()),
])


def increment_rows(world: World, hour_start: int, n_rows: int, rng: random.Random) -> list[dict]:
    """One hour of processed rows, unique on (icao24, collection_time),
    sorted by time so the file's collection_time stats are tight."""
    fleet = world.fleet
    rows = []
    for i in range(n_rows):
        ac = fleet[i % len(fleet)]
        t = hour_start + (i // len(fleet)) * 600 + rng.randrange(0, 600)
        fix = _position(ac, t, rng)
        rows.append({
            "icao24": ac.icao24, "collection_time": t, "callsign": ac.callsign,
            "latitude": fix["lat"], "longitude": fix["lon"], "baro_altitude_ft": int(round(fix["alt_ft"])),
            "velocity_knots": round(fix["kts"], 2), "data_quality_score": round(rng.uniform(0.5, 1.0), 4),
        })
    rows.sort(key=lambda r: (r["collection_time"], r["icao24"]))
    return rows


def correction_rows(
    world: World, target: list[dict], n_updates: int, n_inserts: int, rng: random.Random
) -> list[dict]:
    """Late corrections for an already-committed hour: ``n_updates`` rows
    re-sent with new values for existing keys, plus ``n_inserts`` late
    arrivals with keys the table has not seen."""
    out = []
    for r in rng.sample(target, n_updates):
        out.append({**r, "velocity_knots": round(r["velocity_knots"] + rng.uniform(1.0, 20.0), 2),
                    "data_quality_score": round(rng.uniform(0.5, 1.0), 4)})
    hour = target[0]["collection_time"] - target[0]["collection_time"] % 3600
    taken = {(r["icao24"], r["collection_time"]) for r in target}
    while len(out) < n_updates + n_inserts:
        ac = world.fleet[rng.randrange(len(world.fleet))]
        t = hour + rng.randrange(0, 3600)
        if (ac.icao24, t) in taken:
            continue
        taken.add((ac.icao24, t))
        fix = _position(ac, t, rng)
        out.append({
            "icao24": ac.icao24, "collection_time": t, "callsign": ac.callsign,
            "latitude": fix["lat"], "longitude": fix["lon"], "baro_altitude_ft": int(round(fix["alt_ft"])),
            "velocity_knots": round(fix["kts"], 2), "data_quality_score": round(rng.uniform(0.5, 1.0), 4),
        })
    return out


def write_versioned_hour(
    world: World, root: str, h: int, rows_per_hour: int = 500, n_updates: int = 40, n_inserts: int = 10
) -> tuple[str, str, int]:
    """Hour ``h`` of the versioned table (hour 0 starts a day before
    ``world.now``): its increment and a correction file for it. Any hour
    can be made on demand; each depends only on the seed and ``h``.
    Returns (increment path, correction path, hour start)."""
    rng = random.Random((world.seed * 104729 + 2) * 7919 + h)
    start = world.now - world.now % 3600 - 86400 + 3600 * h
    rows = increment_rows(world, start, rows_per_hour, rng)
    inc = os.path.join(root, f"increment_{h:05d}.parquet")
    _write_table(rows, INCREMENT_SCHEMA, inc)
    cor = os.path.join(root, f"correction_{h:05d}.parquet")
    _write_table(correction_rows(world, rows, n_updates, n_inserts, rng), INCREMENT_SCHEMA, cor)
    return inc, cor, start
