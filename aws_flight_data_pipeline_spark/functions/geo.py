"""Geospatial Column builders — native expressions, never Python UDFs.

Re-expresses the reference's haversine/bearing/grid helpers
(`data_transformer.py:416-436`, `quality_validator.py:732-744`,
`anomaly_detector.py:628-640`, `05_analytical_queries_part2.sql:145-196`) as
pure Catalyst column expressions, so they stay inside whole-stage codegen and
vectorize on the JVM at any scale.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

EARTH_RADIUS_KM = 6371.0
EARTH_RADIUS_MILES = 3959.0


def haversine(lat1: Column, lon1: Column, lat2: Column, lon2: Column, radius: float = EARTH_RADIUS_KM) -> Column:
    """Great-circle distance via the haversine formula (asin form).

    Mirrors the reference's two implementations (km R=6371 in
    data_transformer.py:416-436; miles R=3959 in quality_validator.py:732-744);
    pass ``radius`` to select units.
    """
    dlat = F.radians(lat2 - lat1)
    dlon = F.radians(lon2 - lon1)
    a = (
        F.sin(dlat / 2) ** 2
        + F.cos(F.radians(lat1)) * F.cos(F.radians(lat2)) * F.sin(dlon / 2) ** 2
    )
    return 2.0 * radius * F.asin(F.sqrt(a))


def approx_distance_miles(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Flat-earth approximation used by the airport-proximity query
    (`05:165-168`): SQRT(POW(69.1*Δlat,2) + POW(69.1*Δlon*COS(RADIANS(lat)),2)).
    """
    return F.sqrt(
        F.pow(69.1 * (lat2 - lat1), 2) + F.pow(69.1 * (lon2 - lon1) * F.cos(F.radians(lat1)), 2)
    )


def bearing_cardinal(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Coarse compass direction CASE — the reference's bearing classification
    (`05:170-180`): N/S/E/W by dominant axis of the delta."""
    dlat, dlon = lat2 - lat1, lon2 - lon1
    return (
        F.when(F.abs(dlat) >= F.abs(dlon), F.when(dlat >= 0, "N").otherwise("S"))
        .otherwise(F.when(dlon >= 0, "E").otherwise("W"))
    )


def grid_cell(lat: Column, lon: Column, degrees: float = 2.0) -> Column:
    """Geo-grid cell key — the reference's 2° ROUND(lat/2)*2 grid
    (`04:331-336`) generalized; returns a "lat_lon" string key."""
    glat = F.round(lat / degrees) * degrees
    glon = F.round(lon / degrees) * degrees
    return F.concat_ws("_", glat.cast("string"), glon.cast("string"))

