"""Planted-fixture semantics for seq_resample_grid: gap buckets appear,
forward-fill crosses them, and the last-observation election is
deterministic under same-bucket ties."""

from __future__ import annotations

import os

from aws_flight_data_pipeline_spark.plans.sequences import seq_resample_grid


def _write_events(spark, tmp_path, rows):
    sf = str(tmp_path / "sf")
    os.makedirs(sf, exist_ok=True)
    df = spark.createDataFrame(
        [(eid, ts, uid, "t", val, "{}") for eid, ts, uid, val in rows],
        "event_id bigint, ts timestamp, user_id bigint, event_type string, "
        "value double, props string",
    )
    df.coalesce(1).write.mode("overwrite").parquet(os.path.join(sf, "events.parquet"))
    return sf


def test_gaps_materialize_and_ffill_crosses_them(spark, tmp_path):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 0, 30)
    rows = [
        (1, t0, 7, 5.00),                                 # hour 0
        (2, t0 + dt.timedelta(hours=3), 7, 9.00),         # hour 3
    ]
    sf = _write_events(spark, tmp_path, rows)
    out = {r["hour_bucket"]: r for r in seq_resample_grid(spark, sf).collect()}
    buckets = sorted(out)
    assert len(buckets) == 4  # hours 0..3 inclusive
    h0, h1, h2, h3 = (out[b] for b in buckets)
    assert (h0["n_events"], h0["is_gap"], h0["ffill_cents"]) == (1, 0, 500)
    assert (h1["n_events"], h1["is_gap"], h1["ffill_cents"]) == (0, 1, 500)
    assert (h2["n_events"], h2["is_gap"], h2["ffill_cents"]) == (0, 1, 500)
    assert (h3["n_events"], h3["is_gap"], h3["ffill_cents"]) == (1, 0, 900)
    assert h3["sum_cents"] == 900


def test_same_bucket_last_observation_tiebreak(spark, tmp_path):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 12, 0)
    rows = [  # same timestamp: event_id breaks the tie; later ts wins outright
        (10, t0, 1, 1.00),
        (11, t0, 1, 2.00),
        (9, t0 + dt.timedelta(minutes=5), 1, 3.00),
    ]
    sf = _write_events(spark, tmp_path, rows)
    (row,) = seq_resample_grid(spark, sf).collect()
    assert row["n_events"] == 3 and row["ffill_cents"] == 300
    assert row["sum_cents"] == 600
