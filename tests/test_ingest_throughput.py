"""Ingestion-path throughput floor — the BASELINE.md row this pins:

    JSON→Parquet conversion throughput: 10,000-100,000 rec/s
    (reference `src/lambda/etl/README.md:164`, PyArrow chunked converter)
    hard test floor: >=100 rec/s (`tests/integration/test_performance_stress.py:384`)

The engine's equivalent path is read_raw_batches (whole-document text scan
+ declared-schema from_json) → decode_states (explode + positional cast) →
parquet write. The assert is the reference's LOWER published bound (10k
rec/s) — 100× its own hard test floor — measured end-to-end including the
write, after a warm-up run.
"""

from __future__ import annotations

import json
import time

from aws_flight_data_pipeline_spark.sources.opensky import read_flight_records

N_BATCHES = 200
STATES_PER_BATCH = 600  # ~11.5k records/poll in the reference; we push 120k


def _write_corpus(root) -> int:
    base = 1704067200
    for b in range(N_BATCHES):
        states = [
            [
                f"ab{b:03d}{i:04x}",  # icao24
                f"FLT{i:04d}  ",  # callsign (padded — decode must trim)
                "Freedonia",
                str(base + 30 * b),
                str(base + 30 * b + 5),
                f"{(-180 + (i * 7) % 360) + 0.25:.4f}",
                f"{(-85 + (i * 3) % 170) + 0.5:.4f}",
                f"{(i % 400) * 30.5:.1f}",
                "true" if i % 10 == 0 else "false",
                f"{(i % 250) * 1.1:.2f}",
                f"{(i * 11) % 360}.0",
                f"{((i % 21) - 10) * 2.0:.1f}",
                None,
                f"{(i % 400) * 30.8:.1f}",
                f"{1000 + i % 7000}",
                "false",
                str(i % 3),
            ]
            for i in range(STATES_PER_BATCH)
        ]
        doc = {"time": base + 30 * b, "states": states}
        (root / f"flight_data_{base + 30 * b}_{b:04d}.json").write_text(json.dumps(doc))
    return N_BATCHES * STATES_PER_BATCH


def test_json_to_parquet_throughput_beats_reference_floor(spark, tmp_path):
    land = tmp_path / "landing"
    land.mkdir()
    n = _write_corpus(land)
    out = str(tmp_path / "lake")

    def run(dest: str) -> None:
        read_flight_records(spark, str(land)).write.mode("overwrite").parquet(dest)

    run(out + "_warm")  # JIT + scan planning warm-up
    t0 = time.perf_counter()
    run(out)
    elapsed = time.perf_counter() - t0

    got = spark.read.parquet(out)
    assert got.count() == n
    # decode integrity on the measured path: trim + null-empty callsign, casts
    row = got.filter(got.icao24 == "ab0000000").collect()[0]
    assert row["callsign"] == "FLT0000" and row["position_source"] == 0
    assert row["on_ground"] is True

    rate = n / elapsed
    print(f"\ningest throughput: {n} records in {elapsed:.2f}s = {rate:,.0f} rec/s")
    assert rate >= 10_000, f"below the reference's published floor: {rate:,.0f} rec/s"
