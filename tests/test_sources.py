"""Tests for the raw-source helpers: raw document reader, latest-batch scan
and ingestion log."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from aws_flight_data_pipeline_spark.functions.skew import salted_sum_count, with_salt
from aws_flight_data_pipeline_spark.schemas import RAW_BATCH_SCHEMA
from aws_flight_data_pipeline_spark.sources.opensky import (
    ingestion_log_entry,
    read_flight_records,
    read_latest_batch,
    read_raw_batches,
)

NOW = 1693401600


def _state(icao, callsign, lon, lat):
    return [icao, callsign, "US", NOW, NOW, lon, lat, 3048.0, False, 128.0,
            90.0, 0.0, None, 3100.0, "7700", False, 0]


@pytest.fixture()
def landing(tmp_path):
    d = tmp_path / "landing"
    d.mkdir()
    for i, name in enumerate(["flight_data_100_a.json", "flight_data_200_b.json"]):
        with open(d / name, "w") as f:
            json.dump(
                {"time": NOW + i * 30,
                 "states": [_state(f"abc12{i}", f"UAL{i}", -73.0, 40.0 + i),
                            _state(f"def45{i}", f"BAW{i}", 0.5, 51.0)]},
                f,
            )
    return str(d)


_GOOD = {"time": NOW, "states": [_state("abc123", "UAL1    ", -73.0, 40.0), _state("def456", None, 0.5, 51.0)]}

RAW_DOCUMENTS = {
    "good": json.dumps(_GOOD),
    "truncated": '{"time": 169340, "states": [[[',
    "empty": "",
    "two_documents": json.dumps(_GOOD) + "\n" + json.dumps({"time": NOW + 30, "states": []}),
    "no_states": json.dumps({"time": NOW}),
    # one value per line: a reader that splits by line sees no whole document
    "pretty_printed": json.dumps(_GOOD, indent=2),
}


def _multiline_json_source(spark, path):
    return (
        spark.read.schema(RAW_BATCH_SCHEMA)
        .option("multiLine", "true")
        .option("mode", "PERMISSIVE")
        .json(path)
    )


def _assert_same_rows(got, want):
    assert got.schema == want.schema
    assert sorted(got.collect(), key=repr) == sorted(want.collect(), key=repr)


@pytest.mark.parametrize("case", sorted(RAW_DOCUMENTS))
def test_read_raw_batches_matches_multiline_json_source(spark, tmp_path, case):
    (tmp_path / "poll.json").write_text(RAW_DOCUMENTS[case])
    got = read_raw_batches(spark, str(tmp_path))
    _assert_same_rows(got, _multiline_json_source(spark, str(tmp_path)))
    if case in ("good", "two_documents", "pretty_printed"):
        assert [r["time"] for r in got.collect()] == [NOW]


def test_read_raw_batches_json_lines_matches_json_source(spark, tmp_path):
    lines = [RAW_DOCUMENTS["good"], RAW_DOCUMENTS["truncated"], "", "   ",
             RAW_DOCUMENTS["no_states"], json.dumps({"time": NOW + 30, "states": []})]
    (tmp_path / "polls.jsonl").write_text("\n".join(lines) + "\n")
    got = read_raw_batches(spark, str(tmp_path), multiline=False)
    want = spark.read.schema(RAW_BATCH_SCHEMA).option("mode", "PERMISSIVE").json(str(tmp_path))
    _assert_same_rows(got, want)
    # one row per non-blank line; the truncated one is all null
    assert sorted(r["time"] for r in got.collect() if r["time"] is not None) == [NOW, NOW, NOW + 30]
    assert got.count() == 4


def test_read_raw_batches_keeps_partition_columns(spark, tmp_path):
    for hour, doc in (("00", _GOOD), ("01", {"time": NOW + 3600, "states": []})):
        d = tmp_path / "year=2023" / f"hour={hour}"
        d.mkdir(parents=True)
        (d / "poll.json").write_text(json.dumps(doc, indent=2))
    got = read_raw_batches(spark, str(tmp_path))
    assert got.columns == ["time", "states", "year", "hour"]
    _assert_same_rows(got, _multiline_json_source(spark, str(tmp_path)))


def test_read_latest_batch_picks_max_filename(spark, landing):
    latest = read_latest_batch(spark, landing)
    rows = latest.collect()
    assert len(rows) == 2  # only the _200_ batch
    assert {r["icao24"] for r in rows} == {"abc121", "def451"}
    assert all(r["collection_time"] == NOW + 30 for r in rows)


def test_ingestion_log_entry(spark, landing):
    records = read_flight_records(spark, landing)
    log = ingestion_log_entry(records).collect()[0]
    assert log["records_fetched"] == 4
    assert log["records_valid"] == 4
    assert log["unique_aircraft"] == 4
    assert log["position_coverage"] == 1.0
    assert log["batch_time_min"] == NOW and log["batch_time_max"] == NOW + 30


def test_salted_aggregate_matches_plain(spark, sf_dir):
    from aws_flight_data_pipeline_spark.sources.testdata import load_table

    e = load_table(spark, sf_dir, "events")
    salted = {
        r["event_type"]: r
        for r in salted_sum_count(e, ["event_type"], "value", n_salts=8).collect()
    }
    plain = {
        r["event_type"]: r
        for r in e.groupBy("event_type")
        .agg(F.sum("value").alias("s"), F.count("value").alias("c"))
        .collect()
    }
    assert set(salted) == set(plain)
    for k in plain:
        assert salted[k]["cnt"] == plain[k]["c"]
        assert salted[k]["sum_value"] == pytest.approx(plain[k]["s"], rel=1e-12)
    # salt column is deterministic and bounded
    s = with_salt(e.limit(100), n_salts=8)
    vals = [r["_salt"] for r in s.select("_salt").collect()]
    assert all(0 <= v < 8 for v in vals)
    assert s.unionByName(s).select("_salt").distinct().count() == len(set(vals))


def test_single_split_scan_fans_out_to_all_cores(spark, sf_dir):
    # the driver writes each testdata table as ONE single-row-group parquet
    # file — an unsplittable scan. Queries whose per-row compute dominates
    # opt in to a key-hash repartition so hash/fold work uses every core; the
    # default scan stays exchange-free (cheap queries lose more to the
    # exchange than they gain — see testdata._FAN_OUT_TABLES).
    from aws_flight_data_pipeline_spark.sources import testdata

    d = testdata.load_table(spark, sf_dir, "documents", fan_out=True)
    raw = testdata.load_table(spark, sf_dir, "documents")
    if raw.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism:
        # environment property, not code behavior: on a 1-core runner (or if
        # the testdata file ever grows past one input split) the compensation
        # is a no-op by design — only the no-op contract is assertable.
        assert d.rdd.getNumPartitions() == raw.rdd.getNumPartitions()
    else:
        assert d.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    # row content identical either way
    assert d.count() == raw.count()
