"""Streaming SCD2 dimension maintenance: stream==batch interval equality.

The dimension built by folding an in-order change stream micro-batch by
micro-batch must EQUAL the intervals derived from the batch run
construction over the concatenated events — including runs that span
micro-batch boundaries (same state across the cut extends the open row
instead of opening a version). Replay idempotency rides the versioned
sink's batch-id manifest stamp.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from aws_flight_data_pipeline_spark.operators.sequence import runs_to_intervals, state_runs
from aws_flight_data_pipeline_spark.sources import versioned as vt
from aws_flight_data_pipeline_spark.streaming.streams import streaming_scd2_dimension
from tests.conftest import drain

SF_DIR = "/root/testdata/sf0.001"
_COLS = ("user_id", "state", "from_us", "to_us")


def _sorted_rows(df):
    return sorted(tuple(r[c] for c in _COLS) for r in df.collect())


def test_streamed_dimension_equals_batch_intervals(spark, tmp_path):
    events = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "user_id", "event_id", "ts", "event_type"
    )
    # three ARRIVAL-ORDERED chunks (time terciles) — SCD2 folding assumes
    # in-order delivery, so the cut must respect event time
    lo, hi = events.agg(F.min("ts"), F.max("ts")).first()
    t1 = lo + (hi - lo) / 3
    t2 = lo + 2 * (hi - lo) / 3
    src = str(tmp_path / "incoming")
    for cond in (F.col("ts") <= t1, (F.col("ts") > t1) & (F.col("ts") <= t2), F.col("ts") > t2):
        events.where(cond).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    dim = str(tmp_path / "dim")
    q = streaming_scd2_dimension(stream, dim, str(tmp_path / "ckpt"))
    drain(q, 180)

    assert len(vt._list_versions(dim)) == 3  # one snapshot per micro-batch
    streamed = vt.read(spark, dim)
    batch = runs_to_intervals(state_runs(events))
    assert _sorted_rows(streamed) == _sorted_rows(batch)

    # every user has exactly one open (current) row
    open_counts = streamed.where(F.col("to_us").isNull()).groupBy("user_id").count()
    assert open_counts.where("count != 1").count() == 0

    # intermediate snapshot == batch intervals over the first chunk only
    v0 = vt.read(spark, dim, version=0)
    chunk0 = events.where(F.col("ts") <= t1)
    assert _sorted_rows(v0) == _sorted_rows(runs_to_intervals(state_runs(chunk0)))


def test_replayed_batch_is_a_noop(spark, tmp_path):
    events = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "user_id", "event_id", "ts", "event_type"
    ).limit(200)
    src = str(tmp_path / "incoming")
    events.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)
    dim = str(tmp_path / "dim")
    q = streaming_scd2_dimension(stream, dim, str(tmp_path / "ckpt"))
    drain(q, 120)
    before = vt.latest_version(dim)

    # simulate an at-least-once replay of batch 0 (crash before checkpoint
    # commit): a fresh stream over the SAME source with a FRESH checkpoint
    # re-delivers batch 0 — the manifest stamp must make it a no-op
    q2 = streaming_scd2_dimension(
        spark.readStream.schema(events.schema).parquet(src),
        dim,
        str(tmp_path / "ckpt2"),
    )
    drain(q2, 120)
    assert vt.latest_version(dim) == before


@pytest.mark.slow
def test_out_of_order_events_fold_in_true_time_order(spark, tmp_path):
    """The watermarked tier: late events (within the delay) re-sort into
    their true position before any run boundary is finalized — the closed
    intervals equal the batch run construction over the TIME-ordered
    events, despite scrambled arrival."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)

    def ev(eid, sec, user, typ):
        return (user, eid, base + dt.timedelta(seconds=sec), typ)

    # true time order for user 1: a@0 a@10 b@20 b@30 a@40
    #   -> closed intervals: (a, 0, 20), (b, 20, 40); a@40 stays open
    chunk1 = [ev(0, 0, 1, "a"), ev(2, 20, 1, "b"), ev(4, 40, 1, "a")]
    chunk2 = [ev(1, 10, 1, "a"), ev(3, 30, 1, "b")]  # LATE, within delay
    sentinel1 = [ev(90, 1000, 99, "x")]  # advance the watermark past t=40
    sentinel2 = [ev(91, 2000, 99, "x")]  # fire buffered users' timeouts
    src = str(tmp_path / "incoming")
    for chunk in (chunk1, chunk2, sentinel1, sentinel2):
        spark.createDataFrame(
            chunk, "user_id long, event_id long, ts timestamp, event_type string"
        ).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("user_id long, event_id long, ts timestamp, event_type string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    from aws_flight_data_pipeline_spark.streaming.streams import streaming_scd2_ooo

    q = (
        streaming_scd2_ooo(stream, delay="60 seconds")
        .writeStream.format("memory")
        .queryName("scd2_ooo_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    drain(q, 180)

    def us(sec):
        return int((base + dt.timedelta(seconds=sec)).replace(
            tzinfo=dt.timezone.utc
        ).timestamp() * 1_000_000)

    rows = sorted(
        tuple(r) for r in spark.sql(
            "SELECT user_id, state, from_us, to_us FROM scd2_ooo_out WHERE user_id = 1"
        ).collect()
    )
    assert rows == [(1, "a", us(0), us(20)), (1, "b", us(20), us(40))], rows


@pytest.mark.slow
def test_ooo_state_survives_delimiter_heavy_event_types(spark, tmp_path):
    """event_type containing ';' and ':' must round-trip through the
    buffered state (JSON-encoded) instead of corrupting it."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    c1 = [(1, 0, base, "a;b:c"), (1, 1, base + dt.timedelta(seconds=10), "x")]
    s1 = [(9, 90, base + dt.timedelta(seconds=500), "z")]
    s2 = [(9, 91, base + dt.timedelta(seconds=900), "z")]
    src = str(tmp_path / "incoming")
    for ch in (c1, s1, s2):
        spark.createDataFrame(
            ch, "user_id long, event_id long, ts timestamp, event_type string"
        ).coalesce(1).write.mode("append").parquet(src)
    from aws_flight_data_pipeline_spark.streaming.streams import streaming_scd2_ooo

    stream = (
        spark.readStream.schema("user_id long, event_id long, ts timestamp, event_type string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        streaming_scd2_ooo(stream, delay="30 seconds")
        .writeStream.format("memory")
        .queryName("scd2_ooo_delim")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    drain(q, 180)
    rows = [
        (r["state"],) for r in spark.sql(
            "SELECT state FROM scd2_ooo_delim WHERE user_id = 1"
        ).collect()
    ]
    assert rows == [("a;b:c",)]
