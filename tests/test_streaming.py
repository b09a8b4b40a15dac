"""Structured Streaming tests: file-source micro-batches with availableNow
triggers, watermark dedup, windowed aggregation, foreachBatch pipeline, the
stateful stuck-aircraft detector, the admission gate's quality rules and the
stream commit path's replay guard."""

from __future__ import annotations

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from aws_flight_data_pipeline_spark.config import AnomalyConfig
from aws_flight_data_pipeline_spark.operators.anomaly import detect_anomalies
from aws_flight_data_pipeline_spark.operators.enrich import enrich
from aws_flight_data_pipeline_spark.operators.quality import score_quality
from aws_flight_data_pipeline_spark.schemas import RAW_BATCH_SCHEMA
from aws_flight_data_pipeline_spark.sources.opensky import (
    decode_states,
    read_flight_records,
    read_raw_documents,
)
from aws_flight_data_pipeline_spark.sources.sinks import with_time_partitions
from aws_flight_data_pipeline_spark.streaming.streams import (
    micro_batch_pipeline,
    stateful_stuck_detector,
    stream_raw_states,
    streaming_dedup,
    windowed_traffic_summary,
)
from tests.conftest import drain, persisted_rdd_ids, stream_documents

NOW = 1693401600


def _state(icao, callsign, t, lon, lat, alt=3048.0, vel=128.0, on_ground=False):
    return [icao, callsign, "US", t, t, lon, lat, alt, on_ground, vel, 90.0, 0.0, None, alt, "1200", False, 0]


def _write_batch(path, name, time, states):
    with open(os.path.join(path, name), "w") as f:
        json.dump({"time": time, "states": states}, f)


@pytest.fixture()
def landing(tmp_path):
    d = tmp_path / "landing"
    d.mkdir()
    return str(d)


def _run_to_memory(stream_df, name, output_mode="append"):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    drain(q, 120)
    return q


def test_stream_decode_and_dedup(spark, landing):
    # batch 1 and batch 2 share a duplicate (icao24, time_position) fix
    _write_batch(landing, "b1.json", NOW, [
        _state("abc123", "UAL123", NOW - 10, -74.0, 40.7),
        _state("def456", "BAW456", NOW - 9, -0.4, 51.4),
    ])
    _write_batch(landing, "b2.json", NOW + 30, [
        _state("abc123", "UAL123", NOW - 10, -74.0, 40.7),  # duplicate
        _state("abc123", "UAL123", NOW + 20, -73.9, 40.8),  # new fix
    ])
    deduped = streaming_dedup(stream_raw_states(spark, landing))
    _run_to_memory(deduped, "dedup_out")
    rows = spark.sql("SELECT icao24, time_position FROM dedup_out").collect()
    keys = [(r.icao24, r.time_position) for r in rows]
    assert len(keys) == len(set(keys)) == 3  # duplicate dropped


def test_windowed_traffic_summary(spark, landing):
    states = [
        _state("abc123", "UAL123", NOW, -74.0, 40.7),
        _state("def456", "BAW456", NOW + 10, -0.4, 51.4),
        _state("0a1b2c", "JAL789", NOW + 4000, 139.7, 35.5),  # next hour window
    ]
    _write_batch(landing, "b1.json", NOW, states)
    win = windowed_traffic_summary(stream_raw_states(spark, landing))
    _run_to_memory(win, "win_out", output_mode="append")
    # append mode emits only closed windows; use complete-mode for assertion
    win2 = windowed_traffic_summary(stream_raw_states(spark, landing))
    q = (
        win2.writeStream.format("memory")
        .queryName("win_out_c")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    drain(q, 120)
    rows = spark.sql("SELECT * FROM win_out_c").collect()
    assert len(rows) >= 2  # at least two distinct hour windows
    assert sum(r.total_flights for r in rows) == 3


def test_micro_batch_pipeline_end_to_end(spark, landing, tmp_path):
    _write_batch(landing, "b1.json", NOW, [
        _state("abc123", "UAL123", NOW - 10, -74.0, 40.7),
        _state("BADICAO", None, None, 999.0, 95.0),  # corrupt -> quarantine
    ])
    clean, quar, ckpt = (str(tmp_path / p) for p in ("clean", "quar", "ckpt"))
    q = micro_batch_pipeline(
        stream_raw_states(spark, landing), clean, quar, ckpt, now_provider=lambda: NOW
    )
    drain(q, 120)
    clean_df = spark.read.parquet(clean)
    quar_df = spark.read.parquet(quar)
    assert clean_df.count() == 1 and quar_df.count() == 1
    assert clean_df.collect()[0].icao24 == "abc123"
    assert "data_quality_score" in clean_df.columns
    assert "year" in clean_df.columns  # partition columns derived


def _one_poll_per_batch(spark, landing):
    """stream_raw_states, but one landed poll per micro-batch."""
    return decode_states(read_raw_documents(spark.readStream.option("maxFilesPerTrigger", 1), landing))


def _sorted_rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def test_micro_batch_pipeline_equals_batch_operators(spark, landing, tmp_path):
    # three polls, one micro-batch each, reusing the chain built at stream
    # start; the polls carry an invalid icao24, a missing position and an
    # exact duplicate
    polls = [
        [
            _state("abc123", "UAL123", NOW - 10, -74.0, 40.7),
            _state("def456", "BAW456", NOW - 9, -0.4, 51.4, alt=21000.0),  # impossible altitude
            _state("BADICAO", None, NOW - 8, 2.0, 48.0),
        ],
        [
            _state("abc123", "UAL123", NOW + 20, -73.9, 40.8),
            _state("abc123", "UAL123", NOW + 20, -73.9, 40.8),  # exact duplicate
            _state("0a1b2c", "JAL789", NOW + 21, None, None),  # missing position
        ],
        [
            _state("abc123", "UAL123", NOW + 50, 139.7, 35.5),  # position jump
            _state("def456", "BAW456", NOW + 51, -0.3, 51.5, vel=None),
        ],
    ]
    for i, states in enumerate(polls):
        _write_batch(landing, f"b{i}.json", NOW + 30 * i, states)
    clean, quar, ckpt = (str(tmp_path / p) for p in ("clean", "quar", "ckpt"))
    q = micro_batch_pipeline(
        _one_poll_per_batch(spark, landing), clean, quar, ckpt, now_provider=lambda: NOW + 60
    )
    drain(q, 180)
    assert q.exception() is None
    assert sum(p.numInputRows > 0 for p in q.recentProgress) == len(polls)

    expected = None
    for i in range(len(polls)):
        recs = read_flight_records(spark, os.path.join(landing, f"b{i}.json"))
        scored = detect_anomalies(score_quality(enrich(recs), NOW + 60), NOW + 60)
        out = with_time_partitions(scored.drop("anomaly_flags"))
        expected = out if expected is None else expected.unionByName(out)
    for path, keep in ((clean, ~F.col("should_quarantine")), (quar, F.col("should_quarantine"))):
        got, want = spark.read.parquet(path), expected.filter(keep)
        assert [(f.name, f.dataType) for f in got.schema] == [(f.name, f.dataType) for f in want.schema]
        assert _sorted_rows(got) == _sorted_rows(want)
    assert spark.read.parquet(quar).filter(F.col("icao24") == "BADICAO").count() == 1
    assert spark.read.parquet(quar).filter(F.col("icao24") == "0a1b2c").count() == 1


def test_micro_batch_pipeline_survives_null_last_contact_batch(spark, landing, tmp_path):
    # every record lacks last_contact: the batch's now falls back to its
    # collection_time instead of failing the batch (and its replay)
    _write_batch(landing, "b1.json", NOW, [
        _state("abc123", "UAL123", None, -74.0, 40.7),
        _state("def456", "BAW456", None, -0.4, 51.4),
    ])
    clean, quar, ckpt = (str(tmp_path / p) for p in ("clean", "quar", "ckpt"))
    q = micro_batch_pipeline(stream_raw_states(spark, landing), clean, quar, ckpt)
    drain(q, 120)
    assert q.exception() is None
    rows = spark.read.parquet(quar).collect()  # last_contact is a critical field
    assert sorted(r.icao24 for r in rows) == ["abc123", "def456"]
    assert all(r.timeliness_score == 1.0 for r in rows)

    # the stream goes on from its checkpoint with the next poll
    _write_batch(landing, "b2.json", NOW + 30, [_state("abc123", "UAL123", NOW + 20, -73.9, 40.8)])
    q = micro_batch_pipeline(stream_raw_states(spark, landing), clean, quar, ckpt)
    drain(q, 120)
    assert q.exception() is None
    assert [r.icao24 for r in spark.read.parquet(clean).collect()] == ["abc123"]


def test_micro_batch_pipeline_jobs_and_files_per_batch(spark, landing, tmp_path):
    # one micro-batch: its Spark jobs (the stream's job group) and the
    # parquet files it adds per side
    _write_batch(landing, "b1.json", NOW, [
        _state("%06x" % i, "UAL123", NOW - i, -74.0 + i * 0.01, 40.7) for i in range(20)
    ] + [_state("BADICAO", None, NOW, 2.0, 48.0)])
    clean, quar, ckpt = (str(tmp_path / p) for p in ("clean", "quar", "ckpt"))
    persisted = persisted_rdd_ids(spark)
    q = micro_batch_pipeline(
        stream_raw_states(spark, landing), clean, quar, ckpt, now_provider=lambda: NOW
    )
    drain(q, 120)
    assert q.exception() is None
    assert sum(p.numInputRows > 0 for p in q.recentProgress) == 1
    # the landed document is read and parsed once
    assert [p.numInputRows for p in q.recentProgress if p.numInputRows > 0] == [1]
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId))
    assert 0 < len(jobs) <= 7
    for path in (clean, quar):
        assert len(glob.glob(os.path.join(path, "*.parquet"))) == 1
    # the batch's checkpoints are released with the batch
    assert persisted_rdd_ids(spark) - persisted == set()


def test_micro_batch_pipeline_batch_without_records(spark, landing, tmp_path):
    # a truncated document and an empty file decode to no records: the
    # batch's observed count is 0, so it writes nothing, and its checkpoint
    # is released
    with open(os.path.join(landing, "b1.json"), "w") as f:
        f.write('{"time": 169340, "states": [[[')
    open(os.path.join(landing, "b2.json"), "w").close()
    clean, quar, ckpt = (str(tmp_path / p) for p in ("clean", "quar", "ckpt"))
    persisted = persisted_rdd_ids(spark)
    q = micro_batch_pipeline(stream_raw_states(spark, landing), clean, quar, ckpt)
    finished = q.awaitTermination(120)
    q.stop()
    assert finished and q.exception() is None
    # one batch, one row: the empty file holds no document
    assert [(p.batchId, p.numInputRows) for p in q.recentProgress] == [(0, 1)]
    assert not glob.glob(os.path.join(str(tmp_path), "*", "**", "*.parquet"), recursive=True)
    assert persisted_rdd_ids(spark) - persisted == set()


def test_micro_batch_pipeline_resumes_json_source_checkpoint(spark, landing, tmp_path):
    # a stream checkpoint written when the landing prefix was read with the
    # multiLine JSON source resumes under stream_raw_states: the processed
    # poll is not read again, the next one is
    first = [_state("%06x" % i, "UAL123", NOW - i, -74.0 + i * 0.01, 40.7) for i in range(5)]
    second = [_state("%06x" % (100 + i), "BAW456", NOW + 20 - i, -0.4, 51.4 + i * 0.01) for i in range(7)]
    _write_batch(landing, "b1.json", NOW, first)
    clean, quar, ckpt = (str(tmp_path / p) for p in ("clean", "quar", "ckpt"))
    json_source = decode_states(
        spark.readStream.schema(RAW_BATCH_SCHEMA)
        .option("multiLine", "true")
        .option("maxFilesPerTrigger", 8)
        .json(landing)
    )
    q = micro_batch_pipeline(json_source, clean, quar, ckpt, now_provider=lambda: NOW + 30)
    drain(q, 120)
    assert q.exception() is None

    _write_batch(landing, "b2.json", NOW + 30, second)
    q = micro_batch_pipeline(
        stream_raw_states(spark, landing), clean, quar, ckpt, now_provider=lambda: NOW + 30
    )
    drain(q, 120)
    assert q.exception() is None
    assert [p.numInputRows for p in q.recentProgress if p.numInputRows > 0] == [1]
    written = spark.read.parquet(clean).unionByName(spark.read.parquet(quar)).collect()
    assert sorted(r.icao24 for r in written) == sorted(s[0] for s in first + second)


@pytest.mark.slow
def test_stateful_stuck_detector_across_batches(spark, landing, tmp_path):
    # same position fixes spanning > 30 min arriving over TWO micro-batches —
    # only cross-batch state can see the full span. b2 lands after the first
    # run drained, so the restart from the checkpoint reads it as its own
    # batch; the parquet sink keeps both runs' rows (a memory sink does not)
    fixes1 = [_state("abc123", "UAL123", NOW + i * 600, -74.0, 40.7, vel=2.0) for i in range(3)]
    fixes2 = [_state("abc123", "UAL123", NOW + (3 + i) * 600, -74.0001, 40.7001, vel=2.0) for i in range(2)]
    out_path, ckpt = str(tmp_path / "stuck_out"), str(tmp_path / "ckpt")
    input_rows = []
    for name, time, fixes in (("b1.json", NOW, fixes1), ("b2.json", NOW + 1800, fixes2)):
        _write_batch(landing, name, time, fixes)
        records = stream_raw_states(spark, landing).withColumn(
            "velocity_knots", F.col("velocity") * 1.94384
        )
        q = (
            stateful_stuck_detector(records, AnomalyConfig())
            .writeStream.format("parquet")
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start(out_path)
        )
        drain(q, 120)
        input_rows += [p.numInputRows for p in q.recentProgress if p.numInputRows > 0]
    assert input_rows == [1, 1]  # one landed poll per batch, two batches
    rows = spark.read.parquet(out_path).orderBy("last_contact").collect()
    assert len(rows) == 5
    assert any(r.is_stuck for r in rows)  # span >1800 s within 0.05 mi at <5 kts
    assert not rows[0].is_stuck  # needs history before it can fire


def test_sliding_realtime_metrics(spark, landing):
    from aws_flight_data_pipeline_spark.streaming.streams import sliding_realtime_metrics

    # fixes spread across two hours → each lands in 4 overlapping 4h/1h panes
    states = [
        _state(f"ac{i:04d}", f"UAL{i}", NOW + i * 1800, -73.0 + i * 0.1, 40.0, on_ground=(i == 0))
        for i in range(4)
    ]
    _write_batch(landing, "b1.json", NOW, states)
    metrics = sliding_realtime_metrics(stream_raw_states(spark, landing))
    # complete mode: append would hold every pane until the watermark passes
    # its end, which a single availableNow batch never does
    _run_to_memory(metrics, "sliding_out", output_mode="complete")
    rows = spark.sql("SELECT * FROM sliding_out").collect()
    # 30-min spacing → 2 distinct event hours; 4 panes each, 3 shared → 5 panes
    assert len(rows) == 5
    # the pane covering all events has every aircraft; ground one excluded
    peak = max(rows, key=lambda r: r["total_positions"])
    assert peak["total_positions"] == 4
    assert peak["airborne_count"] == 3
    assert peak["latest_contact"] == NOW + 3 * 1800


def test_quality_gate_rules_match_batch_funnel(spark, sf_dir):
    """The admission gate's quality rules over a static corpus: rules 1-4
    pass exactly the documents the batch ``quality_filter_funnel`` passes
    (its progressive per-source counts), ``passed`` is the conjunction of
    all five flags, and the gate splits the corpus non-trivially."""
    from aws_flight_data_pipeline_spark.plans.registry import resolve
    from aws_flight_data_pipeline_spark.streaming.streams import quality_gate_rules

    rules = ("pass_length", "pass_word_shape", "pass_stopword", "pass_diversity")
    r = quality_gate_rules()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    flags = docs.select(
        "source", *(r[c].alias(c) for c in (*rules, "pass_repetition", "passed"))
    ).collect()

    progressive: dict[str, list[int]] = {}
    for row in flags:
        counts = progressive.setdefault(row["source"], [0] * len(rules))
        for i in range(len(rules)):
            counts[i] += all(row[c] for c in rules[: i + 1])
        assert row["passed"] == all(row[c] for c in (*rules, "pass_repetition"))
    funnel = {
        row["source"]: [row[c] for c in rules]
        for row in resolve("quality_filter_funnel")(spark, sf_dir).collect()
    }
    assert progressive == funnel
    n_passed = sum(row["passed"] for row in flags)
    assert 0 < n_passed < len(flags)


@pytest.mark.slow
def test_streaming_sessionization_matches_batch_session_windows(spark, tmp_path):
    """session_window sessions must be micro-batch-invariant: every session
    the final watermark has passed is emitted exactly once and matches the
    batch session_window aggregation row-for-row; nothing outside the batch
    result ever appears."""
    from aws_flight_data_pipeline_spark.streaming.streams import streaming_sessionization

    src = tmp_path / "events"
    src.mkdir()
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    # two micro-batch files (split by event parity) + per-file triggering
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.mode("append").parquet(str(src))
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode("append").parquet(str(src))

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = streaming_sessionization(stream, gap="30 minutes", watermark="2 hours")
    q = (
        out.writeStream.format("memory")
        .queryName("sess_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    drain(q, 180)
    streamed = spark.sql("SELECT * FROM sess_out")

    batch = (
        ev.groupBy("user_id", F.session_window(F.col("ts"), "30 minutes"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("value_cents"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "value_cents",
        )
    )
    # nothing streamed that batch doesn't have (exact row match, no dupes)
    assert streamed.count() == streamed.distinct().count()
    assert streamed.exceptAll(batch).count() == 0
    # everything safely behind the final watermark must have been emitted
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    horizon = F.lit(max_ts) - F.expr("INTERVAL 2 HOURS 1 MINUTE")
    required = batch.filter(F.col("session_end") < horizon)
    assert required.exceptAll(streamed).count() == 0
    assert required.count() > 0  # the assertion above actually bites


def test_sketch_rollup_replay_of_committed_batch_is_skipped(spark, sf_dir, tmp_path):
    """A crash after the state commit but before the offset commit replays
    the batch on restart; the stream commit path's batch stamp must skip
    the replay, so the state keeps its bytes, ``n_rows`` is not doubled and
    the estimates stay the batch sketch's, bit for bit. The state is a
    per-source HLL sketch rollup, committed by a foreachBatch local to this
    test as a batch-stamped ``versioned.commit`` overwrite."""
    from aws_flight_data_pipeline_spark.functions.text import fingerprint
    from aws_flight_data_pipeline_spark.sources import versioned as vt

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    src, state, ckpt = (str(tmp_path / d) for d in ("incoming", "state", "ckpt"))
    for i in range(3):
        docs.filter(F.col("doc_id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def rollup(batch_df, batch_id):
        if vt._batch_committed(state, batch_id) or batch_df.isEmpty():
            return
        merged = batch_df.groupBy("source").agg(
            F.hll_sketch_agg(fingerprint(F.col("text")), F.lit(12)).alias("sk"),
            F.count("*").alias("n_rows"),
        )
        if vt.latest_version(state) is not None:
            merged = merged.unionByName(vt.read(spark, state))
        merged = merged.groupBy("source").agg(
            F.hll_union_agg("sk", F.lit(False)).alias("sk"),
            F.sum("n_rows").cast("bigint").alias("n_rows"),
        )
        vt.commit(merged.coalesce(1), state, mode="overwrite", meta={"batch_id": batch_id})

    def run():
        q = vt._start_foreach_batch(
            stream_documents(spark, src, max_files_per_trigger=1), rollup, ckpt, None
        )
        drain(q, 120)
        return q

    def state_rows():
        return {
            r["source"]: (r["n_rows"], bytes(r["sk"]), r["est"])
            for r in vt.read(spark, state)
            .withColumn("est", F.hll_sketch_estimate("sk"))
            .collect()
        }

    run()
    head, before = vt.latest_version(state), state_rows()
    for f in ("2", ".2.crc"):  # the offset commit and its checksum
        os.remove(os.path.join(ckpt, "commits", f))
    q = run()
    # batch 2 ran again, was skipped before it read a row, and committed
    # nothing new
    assert [(p["batchId"], p["numInputRows"]) for p in q.recentProgress] == [(2, 0)]
    assert os.path.exists(os.path.join(ckpt, "commits", "2"))
    assert vt.latest_version(state) == head
    assert [vt._read_manifest(state, v)["batch_id"] for v in vt._list_versions(state)] == [0, 1, 2]
    after = state_rows()
    assert after == before

    batch = {
        r["source"]: (r["n"], r["est"])
        for r in docs.groupBy("source")
        .agg(
            F.count("*").alias("n"),
            F.hll_sketch_estimate(
                F.hll_sketch_agg(fingerprint(F.col("text")), F.lit(12))
            ).alias("est"),
        )
        .collect()
    }
    assert {s: (n, est) for s, (n, _, est) in after.items()} == batch
