"""Structured Streaming tests: file-source micro-batches with availableNow
triggers, watermark dedup, windowed aggregation, foreachBatch pipeline, and
the stateful stuck-aircraft detector."""

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
from tests.conftest import drain

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
    persisted = spark.sparkContext._jsc.getPersistentRDDs().size()
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
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == persisted


def test_micro_batch_pipeline_batch_without_records(spark, landing, tmp_path):
    # a truncated document and an empty file decode to no records: the
    # batch's observed count is 0, so it writes nothing, and its checkpoint
    # is released
    with open(os.path.join(landing, "b1.json"), "w") as f:
        f.write('{"time": 169340, "states": [[[')
    open(os.path.join(landing, "b2.json"), "w").close()
    clean, quar, ckpt = (str(tmp_path / p) for p in ("clean", "quar", "ckpt"))
    persisted = spark.sparkContext._jsc.getPersistentRDDs().size()
    q = micro_batch_pipeline(stream_raw_states(spark, landing), clean, quar, ckpt)
    finished = q.awaitTermination(120)
    q.stop()
    assert finished and q.exception() is None
    # one batch, one row: the empty file holds no document
    assert [(p.batchId, p.numInputRows) for p in q.recentProgress] == [(0, 1)]
    assert not glob.glob(os.path.join(str(tmp_path), "*", "**", "*.parquet"), recursive=True)
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == persisted


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
def test_stateful_stuck_detector_across_batches(spark, landing):
    # same position fixes spanning > 30 min arriving over TWO micro-batches —
    # only cross-batch state can see the full span
    fixes1 = [_state("abc123", "UAL123", NOW + i * 600, -74.0, 40.7, vel=2.0) for i in range(3)]
    fixes2 = [_state("abc123", "UAL123", NOW + (3 + i) * 600, -74.0001, 40.7001, vel=2.0) for i in range(2)]
    _write_batch(landing, "b1.json", NOW, fixes1)
    _write_batch(landing, "b2.json", NOW + 1800, fixes2)
    records = stream_raw_states(spark, landing).withColumn(
        "velocity_knots", F.col("velocity") * 1.94384
    )
    out = stateful_stuck_detector(records, AnomalyConfig())
    _run_to_memory(out, "stuck_out")
    rows = spark.sql("SELECT * FROM stuck_out ORDER BY last_contact").collect()
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


def test_streaming_corpus_dedup_drops_exact_dups(spark, tmp_path):
    from aws_flight_data_pipeline_spark.streaming.streams import (
        stream_documents,
        streaming_corpus_dedup,
    )

    src = str(tmp_path / "corpus")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.write.mode("overwrite").parquet(src)
    n_total = docs.count()
    n_unique = docs.select(F.md5(F.lower(F.trim("text")))).distinct().count()

    deduped = streaming_corpus_dedup(stream_documents(spark, src))
    q = (
        deduped.writeStream.format("memory")
        .queryName("corpus_dedup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    drain(q, 120)
    out = spark.sql("SELECT fp FROM corpus_dedup")
    assert out.count() == n_unique <= n_total
    assert out.distinct().count() == n_unique  # one survivor per fingerprint


@pytest.mark.slow
def test_stream_attribution_interval_join(spark, tmp_path):
    """Stream-stream interval join: purchases match same-user clicks within
    the lag window, across micro-batch boundaries, and never outside it."""
    from aws_flight_data_pipeline_spark.streaming.streams import stream_attribution_join

    base = 1704067200  # 2024-01-01T00:00Z
    pdir, cdir = tmp_path / "purchases", tmp_path / "clicks"
    pdir.mkdir(), cdir.mkdir()

    def write(d, name, rows, cols):
        spark.createDataFrame(rows, cols).coalesce(1).write.mode("append").parquet(
            str(d / name)
        )

    # clicks arrive in batch files; one is inside the 1h window, one outside,
    # one belongs to a different user
    write(cdir, "c1", [
        (1, base + 100, 0.5),      # inside window for both purchases of user 1
        (1, base - 7200, 0.1),     # 2h before: outside max_lag
        (2, base + 150, 0.9),      # other user
    ], "user_id long, click_s long, click_value double")
    write(pdir, "p1", [
        (1, base + 600, 42.0),     # clicks at +100 qualify
        (1, base + 4000, 17.0),    # +100 is beyond 1h lag -> no match... (3900s lag > 3600)
    ], "user_id long, purchase_s long, purchase_value double")

    purchases = (
        spark.readStream.schema("user_id long, purchase_s long, purchase_value double")
        .parquet(str(pdir / "*"))
        .withColumn("purchase_time", F.timestamp_seconds(F.col("purchase_s")))
    )
    clicks = (
        spark.readStream.schema("user_id long, click_s long, click_value double")
        .parquet(str(cdir / "*"))
        .withColumn("click_time", F.timestamp_seconds(F.col("click_s")))
    )
    joined = stream_attribution_join(purchases, clicks, max_lag="1 hour")
    _run_to_memory(joined, "attr_out")
    rows = spark.sql(
        "SELECT purchase_s, click_s FROM attr_out ORDER BY purchase_s"
    ).collect()
    assert [(r.purchase_s, r.click_s) for r in rows] == [(base + 600, base + 100)]


def test_streaming_quality_gate_matches_batch_rules(spark, tmp_path):
    """The stateless gate must reproduce the batch rule outcomes row-for-row
    (rules 1-4 identical; rule 5 in its within-row occurrence form)."""
    from aws_flight_data_pipeline_spark.streaming.streams import (
        stream_documents,
        streaming_quality_gate,
    )

    src = str(tmp_path / "corpus")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.write.mode("overwrite").parquet(src)

    q = (
        streaming_quality_gate(stream_documents(spark, src))
        .writeStream.format("memory")
        .queryName("quality_gate")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    drain(q, 120)
    out = spark.sql("SELECT * FROM quality_gate").collect()
    assert len(out) == docs.count()

    # batch recomputation of the same rules on the static frame
    batch = {r["doc_id"]: r for r in streaming_quality_gate(docs).collect()}
    n_passed = 0
    for r in out:
        b = batch[r["doc_id"]]
        for c in ("pass_length", "pass_word_shape", "pass_stopword",
                  "pass_diversity", "pass_repetition", "passed"):
            assert r[c] == b[c], (r["doc_id"], c)
        assert r["passed"] == all(
            r[c] for c in ("pass_length", "pass_word_shape", "pass_stopword",
                           "pass_diversity", "pass_repetition")
        )
        n_passed += r["passed"]
    assert 0 < n_passed < len(out)  # the gate splits the corpus non-trivially


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


@pytest.mark.slow
def test_streaming_corpus_admission_matches_batch_and_is_stateless(spark, tmp_path):
    """streaming_corpus_admission must (a) reproduce the batch
    corpus_merge_increment rollup exactly across micro-batch boundaries and
    (b) run with ZERO streaming state (pure stream-static joins + per-row
    HOF verification — the property that makes admission latency independent
    of corpus size)."""
    from aws_flight_data_pipeline_spark.plans.registry import resolve
    from aws_flight_data_pipeline_spark.streaming.streams import (
        corpus_admission_index,
        stream_documents,
        streaming_corpus_admission,
    )

    sf_dir = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    inc_sources = ("src18", "src19")
    corpus = docs.where(~F.col("source").isin(*inc_sources))
    fp_index, band_buckets = corpus_admission_index(corpus)

    # each increment source lands as its own file => its own micro-batch
    src = str(tmp_path / "incoming")
    for s in inc_sources:
        docs.where(F.col("source") == s).coalesce(1).write.mode("append").parquet(src)

    admitted = streaming_corpus_admission(
        stream_documents(spark, src), fp_index, band_buckets
    )
    q = _run_to_memory(admitted, "corpus_admission")
    # zero-state pin: no stateful operators anywhere in the streaming plan
    assert q.lastProgress["stateOperators"] == []

    out = spark.sql("SELECT * FROM corpus_admission")
    assert out.count() == docs.where(F.col("source").isin(*inc_sources)).count()

    got = {
        r["source"]: (
            r["incoming_docs"],
            r["exact_dup_docs"],
            r["near_dup_docs"],
            r["admitted_docs"],
        )
        for r in out.groupBy("source")
        .agg(
            F.count("*").alias("incoming_docs"),
            F.sum(F.col("is_exact").cast("long")).alias("exact_dup_docs"),
            # batch counts near-dups exclusive of exact dups
            F.sum((F.col("is_near") & ~F.col("is_exact")).cast("long")).alias(
                "near_dup_docs"
            ),
            F.sum(F.col("admitted").cast("long")).alias("admitted_docs"),
        )
        .collect()
    }
    want = {
        r["source"]: (
            r["incoming_docs"],
            r["exact_dup_docs"],
            r["near_dup_docs"],
            r["admitted_docs"],
        )
        for r in resolve("corpus_merge_increment")(spark, sf_dir).collect()
    }
    assert got == want

    # every flagged near-dup carries its verified corpus matches + a jaccard
    flagged = out.where("is_near").collect()
    for r in flagged:
        assert len(r["near_matches"]) > 0 and r["best_jaccard"] >= 0.5


def test_streaming_sketch_rollup_matches_batch_sketch(spark, tmp_path):
    """HLL register-max merge is order-independent, so the stream's running
    state after N micro-batches must estimate BIT-identically to one batch
    sketch over the concatenated input — and land within the 5% contract of
    the exact distinct count."""
    from aws_flight_data_pipeline_spark.functions.text import fingerprint
    from aws_flight_data_pipeline_spark.sources import versioned as vt
    from aws_flight_data_pipeline_spark.streaming.streams import (
        sketch_rollup_estimate,
        stream_documents,
        streaming_sketch_rollup,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    src = str(tmp_path / "incoming")
    # three arrival chunks -> three files; max_files_per_trigger=1 makes
    # each one its own micro-batch
    docs.filter(F.col("doc_id") % 3 == 0).coalesce(1).write.mode("append").parquet(src)
    docs.filter(F.col("doc_id") % 3 == 1).coalesce(1).write.mode("append").parquet(src)
    docs.filter(F.col("doc_id") % 3 == 2).coalesce(1).write.mode("append").parquet(src)

    state = str(tmp_path / "sketch_state")
    q = streaming_sketch_rollup(
        stream_documents(spark, src, max_files_per_trigger=1),
        state,
        str(tmp_path / "ckpt"),
    )
    drain(q, 120)

    final = vt.read(spark, state)
    est = {
        r["scope"]: (r["n_rows"], r["distinct_est"])
        for r in sketch_rollup_estimate(final).collect()
    }

    batch = docs.groupBy("source").agg(
        F.hll_sketch_estimate(
            F.hll_sketch_agg(fingerprint(F.col("text")), F.lit(12))
        ).alias("est"),
        F.count("*").alias("n"),
        F.countDistinct(fingerprint(F.col("text"))).alias("exact"),
    )
    for r in batch.collect():
        n_rows, stream_est = est[r["source"]]
        assert n_rows == r["n"]
        assert stream_est == r["est"]  # bit-identical to the batch sketch
        assert abs(stream_est - r["exact"]) <= 0.05 * r["exact"]

    g_exact = docs.select(fingerprint(F.col("text"))).distinct().count()
    g_rows, g_est = est["GLOBAL"]
    assert g_rows == docs.count()
    assert abs(g_est - g_exact) <= 0.05 * g_exact

    # one state version per non-empty micro-batch, each a tiny file set
    assert [vt._read_manifest(state, v)["batch_id"] for v in vt._list_versions(state)] == [0, 1, 2]


def test_sketch_rollup_replay_of_committed_batch_is_skipped(spark, sf_dir, tmp_path):
    """A crash after the state commit but before the offset commit replays
    the batch on restart; the replay must be skipped, so the state keeps
    its bytes, ``n_rows`` is not doubled and the estimates stay the batch
    sketch's, bit for bit."""
    from aws_flight_data_pipeline_spark.functions.text import fingerprint
    from aws_flight_data_pipeline_spark.sources import versioned as vt
    from aws_flight_data_pipeline_spark.streaming.streams import (
        stream_documents,
        streaming_sketch_rollup,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    src, state, ckpt = (str(tmp_path / d) for d in ("incoming", "state", "ckpt"))
    for i in range(3):
        docs.filter(F.col("doc_id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def run():
        q = streaming_sketch_rollup(
            stream_documents(spark, src, max_files_per_trigger=1), state, ckpt
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


@pytest.mark.slow
def test_streaming_heavy_hitters_matches_batch_sketch(spark, tmp_path):
    """CMS tables merge by addition, so the stream's merged sketch must be
    BYTE-identical to one batch sketch over the concatenated input; the
    maintained candidate set must surface the true heavy hitters with
    estimates inside the eps bound."""
    from aws_flight_data_pipeline_spark.streaming.streams import (
        heavy_hitter_snapshot,
        stream_documents,
        streaming_heavy_hitters,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    src = str(tmp_path / "incoming")
    for i in range(3):
        docs.filter(F.col("doc_id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    state = str(tmp_path / "hh_state")
    q = streaming_heavy_hitters(
        stream_documents(spark, src, max_files_per_trigger=1),
        state,
        str(tmp_path / "ckpt"),
    )
    drain(q, 120)

    from aws_flight_data_pipeline_spark.sources import versioned as vt

    final = vt.read(spark, state)
    row = final.first()

    tok = docs.select(F.explode(F.split("text", " ")).alias("token"))
    batch_cms, n_tok = tok.agg(
        F.count_min_sketch("token", F.lit(0.001), F.lit(0.99), F.lit(42)),
        F.count("*"),
    ).first()
    assert bytes(row["cms"]) == bytes(batch_cms)  # merge == batch, bitwise
    assert row["total_tokens"] == n_tok

    snap = {r["token"]: r["cms_est"] for r in heavy_hitter_snapshot(final, 20).collect()}
    exact = {
        r["token"]: r["c"]
        for r in tok.groupBy("token").agg(F.count("*").alias("c")).collect()
    }
    bound = -(-n_tok // 1000)  # ceil(eps * n)
    for t, est in snap.items():
        assert exact[t] <= est <= exact[t] + bound
    # the true top-10 tokens must all have been caught by the candidate flow
    top10 = sorted(exact.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    assert {t for t, _ in top10} <= set(snap)
