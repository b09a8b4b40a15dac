"""Structured Streaming surface (SURVEY.md §2.10).

The reference has no streaming engine — a 30-s EventBridge schedule triggers
ingestion and S3 events fan out processing (`README.md:136-153`). Here the
same semantics are first-class Structured Streaming:

- landing-prefix file source, one whole-document text row per landed poll,
  parsed by the batch reader's ``from_json`` step (no inference scans),
- `foreachBatch` reusing the exact batch operators (enrich → score →
  quarantine split) so batch and streaming share one code path — built
  once per stream, applied once per micro-batch,
- `dropDuplicatesWithinWatermark` for the cross-batch (icao24, time_position)
  dedup the reference approximates with a 5-s tolerance
  (`data_transformer.py:109-114`),
- event-time tumbling windows + watermark for the hourly rollups,
- `applyInPandasWithState` for the cross-batch per-aircraft state the
  reference keeps in a batch-local dict (`main_validator.py:108-153`,
  `anomaly_detector.py:656-681`) — a real state store, correct across
  micro-batch boundaries and restarts (checkpointed).

Late data policy follows the reference: late records are *scored down*
(timeliness), never dropped — watermarks exist for state cleanup only
(SURVEY §2.10).
"""

from __future__ import annotations

import functools
from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from aws_flight_data_pipeline_spark.config import AnomalyConfig
from aws_flight_data_pipeline_spark.operators.anomaly import detect_anomalies_builder
from aws_flight_data_pipeline_spark.operators.enrich import enrich_builder
from aws_flight_data_pipeline_spark.operators.quality import now_column, score_quality_builder
from aws_flight_data_pipeline_spark.sources import versioned as vt
from aws_flight_data_pipeline_spark.sources.opensky import decode_states, read_raw_documents
from aws_flight_data_pipeline_spark.sources.sinks import materialized, time_partitions_builder, write_quarantine_split

# The batch operators the micro-batch builders stand for stay importable from
# this module by name.
from aws_flight_data_pipeline_spark.operators.anomaly import detect_anomalies  # noqa: F401
from aws_flight_data_pipeline_spark.operators.enrich import enrich  # noqa: F401
from aws_flight_data_pipeline_spark.operators.quality import score_quality  # noqa: F401
from aws_flight_data_pipeline_spark.sources.sinks import with_time_partitions  # noqa: F401


def stream_raw_states(spark: SparkSession, landing_path: str) -> DataFrame:
    """Streaming scan of the raw landing prefix → decoded flight records.
    Each landed file is one whole-text row, parsed by the batch reader's
    :func:`~aws_flight_data_pipeline_spark.sources.opensky.read_raw_documents`.
    maxFilesPerTrigger bounds micro-batch size (the 30-s poll writes one file
    per batch, so 1 file ≈ 1 reference batch)."""
    return decode_states(read_raw_documents(spark.readStream.option("maxFilesPerTrigger", 8), landing_path))


def with_event_time(records: DataFrame) -> DataFrame:
    return records.withColumn("event_time", F.timestamp_seconds(F.col("last_contact")))


def streaming_dedup(records: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Cross-batch duplicate drop on (icao24, time_position) with bounded
    state — dropDuplicatesWithinWatermark (data_transformer.py:109-114's
    key+tolerance semantics with a real state store)."""
    return with_event_time(records).withWatermark("event_time", watermark).dropDuplicatesWithinWatermark(
        ["icao24", "time_position"]
    )


def windowed_traffic_summary(
    records: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Event-time tumbling rollup — the hourly_flight_summary view as a
    streaming aggregate (06:12-175 → window() + watermark)."""
    return (
        with_event_time(records)
        .withWatermark("event_time", watermark)
        .groupBy(F.window("event_time", window), F.col("origin_country"))
        .agg(
            F.count("*").alias("total_flights"),
            F.approx_count_distinct("icao24").alias("unique_aircraft"),
            F.avg("velocity").alias("avg_velocity_ms"),
            F.avg("baro_altitude").alias("avg_altitude_m"),
        )
    )


#: the micro-batch's injected ``now``, a literal column the pre-built
#: quality and anomaly expressions read; dropped before the write
_NOW = "_batch_now"


def _etl_chain(records: DataFrame) -> Callable[[DataFrame], DataFrame]:
    """The batch operators' builders, run once for ``records``' columns:
    enrich → score_quality → detect_anomalies (``now`` read from the
    :data:`_NOW` column), drop the inventory and ``now``, then the time
    partitions. Each builder is given the columns the previous step
    produces, read off an empty frame of the same schema."""
    now = F.col(_NOW)
    builders = (
        enrich_builder,
        lambda cols: score_quality_builder(cols, now),
        lambda cols: detect_anomalies_builder(cols, now),
        lambda cols: lambda df: df.drop("anomaly_flags", _NOW),
        time_partitions_builder,
    )
    probe = records.sparkSession.createDataFrame([], records.schema).withColumn(_NOW, F.lit(0))
    steps = []
    for build in builders:
        steps.append(build(probe.columns))
        probe = steps[-1](probe)
    return lambda df: functools.reduce(lambda acc, step: step(acc), steps, df)


def micro_batch_pipeline(
    records: DataFrame,
    clean_path: str,
    quarantine_path: str,
    checkpoint_path: str,
    now_provider=None,
    trigger: dict | None = None,
):
    """The full ETL as a foreachBatch stream on the SAME transforms as the
    batch operators (enrich → score_quality → detect_anomalies → partitioned
    quarantine split): their builders run once, here, at stream start, and
    each micro-batch only applies the pre-built chain. ``now`` enters a
    batch as one literal column that the pre-built expressions read.

    Each non-empty micro-batch reads and parses its landed documents once
    and runs 7 Spark jobs:

    - the ``localCheckpoint`` of the decoded batch (1 job), which also
      observes the row count and the batch's default ``now``; empty batches
      stop here;
    - the ``localCheckpoint`` of the scored batch in
      :func:`write_quarantine_split` (4 jobs: the per-aircraft window
      shuffle, the outlier-stats shuffle and broadcast, the checkpoint),
      computed from the decoded checkpoint;
    - the clean and the quarantine parquet writes, both read from the
      scored checkpoint (1 job each).

    ``now_provider``: () -> unix seconds; defaults to the max last_contact in
    the batch, or its max collection_time when every last_contact is null
    (deterministic in tests, sensible in production where the batch is ~now).
    """
    chain = _etl_chain(records)
    batch_stats = (
        F.count(F.lit(1)).alias("rows"),
        F.coalesce(F.max("last_contact"), F.max("collection_time")).alias("latest"),
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        stats = Observation()
        # observe directly under the checkpoint: a constant-foldable filter
        # above an observation lets the optimizer prune it
        with materialized(batch_df.observe(stats, *batch_stats)) as decoded:
            observed = stats.get
            if observed["rows"] == 0:
                return
            now = now_provider() if now_provider is not None else observed["latest"]
            out = chain(decoded.withColumn(_NOW, now_column(now)))
            write_quarantine_split(out, clean_path, quarantine_path)

    return vt._start_foreach_batch(records, process_batch, checkpoint_path, trigger)


def sliding_realtime_metrics(
    records: DataFrame,
    window: str = "4 hours",
    slide: str = "1 hour",
    watermark: str = "5 hours",
) -> DataFrame:
    """Sliding-window realtime metrics — the 'last 4 hours' rolling view the
    reference fakes with a `collection_time >= now-14400` filter re-run per
    query (06:512-515) becomes a true incremental sliding aggregate: each
    event lands in window/slide overlapping panes, state bounded by the
    watermark."""
    return (
        with_event_time(records)
        .withWatermark("event_time", watermark)
        .groupBy(F.window("event_time", window, slide))
        .agg(
            F.count("*").alias("total_positions"),
            F.approx_count_distinct("icao24").alias("active_aircraft"),
            F.sum(F.when(F.col("on_ground"), 0).otherwise(1)).alias("airborne_count"),
            F.avg("velocity").alias("avg_velocity_ms"),
            F.max("last_contact").alias("latest_contact"),
        )
    )


# ---------------------------------------------------------------------------
# Stateful stuck-aircraft tracker (applyInPandasWithState)
# ---------------------------------------------------------------------------

_STUCK_STATE_SCHEMA = StructType(
    [
        StructField("lats", StringType()),  # csv-encoded recent fixes
        StructField("lons", StringType()),
        StructField("times", StringType()),
    ]
)

_STUCK_OUTPUT_SCHEMA = StructType(
    [
        StructField("icao24", StringType()),
        StructField("last_contact", LongType()),
        StructField("span_seconds", DoubleType()),
        StructField("drift_miles", DoubleType()),
        StructField("is_stuck", BooleanType()),
    ]
)


def _haversine_miles(lat1, lon1, lat2, lon2) -> float:
    import math

    r = 3959.0
    p1, p2 = math.radians(lat1), math.radians(lat2)
    dlat, dlon = math.radians(lat2 - lat1), math.radians(lon2 - lon1)
    a = math.sin(dlat / 2) ** 2 + math.cos(p1) * math.cos(p2) * math.sin(dlon / 2) ** 2
    return 2 * r * math.asin(math.sqrt(a))


def _stuck_fn(cfg: AnomalyConfig):
    keep = 16  # recent fixes kept per aircraft (bounded state)

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (icao24,) = key
        if state.exists:
            lats_s, lons_s, times_s = state.get
            lats = [float(x) for x in lats_s.split(",") if x]
            lons = [float(x) for x in lons_s.split(",") if x]
            times = [float(x) for x in times_s.split(",") if x]
        else:
            lats, lons, times = [], [], []

        rows = []
        for pdf in pdfs:
            pdf = pdf.dropna(subset=["latitude", "longitude", "last_contact"]).sort_values(
                "last_contact"
            )
            for _, r in pdf.iterrows():
                lats.append(float(r.latitude))
                lons.append(float(r.longitude))
                times.append(float(r.last_contact))
                lats, lons, times = lats[-keep:], lons[-keep:], times[-keep:]
                is_stuck = False
                span = drift = 0.0
                if len(times) >= 3:
                    span = times[-1] - times[0]
                    drift = max(
                        _haversine_miles(lats[0], lons[0], la, lo)
                        for la, lo in zip(lats, lons)
                    )
                    v = float(r.get("velocity_knots") or 0.0)
                    is_stuck = (
                        span > cfg.stuck_time_threshold
                        and drift < cfg.stuck_position_radius
                        and v < cfg.stuck_velocity_threshold
                    )
                rows.append((icao24, int(r.last_contact), span, drift, is_stuck))

        state.update((",".join(map(str, lats)), ",".join(map(str, lons)), ",".join(map(str, times))))
        yield pd.DataFrame(
            rows, columns=["icao24", "last_contact", "span_seconds", "drift_miles", "is_stuck"]
        )

    return fn


def stateful_stuck_detector(
    records: DataFrame, cfg: AnomalyConfig | None = None
) -> DataFrame:
    """Cross-batch stuck-aircraft detection with a real state store — the
    reference's in-memory `aircraft_positions` history dict
    (anomaly_detector.py:656-681) made restart-safe and unbounded across
    micro-batches. State per aircraft is a bounded ring of recent fixes.

    No state timeout: under a processing-time timeout Spark runs a no-data
    batch after every batch, so an ``availableNow`` query never ends."""
    cfg = cfg or AnomalyConfig()
    return records.groupBy("icao24").applyInPandasWithState(
        _stuck_fn(cfg),
        outputStructType=_STUCK_OUTPUT_SCHEMA,
        stateStructType=_STUCK_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_documents(
    spark: SparkSession, corpus_path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Documents as an unbounded parquet file source — the LLM-corpus
    ingestion stream (new parquet drops under ``corpus_path`` become
    micro-batches, the same file-source pattern as stream_raw_states).
    ``max_files_per_trigger`` caps each micro-batch's file intake (rate
    limiting in production; deterministic batch boundaries in tests)."""
    schema = spark.read.parquet(corpus_path).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(corpus_path)


def streaming_corpus_dedup(docs: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """Streaming exact dedup of a document corpus: content fingerprint
    (md5 of normalized text — the batch dedup_exact_fingerprint key) deduped
    across micro-batches with bounded state via
    ``dropDuplicatesWithinWatermark``. The streaming twin of the batch
    exact-dedup operator: at 100 TB/day the state store holds only one
    watermark window of fingerprints, not the corpus."""
    from aws_flight_data_pipeline_spark.functions.text import fingerprint

    ts = F.coalesce(
        (F.col("doc_id") % 3600).cast("double"), F.lit(0.0)
    )  # deterministic synthetic event time derived from doc_id (testdata has
    # no ingestion timestamp; production uses the ingest time column)
    return (
        docs.withColumn("fp", fingerprint(F.col("text")))
        .withColumn("event_time", F.timestamp_seconds(F.lit(1704067200.0) + ts))
        .withWatermark("event_time", watermark)
        .dropDuplicatesWithinWatermark(["fp"])
    )


def stream_attribution_join(
    purchases: DataFrame,
    clicks: DataFrame,
    max_lag: str = "1 hour",
    purchase_watermark: str = "30 minutes",
    click_watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked stream-stream interval join — the streaming twin of the
    batch as-of join (operators/asof.py).

    Each purchase joins every click by the same user within
    ``[purchase_time - max_lag, purchase_time]``. Pure streams cannot compute
    "the single latest click" incrementally without unbounded wait (a later
    micro-batch may always carry a closer click), so the streaming relaxation
    emits the qualifying interval and leaves top-1 selection to the consumer
    — the standard stream-stream pattern. State is bounded by the watermarks:
    clicks are droppable once older than ``click_watermark`` (which must
    cover ``max_lag`` plus the purchase lateness bound), purchases once past
    ``purchase_watermark``.

    Inputs must carry ``user_id``, an event-time column named
    ``purchase_time`` / ``click_time``, and side-specific payload columns.
    """
    p = purchases.withWatermark("purchase_time", purchase_watermark)
    c = clicks.withWatermark("click_time", click_watermark)
    cond = (
        (p["user_id"] == c["user_id"])
        & (c["click_time"] >= p["purchase_time"] - F.expr(f"INTERVAL {max_lag}"))
        & (c["click_time"] <= p["purchase_time"])
    )
    return p.join(c, cond, "inner").drop(c["user_id"])


def quality_gate_rules() -> dict:
    """The streaming quality gate's five rules (plus word count and the
    conjunctive ``passed``) as pure Column expressions over ``text`` — ONE
    shared definition consumed by :func:`streaming_quality_gate` (which
    emits every flag) and :func:`unified_admission_decisions` (which fuses
    just ``passed`` into the batch checkpoint's projection instead of
    joining a separately scored frame), so the two can never drift."""
    from aws_flight_data_pipeline_spark.functions.text import (
        distinct_token_count,
        word_count,
        word_ngrams,
    )

    text = F.col("text")
    wc = word_count(text)
    nchars = F.length(text) - (wc - 1)
    padded = F.concat(F.lit(" "), text, F.lit(" "))
    g2 = word_ngrams(text, 2)
    n2 = F.size(g2)
    dup2 = n2 - F.size(F.array_distinct(g2))
    p1 = wc.between(25, 90)
    p2 = (4 * wc <= nchars) & (nchars <= 6 * wc)
    p3 = padded.contains(" the ") & padded.contains(" a ")
    p4 = 5 * distinct_token_count(text) >= 2 * wc
    p5 = 10 * dup2 < n2
    return {
        "wc": wc,
        "pass_length": p1,
        "pass_word_shape": p2,
        "pass_stopword": p3,
        "pass_diversity": p4,
        "pass_repetition": p5,
        "passed": p1 & p2 & p3 & p4 & p5,
    }


def streaming_quality_gate(docs: DataFrame) -> DataFrame:
    """Per-document quality gate on the corpus ingestion stream — the
    streaming twin of the batch ``quality_filter_funnel`` (stateless, append
    mode: every rule is a per-row expression, so the gate streams with zero
    state and zero shuffle, the same batch/streaming one-code-path discipline
    as ``micro_batch_pipeline``).

    Rules 1-4 (length bounds, word shape, stopword containment, lexical
    diversity) are the batch funnel's expressions verbatim. Rule 5
    (repetition) uses the within-row OCCURRENCE-fraction form — duplicate
    2-gram occurrences / total, via ``size(grams) - size(array_distinct)``
    — because the batch form's per-(doc, gram) combine shuffle has no
    stateless streaming equivalent; linear per row, so a 100k-token document
    costs O(tokens). Emits every document with its per-rule flags and the
    conjunctive ``passed`` — the quarantine-split shape: the consumer routes
    admit/reject without re-scoring.
    """
    r = quality_gate_rules()
    return docs.select(
        "doc_id",
        "source",
        "lang",
        r["wc"].alias("wc"),
        r["pass_length"].alias("pass_length"),
        r["pass_word_shape"].alias("pass_word_shape"),
        r["pass_stopword"].alias("pass_stopword"),
        r["pass_diversity"].alias("pass_diversity"),
        r["pass_repetition"].alias("pass_repetition"),
        r["passed"].alias("passed"),
    )


def streaming_sessionization(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming gap-based sessionization: ``session_window(ts, gap)`` per
    user — the streaming twin of the batch ``seq_sessionization`` operator
    (lag-flag + running sum, plans/sequences.py). The session state store
    holds only open sessions inside the watermark horizon; a session closes
    (and emits exactly once, append mode) when the watermark passes its end.
    Output: one row per closed session with start/end, event count, and an
    exact value total in cents (micro-batch boundaries must not change
    results — pinned stream==batch in tests).

    At scale this is the operator that replaces the reference's batch-local
    per-key dicts (`main_validator.py:108-153`) for session analytics: state
    is keyed (user, session), partitioned by user, and bounded by watermark
    cleanup rather than process lifetime.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.col("user_id"), F.session_window(F.col("ts"), gap))
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


def corpus_admission_index(corpus: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Static admission index for :func:`streaming_corpus_admission`:
    ``(fp_index, band_buckets)``.

    - ``fp_index`` — the corpus's distinct exact-dedup fingerprints
      (``md5(lower(trim(text)))``, the batch key from
      ``dedup_exact_fingerprint``) flagged for a 1:1 left join.
    - ``band_buckets`` — the MinHash-LSH inverted index: one row per
      ``(band_id, band_key)`` whose ``bucket`` holds every corpus member of
      that band as ``struct(e_doc, e_toks)``, ``e_toks`` being the doc's
      distinct 3-shingles so candidates verify WITHOUT touching the corpus
      again. Same 8-family fast MinHash + 2×4 banding as the batch
      ``corpus_merge_increment``, so stream and batch admit identically.

    Pre-grouping by band key is what makes the streaming side stateless:
    each incoming doc joins at most ONE index row per band (1:1 on the band
    key), and bucket membership is bounded by LSH design — shingle banding
    keeps buckets to a handful of docs (measured max 4 at sf0.1; see
    ``functions/text.shingles``). Index storage is O(corpus shingles) — the
    inverted-index cost a 100 TB lake pays once, refreshed by the batch
    merge job, not per micro-batch.
    """
    from aws_flight_data_pipeline_spark.functions.text import (
        fingerprint,
        minhash_band,
        minhash_nums,
        minhash_signature_fast,
        shingles,
    )

    toks_arr = shingles(F.col("text"), 3)
    fp_index = (
        corpus.select(fingerprint(F.col("text")).alias("fp"))
        .distinct()
        .withColumn("is_exact", F.lit(True))
    )
    bands = (
        corpus.select("doc_id", toks_arr.alias("toks"), minhash_nums(toks_arr).alias("nums"))
        .select("doc_id", "toks", minhash_signature_fast(F.col("nums"), 8).alias("sig"))
        .select(
            "doc_id",
            "toks",
            F.posexplode(
                F.array(minhash_band(F.col("sig"), 0, 4), minhash_band(F.col("sig"), 4, 4))
            ).alias("band_id", "band_key"),
        )
    )
    band_buckets = bands.groupBy("band_id", "band_key").agg(
        F.collect_list(
            F.struct(F.col("doc_id").alias("e_doc"), F.col("toks").alias("e_toks"))
        ).alias("bucket")
    )
    return fp_index, band_buckets


_ADMISSION_PUBLIC_COLS = (
    "doc_id",
    "source",
    "is_exact",
    "is_near",
    "near_matches",
    "best_jaccard",
    "admitted",
)


def _admission_enrich(docs: DataFrame) -> DataFrame:
    """Per-document admission keys: fingerprint + distinct 3-shingles +
    fast-MinHash signature + the 2 LSH band keys — pure HOF column math,
    hash-identical to the batch ``corpus_merge_increment`` side."""
    from aws_flight_data_pipeline_spark.functions.text import (
        fingerprint,
        minhash_band,
        minhash_nums,
        minhash_signature_fast,
        shingles,
    )

    toks_arr = shingles(F.col("text"), 3)
    return (
        docs.select(
            "doc_id",
            "source",
            fingerprint(F.col("text")).alias("fp"),
            toks_arr.alias("toks"),
        )
        .withColumn("sig", minhash_signature_fast(minhash_nums(F.col("toks")), 8))
        .withColumn("b0", minhash_band(F.col("sig"), 0, 4))
        .withColumn("b1", minhash_band(F.col("sig"), 4, 4))
    )


def _admission_decide(
    enriched: DataFrame, fp_index: DataFrame, band_buckets: DataFrame
) -> DataFrame:
    """Admission decision against an index: the enriched frame's columns plus
    is_exact / is_near / near_matches / best_jaccard / admitted.

    1. exact check: 1:1 left join against ``fp_index``;
    2. candidate fetch: one 1:1 left join PER BAND against the pre-grouped
       ``band_buckets`` (stream-static equi joins — Catalyst broadcasts the
       index or shuffles the batch side; either way no stream state);
    3. verify: exact integer Jaccard per candidate inside the row via
       ``array_intersect`` — ``2|∩| >= |A|+|B|-|∩|``  ⇔  J >= 0.5, the batch
       pipeline's threshold — with ``filter``/``transform`` HOFs.
    """
    j = enriched.join(F.broadcast(fp_index), "fp", "left")
    empty_bucket = F.array().cast(
        "array<struct<e_doc:bigint,e_toks:array<string>>>"
    )
    for band_id in (0, 1):
        idx = band_buckets.where(F.col("band_id") == band_id).select(
            F.col("band_key").alias(f"b{band_id}"),
            F.col("bucket").alias(f"bucket{band_id}"),
        )
        j = j.join(idx, f"b{band_id}", "left")

    cands = F.concat(
        F.coalesce(F.col("bucket0"), empty_bucket),
        F.coalesce(F.col("bucket1"), empty_bucket),
    )

    def _inter(c):
        return F.size(F.array_intersect(F.col("toks"), c.e_toks))

    def _is_dup(c):
        return (2 * _inter(c)) >= (F.size("toks") + F.size(c.e_toks) - _inter(c))

    matches = F.array_distinct(F.transform(F.filter(cands, _is_dup), lambda c: c.e_doc))
    best_j = F.array_max(
        F.transform(
            cands,
            lambda c: F.round(
                _inter(c).cast("double")
                / (F.size("toks") + F.size(c.e_toks) - _inter(c)),
                4,
            ),
        )
    )
    return (
        j.withColumn("is_exact", F.coalesce(F.col("is_exact"), F.lit(False)))
        .withColumn("is_near", F.size(matches) > 0)
        .withColumn("near_matches", matches)
        .withColumn("best_jaccard", best_j)
        .withColumn("admitted", ~F.col("is_exact") & ~F.col("is_near"))
        .drop("bucket0", "bucket1")
    )


def streaming_corpus_admission(
    docs: DataFrame, fp_index: DataFrame, band_buckets: DataFrame
) -> DataFrame:
    """STATELESS streaming near-dup admission — the streaming twin of the
    batch ``corpus_merge_increment`` (plans/text_queries.py): every incoming
    document is admitted/rejected against a static corpus index with zero
    streaming state, so decisions emit immediately in append mode.

    Per-row stages (all narrow, no streaming aggregation, no watermark
    needed): see :func:`_admission_enrich` + :func:`_admission_decide`.

    Output grain = input grain (append mode): doc_id, source, is_exact,
    is_near, admitted, near_matches (verified corpus doc_ids), best_jaccard.
    The zero-state property is pinned in tests (empty ``stateOperators`` in
    the final stream progress). The index is FROZEN here — two near-identical
    docs arriving in different micro-batches are both admitted; the stateful
    tier that closes that gap is :func:`streaming_corpus_admission_incremental`.
    """
    return _admission_decide(
        _admission_enrich(docs), fp_index, band_buckets
    ).select(*_ADMISSION_PUBLIC_COLS)


def _state_head(spark: SparkSession, state_path: str) -> DataFrame | None:
    """The head of a stream's versioned state table; None before its first
    commit. Each micro-batch commits its state last, and a batch whose
    state stamp is already committed is skipped whole, so a batch that
    runs always finds the head at exactly the state before it."""
    if vt.latest_version(state_path) is None:
        return None
    return vt.read(spark, state_path)


def _fold_admission_state(
    spark: SparkSession,
    fp_index: DataFrame,
    band_buckets: DataFrame,
    state_path: str,
) -> tuple[DataFrame, DataFrame]:
    """Fold every prior batch's admitted-doc index DELTA (the head of the
    append-mode state table) into the base index: fingerprints union
    into ``fp_index``; band entries regroup into ``band_buckets``
    (flatten-merge of bucket arrays on the band key). Shared by the
    incremental admission tier and the unified gate."""
    state = _state_head(spark, state_path)
    if state is None:
        return fp_index, band_buckets
    fp_comb = fp_index.unionByName(
        state.select("fp").withColumn("is_exact", F.lit(True))
    ).dropDuplicates(["fp"])
    state_buckets = (
        state.select(
            "doc_id",
            "toks",
            F.posexplode(F.array("b0", "b1")).alias("band_id", "band_key"),
        )
        .groupBy("band_id", "band_key")
        .agg(
            F.collect_list(
                F.struct(
                    F.col("doc_id").alias("e_doc"),
                    F.col("toks").alias("e_toks"),
                )
            ).alias("bucket")
        )
    )
    buckets_comb = (
        band_buckets.unionByName(state_buckets)
        .groupBy("band_id", "band_key")
        .agg(F.flatten(F.collect_list("bucket")).alias("bucket"))
    )
    return fp_comb, buckets_comb


def _intra_batch_reject_ids(survivors: DataFrame) -> DataFrame:
    """Keep-first election among one batch's dedup survivors: a survivor
    is rejected if an EARLIER doc of the same batch (doc_id ascending —
    the arrival-order stand-in, same convention as the batch
    ``dedup_pipeline_end_to_end`` keep-first) shares its fingerprint or
    verifies as a near-dup through a shared LSH band. Banded self-join on
    the batch's survivors only — O(batch), never O(corpus). ``survivors``
    needs columns (doc_id, fp, toks, b0, b1); returns distinct doc_ids to
    reject."""
    earlier_fp = survivors.alias("a").join(
        survivors.alias("b"),
        (F.col("a.fp") == F.col("b.fp"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    )
    bands_long = survivors.select(
        "doc_id",
        "toks",
        F.posexplode(F.array("b0", "b1")).alias("band_id", "band_key"),
    )
    inter = F.size(F.array_intersect(F.col("a.toks"), F.col("b.toks")))
    earlier_near = (
        bands_long.alias("a")
        .join(
            bands_long.alias("b"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .where((2 * inter) >= (F.size("a.toks") + F.size("b.toks") - inter))
    )
    return (
        earlier_fp.select(F.col("b.doc_id").alias("doc_id"))
        .unionByName(earlier_near.select(F.col("b.doc_id").alias("doc_id")))
        .distinct()
    )


def streaming_corpus_admission_incremental(
    docs: DataFrame,
    fp_index: DataFrame,
    band_buckets: DataFrame,
    state_path: str,
    checkpoint_path: str,
    decisions_path: str,
    trigger: dict | None = None,
):
    """Stateful streaming admission — the index LEARNS: a document admitted
    in micro-batch N rejects its near-dups in batch N+1 (and later in the
    SAME batch), closing the frozen-index gap of the stateless tier.

    Per micro-batch (foreachBatch — the decision logic itself is the same
    pure DataFrame plan as the stateless tier):

    1. read the admitted-doc index DELTAS of every prior batch (the head
       of the append-mode state table) and fold them into the base index:
       fingerprints union into ``fp_index``; band entries regroup into
       ``band_buckets`` (flatten-merge of bucket arrays on the band key);
    2. decide each batch doc against the COMBINED index
       (:func:`_admission_decide`);
    3. intra-batch keep-first election among the survivors: a survivor is
       rejected if an EARLIER doc of the same batch (doc_id ascending — the
       arrival-order stand-in, same convention as the batch
       ``dedup_pipeline_end_to_end`` keep-first) shares its fingerprint or
       verifies as a near-dup through a shared LSH band. Banded self-join on
       the batch's survivors only — O(batch), never O(corpus);
    4. commit the batch's decisions to the ``decisions_path`` table, then
       the FINALLY-admitted docs' index rows (doc_id, fp, toks, b0, b1) as
       a state DELTA to the ``state_path`` table — both batch-stamped
       appends (``versioned.commit_stream_batch``). The state commits last and a batch whose state stamp is committed
       is skipped, so an at-least-once replay is a no-op; a replay after a
       crash between the two commits recomputes the same decisions from
       the same head, skips the decisions commit and lands the delta.

    Both tables read back with ``versioned.read``. State size: O(admitted
    docs) index rows, written incrementally (each commit appends only its
    batch's delta). At 100 TB the deltas are exactly the rows a compaction
    job folds into the materialized corpus index (``corpus_admission_index``)
    on its own cadence — the streaming tier stays append-only and never
    rewrites the base index.
    """

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if vt._batch_committed(state_path, batch_id) or batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        fp_comb, buckets_comb = _fold_admission_state(
            spark, fp_index, band_buckets, state_path
        )
        decided = _admission_decide(
            _admission_enrich(batch_df), fp_comb, buckets_comb
        )
        survivors = decided.where("admitted").select(
            "doc_id", "fp", "toks", "b0", "b1"
        )
        rejected_ids = _intra_batch_reject_ids(survivors)
        final = decided.join(
            rejected_ids.withColumn("intra_batch_dup", F.lit(True)),
            "doc_id",
            "left",
        ).withColumn(
            "admitted",
            F.col("admitted") & ~F.coalesce("intra_batch_dup", F.lit(False)),
        )
        vt.commit_stream_batch(
            final.select(
                *_ADMISSION_PUBLIC_COLS, F.lit(batch_id).alias("batch_id")
            ).coalesce(1),
            batch_id,
            decisions_path,
        )
        vt.commit_stream_batch(
            final.where("admitted")
            .select("doc_id", "fp", "toks", "b0", "b1")
            .coalesce(1),
            batch_id,
            state_path,
        )

    return vt._start_foreach_batch(docs, process_batch, checkpoint_path, trigger)


def streaming_sketch_rollup(
    docs: DataFrame,
    state_path: str,
    checkpoint_path: str,
    lgk: int = 12,
    trigger: dict | None = None,
):
    """Incremental distinct-document accounting over a stream: mergeable
    HyperLogLog sketches maintained in a tiny versioned state table
    (sources/versioned.py) — the streaming twin of the batch
    ``sketch_distinct_rollup`` (plans/sketch_queries.py).

    THE 100 TB streaming pattern: COUNT(DISTINCT) over an unbounded stream
    either retains every key seen (state O(distinct keys) — the thing that
    kills long-running streams) or it keeps a SKETCH. HLL registers merge by
    element-wise max, which is associative, commutative and idempotent, so
    per-batch sketches fold into running per-source sketches without ever
    rescanning or retaining raw rows, and the stream's running estimate is
    BIT-IDENTICAL to a batch sketch over the concatenated input regardless
    of micro-batch boundaries (pinned in tests/test_streaming.py).

    Each micro-batch: (1) aggregate the batch into one (source, sketch,
    n_rows) row per source via ``hll_sketch_agg`` over the normalized-content
    fingerprint; (2) union with the state table's head and re-aggregate
    with ``hll_union_agg``; (3) commit the merged state as one batch-stamped
    overwrite (``versioned.commit_stream_batch``). Data files are
    immutable, so the lazy read of the head never races the commit, and
    past versions give sketch time-travel (``versioned.read(...,
    version=)``) for free. Exactly-once: a batch whose stamp is already in
    the state table is skipped whole (HLL max-merge is idempotent, but
    n_rows sums and CMS table addition are not), and any other batch reads
    a head that is exactly the state before it — a crash mid-write leaves
    only unreferenced files, never an unreadable state. State size: one
    ~4 KB binary per source per version, never corpus rows.
    """
    from aws_flight_data_pipeline_spark.functions.text import fingerprint

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if vt._batch_committed(state_path, batch_id) or batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        batch_state = batch_df.groupBy("source").agg(
            F.hll_sketch_agg(fingerprint(F.col("text")), F.lit(lgk)).alias("sk"),
            F.count("*").alias("n_rows"),
        )
        prev = _state_head(spark, state_path)
        if prev is not None:
            batch_state = batch_state.unionByName(prev)
        merged = batch_state.groupBy("source").agg(
            F.hll_union_agg("sk", F.lit(False)).alias("sk"),
            F.sum("n_rows").cast("bigint").alias("n_rows"),
        )
        vt.commit_stream_batch(
            merged.coalesce(1), batch_id, state_path, mode="overwrite"
        )

    return vt._start_foreach_batch(docs, process_batch, checkpoint_path, trigger)


def sketch_rollup_estimate(state: DataFrame) -> DataFrame:
    """Distinct estimates from a sketch state table: one row per source plus
    a GLOBAL row whose sketch union handles cross-source duplicates exactly
    like an exact COUNT(DISTINCT) over the union would — without the state
    table ever seeing a raw document."""
    per_source = state.select(
        F.col("source").alias("scope"),
        "n_rows",
        F.hll_sketch_estimate("sk").alias("distinct_est"),
    )
    global_row = state.agg(
        F.lit("GLOBAL").alias("scope"),
        F.sum("n_rows").cast("bigint").alias("n_rows"),
        F.hll_sketch_estimate(F.hll_union_agg("sk", F.lit(False))).alias(
            "distinct_est"
        ),
    )
    return per_source.unionByName(global_row).orderBy("scope")


def streaming_heavy_hitters(
    docs: DataFrame,
    state_path: str,
    checkpoint_path: str,
    eps: float = 0.001,
    confidence: float = 0.99,
    seed: int = 42,
    candidates: int = 40,
    trigger: dict | None = None,
):
    """Streaming heavy-hitter maintenance — the streaming twin of the batch
    ``sketch_heavy_hitters`` (plans/sketch_queries.py): a Count-Min sketch
    plus a bounded candidate set, folded per micro-batch.

    CMS cells count hash arrivals, so per-batch tables merge by element-wise
    ADDITION — exact, associative, commutative. The merged sketch after N
    micro-batches is byte-IDENTICAL to the one ``F.count_min_sketch`` would
    build over the concatenated stream (same eps/confidence/seed → same
    hash family; pinned in tests). The candidate set handles what a sketch
    alone cannot (CMS answers "how often did X occur", not "which X are
    frequent"): each batch contributes its exact top-``candidates`` tokens,
    the union is re-scored against the MERGED sketch, and only the top
    ``candidates`` survive — state stays O(eps^-1 + candidates) forever.
    A true heavy hitter is by definition frequent in some batch, so it
    enters the candidate set and, once in, its merged-sketch estimate keeps
    it there. Per-batch merging is driver-side pure Python
    (functions/sketches.py) over a ~KB sketch — no ``spark._jvm``.

    State: ONE row per version — (sketch bytes, total tokens, candidate
    structs) — committed and replay-guarded like
    :func:`streaming_sketch_rollup`; read it with ``versioned.read``.
    """
    from aws_flight_data_pipeline_spark.functions.sketches import (
        CountMinSketchReader,
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if vt._batch_committed(state_path, batch_id) or batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        tok = batch_df.select(F.explode(F.split("text", " ")).alias("token"))
        agg = tok.agg(
            F.count_min_sketch(
                "token", F.lit(eps), F.lit(confidence), F.lit(seed)
            ).alias("cms"),
            F.count("*").alias("n"),
        ).first()
        batch_cands = [
            r["token"]
            for r in tok.groupBy("token")
            .agg(F.count("*").alias("c"))
            .orderBy(F.desc("c"), "token")
            .limit(candidates)
            .collect()
        ]
        reader = CountMinSketchReader(bytes(agg["cms"]))

        prev = _state_head(spark, state_path)
        cand_set = set(batch_cands)
        if prev is not None:
            row = prev.first()
            reader = reader.merge(CountMinSketchReader(bytes(row["cms"])))
            cand_set.update(c["token"] for c in row["cands"])

        scored = sorted(
            ((reader.estimate_count(t), t) for t in cand_set),
            key=lambda et: (-et[0], et[1]),
        )[:candidates]
        state_row = [
            (
                bytearray(reader.to_bytes()),
                reader.total_count,
                [(t, est) for est, t in scored],
            )
        ]
        state = spark.createDataFrame(
            state_row,
            "cms binary, total_tokens long, "
            "cands array<struct<token:string,cms_est:long>>",
        )
        vt.commit_stream_batch(
            state.coalesce(1), batch_id, state_path, mode="overwrite"
        )

    return vt._start_foreach_batch(docs, process_batch, checkpoint_path, trigger)


def heavy_hitter_snapshot(state: DataFrame, k: int = 20) -> DataFrame:
    """Top-k view of a heavy-hitter state row: (rank, token, cms_est,
    total_tokens) — candidates are already merged-sketch-scored."""
    from pyspark.sql.window import Window as W

    return (
        state.select("total_tokens", F.explode("cands").alias("c"))
        .select("total_tokens", "c.token", "c.cms_est")
        .withColumn(
            "rank",
            F.row_number()
            .over(W.orderBy(F.desc("cms_est"), "token"))
            .cast("bigint"),
        )
        .filter(F.col("rank") <= k)
        .select("rank", "token", "cms_est", "total_tokens")
        .orderBy("rank")
    )


def streaming_quantile_rollup(
    values: DataFrame,
    state_path: str,
    checkpoint_path: str,
    alpha: float = 0.01,
    trigger: dict | None = None,
):
    """Incremental quantile monitoring over a stream: DDSketch log-bucket
    histograms maintained in a tiny versioned state table — the streaming
    twin of the batch ``sketch_quantile_profile`` (plans/sketch_queries.py),
    completing the mergeable-sketch state family (HLL distinct, Count-Min
    heavy hitters, DDSketch quantiles).

    ``values`` is a streaming frame with columns (scope string, x double).
    Each micro-batch: (1) log-bin the batch into integer (scope, bucket,
    count) rows (functions/quantiles.py — the IDENTICAL geometry the batch
    profile uses); (2) union with the state table's head and merge by
    bucket-wise integer addition; (3) commit the merged state as one
    batch-stamped overwrite (exactly-once, same contract as
    :func:`streaming_sketch_rollup`; read it with ``versioned.read``).

    Integer addition is associative and commutative, so the stream's state
    after N micro-batches is EXACTLY equal — not approximately, not
    bit-identical-by-luck — to the batch histogram over the concatenated
    input, regardless of batch boundaries (pinned in
    tests/test_streaming_quantiles.py). State size: O(buckets spanned) per
    scope (~115 buckets per decade at alpha=1%), never O(rows) — p99-style
    latency/price monitoring over an unbounded stream with KB state.
    """
    from aws_flight_data_pipeline_spark.functions.quantiles import dd_histogram, dd_merge

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if vt._batch_committed(state_path, batch_id) or batch_df.isEmpty():
            return
        hist = dd_histogram(batch_df, "scope", "x", alpha)
        prev = _state_head(batch_df.sparkSession, state_path)
        merged = hist if prev is None else dd_merge(hist, prev)
        vt.commit_stream_batch(
            merged.coalesce(1), batch_id, state_path, mode="overwrite"
        )

    return vt._start_foreach_batch(values, process_batch, checkpoint_path, trigger)


def quantile_rollup_snapshot(state: DataFrame, alpha: float = 0.01) -> DataFrame:
    """Quantile estimates from a state table: one row per scope plus a
    GLOBAL row re-aggregated from the per-scope sketches — p50/p95/p99
    without the state ever retaining a raw value."""
    from aws_flight_data_pipeline_spark.functions.quantiles import dd_profile

    return dd_profile(state, alpha).orderBy("scope")


def streaming_scd2_dimension(
    events: DataFrame,
    dim_path: str,
    checkpoint_path: str,
    trigger: dict | None = None,
):
    """Streaming SCD2 dimension maintenance: an in-order change stream is
    folded into a versioned dimension table (sources/versioned.py) whose
    rows are validity intervals ``(user_id, state, from_us, to_us)`` —
    ``to_us`` NULL marks the current row. The streaming MERGE pattern the
    reference's rewrite-affected-prefixes correction approximates, made
    transactional.

    Per micro-batch (foreachBatch, exactly-once via the versioned sink's
    batch-id manifest stamp):

    1. affected users = the batch's users; every other user's rows are
       carried over untouched;
    2. each affected user's OPEN row is replayed as a pseudo-event at its
       ``from_us`` (event_id −1, so it sorts before any real event at the
       same timestamp) and the shared run constructor
       (operators/sequence.py:state_runs) rebuilds that user's runs over
       pseudo + batch events — a same-state batch event EXTENDS the open
       run (no new version), a different state closes it at the change
       timestamp and opens a new row;
    3. carried-over rows ∪ rebuilt intervals commit as one overwrite
       version — every micro-batch boundary is a time-travelable dimension
       snapshot, and a replayed batch is a no-op.

    Cost per batch is O(dimension + batch) — the dimension rewrite is the
    plain-parquet price of transactionality; at scale, partition the
    dimension by user bucket and overwrite affected partitions only.
    Semantics match the batch history EXACTLY for in-order delivery
    (stream==batch pinned in tests/test_streaming_scd2.py); out-of-order
    events need the watermarked stateful tier, not this sink.
    """
    from aws_flight_data_pipeline_spark.operators.sequence import (
        runs_to_intervals,
        state_runs,
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if vt._batch_committed(dim_path, batch_id):
            return  # at-least-once replay of a committed batch: no-op
        spark = batch_df.sparkSession
        batch_df = batch_df.select(
            "user_id", "event_id", F.col("ts").cast("timestamp").alias("ts"),
            "event_type",
        )
        try:
            dim = vt.read(spark, dim_path)
        except FileNotFoundError:
            dim = None

        if dim is None:
            new_dim = runs_to_intervals(state_runs(batch_df)).drop("run_events")
        else:
            affected = batch_df.select("user_id").distinct()
            open_rows = dim.where(F.col("to_us").isNull()).join(affected, "user_id")
            carried = dim.join(
                affected.withColumn("_aff", F.lit(True)), "user_id", "left"
            ).where(
                ~(F.coalesce("_aff", F.lit(False)) & F.col("to_us").isNull())
            ).drop("_aff")
            pseudo = open_rows.select(
                "user_id",
                F.lit(-1).cast("long").alias("event_id"),
                F.timestamp_micros("from_us").alias("ts"),
                F.col("state").alias("event_type"),
            )
            rebuilt = runs_to_intervals(
                state_runs(pseudo.unionByName(batch_df))
            )
            new_dim = carried.unionByName(rebuilt.select(*carried.columns))
        vt.commit_stream_batch(new_dim, batch_id, dim_path, mode="overwrite")

    return vt._start_foreach_batch(events, process_batch, checkpoint_path, trigger)


_SCD2_OOO_OUTPUT_SCHEMA = "user_id long, state string, from_us long, to_us long"
#: buffered pending events (serialized), plus the current open run head
_SCD2_OOO_STATE_SCHEMA = "buf string, open_state string, open_from long"


def _scd2_ooo_fn(
    key: tuple, pdfs: "Iterator[pd.DataFrame]", state: GroupState
) -> "Iterator[pd.DataFrame]":
    """Per-user fold: buffer events until the watermark passes them, then
    replay the ripe prefix in (ts, event_id) order through the run machine.
    State = events inside the lateness window + the open run head — bounded
    by the watermark delay, never by stream length."""
    (user_id,) = key
    import json as _json

    buf: list[tuple[int, int, str]] = []
    open_state, open_from = None, None
    if state.exists:
        buf_s, open_state, open_from = state.get
        # JSON-encoded buffer: event_type may contain any character — a
        # hand-rolled delimiter format would corrupt state on ';' or ':'
        buf = [tuple(e) for e in _json.loads(buf_s)] if buf_s else []

    for pdf in pdfs:
        for r in pdf.itertuples():
            buf.append((int(r.ts.value // 1000), int(r.event_id), str(r.event_type)))

    wm_us = state.getCurrentWatermarkMs() * 1000
    buf.sort()
    ripe = [e for e in buf if e[0] <= wm_us]
    buf = [e for e in buf if e[0] > wm_us]

    closed = []
    for us, _eid, typ in ripe:
        if open_state is None:
            open_state, open_from = typ, us
        elif typ != open_state:
            closed.append((user_id, open_state, open_from, us))
            open_state, open_from = typ, us

    state.update((
        _json.dumps(buf),
        open_state,
        open_from,
    ))
    if buf:
        # wake this key when the watermark passes its oldest pending event,
        # even if no new rows arrive for it — otherwise a quiet user's
        # buffered events would never finalize
        state.setTimeoutTimestamp(max(buf[0][0] // 1000 + 1, wm_us // 1000 + 1))
    yield pd.DataFrame(closed, columns=["user_id", "state", "from_us", "to_us"])


def streaming_scd2_ooo(events: DataFrame, delay: str = "10 minutes") -> DataFrame:
    """OUT-OF-ORDER-tolerant SCD2 run construction — the watermarked
    stateful tier completing :func:`streaming_scd2_dimension` (which
    requires in-order delivery): events are buffered per user inside the
    lateness window and only folded into runs once the watermark passes
    them, so a late event re-sorts into its true position before any run
    boundary involving it is finalized. Emits CLOSED validity intervals in
    append mode (the open head lives in state — append sinks cannot
    retract, the same contract as every watermarked aggregation); closed
    output equals the batch run construction over the time-ordered input
    for any arrival order within ``delay`` (pinned in
    tests/test_streaming_scd2.py). State per user is O(events inside the
    lateness window) + one open-run head — watermark-bounded, not
    stream-bounded.
    """
    return (
        events.select(
            "user_id", "event_id", F.col("ts").cast("timestamp").alias("ts"),
            "event_type",
        )
        .withWatermark("ts", delay)
        .groupBy("user_id")
        .applyInPandasWithState(
            _scd2_ooo_fn,
            outputStructType=_SCD2_OOO_OUTPUT_SCHEMA,
            stateStructType=_SCD2_OOO_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def streaming_decontam_gate(
    docs: DataFrame,
    eval_index_path: str,
    corpus_path: str,
    decisions_path: str,
    checkpoint_path: str,
    trigger: dict | None = None,
):
    """Streaming DECONTAMINATION gate: every micro-batch of candidate
    training documents is probed against the eval split's shingle-
    tokenized inverted index (``plans.curation_queries.decontam_increment``
    — O(batch + eval), the accumulated corpus is never read); clean docs
    append to the versioned corpus table, contaminated docs are rejected
    with ATTRIBUTION (which eval doc leaked, at what exact-ppm Jaccard)
    in a decisions table. The gate composes three existing tiers — the
    pluggable-tokenizer inverted index, the lossless one-sided prefix
    probe, and the batch-stamped exactly-once sink — into the admission
    flow a training pipeline actually runs at ingest time.

    Statelessness contract: the eval index is FROZEN for the stream's
    lifetime (benchmark sets change by out-of-band ``refresh_index``
    calls, including tombstoned retirements), so each document's decision
    is independent of micro-batch boundaries — stream == batch exactly,
    pinned in tests. Exactly-once: both tables take batch-stamped commits
    (``commit_stream_batch``); a crash between the two replays the batch,
    the decisions commit is skipped as a duplicate, and the corpus commit
    lands — decisions are deterministic, so the replay writes the same
    admitted set.
    """
    from aws_flight_data_pipeline_spark.functions.caching import release_tracked
    from aws_flight_data_pipeline_spark.plans.curation_queries import (
        decontam_increment,
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        hits = decontam_increment(
            spark, eval_index_path, batch_df.select("doc_id", "text")
        ).select(
            F.col("train_id").alias("doc_id"),
            F.col("eval_id").alias("contaminating_eval_id"),
            "jac_ppm",
        )
        decisions = (
            batch_df.select("doc_id")
            .join(hits, "doc_id", "left")
            .select(
                "doc_id",
                F.col("contaminating_eval_id").isNull().alias("admitted"),
                "contaminating_eval_id",
                "jac_ppm",
            )
        )
        vt.commit_stream_batch(decisions, batch_id, decisions_path)
        clean = batch_df.join(
            hits.select("doc_id"), "doc_id", "left_anti"
        )
        vt.commit_stream_batch(clean, batch_id, corpus_path)
        # decontam_increment tracked_cache's its eval-postings and batch
        # token frames; the batch registry's _self_cleaning release never
        # runs on the streaming path, so without this a long-lived stream
        # accumulates cached blocks per micro-batch without bound. Both
        # commits above have materialized everything derived from the
        # caches, so releasing here is safe.
        release_tracked()

    return vt._start_foreach_batch(docs, process_batch, checkpoint_path, trigger)


def unified_admission_decisions(
    spark: SparkSession,
    batch_df: DataFrame,
    eval_index_path: str,
    fp_comb: DataFrame,
    buckets_comb: DataFrame,
    eval_postings: DataFrame | None = None,
    eval_postings_docs: int | None = None,
) -> DataFrame:
    """ONE batch's decisions through the composed admission pipeline —
    quality funnel, then decontamination, then near-dup election — as a
    single DataFrame plan. Shared verbatim by the streaming gate (per
    micro-batch, against the state-folded index) and the batch twin
    (:func:`unified_admission_batch`), so stream == batch is one code
    path, not two implementations that happen to agree.

    Stage order is cheapest-first and makes decisions micro-batch-
    boundary-invariant: quality is stateless per-row expressions over the
    whole batch; decontamination probes only quality survivors against
    the FROZEN eval index (O(survivors + eval)); the near-dup election —
    the only stage whose index LEARNS — runs last, over only the clean
    survivors, so the learning state's contents are exactly the finally
    admitted documents and a replayed/re-split stream elects the same
    winners.

    Output: one row per input document —
    (doc_id, source, passed_quality, contaminating_eval_id, jac_ppm,
    is_exact, is_near, intra_batch_dup, admitted, reject_stage). Stages a
    document never reached are NULL (short-circuit is part of the
    contract: a quality-rejected document is not probed, not elected).
    """
    from aws_flight_data_pipeline_spark.functions.caching import (
        tracked_localcheckpoint,
    )
    from aws_flight_data_pipeline_spark.plans.curation_queries import (
        decontam_increment,
    )

    # ONE checkpointed pass scores the batch: the quality verdict is a pure
    # per-row expression (quality_gate_rules — the gate's own definition),
    # so it rides the batch materialization for free, and checkpointing
    # truncates every downstream reference to a LogicalRDD leaf. At
    # micro-batch sizes the dominant cost is not recompute but DRIVER-SIDE
    # PLANNING — with cache() Catalyst still analyzes a tree repeating the
    # batch lineage per consumer (event-log profile at sf0.1: a ~2 s
    # zero-job gap, pure planner time, vs ~4 s of stage work). Fusing the
    # verdict also deletes two joins the old shape paid (batch⋈q to build
    # qpass, out⋈q in the assembly). See tracked_localcheckpoint for the
    # fault-tolerance trade and the lake-scale variant.
    # All three checkpoints below are LAZY (r14): the truncation to a
    # LogicalRDD leaf — the reason they exist — happens at build time
    # either way, but eager materialization paid one dedicated job per
    # checkpoint before the terminal action ran (3 jobs per decision
    # batch; A/B min-of-4 at sf0.1: 3.15 → 2.75 s on the per-increment
    # grain). Lazily they compute inside the first consumer's job and
    # persist for the rest — same bytes, deterministic lineage.
    scored = tracked_localcheckpoint(
        batch_df.withColumn("passed", quality_gate_rules()["passed"]),
        eager=False,
    )
    qpass = scored.where("passed")

    # hits is tiny (doc_id, eval_id, jac_ppm) but its subtree — shingle-
    # tokenize every quality survivor and probe the eval inverted index —
    # is the gate's second-most-expensive stage, and it feeds BOTH the
    # clean-survivor anti-join and the final decision assembly: cache it
    # or the probe runs twice per batch (measured 1.75 s each at sf0.1);
    # released per micro-batch by the gate's release_tracked() like q
    hits = (
        decontam_increment(
            spark,
            eval_index_path,
            qpass.select("doc_id", "text"),
            postings=eval_postings,
            postings_eval_docs=eval_postings_docs,
        )
        .select(
            F.col("train_id").alias("doc_id"),
            F.col("eval_id").alias("contaminating_eval_id"),
            "jac_ppm",
        )
        .transform(lambda f: tracked_localcheckpoint(f, eager=False))
    )
    clean = qpass.join(hits.select("doc_id"), "doc_id", "left_anti")

    # decided feeds both the survivor election and the decision assembly —
    # cache it or the enrich+bucket-join subtree (shingle + MinHash per doc)
    # runs twice; released per micro-batch like q above
    decided = _admission_decide(
        _admission_enrich(clean), fp_comb, buckets_comb
    ).transform(lambda f: tracked_localcheckpoint(f, eager=False))
    survivors = decided.where("admitted").select("doc_id", "fp", "toks", "b0", "b1")
    intra = _intra_batch_reject_ids(survivors).withColumn(
        "intra_dup", F.lit(True)
    )
    dedup = (
        decided.join(intra, "doc_id", "left")
        .withColumn("intra_batch_dup", F.coalesce("intra_dup", F.lit(False)))
        .select(
            "doc_id",
            "is_exact",
            "is_near",
            "intra_batch_dup",
            (F.col("admitted") & ~F.col("intra_batch_dup")).alias("dedup_ok"),
        )
    )

    out = (
        scored.select(
            "doc_id", "source", F.col("passed").alias("passed_quality")
        )
        .join(hits, "doc_id", "left")
        .join(dedup, "doc_id", "left")
    )
    return out.select(
        "doc_id",
        "source",
        "passed_quality",
        "contaminating_eval_id",
        "jac_ppm",
        "is_exact",
        "is_near",
        "intra_batch_dup",
        F.coalesce(F.col("dedup_ok"), F.lit(False)).alias("admitted"),
        F.when(~F.col("passed_quality"), F.lit("quality"))
        .when(F.col("contaminating_eval_id").isNotNull(), F.lit("contaminated"))
        .when(~F.col("dedup_ok"), F.lit("duplicate"))
        .otherwise(F.lit(None).cast("string"))
        .alias("reject_stage"),
    )


def streaming_unified_admission_gate(
    docs: DataFrame,
    eval_index_path: str,
    fp_index: DataFrame,
    band_buckets: DataFrame,
    state_path: str,
    checkpoint_path: str,
    corpus_path: str,
    decisions_path: str,
    trigger: dict | None = None,
):
    """The COMPOSED streaming admission gate: quality funnel +
    decontamination + learning near-dup election on the SAME micro-batch,
    one pass per batch, ONE batch-stamped commit per output table — the
    admission flow a training pipeline actually runs at ingest, previously
    three separate foreachBatch recipes (quality gate, incremental
    admission, decontam gate).

    Per micro-batch: fold the admitted-doc index deltas of prior batches
    into the base near-dup index (:func:`_fold_admission_state`), run
    :func:`unified_admission_decisions` (the one shared decision plan),
    then three batch-stamped ``commit_stream_batch`` appends in order —
    the full decisions frame to ``decisions_path``, the admitted documents
    (original columns) to ``corpus_path``, and LAST the admitted docs'
    index rows as the state delta for the next batch. A batch whose state
    stamp is committed is skipped whole; a replay after a crash between
    commits reads the same state head, recomputes the same decisions,
    skips the commits that landed and lands the rest — at-least-once
    delivery is exactly-once on all three tables.

    Stream == batch is pinned in tests over a mixed fixture (duplicate +
    contaminated + low-quality + clean docs): the decisions from N
    micro-batches equal :func:`unified_admission_batch` over the same
    documents in one pass, and each table takes exactly one commit per
    non-empty batch.
    """
    from aws_flight_data_pipeline_spark.functions.caching import (
        release_tracked,
        tracked_cache,
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if vt._batch_committed(state_path, batch_id) or batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        fp_comb, buckets_comb = _fold_admission_state(
            spark, fp_index, band_buckets, state_path
        )
        # three consumers share this plan (decisions commit, corpus commit,
        # state delta) — cache it or every micro-batch pays the quality
        # gate + eval probe + banded election three times; released by the
        # release_tracked() below once all three writes have materialized
        decisions = (
            unified_admission_decisions(
                spark, batch_df, eval_index_path, fp_comb, buckets_comb
            )
            .withColumn("batch_id", F.lit(batch_id))
            .transform(tracked_cache)
        )

        admitted = batch_df.join(
            decisions.where("admitted").select("doc_id"), "doc_id"
        )
        vt.commit_stream_batch(decisions, batch_id, decisions_path)
        vt.commit_stream_batch(admitted, batch_id, corpus_path)
        vt.commit_stream_batch(
            _admission_enrich(admitted)
            .select("doc_id", "fp", "toks", "b0", "b1")
            .coalesce(1),
            batch_id,
            state_path,
        )
        # same cache discipline as streaming_decontam_gate: the probe
        # tracked_cache's frames with no batch-registry release point
        release_tracked()

    return vt._start_foreach_batch(docs, process_batch, checkpoint_path, trigger)


def unified_admission_batch(
    spark: SparkSession,
    docs: DataFrame,
    eval_index_path: str,
    fp_index: DataFrame,
    band_buckets: DataFrame,
    eval_postings: DataFrame | None = None,
    eval_postings_docs: int | None = None,
) -> DataFrame:
    """The unified gate's BATCH twin: the whole input as one batch against
    the base index only (no accumulated state — the intra-batch keep-first
    election subsumes it when every document is in the same batch). Used by
    the stream==batch equivalence tests and as the backfill entry point."""
    return unified_admission_decisions(
        spark, docs, eval_index_path, fp_index, band_buckets,
        eval_postings=eval_postings,
        eval_postings_docs=eval_postings_docs,
    )
