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


def quality_gate_rules() -> dict:
    """The admission gate's five quality rules (plus word count and the
    conjunctive ``passed``) as pure Column expressions over ``text``: rules
    1-4 (length bounds, word shape, stopword containment, lexical
    diversity) are the batch ``quality_filter_funnel``'s expressions;
    rule 5 (repetition) is its within-row occurrence form, duplicate
    2-gram occurrences / total, which needs no per-(doc, gram) shuffle.
    :func:`unified_admission_decisions` fuses ``passed`` into the batch
    checkpoint's projection instead of joining a separately scored frame."""
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
    """The base index of :func:`streaming_unified_admission_gate` and of
    batch calls to :func:`unified_admission_decisions`:
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
    (flatten-merge of bucket arrays on the band key). Run by the unified
    gate at the start of every micro-batch."""
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


def unified_admission_decisions(
    spark: SparkSession,
    batch_df: DataFrame,
    eval_index_path: str,
    fp_comb: DataFrame,
    buckets_comb: DataFrame,
    eval_postings: DataFrame | None = None,
) -> DataFrame:
    """ONE batch's decisions through the composed admission pipeline —
    quality funnel, then decontamination, then near-dup election — as a
    single DataFrame plan. Shared verbatim by the streaming gate (per
    micro-batch, against the state-folded index) and batch callers (the
    whole input as one batch against the base index, where the intra-batch
    keep-first election stands in for the learned state), so stream ==
    batch is one code path, not two implementations that happen to agree.
    ``eval_postings`` is :func:`decontam_increment`'s optional frozen
    ``(eval_id, tok, sz_eval)`` snapshot of the eval index.

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
    admission flow a training pipeline actually runs at ingest, and the
    one foreachBatch admission path.

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

    State size: O(admitted docs) index rows, each commit appending only
    its batch's delta. At lake scale the deltas are exactly the rows a
    compaction job folds into the base index (:func:`corpus_admission_index`)
    on its own cadence; the gate never rewrites the base index.

    Stream == batch is pinned in tests over a mixed fixture (duplicate +
    contaminated + low-quality + clean docs): the decisions from N
    micro-batches equal :func:`unified_admission_decisions` over the same
    documents in one pass against the base index, and each table takes
    exactly one commit per non-empty batch.
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
        # the decision plan tracked-caches and checkpoints its frames, and
        # the batch registry's self-cleaning release never runs on the
        # streaming path; all three commits have materialized everything
        # derived from them, so release here or a long-lived stream
        # accumulates cached blocks per micro-batch without bound
        release_tracked()

    return vt._start_foreach_batch(docs, process_batch, checkpoint_path, trigger)
