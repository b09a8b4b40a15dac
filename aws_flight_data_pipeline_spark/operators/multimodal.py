"""Multimodal (image / audio / video) column plumbing.

The reference pipeline is text/telemetry-only; this module is the
training-data-pipeline extension surface (SURVEY.md §7.3 scale-out posture):
treat media as opaque ``binary`` payload columns with a typed metadata struct,
and run decode / feature-extraction / frame-sampling as Arrow-batched
``mapInPandas`` operators.

Codec reality: this container has no image/audio libraries, so the actual
byte→pixels/samples decode is STUBBED — ``use_real_codecs=True`` raises
``NotImplementedError`` at the single clearly-marked point where PIL/soundfile/
PyAV would plug in. Everything Spark-side is real and tested: the schema, the
Arrow batch transfer, the mapInPandas signatures and output schemas, the
deterministic fake decode (pure byte arithmetic via numpy, so tests and the
DuckDB oracle can verify exact values), and the partitioning story.

Scale notes (100 TB of media):
- every operator here is a narrow per-row map — no shuffle, no driver collect;
  parallelism is the parquet split count (`spark.sql.files.maxPartitionBytes`).
- payload bytes move Python-side once per operator via Arrow
  (`spark.sql.execution.arrow.maxRecordsPerBatch` bounds batch memory); chained
  stages should be fused into one ``mapInPandas`` call in a hot path.
- metadata lives in a plain struct column so filters on it (modality, size,
  codec) are Catalyst predicates that push down to the parquet scan and never
  touch payload bytes.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MODALITIES = ("image", "audio", "video")

#: Typed metadata carried alongside the opaque payload. Width/height/channels
#: apply to image+video, sample_rate to audio, n_frames to video; inapplicable
#: fields are null. Deliberately a struct (not a map) so each field keeps its
#: type and is independently prunable/filterable.
ASSET_META_TYPE = StructType(
    [
        StructField("n_bytes", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("channels", IntegerType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("codec", StringType()),
    ]
)

ASSET_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("modality", StringType()),
        StructField("payload", BinaryType()),
        StructField("meta", ASSET_META_TYPE),
    ]
)

#: Bytes per synthetic video "frame" in the deterministic fake codec.
FRAME_BYTES = 16

_CODECS = {"image": "png-stub", "audio": "pcm-stub", "video": "raw-stub"}


def attach_payloads(documents: DataFrame) -> DataFrame:
    """documents → multimodal asset table (asset_id, modality, payload, meta).

    The payload is the UTF-8 encoding of the document text — a deterministic
    opaque byte string both engines can reproduce — and the modality cycles
    image/audio/video by ``doc_id % 3``. Metadata is derived from payload size
    with the same arithmetic the fake codec uses, exactly how a real ingest
    would persist probe results (ffprobe/PIL.open) next to the bytes.

    Pure column expressions — the payload never leaves the JVM here.
    """
    n_bytes = F.octet_length("text").cast("long")
    modality = F.element_at(F.array(*[F.lit(m) for m in MODALITIES]), (F.col("doc_id") % 3 + 1).cast("int"))
    is_img = modality == "image"
    is_aud = modality == "audio"
    is_vid = modality == "video"
    width = F.when(is_img | is_vid, (n_bytes % 57 + 8).cast("int"))
    height = F.when(is_img | is_vid, (n_bytes % 31 + 8).cast("int"))
    meta = F.struct(
        n_bytes.alias("n_bytes"),
        width.alias("width"),
        height.alias("height"),
        F.when(is_img | is_vid, F.lit(3)).cast("int").alias("channels"),
        F.when(is_aud, F.lit(16000)).cast("int").alias("sample_rate"),
        F.when(is_vid, F.floor(n_bytes / FRAME_BYTES)).cast("int").alias("n_frames"),
        F.element_at(
            F.create_map(
                *[x for m in MODALITIES for x in (F.lit(m), F.lit(_CODECS[m]))]
            ),
            modality,
        ).alias("codec"),
    )
    return documents.select(
        F.col("doc_id").alias("asset_id"),
        modality.alias("modality"),
        F.encode("text", "UTF-8").alias("payload"),
        meta.alias("meta"),
    )


def _require_real_codecs() -> None:
    # >>> REAL-CODEC PLUG POINT <<<
    # A production build imports PIL.Image / soundfile / av here and decodes
    # payload bytes per modality. Those libraries are not in this container,
    # so requesting real decode fails loudly instead of faking silently.
    raise NotImplementedError(
        "real image/audio/video codecs are not available in this environment; "
        "use use_real_codecs=False for the deterministic byte-arithmetic stub"
    )


DECODE_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("modality", StringType()),
        StructField("n_bytes", LongType()),
        StructField("byte_mean", DoubleType()),
        StructField("byte_min", IntegerType()),
        StructField("byte_max", IntegerType()),
    ]
)


def decode_assets(assets: DataFrame, use_real_codecs: bool = False) -> DataFrame:
    """Decode each payload to per-asset signal statistics.

    Stub semantics: "decoding" is ``np.frombuffer(payload, uint8)`` and the
    signal stats are byte stats — deterministic and verifiable. A real build
    swaps the marked block for PIL/soundfile/PyAV and keeps every other line.
    """
    if use_real_codecs:
        _require_real_codecs()

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if pdf.empty:
                continue
            rows = []
            for asset_id, modality, payload in zip(
                pdf["asset_id"], pdf["modality"], pdf["payload"]
            ):
                arr = np.frombuffer(payload, dtype=np.uint8)  # <- stub decode
                rows.append(
                    (
                        int(asset_id),
                        modality,
                        int(arr.size),
                        float(arr.mean()) if arr.size else 0.0,
                        int(arr.min()) if arr.size else 0,
                        int(arr.max()) if arr.size else 0,
                    )
                )
            yield pd.DataFrame(rows, columns=[f.name for f in DECODE_SCHEMA.fields])

    return assets.mapInPandas(batches, schema=DECODE_SCHEMA)


FEATURE_DIM = 16

FEATURES_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("modality", StringType()),
        StructField("features", ArrayType(DoubleType())),
    ]
)


def extract_features(assets: DataFrame) -> DataFrame:
    """Per-asset fixed-dimension feature vector (the embedding-extraction
    plumbing). Stub featurizer: L1-normalized 16-bin byte histogram — the same
    shape as a real CLIP/CLAP embedding call, which would replace the histogram
    line only. Output feeds the vector operators (cosine top-k, LSH buckets)
    unchanged."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if pdf.empty:
                continue
            out = []
            for asset_id, modality, payload in zip(
                pdf["asset_id"], pdf["modality"], pdf["payload"]
            ):
                arr = np.frombuffer(payload, dtype=np.uint8)
                hist = np.bincount(arr >> 4, minlength=FEATURE_DIM).astype(np.float64)
                total = hist.sum()
                feats = (hist / total) if total else hist
                out.append((int(asset_id), modality, feats.tolist()))
            yield pd.DataFrame(out, columns=[f.name for f in FEATURES_SCHEMA.fields])

    return assets.mapInPandas(batches, schema=FEATURES_SCHEMA)


FRAME_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("frame_mean", DoubleType()),
    ]
)


def sample_frames(assets: DataFrame, every_k: int = 4) -> DataFrame:
    """Video frame sampling: emit every ``k``-th frame of each video asset as
    its own row (one asset → many frames, the fan-out shape of a real frame
    sampler). A frame is a FRAME_BYTES-byte chunk in the stub codec; a real
    build seeks keyframes with PyAV at the marked line. The per-frame value is
    the chunk byte-mean, so sampled frames are exactly verifiable."""
    videos = assets.filter(F.col("modality") == "video")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if pdf.empty:
                continue
            rows = []
            for asset_id, payload in zip(pdf["asset_id"], pdf["payload"]):
                arr = np.frombuffer(payload, dtype=np.uint8)  # <- stub demux
                n_frames = arr.size // FRAME_BYTES
                for frame_idx in range(0, n_frames, every_k):
                    chunk = arr[frame_idx * FRAME_BYTES : (frame_idx + 1) * FRAME_BYTES]
                    rows.append((int(asset_id), frame_idx, float(chunk.mean())))
            yield pd.DataFrame(rows, columns=[f.name for f in FRAME_SCHEMA.fields])

    return videos.select("asset_id", "payload").mapInPandas(batches, schema=FRAME_SCHEMA)


PHASH_BITS = 60  # bits 0..59: stays clear of BIGINT sign in every engine
PHASH_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("modality", StringType()),
        StructField("phash", LongType()),
    ]
)


def phash_assets(assets: DataFrame) -> DataFrame:
    """Perceptual hash per asset: 60 positional blocks over the decoded
    signal, bit b set iff block b's mean exceeds the global mean — the
    blockwise-mean-threshold scheme of real pHash with the DCT dropped
    (the stub codec's signal is the raw byte array; a production build
    decodes, resizes, DCTs at the marked line and keeps the bit rule).

    The bit comparison is cross-multiplied integers (block_sum * n_total
    > total_sum * block_count), so the hash is engine-exact: the DuckDB
    oracle reproduces every bit from ord() arithmetic. Arrow-batched
    mapInPandas; one pass per asset, KB output."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if pdf.empty:
                continue
            rows = []
            for asset_id, modality, payload in zip(
                pdf["asset_id"], pdf["modality"], pdf["payload"]
            ):
                arr = np.frombuffer(payload, dtype=np.uint8).astype(np.int64)
                # <- stub decode; real build: decode + resize + DCT here
                n = arr.size
                ph = 0
                if n:
                    blk = (np.arange(n, dtype=np.int64) * PHASH_BITS) // n
                    sums = np.bincount(blk, weights=arr, minlength=PHASH_BITS)
                    cnts = np.bincount(blk, minlength=PHASH_BITS)
                    sums = sums.astype(np.int64)
                    total, count = int(arr.sum()), n
                    for b in range(PHASH_BITS):
                        if int(sums[b]) * count > total * int(cnts[b]):
                            ph |= 1 << b
                rows.append((int(asset_id), modality, ph))
            yield pd.DataFrame(rows, columns=[f.name for f in PHASH_SCHEMA.fields])

    return assets.select("asset_id", "modality", "payload").mapInPandas(
        batches, schema=PHASH_SCHEMA
    )


#: Wide perceptual hash: 12 bands x 20 bits = 240 blockwise-mean bits.
#: Same absolute near-dup threshold (hamming <= 11) as the 60-bit tier,
#: now at RELATIVE distance 11/240 ~ 0.046 — the regime real pHash
#: near-dups (resize/re-encode survivors) live in. The point is LSH
#: selectivity: exact pigeonhole banding gives each band bits/bands bits
#: of key space, so at 60 bits / 12 bands a band has 32 values and bucket
#: sizes GROW with the corpus (measured: the banded self-join went
#: super-linear at the 100x corpus, 347 s); at 240 bits the same 12-band
#: guarantee rides 20-bit bands — 1M-value buckets that stay O(1) as the
#: corpus grows.
PHASH_WIDE_BANDS = 12
PHASH_WIDE_BAND_BITS = 20
PHASH_WIDE_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("modality", StringType()),
        StructField("bands", ArrayType(LongType())),
    ]
)


def phash_wide_assets(assets: DataFrame) -> DataFrame:
    """Wide perceptual hash per asset: 240 positional blocks over the
    decoded signal, bit b set iff block b's mean exceeds the global mean
    (cross-multiplied integers — engine-exact, same rule as
    :func:`phash_assets`), packed as 12 x 20-bit band values (an
    ``array<bigint>``) so the LSH bucket key is a band value directly and
    hamming distance is ``sum(bit_count(xor))`` over the zipped arrays —
    no cross-word bit surgery anywhere."""
    n_bits = PHASH_WIDE_BANDS * PHASH_WIDE_BAND_BITS

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if pdf.empty:
                continue
            rows = []
            for asset_id, modality, payload in zip(
                pdf["asset_id"], pdf["modality"], pdf["payload"]
            ):
                arr = np.frombuffer(payload, dtype=np.uint8).astype(np.int64)
                # <- stub decode; real build: decode + resize + DCT here
                n = arr.size
                bands = [0] * PHASH_WIDE_BANDS
                if n:
                    blk = (np.arange(n, dtype=np.int64) * n_bits) // n
                    sums = np.bincount(blk, weights=arr, minlength=n_bits)
                    cnts = np.bincount(blk, minlength=n_bits)
                    sums = sums.astype(np.int64)
                    total, count = int(arr.sum()), n
                    for b in range(n_bits):
                        if int(sums[b]) * count > total * int(cnts[b]):
                            bands[b // PHASH_WIDE_BAND_BITS] |= 1 << (
                                b % PHASH_WIDE_BAND_BITS
                            )
                rows.append((int(asset_id), modality, bands))
            yield pd.DataFrame(
                rows, columns=[f.name for f in PHASH_WIDE_SCHEMA.fields]
            )

    return assets.select("asset_id", "modality", "payload").mapInPandas(
        batches, schema=PHASH_WIDE_SCHEMA
    )
