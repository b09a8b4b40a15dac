"""Unit tests for the multimodal operators (operators/multimodal.py).

The parity harness already verifies decode/featurize/frame-sample values
against DuckDB; these tests cover the pieces the oracle can't: the resize
transform, the real-codec gate, schema/plumbing invariants, and exact local
recomputation of the stub codec on collected payloads.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from aws_flight_data_pipeline_spark.operators.multimodal import (
    ASSET_SCHEMA,
    FEATURE_DIM,
    FRAME_BYTES,
    attach_payloads,
    decode_assets,
    extract_features,
    sample_frames,
)
from aws_flight_data_pipeline_spark.sources.testdata import load_table


@pytest.fixture(scope="module")
def assets(spark, sf_dir):
    df = attach_payloads(load_table(spark, sf_dir, "documents")).cache()
    df.count()
    yield df
    df.unpersist()


def test_asset_schema_and_modalities(assets):
    # simpleString compares names + types, ignoring nullability flags
    assert assets.schema.simpleString() == ASSET_SCHEMA.simpleString()
    mods = {r["modality"] for r in assets.select("modality").distinct().collect()}
    assert mods == {"image", "audio", "video"}
    # meta fields applicable per modality, null otherwise
    bad = assets.filter(
        ((F.col("modality") == "audio") & F.col("meta.width").isNotNull())
        | ((F.col("modality") == "image") & F.col("meta.n_frames").isNotNull())
        | ((F.col("modality") == "video") & F.col("meta.n_frames").isNull())
        | (F.col("meta.n_bytes") != F.octet_length("payload"))
    ).count()
    assert bad == 0


def test_decode_matches_local_numpy(assets):
    sample = assets.orderBy("asset_id").limit(5)
    decoded = {r["asset_id"]: r for r in decode_assets(sample).collect()}
    for row in sample.collect():
        arr = np.frombuffer(row["payload"], dtype=np.uint8)
        d = decoded[row["asset_id"]]
        assert d["n_bytes"] == arr.size
        assert d["byte_mean"] == pytest.approx(float(arr.mean()))
        assert d["byte_min"] == int(arr.min())
        assert d["byte_max"] == int(arr.max())


def test_real_codec_gate(assets):
    with pytest.raises(NotImplementedError):
        decode_assets(assets, use_real_codecs=True)


def test_features_normalized_and_exact(assets):
    sample = assets.orderBy("asset_id").limit(5)
    feats = {r["asset_id"]: r["features"] for r in extract_features(sample).collect()}
    for row in sample.collect():
        f = feats[row["asset_id"]]
        assert len(f) == FEATURE_DIM
        assert sum(f) == pytest.approx(1.0)
        arr = np.frombuffer(row["payload"], dtype=np.uint8)
        expected = np.bincount(arr >> 4, minlength=FEATURE_DIM) / arr.size
        assert f == pytest.approx(expected.tolist())


def test_frame_sampling_shape(assets):
    frames = sample_frames(assets, every_k=4)
    rows = frames.collect()
    assert all(r["frame_idx"] % 4 == 0 for r in rows)
    # fan-out count per asset == ceil(n_frames / 4), frames only from videos
    videos = {
        r["asset_id"]: r["meta"]["n_frames"]
        for r in assets.filter(F.col("modality") == "video").collect()
    }
    got: dict[int, int] = {}
    for r in rows:
        got[r["asset_id"]] = got.get(r["asset_id"], 0) + 1
    for asset_id, count in got.items():
        nf = videos[asset_id]
        assert count == (nf + 3) // 4
    # a 16-byte-per-frame payload yields byte-exact frame means
    sample = assets.filter(F.col("modality") == "video").orderBy("asset_id").limit(2)
    means = {
        (r["asset_id"], r["frame_idx"]): r["frame_mean"]
        for r in sample_frames(sample, every_k=4).collect()
    }
    for row in sample.collect():
        arr = np.frombuffer(row["payload"], dtype=np.uint8)
        for idx in range(0, arr.size // FRAME_BYTES, 4):
            chunk = arr[idx * FRAME_BYTES : (idx + 1) * FRAME_BYTES]
            assert means[(row["asset_id"], idx)] == pytest.approx(float(chunk.mean()))
