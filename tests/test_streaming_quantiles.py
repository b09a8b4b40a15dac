"""Streaming DDSketch quantile rollup: stream==batch EXACT equality.

Integer bucket counts merge by addition, so unlike the HLL/CMS tiers
(bit-identical by register-max/table-add structure) the streamed state must
EQUAL the batch histogram row-for-row — the strongest stream/batch
invariance in the state family. Replay safety (each batch merges into the
state committed before it) is pinned by time-traveling to an intermediate
version, and by a crash injected into a state write.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

from aws_flight_data_pipeline_spark.functions.quantiles import dd_histogram, dd_profile
from aws_flight_data_pipeline_spark.sources import versioned as vt
from aws_flight_data_pipeline_spark.streaming.streams import (
    quantile_rollup_snapshot,
    streaming_quantile_rollup,
)
from tests.conftest import drain

SF_DIR = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_streaming_quantile_state_equals_batch_histogram(spark, tmp_path):
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        F.col("o_orderstatus").alias("scope"),
        F.col("o_totalprice").alias("x"),
        F.col("o_orderkey").alias("k"),
    )
    src = str(tmp_path / "incoming")
    for chunk in range(3):
        orders.filter(F.col("k") % 3 == chunk).drop("k").coalesce(1).write.mode(
            "append"
        ).parquet(src)

    stream = (
        spark.readStream.schema("scope string, x double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    state = str(tmp_path / "q_state")
    q = streaming_quantile_rollup(stream, state, str(tmp_path / "ckpt"))
    drain(q, 120)

    # one state version per micro-batch
    assert [vt._read_manifest(state, v)["batch_id"] for v in vt._list_versions(state)] == [0, 1, 2]

    batch_hist = dd_histogram(orders.drop("k"), "scope", "x")
    final = vt.read(spark, state)
    assert _rows(final) == _rows(batch_hist)  # EXACT, row-for-row

    # the profile read off the streamed state == the batch profile
    assert _rows(quantile_rollup_snapshot(final)) == _rows(dd_profile(batch_hist))


def test_intermediate_state_is_strictly_before_batch(spark, tmp_path):
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        F.col("o_orderstatus").alias("scope"),
        F.col("o_totalprice").alias("x"),
        F.col("o_orderkey").alias("k"),
    )
    src = str(tmp_path / "incoming")
    for chunk in range(2):
        orders.filter(F.col("k") % 2 == chunk).drop("k").coalesce(1).write.mode(
            "append"
        ).parquet(src)
    stream = (
        spark.readStream.schema("scope string, x double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    state = str(tmp_path / "q_state")
    q = streaming_quantile_rollup(stream, state, str(tmp_path / "ckpt"))
    drain(q, 120)

    # a replay of batch 1 must see EXACTLY v0 = chunk 0's histogram — the
    # guard that makes the at-least-once merge idempotent
    v0 = vt.read(spark, state, version=0)
    chunk0 = dd_histogram(orders.filter(F.col("k") % 2 == 0).drop("k"), "scope", "x")
    assert _rows(v0) == _rows(chunk0)
    assert vt._read_manifest(state, 0)["batch_id"] == 0


def test_state_version_pruning_keeps_reads_intact(spark, tmp_path):
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        F.col("o_orderstatus").alias("scope"),
        F.col("o_totalprice").alias("x"),
        F.col("o_orderkey").alias("k"),
    )
    src = str(tmp_path / "incoming")
    for chunk in range(4):
        orders.filter(F.col("k") % 4 == chunk).drop("k").coalesce(1).write.mode(
            "append"
        ).parquet(src)
    stream = (
        spark.readStream.schema("scope string, x double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    state = str(tmp_path / "q_state")
    q = streaming_quantile_rollup(stream, state, str(tmp_path / "ckpt"))
    drain(q, 120)

    before = _rows(vt.read(spark, state))
    stats = vt.vacuum(state, keep_last=2, min_age_seconds=0)
    # versions 0 and 1 are dropped with the files only they referenced
    assert stats == {"versions_dropped": 2, "files_deleted": 2}
    # the newest merged state is untouched — reads identical
    assert _rows(vt.read(spark, state)) == before
    assert _rows(vt.read(spark, state, version=2))
    with pytest.raises(FileNotFoundError):
        vt.read(spark, state, version=1)
    # the dropped batches stay committed under the head's stamp: replays
    # stay no-ops
    assert [vt._read_manifest(state, v)["batch_id"] for v in vt._list_versions(state)] == [2, 3]
    assert all(vt._batch_committed(state, b) for b in range(4))


def test_crash_during_state_write_keeps_last_committed_state(
    spark, tmp_path, monkeypatch
):
    """A crash halfway through batch 2's state write (a torn ``_temporary``
    dir, no offset commit) must leave the state readable as batch 1's
    state, and the restarted stream must fold batch 2 in exactly once."""
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        F.col("o_orderstatus").alias("scope"),
        F.col("o_totalprice").alias("x"),
        F.col("o_orderkey").alias("k"),
    )
    chunks = [orders.filter(F.col("k") % 3 == c).drop("k") for c in range(3)]
    src, state, ckpt = (str(tmp_path / d) for d in ("incoming", "q_state", "ckpt"))

    def run():
        stream = (
            spark.readStream.schema("scope string, x double")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        return streaming_quantile_rollup(stream, state, ckpt)

    for chunk in chunks[:2]:
        chunk.coalesce(1).write.mode("append").parquet(src)
    drain(run(), 120)
    chunks[2].coalesce(1).write.mode("append").parquet(src)

    write_parquet = DataFrameWriter.parquet

    def torn_state_write(self, path, *args, **kwargs):
        if not str(path).startswith(state):
            return write_parquet(self, path, *args, **kwargs)
        torn = os.path.join(path, "_temporary", "0", "_temporary", "attempt_0")
        os.makedirs(torn)
        with open(os.path.join(torn, "part-00000.snappy.parquet"), "wb") as fh:
            fh.write(b"PAR1")
        raise OSError("injected crash during the state write")

    monkeypatch.setattr(DataFrameWriter, "parquet", torn_state_write)
    with pytest.raises(Exception, match="injected crash"):
        drain(run(), 120)
    monkeypatch.undo()

    two = dd_histogram(chunks[0].unionByName(chunks[1]), "scope", "x")
    assert _rows(vt.read(spark, state)) == _rows(two)

    drain(run(), 120)
    assert [vt._read_manifest(state, v)["batch_id"] for v in vt._list_versions(state)] == [0, 1, 2]
    assert _rows(vt.read(spark, state)) == _rows(
        dd_histogram(orders.drop("k"), "scope", "x")
    )
