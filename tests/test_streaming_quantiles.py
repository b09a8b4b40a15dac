"""The versioned table's stream commit path under a mergeable state.

A DDSketch rollup (integer bucket counts, merged by addition) is folded
per micro-batch by a foreachBatch local to these tests: each batch adds its
histogram to the state table's head and commits the sum as one
batch-stamped ``versioned.commit`` overwrite, and a
batch whose stamp is already committed is skipped whole. The tests pin what
the commit path owes such a stream: ``vacuum`` under the state keeps reads
and replay stamps intact, and a crash inside a state write leaves the last
committed state readable and is folded in exactly once on restart.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

from aws_flight_data_pipeline_spark.functions.quantiles import dd_histogram
from aws_flight_data_pipeline_spark.sources import versioned as vt
from tests.conftest import drain

SF_DIR = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _quantile_rollup(spark, src: str, state: str, ckpt: str):
    """Start the rollup over ``src``'s parquet drops, one drop per
    micro-batch."""

    def fold(batch_df, batch_id):
        if vt._batch_committed(state, batch_id) or batch_df.isEmpty():
            return
        hist = dd_histogram(batch_df, "scope", "x")
        if vt.latest_version(state) is not None:
            hist = (
                hist.unionByName(vt.read(spark, state))
                .groupBy("scope", "j")
                .agg(F.sum("c").cast("bigint").alias("c"))
            )
        vt.commit(hist.coalesce(1), state, mode="overwrite", meta={"batch_id": batch_id})

    stream = (
        spark.readStream.schema("scope string, x double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    return vt._start_foreach_batch(stream, fold, ckpt, None)


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
    state = str(tmp_path / "q_state")
    drain(_quantile_rollup(spark, src, state, str(tmp_path / "ckpt")), 120)

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
        return _quantile_rollup(spark, src, state, ckpt)

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
