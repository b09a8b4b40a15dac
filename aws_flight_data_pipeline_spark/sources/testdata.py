"""Readers for the driver-generated TPC-H-ish parquet tables.

These are plain partition-parallel parquet scans: Catalyst gets full pushdown
(column pruning + predicate pushdown into the parquet reader), so every query
built on top of them inherits scan-level optimization for free. At 100 TB the
same call reads a partitioned lake directory — Hive-style partition discovery
and pruning apply with no code change.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Fan-out keys for tables whose queries can be COMPUTE-dense per row (hash
# signatures, n-gram folds, vector arithmetic). The driver writes each
# testdata table as ONE single-row-group parquet file — an unsplittable scan,
# so every downstream map stage runs on one core no matter how many the
# session has. A query that declares ``fan_out=True`` gets a key-hash
# repartition WHEN (and only when) the source yields fewer input splits than
# the session has cores. On a real multi-file/multi-row-group lake the
# condition is false and the scan stays exchange-free — this is single-split
# compensation, not a standing shuffle.
#
# OPT-IN by measurement (sf0.1, local[32], cache-released honest bench —
# warm-up caches unpersisted before the timed run): the exchange costs a
# fixed ~0.1-0.6 s, so scan/agg-dense queries lose (doc_pack 0.24→0.70,
# ivf_topk 0.34→0.99, exact_fingerprint 0.37→0.69) while hash/fold-dense
# queries win 3-5× (funnel 2.5→0.7, rolling fingerprint 2.1→0.8, signal
# suite 1.9→0.4). The round-3 claim that multi-stage pipelines lose was an
# artifact of the cache-subsidized bench hiding their stage-1 compute: with
# caches released, the MinHash/shingle-dominated pipelines win 3-5× from
# fan-out (dedup_pipeline_end_to_end 12.1→3.5, dedup_cluster_components
# 15.0→4.4, corpus_merge_increment 13.2→2.8, bpe_merge_train 6.2→3.3,
# corpus_decontamination 2.1→1.2 — combined with the candidates-only
# verification restructure in scored_pair_frame). Fact tables
# (lineitem/orders/events) never fan out: +2.3 s over a 16-query slice.
_FAN_OUT_TABLES = {"documents": "doc_id", "embeddings": "vec_id"}

#: (sf_dir, table) -> bool, computed once per process: probing the scan's
#: split count costs a physical-plan round trip, which multi-stage pipelines
#: that re-load the same table would otherwise pay on every plan build.
_FAN_OUT_DECISION: dict[tuple[str, str], bool] = {}


def _fan_out(df: DataFrame, sf_dir: str, name: str, key_col: str) -> DataFrame:
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    key = (sf_dir, name)
    if key not in _FAN_OUT_DECISION:
        _FAN_OUT_DECISION[key] = df.rdd.getNumPartitions() < target
    if _FAN_OUT_DECISION[key]:
        # HASH partition on the table's unique key, not round-robin:
        # round-robin repartition locally sorts every column for determinism
        # (expensive on full document text) and its exchange isn't reusable;
        # a hash exchange on the key is cheap, deterministic, reused across
        # all consumers of the scan in one plan, and can even satisfy a
        # downstream groupBy/join on the same key outright.
        return df.repartition(target, F.col(key_col))
    return df

# Columns that SOME testdata generations write as parquet TIMESTAMP(NANOS),
# which Spark's reader rejects; with the legacy conf those surface as
# nanos-since-epoch longs and we rebuild the timestamp with integer division
# (a double round-trip would lose precision at 1e18 nanos). Micros truncation
# matches how DuckDB reads the same nano column. Newer generations write
# TIMESTAMP(MICROS), which Spark reads natively — the rebuild is applied only
# when the column actually scans as a long.
_NANO_TS_COLS = {"events": ("ts",)}


def load_table(
    spark: SparkSession, sf_dir: str, name: str, fan_out: bool = False
) -> DataFrame:
    """Scan one table. Timezone is pinned to UTC first so event-time fields
    (``events.ts``, ``orders.o_orderdate``) extract identically everywhere.

    ``fan_out=True`` requests the single-split compensation repartition —
    opt in ONLY for queries whose per-row compute dominates the scan (see
    the measurement table above)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    dtypes = dict(df.dtypes)
    for col in _NANO_TS_COLS.get(name, ()):
        if dtypes.get(col) == "bigint":
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
        elif dtypes.get(col) == "timestamp_ntz":
            # TIMESTAMP(MICROS, isAdjustedToUTC=false) generations scan as NTZ;
            # normalize to session-local TIMESTAMP (UTC pinned above) so epoch
            # arithmetic (cast to double/long) keeps working identically.
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    if fan_out and name in _FAN_OUT_TABLES:
        df = _fan_out(df, sf_dir, name, _FAN_OUT_TABLES[name])
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every table and register each as a temp view (for spark.sql use)."""
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
