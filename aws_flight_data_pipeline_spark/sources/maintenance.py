"""Lake maintenance: small-file audit + compaction.

At 100 TB the lake's dominant operational failure mode is not a wrong query
plan — it is file-count pathology: streaming micro-batches and per-executor
writers leave thousands of KB-sized parquet files per partition, and every
subsequent scan pays a task per file (plus a footer read and an object-store
request). The reference ships this concern as its optimization guide's
storage recommendations (`sql/athena/07_optimization_guide.sql:384-447`:
file-count/size statistics per partition and a "compact small files"
recommendation class); here it is a first-class operator triple:

1. ``lake_file_audit`` — per-file rows (file, partition, bytes, row_count).
   Row counts come from ONE distributed scan grouped by ``input_file_name()``
   (never a per-file driver loop); byte sizes come from a recursive Hadoop
   FileSystem listing (works on file://, hdfs://, s3a:// alike) that returns
   one metadata row per file — catalog-sized, not data-sized.
2. ``compaction_plan`` — per-partition verdicts: file count, bytes, the
   target file count at ``target_bytes``, and a needs_compaction flag.
3. ``compact`` — rewrite one partition directory to ``ceil(bytes/target)``
   files via ``repartition(n)``. Partition-at-a-time is deliberate: it is
   idempotent, retry-safe, and parallelizable across partitions by the
   caller, which is how table services (Delta OPTIMIZE, Iceberg rewrite)
   schedule the same work.

Clustered rewrites and schema enforcement belong to the versioned table:
``versioned.optimize`` and the schema check at commit.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _list_files(spark: SparkSession, path: str) -> list[tuple[str, int]]:
    """Recursive (path, bytes) listing, driver-side, one tuple per data file.

    Contract: uses the Hadoop FileSystem API through the py4j gateway when
    the session has one (classic PySpark — scheme-agnostic, covers object
    stores); under Spark Connect (``spark._jvm`` absent) it degrades to a
    local-filesystem walk, which covers every ``file://`` lake this repo's
    maintenance tooling targets. Object-store audits require classic mode.
    """
    jvm = getattr(spark, "_jvm", None)
    out: list[tuple[str, int]] = []
    if jvm is not None:
        conf = spark._jsc.hadoopConfiguration()
        p = jvm.org.apache.hadoop.fs.Path(path)
        fs = p.getFileSystem(conf)
        it = fs.listFiles(p, True)
        while it.hasNext():
            st = it.next()
            name = st.getPath().toUri().getPath()
            if not name.rsplit("/", 1)[-1].startswith("_"):
                out.append((name, st.getLen()))
        return out
    for root, _dirs, files in os.walk(path.removeprefix("file://")):
        for fn in files:
            if not fn.startswith("_"):
                fp = os.path.join(root, fn)
                out.append((fp, os.path.getsize(fp)))
    return out


def _strip_scheme(col):
    return F.regexp_replace(col, r"^[a-z0-9.+-]+:/+", "/")


def lake_file_audit(spark: SparkSession, path: str) -> DataFrame:
    """Per-file audit of a parquet lake: file, partition dir, bytes, rows."""
    sizes = spark.createDataFrame(_list_files(spark, path), "file string, bytes long")
    rows = (
        spark.read.parquet(path)
        .groupBy(_strip_scheme(F.input_file_name()).alias("file"))
        .agg(F.count("*").alias("row_count"))
    )
    base = path.rstrip("/")
    # literal (non-regex) root strip — lake paths may contain regex metachars
    part = F.replace(F.regexp_extract("file", r"^(.*)/[^/]+$", 1), F.lit(base), F.lit(""))
    return (
        sizes.join(rows, "file", "left")
        .na.fill({"row_count": 0})
        .withColumn("partition", F.regexp_replace(part, r"^/", ""))
        .select("file", "partition", "bytes", "row_count")
    )


def compaction_plan(audit: DataFrame, target_bytes: int = 128 * 1024 * 1024) -> DataFrame:
    """Per-partition compaction verdicts from a ``lake_file_audit`` frame.

    A partition needs compaction when it holds more files than its data
    justifies at ``target_bytes`` per file (strictly more than the target
    count — a partition already at its ideal layout is left alone).
    """
    return (
        audit.groupBy("partition")
        .agg(
            F.count("*").alias("file_count"),
            F.sum("bytes").alias("total_bytes"),
            F.sum("row_count").alias("total_rows"),
            F.min("bytes").alias("min_file_bytes"),
            F.max("bytes").alias("max_file_bytes"),
        )
        .withColumn(
            "target_file_count",
            F.greatest(F.lit(1), F.ceil(F.col("total_bytes") / F.lit(target_bytes))),
        )
        .withColumn("needs_compaction", F.col("file_count") > F.col("target_file_count"))
    )


def compact(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    target_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Rewrite one partition directory's parquet to ~target-sized files.

    Returns the file count written. Sizing uses the SOURCE bytes (compressed
    parquet), so output files land near ``target_bytes`` — the round-number
    heuristic every table service uses; exactness is not the point, escaping
    the many-small-files regime is.
    """
    total = sum(b for _, b in _list_files(spark, src_path))
    n = max(1, math.ceil(total / target_bytes))
    (
        spark.read.parquet(src_path)
        .repartition(n)
        .write.mode("overwrite")
        .option("compression", "snappy")
        .parquet(dst_path)
    )
    return n
