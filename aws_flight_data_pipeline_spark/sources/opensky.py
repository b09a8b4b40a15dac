"""Raw OpenSky state-vector source: JSON batches → flat typed DataFrame.

The reference polls /states/all and writes one JSON document per 30-s batch to
`year=/month=/day=/hour=` prefixes (`flight_data_ingestion.py:354-413`). Here
the landing prefix is a plain partitioned text source, one row per landed
document, parsed once by ``from_json`` with the declared schema, then
explode + positional cast. Batch and stream share the read and parse step
(:func:`read_raw_documents`). The HTTP polling itself is out of engine
scope (a feeder process); the engine's contract starts at the landing files.

Scale: explode is a narrow transformation (no shuffle); with Hive-style
partition discovery the y/m/d/h directories prune on partition filters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, DataFrameReader, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamReader

from aws_flight_data_pipeline_spark.schemas import RAW_BATCH_SCHEMA, STATE_FIELDS


def parse_raw_documents(docs: DataFrame) -> DataFrame:
    """Text rows (``value``, one document each) → raw batch rows
    ``(time, states)``, followed by any partition columns of the scan.

    ``from_json`` with the declared schema, in its default PERMISSIVE mode:
    a corrupt document becomes an all-null row instead of failing the read,
    and a blank one yields no row — the multiLine JSON source's rows. The
    parsed document comes out of an ``inline`` generator, so the non-empty
    ``states`` filter that Spark infers from :func:`decode_states`' explode
    stays above the parse rather than being pushed under it as a second
    ``from_json`` of the whole document.
    """
    doc = F.from_json("value", RAW_BATCH_SCHEMA)
    return docs.select(
        F.inline(F.array_compact(F.array(doc))), *[c for c in docs.columns if c != "value"]
    )


def read_raw_documents(
    reader: DataFrameReader | DataStreamReader, path: str, wholetext: bool = True
) -> DataFrame:
    """Text scan of the landed documents under ``path`` → raw batch rows, via
    :func:`parse_raw_documents`. ``reader`` is ``spark.read`` or
    ``spark.readStream``, with any source options already set. Each file is
    one document (``wholetext=True``), or one document per line (JSON
    Lines, ``wholetext=False``)."""
    # wholetext goes in as the argument: text() passes its own default,
    # which would override an .option("wholetext", ...) and read by line
    return parse_raw_documents(reader.text(path, wholetext=wholetext))


def read_raw_batches(spark: SparkSession, path: str, multiline: bool = True) -> DataFrame:
    """Scan raw OpenSky JSON batch documents with the declared schema.

    The text source reads each file whole and :func:`parse_raw_documents`
    parses it once, at JSON parser speed (:func:`read_raw_documents`).
    PERMISSIVE semantics are kept — corrupt documents do not fail the scan,
    the DLQ semantics of the reference's try/except skip
    (`optimized_converter.py:282-315`). ``multiline=False`` reads JSON Lines:
    one document per line, a corrupt line an all-null row, a blank line none.
    """
    return read_raw_documents(spark.read, path, wholetext=multiline)


def decode_states(raw: DataFrame) -> DataFrame:
    """Explode the states array and decode positional fields to typed columns.

    Mirrors the positional decode in `flight_data_ingestion.py:276-293` /
    `main_validator.py:396-415`: element_at(i+1) + cast per field, callsign
    trimmed, batch `time` carried as collection_time.
    """
    exploded = raw.select(
        F.col("time").alias("collection_time"), F.explode("states").alias("sv")
    )
    cols = []
    for idx, (name, dtype) in enumerate(STATE_FIELDS):
        c = F.element_at("sv", idx + 1)
        if name == "callsign":
            c = F.trim(c)
            c = F.when(F.length(c) > 0, c)  # empty callsign -> null
        cols.append(c.cast(dtype).alias(name))
    cols.append(F.col("collection_time"))
    return exploded.select(*cols)


def read_flight_records(spark: SparkSession, path: str) -> DataFrame:
    """Landing prefix → flat typed flight records (the enrichment input)."""
    return decode_states(read_raw_batches(spark, path))


def read_latest_batch(spark: SparkSession, path: str) -> DataFrame:
    """Scan only the most recent batch document under the landing prefix.

    The reference lists the bucket and picks max(LastModified)
    (`api/get_flight_data.py:116-238`, `dashboard-api.py:243-273`); here the
    batch filename carries the timestamp (`flight_data_<ts>_<id>.json`,
    `flight_data_ingestion.py:354-368`), so "latest" is the max
    input_file_name() — resolved with one tiny filename agg, then a filter
    that prunes every other file from the real scan.
    """
    raw = read_raw_batches(spark, path).withColumn("_file", F.input_file_name())
    latest = raw.agg(F.max("_file")).collect()[0][0]
    return decode_states(raw.filter(F.col("_file") == latest).drop("_file"))


def ingestion_log_entry(records: DataFrame) -> DataFrame:
    """Per-run execution metadata row — the ingestion log table
    (`02_create_raw_tables.sql:104-123`) as a single-row aggregate appended
    to an append-only parquet log."""
    return records.agg(
        F.count("*").alias("records_fetched"),
        F.sum(F.when(F.col("icao24").isNotNull(), 1).otherwise(0)).alias("records_valid"),
        F.countDistinct("icao24").alias("unique_aircraft"),
        F.min("collection_time").alias("batch_time_min"),
        F.max("collection_time").alias("batch_time_max"),
        F.round(
            F.avg(
                F.when(
                    F.col("latitude").isNotNull() & F.col("longitude").isNotNull(), 1.0
                ).otherwise(0.0)
            ),
            4,
        ).alias("position_coverage"),
    )
