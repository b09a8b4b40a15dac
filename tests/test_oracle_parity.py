"""Engine-vs-oracle parity harness — a strict local mirror of the driver gate.

Round-1 lesson: the driver's value hash is TYPE-sensitive and its rounding is
ENGINE-sensitive, so a tolerant harness (Decimal→float normalization, 1e-9
closeness) passes locally while the driver fails. This harness is therefore
strict on both axes, so local green ⇒ driver green:

1. **Type strictness.** The DuckDB result schema must consist of driver-safe
   types only — BIGINT/INTEGER/DOUBLE/VARCHAR/BOOLEAN/TIMESTAMP/DATE — and
   each column's type kind must match the Spark column's kind exactly.
   HUGEINT (DuckDB's un-cast ``SUM(int)``) and DECIMAL are rejected outright:
   they hash differently from Spark's bigint/double even when values are equal.
2. **Exact values.** No float tolerance. A correctly-written oracle produces
   bit-identical doubles (identical per-row arithmetic, integer-exact
   aggregation encodings, or post-ROUND values that both engines agree on);
   any residual difference is exactly the class of bug the driver would flag.

Cross-engine rounding rule derived from round 1 (see plans/registry.py):
``ROUND(x, 4)`` of a computed quotient diverges on half-boundaries (Spark
rounds the shortest decimal string up, DuckDB rounds the binary double down),
while integer-scale rounding ``CAST(ROUND(x * 10^k) AS BIGINT)`` agrees in
both engines (the .5 boundary is binary-representable). Oracles here use the
latter, or emit unrounded quotients of exactly-computed integers.

Runs at sf0.001 AND sf0.01 in one session — boundary hits are data/scale
dependent, so both scales must be green before a query counts as verified.
"""

from __future__ import annotations

import datetime
import math
import os

import duckdb
import pytest
from pyspark.sql import types as T

from aws_flight_data_pipeline_spark.plans.registry import (
    BUILDER_SPECS,
    REGISTRY,
    _ensure_loaded,
)
from aws_flight_data_pipeline_spark.sources.testdata import TABLES

_ensure_loaded()

# Oracle-backed BUILDERS get the same strict parity verification as registered
# queries — they just don't occupy one of the driver gate's 50 slots.
_SPECS = {**{n: s for n, s in BUILDER_SPECS.items() if s.oracle is not None}, **REGISTRY}

WITH_ORACLE = sorted(n for n, s in _SPECS.items() if s.oracle is not None)

SF_DIRS = ("/root/testdata/sf0.001", "/root/testdata/sf0.01")

# Spark type kind -> allowed DuckDB type names. Anything outside this table
# (HUGEINT, DECIMAL, TINYINT...) is a parity bug by construction.
_KIND_MAP = {
    T.LongType: {"BIGINT"},
    T.IntegerType: {"INTEGER"},
    T.DoubleType: {"DOUBLE"},
    T.FloatType: {"FLOAT"},
    T.StringType: {"VARCHAR"},
    T.BooleanType: {"BOOLEAN"},
    T.TimestampType: {"TIMESTAMP"},
    T.DateType: {"DATE"},
}


def _duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _norm(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    # numpy scalars -> python
    if hasattr(v, "item"):
        return v.item()
    return v


def _sort_key(row):
    return tuple((v is None, str(type(v)), str(v)) for v in row)


@pytest.mark.parametrize("sf", SF_DIRS, ids=[d.rsplit("/", 1)[-1] for d in SF_DIRS])
@pytest.mark.parametrize("name", WITH_ORACLE)
def test_oracle_parity(spark, name, sf):
    spec = _SPECS[name]
    sdf = spec.fn(spark, sf)
    spark_fields = {f.name: f for f in sdf.schema.fields}

    con = _duck(sf)
    rel = con.sql(spec.oracle)
    o_types = {c: str(t) for c, t in zip(rel.columns, rel.types)}

    # --- schema: names ---
    s_cols, o_cols = sorted(spark_fields), sorted(rel.columns)
    assert s_cols == o_cols, f"{name}: column mismatch spark={s_cols} oracle={o_cols}"

    # --- schema: type kinds, driver-safe types only ---
    for c in s_cols:
        s_type = type(spark_fields[c].dataType)
        allowed = _KIND_MAP.get(s_type)
        assert allowed is not None, (
            f"{name}.{c}: Spark type {s_type.__name__} has no driver-safe mapping"
        )
        o_t = o_types[c].upper()
        assert o_t in allowed, (
            f"{name}.{c}: oracle type {o_t} does not match Spark "
            f"{s_type.__name__} (driver hash is type-sensitive; "
            f"CAST the oracle column — e.g. SUM(int) is HUGEINT until cast)"
        )

    s_pd = sdf.toPandas()
    o_pd = rel.fetchdf()
    con.close()

    assert len(s_pd) == len(o_pd), f"{name}@{sf}: rows spark={len(s_pd)} oracle={len(o_pd)}"

    s_rows = sorted(
        (tuple(_norm(v) for v in r) for r in s_pd[s_cols].itertuples(index=False)),
        key=_sort_key,
    )
    o_rows = sorted(
        (tuple(_norm(v) for v in r) for r in o_pd[s_cols].itertuples(index=False)),
        key=_sort_key,
    )
    mismatches = []
    for i, (sr, orow) in enumerate(zip(s_rows, o_rows)):
        # exact equality, floats included — see module docstring
        if sr != orow:
            mismatches.append((i, sr, orow))
            if len(mismatches) >= 5:
                break
    assert not mismatches, f"{name}@{sf}: value mismatches (cols={s_cols}): {mismatches}"

