"""NDV contracts of the planner's one statistics mechanism: a versioned
table's distinct counts come from the session-cached approx_count_distinct
pass over its head manifest's files, accurate against true distinct counts,
0 for an all-NULL column, and nothing is written beside the table."""

from __future__ import annotations

import os

from aws_flight_data_pipeline_spark.sources import table_stats as ts
from aws_flight_data_pipeline_spark.sources import versioned as vt
from aws_flight_data_pipeline_spark.sources.testdata import load_table

SF = "/root/testdata/sf0.001"


def test_ndv_accuracy_and_nulls(spark, tmp_path):
    path = str(tmp_path / "t")
    cols = ("o_orderkey", "o_custkey", "o_orderstatus")
    orders = load_table(spark, SF, "orders").select(*cols)
    vt.commit(orders.repartition(4), path)
    rel = ts._Relation("orders", path)
    assert rel.versioned is True

    est = rel.ndv(spark, cols)
    truth = {c: orders.select(c).distinct().count() for c in cols}
    for c, t in truth.items():
        # HLL++ error stays well inside 20%; the tiny-cardinality status
        # column is counted exactly
        assert abs(est[c] - t) <= max(0.2 * t, 1), (c, est[c], t)
    assert est["o_orderstatus"] == truth["o_orderstatus"]
    # the planner writes nothing beside the table
    assert not os.path.exists(os.path.join(path, "_stats"))


def test_all_null_column_is_zero(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, None) for i in range(100)], "id bigint, payload string"
    )
    vt.commit(df.repartition(2), path)
    assert ts._Relation("t", path).ndv(spark, ("payload",)) == {"payload": 0}
