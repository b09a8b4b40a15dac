"""Tests for the quarantine lifecycle (review/statistics/cleanup) and alert
evaluation operators (operators/quality.py, SURVEY §2.9 last rows)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aws_flight_data_pipeline_spark.operators.quality import (
    batch_quality_summary,
    evaluate_alerts,
    quarantine_cleanup_candidates,
    quarantine_statistics,
    score_quality,
)
from tests.flight_fixtures import NOW, PROCESSED_DDL, processed_rows


@pytest.fixture(scope="module")
def scored(spark):
    rows = processed_rows()
    # poison a slice so every quarantine reason fires
    for i, r in enumerate(rows):
        if i % 17 == 0:
            r["icao24"] = "NOT_HEX"            # invalid_identifier
        elif i % 19 == 0:
            r["latitude"] = None               # missing critical field
    df = spark.createDataFrame(rows, schema=PROCESSED_DDL)
    out = score_quality(df, NOW).cache()
    out.count()
    yield out
    out.unpersist()


def test_quarantine_statistics_reasons(scored):
    stats = {r["reason"]: r for r in quarantine_statistics(scored).collect()}
    assert "invalid_identifier" in stats
    assert "missing_critical_fields" in stats
    total_q = scored.filter(F.col("should_quarantine")).count()
    assert sum(r["record_count"] for r in stats.values()) == total_q
    for r in stats.values():
        assert r["oldest_record_ts"] <= r["newest_record_ts"]
        assert 0.0 <= r["avg_quality_score"] <= 1.0


def test_cleanup_candidates_filter(scored):
    q = scored.filter(F.col("should_quarantine"))
    # fixture data is ≤ ~1 day old: nothing expires at 30-day retention
    assert quarantine_cleanup_candidates(q, NOW, retention_days=30).count() == 0
    # everything expires with a cutoff in the future
    assert quarantine_cleanup_candidates(q, NOW + 40 * 86400, retention_days=30).count() == q.count()


def test_alert_evaluation(scored, spark):
    summary = batch_quality_summary(scored)
    alerts = {r["alert_name"]: r for r in evaluate_alerts(summary).collect()}
    assert set(alerts) == {
        "quarantine_rate_high",
        "quality_below_floor",
        "quality_drop_vs_previous",
    }
    # without a previous batch, the drop alert can't trigger
    assert alerts["quality_drop_vs_previous"]["triggered"] is False
    # with a much-better previous batch, the drop alert fires
    prev = summary.withColumn("avg_overall_quality", F.lit(0.99))
    alerts2 = {r["alert_name"]: r for r in evaluate_alerts(summary, prev).collect()}
    observed_rate = summary.collect()[0]["quarantine_rate"]
    assert alerts2["quarantine_rate_high"]["triggered"] == (observed_rate > 0.15)
    drop = 0.99 - summary.collect()[0]["avg_overall_quality"]
    assert alerts2["quality_drop_vs_previous"]["triggered"] == (drop > 0.10)
