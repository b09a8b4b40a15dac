"""Workload / cost monitoring — the reference's query-optimization layer,
Spark-first.

The reference polls Athena's execution history and mines the SQL TEXT with
regexes for anti-patterns (`cost-optimization/query-optimization/
query_optimizer.py:91-148` history collection, `:186-226` query
classification + partition/column extraction, `:276-331` partition-efficiency
analysis, `sql/athena/07_optimization_guide.sql:449-480` the manual audit
queries). On Spark the OPTIMIZED PHYSICAL PLAN is available directly, so this
monitor inspects what will actually execute instead of re-parsing SQL:
pushdown/pruning read from the scan node, join strategy from the join node,
shuffle count from the Exchanges — strictly more reliable than the
reference's text heuristics, and the recommendation classes mirror its report
(`QueryOptimizationReport`, `:59-67`).

Everything stays driver-side and tiny: per-query metric rows accumulate in a
list and become a DataFrame on demand — the workload history table a cost
dashboard reads, exactly analogous to the reference's report JSON.
"""

from __future__ import annotations

import contextlib
import io
import re
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


def _formatted_plan(df: DataFrame) -> str:
    """The formatted physical-plan string, Spark-Connect-safe: captured from
    ``df.explain("formatted")`` (which both classic and Connect sessions
    implement) instead of the ``spark._jvm`` py4j gateway (classic-only)."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@dataclass
class QueryMetrics:
    """One executed query's workload row (reference QueryMetrics, :18-29)."""

    name: str
    wall_seconds: float
    output_rows: int
    scan_count: int
    shuffle_count: int
    query_type: str
    pushed_filters: bool
    partition_filters: bool
    broadcast_joins: int
    sort_merge_joins: int
    cartesian_products: int
    recommendations: tuple[str, ...] = field(default_factory=tuple)


def _classify(plan: str) -> str:
    """Query-type classification off the physical plan (reference
    `_classify_query_type`, :186-199 — regex over SQL text; here the plan
    nodes state it directly)."""
    if "Join" in plan:
        return "join_query"
    if "HashAggregate" in plan or "SortAggregate" in plan or "ObjectHashAggregate" in plan:
        return "aggregate_query"
    if "Scan" in plan:
        return "scan_query"
    return "other"


def analyze_plan(plan: str) -> dict:
    """Extract the workload features the reference mines from SQL text
    (partition filters :201-219, projections :220-261) — read here from the
    optimized plan, where pushdown/pruning are facts, not guesses."""
    return {
        "scan_count": plan.count("Location: InMemoryFileIndex"),
        "shuffle_count": len(re.findall(r"Exchange (?:hash|range|single)partitioning", plan)),
        "query_type": _classify(plan),
        # a non-empty PushedFilters list on at least one scan
        "pushed_filters": bool(re.search(r"PushedFilters: \[[^\]]", plan)),
        "partition_filters": bool(re.search(r"PartitionFilters: \[[^\]]", plan)),
        "broadcast_joins": plan.count("BroadcastHashJoin"),
        "sort_merge_joins": plan.count("SortMergeJoin"),
        "cartesian_products": plan.count("CartesianProduct"),
    }


def recommend(features: dict, wall_seconds: float) -> tuple[str, ...]:
    """The reference's recommendation classes (report :59-67; partition
    analysis :276-331; the optimization-guide audit rules) evaluated against
    plan facts."""
    recs: list[str] = []
    if features["cartesian_products"]:
        recs.append("cartesian_product: add an equi-join key or broadcast the small side")
    if features["sort_merge_joins"] and not features["broadcast_joins"]:
        recs.append(
            "sort_merge_join_only: if one side is a dimension, broadcast() it "
            "to remove the fact-side shuffle"
        )
    if features["scan_count"] and not features["pushed_filters"]:
        recs.append(
            "no_pushed_filters: the scan reads every row group — add selective "
            "predicates on scan columns (partition columns first)"
        )
    if features["scan_count"] and not features["partition_filters"]:
        recs.append(
            "no_partition_pruning: no PartitionFilters on the scan — filter on "
            "the lake's partition columns (year/month/day/hour) to prune"
        )
    if features["shuffle_count"] >= 4:
        recs.append(
            "shuffle_heavy: %d exchanges — co-locate joins via bucketing or "
            "reuse one partitioning across stages" % features["shuffle_count"]
        )
    if wall_seconds > 30.0:
        recs.append("slow_query: exceeds the 30s interactive budget — consider caching or AQE review")
    return tuple(recs)


class WorkloadMonitor:
    """Accumulates per-query workload rows; `history()` returns them as a
    DataFrame (the cost-dashboard table). Use `run()` around any DataFrame
    materialization the way the reference wraps Athena executions."""

    def __init__(self, spark: SparkSession):
        self._spark = spark
        self._rows: list[QueryMetrics] = []
        self._plan_rows: list[tuple] = []

    def record_plan_facts(self, name: str, facts: dict) -> None:
        """Append a stats-planner decision (the facts dict that
        ``table_stats.plan_join_tree`` returns) to the monitor's
        planner-evidence table: one row per planned step with the chosen
        strategy and the System-R cardinality estimate that drove it. This
        is the piece the reference's optimizer report cannot have — its
        history is mined from SQL text after the fact; here the planner's
        own decisions land in the workload history as queryable rows."""
        fact_t = facts.get("fact_table")
        for i, s in enumerate(facts.get("steps", ())):
            a, ka, b, kb = s["edge"]
            self._plan_rows.append(
                (
                    name,
                    fact_t,
                    i,
                    f"{a}.{ka} = {b}.{kb}",
                    s["strategy"],
                    s.get("table"),
                    s.get("rows"),
                    s["est_rows_out"],
                )
            )

    def run_planned(self, name: str, df: DataFrame, facts: dict) -> QueryMetrics:
        """run() + record_plan_facts() in one call — the wrapper for a
        query whose plan came from the stats planner."""
        self.record_plan_facts(name, facts)
        return self.run(name, df)

    def plan_history(self) -> DataFrame:
        """Planner-decision evidence as a DataFrame (one row per planned
        join/filter step), the companion table to :meth:`history`."""
        return self._spark.createDataFrame(
            self._plan_rows,
            "name string, fact_table string, step int, edge string, "
            "strategy string, build_table string, build_rows long, "
            "est_rows_out long",
        )

    def run(self, name: str, df: DataFrame) -> QueryMetrics:
        plan = _formatted_plan(df)
        t0 = time.perf_counter()
        n = df.count()
        wall = time.perf_counter() - t0
        features = analyze_plan(plan)
        m = QueryMetrics(
            name=name,
            wall_seconds=round(wall, 3),
            output_rows=n,
            recommendations=recommend(features, wall),
            **features,
        )
        self._rows.append(m)
        return m

    def history(self) -> DataFrame:
        rows = [
            (
                m.name,
                m.wall_seconds,
                m.output_rows,
                m.scan_count,
                m.shuffle_count,
                m.query_type,
                m.pushed_filters,
                m.partition_filters,
                m.broadcast_joins,
                m.sort_merge_joins,
                m.cartesian_products,
                list(m.recommendations),
            )
            for m in self._rows
        ]
        return self._spark.createDataFrame(
            rows,
            "name string, wall_seconds double, output_rows long, scan_count int, "
            "shuffle_count int, query_type string, pushed_filters boolean, "
            "partition_filters boolean, broadcast_joins int, sort_merge_joins int, "
            "cartesian_products int, recommendations array<string>",
        )
