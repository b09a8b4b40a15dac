"""Incremental-view-maintenance queries: the maintained rollup vs a full
recompute, verified cross-engine.

Companion plan surface for :mod:`..sources.ivm`. The builder drives a real
maintenance episode — initial load, append increment, range DELETE,
MERGE-style update — refreshing the rollup after every step from the
versioned table's change feed (never rescanning the fact table), then
returns the maintained view. The oracle computes the SAME final state
directly in SQL, so parity proves the incremental path converges to the
full recompute under inserts, deletes, AND updates — the invariant the
reference's view refresh gets by re-running the defining query wholesale
(``sql/athena/06_create_summary_views.sql``, ``07_optimization_guide.sql:
529-571``).

Churn script (deterministic at any scale; ``cut`` = v0 subset's max
orderkey // 3, observed during the load commit — no standalone job):

1. v0 load: orders with ``o_orderkey % 4 != 0``  → full rollup build
2. append: orders with ``o_orderkey % 8 == 4``   → insert-only increment
3. DELETE ``o_orderkey in [1, cut]``             → retraction increment
4. MERGE: double the cents of surviving ``o_orderkey % 100 == 1`` rows
   → update (delete+insert pair in the change feed, count-neutral)

Final state = ``o_orderkey % 8 != 0 AND o_orderkey > cut`` with the %100
rows doubled — what the oracle aggregates.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from aws_flight_data_pipeline_spark.functions import tmproots
from aws_flight_data_pipeline_spark.plans.registry import builder, query
from aws_flight_data_pipeline_spark.sources import ivm
from aws_flight_data_pipeline_spark.sources import versioned as vt
from aws_flight_data_pipeline_spark.sources.testdata import load_table

#: Wall-clock per lifecycle step of the LAST ``ivm_incremental_view`` run —
#: the bench harness copies this into its sidecar so the 8-step episode is
#: graded at step grain, not as one opaque number.
LAST_STEP_SECONDS: dict[str, float] = {}


@builder(
    "ivm_incremental_view",
    tags=("ivm", "versioned", "change-feed", "scale"),
    doc="Exactly-once incremental view maintenance: a (priority -> count, "
    "cents-exact revenue) rollup maintained through a full load, an append, "
    "a range DELETE, and a MERGE update, refreshed per step from the net "
    "change feed (scan cost = churned files, never the fact table; the "
    "cursor rides the rollup's own commit manifest so crash-replay cannot "
    "double-apply). The oracle recomputes the final fact state wholesale — "
    "parity proves increment == recompute under all three change types.",
    oracle="""
        WITH base AS (
            SELECT o_orderkey, o_orderpriority AS grp,
                   CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
            FROM orders
        ), cutoff AS (
            SELECT (MAX(o_orderkey) FILTER (WHERE o_orderkey % 4 <> 0)) // 3
                AS cut FROM orders
        ), final AS (
            SELECT grp,
                   CASE WHEN o_orderkey % 100 = 1 THEN cents * 2
                        ELSE cents END AS cents
            FROM base, cutoff
            WHERE o_orderkey % 8 <> 0 AND o_orderkey > cut
        )
        SELECT grp,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(cents) AS BIGINT) AS sum_cents
        FROM final
        GROUP BY grp
        ORDER BY grp
    """,
)
def ivm_incremental_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderpriority").alias("grp"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )

    root = tmproots.fresh("ivm", sf_dir)
    fact, rollup = f"{root}/fact", f"{root}/rollup"

    steps = LAST_STEP_SECONDS
    steps.clear()
    _t0 = time.perf_counter()

    def mark(step: str) -> None:
        nonlocal _t0
        now = time.perf_counter()
        steps[step] = round(now - _t0, 3)
        _t0 = now

    def refresh(step: str) -> None:
        ivm.refresh_view(
            spark, fact, rollup, group_cols=("grp",), sum_cols=("cents",)
        )
        mark(step)

    # 1. initial load (key-clustered into multiple files so the later
    #    DELETE/MERGE actually exercise manifest-stats file pruning). The
    #    churn cutoff rides the load as an OBSERVED metric — no separate
    #    max() job; // matches the oracle's integer division.
    obs_max = Observation()
    vt.commit(
        base.where(F.col("o_orderkey") % 4 != 0)
        .observe(obs_max, F.max("o_orderkey").alias("mx"))
        .repartitionByRange(4, "o_orderkey"),
        fact,
        stats_cols=("o_orderkey",),
    )
    cut = int(obs_max.get["mx"]) // 3
    mark("load")
    refresh("refresh_full")
    # 2. append-only increment
    vt.commit(
        base.where(F.col("o_orderkey") % 8 == 4).repartitionByRange(2, "o_orderkey"),
        fact,
        mode="append",
        stats_cols=("o_orderkey",),
    )
    mark("append")
    refresh("refresh_insert")
    # 3. range delete -> retractions
    vt.delete_where(spark, fact, {"o_orderkey": (1, cut)})
    mark("delete")
    refresh("refresh_retract")
    # 4. MERGE update (count-neutral, sum-shifting)
    vt.merge_into(
        spark,
        fact,
        base.where((F.col("o_orderkey") % 100 == 1) & (F.col("o_orderkey") > cut))
        .withColumn("cents", F.col("cents") * 2),
        on=("o_orderkey",),
    )
    mark("merge")
    refresh("refresh_update")

    return (
        ivm.read_view(spark, rollup)
        .select("grp", "n_rows", F.col("sum_cents").cast("bigint").alias("sum_cents"))
        .orderBy("grp")
    )


@query(
    "ivm_single_increment",
    tags=("ivm", "versioned", "change-feed", "scale"),
    doc="The steady-state IVM operation a user actually pays for, timed at "
    "its own grain (the 8-step lifecycle episode stays a builder): ONE "
    "append against a pre-built maintained rollup, then ONE incremental "
    "refresh that consumes only the appended files from the change feed — "
    "scan cost = the increment, never the fact table. The oracle "
    "recomputes the post-increment state wholesale, so parity proves the "
    "single increment converges to the full recompute.",
    oracle="""
        SELECT o_orderpriority AS grp,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS sum_cents
        FROM orders
        WHERE o_orderkey % 8 <> 0
        GROUP BY grp
        ORDER BY grp
    """,
)
def ivm_single_increment(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderpriority").alias("grp"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )

    def build_base(pristine: str) -> None:
        # everything except the increment (and the % 8 == 0 rows, so the
        # final state has a closed form the oracle can state)
        vt.commit(
            base.where(
                (F.col("o_orderkey") % 8 != 0) & (F.col("o_orderkey") % 8 != 4)
            ).repartitionByRange(4, "o_orderkey"),
            f"{pristine}/fact",
            stats_cols=("o_orderkey",),
        )
        ivm.refresh_view(
            spark, f"{pristine}/fact", f"{pristine}/rollup",
            group_cols=("grp",), sum_cols=("cents",),
        )

    pristine = tmproots.standing("ivm-pristine", sf_dir, build_base)
    root = tmproots.fresh("ivm-single", sf_dir, like=pristine)
    fact, rollup = f"{root}/fact", f"{root}/rollup"

    # THE measured operation: one append + one O(churn) refresh. Hash-
    # clustered increment (repartitionByRange's sampling job re-evaluates
    # the filtered orders scan, and this grain has no later range op that
    # would prune the appended files; the lifecycle EPISODE keeps range
    # appends because its DELETE step is the pruning demo).
    vt.commit(
        base.where(F.col("o_orderkey") % 8 == 4).repartition(2, "o_orderkey"),
        fact,
        mode="append",
        stats_cols=("o_orderkey",),
    )
    ivm.refresh_view(spark, fact, rollup, group_cols=("grp",), sum_cols=("cents",))

    return (
        ivm.read_view(spark, rollup)
        .select("grp", "n_rows", F.col("sum_cents").cast("bigint").alias("sum_cents"))
        .orderBy("grp")
    )
