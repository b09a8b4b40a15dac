"""Stats-driven multi-join planning: the ANALYZE tier (footer row counts +
per-column HLL NDV) ordering and strategizing a TPC-H Q5-shaped six-table
join over versioned tables.

The reference hand-tunes join order and broadcast choice per query in SQL
(``sql/athena/07_optimization_guide.sql:193-234`` — filter before join,
put the small table on the build side); Catalyst automates that for plain
parquet scans but its size-in-bytes estimates are wrong for manifest-pinned
file lists (a versioned table's scan relation reports whatever files the
manifest listed, with no NDV knowledge at all). ``plan_join_tree``
(:mod:`..sources.table_stats`) closes that gap from maintained statistics:
exact footer row counts pick the fact table and the per-edge build side,
HLL NDV drives the System-R output-cardinality estimate that orders the
remaining joins greedily, and a cycle-closing predicate (Q5's
``c_nationkey = s_nationkey``) is deferred to a post-join filter instead of
ever driving a fan-out join through a 25-value key.

The builder runs the full episode — commit six projected versioned tables,
ANALYZE the join keys (O(uncovered files), incremental by contract), plan,
execute — and the oracle recomputes the same aggregate from the raw tables
wholesale, so parity proves the stats-planned tree computes exactly the
un-hinted join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aws_flight_data_pipeline_spark.functions import tmproots
from aws_flight_data_pipeline_spark.plans.registry import builder, query
from aws_flight_data_pipeline_spark.sources import table_stats as ts
from aws_flight_data_pipeline_spark.sources import versioned as vt
from aws_flight_data_pipeline_spark.sources.testdata import load_table

#: Plan-facts of the LAST ``stats_planned_join_tree`` run (fact table, join
#: order, per-step cardinality estimates, broadcast decisions) — the
#: monitor-format evidence the plan tests and the bench sidecar read.
LAST_PLAN_FACTS: dict = {}

#: Dimensions broadcast under this row count; the two fact tables
#: (lineitem, orders at sf0.1) stay above it so their edge remains the one
#: shuffled join — the shape that survives a 100x scale-up, where every
#: dim stays KB–MB but both facts grow with the data.
_BROADCAST_ROWS = 100_000

#: (source table, projected columns) per planner table — projection keeps
#: the committed versioned copies narrow (the planner reads them whole).
_TABLES = {
    "lineitem": ("lineitem", ("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"), 4),
    "orders": ("orders", ("o_orderkey", "o_custkey", "o_orderdate"), 4),
    "customer": ("customer", ("c_custkey", "c_nationkey"), 2),
    "supplier": ("supplier", ("s_suppkey", "s_nationkey"), 2),
    "nation": ("nation", ("n_nationkey", "n_regionkey", "n_name"), 1),
    "region": ("region", ("r_regionkey", "r_name"), 1),
}

#: Q5's join graph, cycle included: the c_nationkey = s_nationkey edge is
#: what makes Q5 cyclic — the planner must apply it as a filter once both
#: sides are joined, never as a fan-out join through a 25-value key.
_EDGES = [
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
    ("customer", "c_nationkey", "supplier", "s_nationkey"),
]


def _ensure_tables(spark: SparkSession, sf_dir: str) -> dict[str, str]:
    """The six projected versioned tables for ``sf_dir``: a standing root
    (:func:`tmproots.standing`), committed once per session and reused by
    later invocations — lake tables are durable state a user pays for
    when the lake is loaded, not per query."""

    def build(root: str) -> None:
        for name, (tbl, cols, n_files) in _TABLES.items():
            stats_cols = ("r_name",) if name == "region" else ()
            vt.commit(
                load_table(spark, sf_dir, tbl).select(*cols).repartition(n_files),
                f"{root}/{name}",
                stats_cols=stats_cols,
            )

    root = tmproots.standing("planner", sf_dir, build)
    return {name: f"{root}/{name}" for name in _TABLES}


def build_planned_join(spark: SparkSession, sf_dir: str):
    """Ensure the six projected versioned tables, ANALYZE the join keys
    (a no-op top-up after the first call), and return ``(joined_df,
    plan_facts)`` from :func:`ts.plan_join_tree`. The Q5 region filter
    rides the planner's ``filters`` input — filter-before-join as a
    planning decision, not a hand-placed ``.where``. Shared by the
    builder query and the plan-shape tests."""
    paths = _ensure_tables(spark, sf_dir)
    df, facts = ts.plan_join_tree(
        spark,
        paths,
        list(_EDGES),
        broadcast_threshold_rows=_BROADCAST_ROWS,
        filters={"region": {"r_name": ("ASIA", "ASIA")}},
    )
    LAST_PLAN_FACTS.clear()
    LAST_PLAN_FACTS.update(facts)
    return df, facts


@builder(
    "stats_planned_join_tree",
    tags=("join", "planner", "stats", "versioned", "scale"),
    doc="TPC-H Q5-shaped six-table join over VERSIONED tables, ordered and "
    "strategized by the ANALYZE tier instead of Catalyst's size guesses: "
    "footer row counts pick lineitem as the fact (never broadcast) and "
    "broadcast every true dimension; HLL NDV estimates order the edges "
    "most-reducing-first; the cyclic c_nationkey = s_nationkey predicate "
    "lands as a post-join filter (greedy defers it — joining through a "
    "25-value key would fan out ~40x, and the estimator sees that). "
    "Revenue rides the cents-exact discipline. Oracle = the same "
    "aggregate computed wholesale from the raw tables, so parity proves "
    "the planned tree equals the un-hinted join.",
    oracle="""
        SELECT n_name AS nation,
               CAST(COUNT(*) AS BIGINT) AS n_items,
               CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                        * (100 - CAST(ROUND(l_discount * 100) AS BIGINT)))
                    AS BIGINT) / 10000.0 AS revenue
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation   ON c_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
        GROUP BY n_name
        ORDER BY nation
    """,
)
def stats_planned_join_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the ASIA filter is a PLANNER input (filters=...), already applied
    # stats-scoped inside build_planned_join — no .where here
    df, _ = build_planned_join(spark, sf_dir)
    cents = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    disc = F.round(F.col("l_discount") * 100).cast("bigint")
    return (
        df.groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count("*").alias("n_items"),
            (F.sum(cents * (100 - disc)).cast("bigint") / 10000.0).alias("revenue"),
        )
        .orderBy("nation")
    )


@query(
    "multiway_join_revenue_planned",
    tags=("join", "planner", "stats", "versioned", "multiway"),
    doc="The PRODUCTION Q5 path driven by the planner instead of hand-placed "
    "broadcasts: identical output contract to the registered "
    "multiway_join_revenue (nation x order-year revenue + distinct order "
    "counts, cents-exact), but join order and per-edge strategy come from "
    "plan_join_tree over the committed versioned tables — footer counts pick "
    "lineitem as the fact, HLL NDV orders the edges, every true dimension "
    "broadcasts, the cyclic local-supplier predicate lands as a post-join "
    "filter, and the region filter is a planner input (stats-scoped read), "
    "not a .where. Oracle = multiway_join_revenue's oracle verbatim, so "
    "parity proves the planner-driven tree computes exactly the hand-tuned "
    "production query. The plan-shape test additionally pins that both "
    "plans share the same strategy skeleton (>= 4 broadcasts, exactly one "
    "shuffled fact-fact join).",
    oracle="""
        SELECT n_name AS nation,
               CAST(year(o_orderdate) AS INT) AS order_year,
               CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                        * (100 - CAST(ROUND(l_discount * 100) AS BIGINT)))
                    AS BIGINT) / 10000.0 AS revenue,
               CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_orders
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
        GROUP BY n_name, 2
        ORDER BY nation, order_year
    """,
)
def multiway_join_revenue_planned(spark: SparkSession, sf_dir: str) -> DataFrame:
    df, _ = build_planned_join(spark, sf_dir)
    cents = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    disc = F.round(F.col("l_discount") * 100).cast("bigint")
    return (
        df.groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("order_year"),
        )
        .agg(
            (F.sum(cents * (100 - disc)).cast("bigint") / 10000.0).alias("revenue"),
            F.countDistinct("o_orderkey").alias("n_orders"),
        )
        .orderBy("nation", "order_year")
    )


#: Q8's planner inputs — RAW testdata parquet, no commit step: the planner's
#: plain-parquet tier (footer row counts via file listing, NDV on demand)
#: plans production queries straight off the lake's raw files. ``nation``
#: joins twice under two roles, so each role registers its own aliased
#: projection and every output column stays globally unique.
def _q8_tables(sf_dir: str) -> dict:
    t = lambda name: f"{sf_dir}/{name}.parquet"  # noqa: E731
    return {
        "lineitem": {
            "path": t("lineitem"),
            "select": {
                "l_orderkey": "l_orderkey",
                "l_partkey": "l_partkey",
                "l_suppkey": "l_suppkey",
                "l_extendedprice": "l_extendedprice",
                "l_discount": "l_discount",
            },
        },
        "orders": {
            "path": t("orders"),
            "select": {
                "o_orderkey": "o_orderkey",
                "o_custkey": "o_custkey",
                "o_orderdate": "o_orderdate",
            },
        },
        "part": {"path": t("part"), "select": {"p_partkey": "p_partkey"}},
        "customer": {
            "path": t("customer"),
            "select": {"c_custkey": "c_custkey", "c_nationkey": "c_nationkey"},
        },
        "supplier": {
            "path": t("supplier"),
            "select": {"s_suppkey": "s_suppkey", "s_nationkey": "s_nationkey"},
        },
        "nation_c": {
            "path": t("nation"),
            "select": {"n_nationkey": "nc_nationkey", "n_regionkey": "nc_regionkey"},
        },
        "nation_s": {
            "path": t("nation"),
            "select": {"n_nationkey": "ns_nationkey", "n_name": "supp_nation"},
        },
        "region": {"path": t("region"), "select": {"r_regionkey": "r_regionkey"}},
    }


#: Q8's join graph as the equi-join predicates a SQL frontend's ON
#: conjunction yields — the planner derives the edge list itself
#: (edges_from_predicates), nothing is hand-built.
_Q8_PREDICATES = [
    "l_partkey = p_partkey",
    "l_orderkey = o_orderkey",
    "o_custkey = c_custkey",
    "c_nationkey = nc_nationkey",
    "nc_regionkey = r_regionkey",
    "l_suppkey = s_suppkey",
    "s_nationkey = ns_nationkey",
]


def build_planned_q8(
    spark: SparkSession, sf_dir: str, broadcast_threshold_rows: int = _BROADCAST_ROWS
):
    """Plan and build Q8's eight-way join (nation twice) from raw parquet:
    edges derived from ``_Q8_PREDICATES``, row counts from file-listing
    footers (date/type/region filters prune row groups where stats allow
    and always apply as row filters), NDV from the session-cached
    on-demand ANALYZE. Filters name SOURCE columns — ``p_type`` and
    ``r_name`` are filter-only columns the projections then drop.
    ``o_orderdate`` bounds are inclusive; the testdata generator emits
    date-truncated timestamps, so ``<= 1997-12-31 23:59:59.999999``
    equals the oracle's ``< 1998-01-01``. Returns ``(df, facts)``."""
    import datetime as _dt

    filters = {
        "part": {"p_type": ("ECONOMY", "ECONOMY")},
        "region": {"r_name": ("ASIA", "ASIA")},
        "orders": {
            "o_orderdate": (
                _dt.datetime(1996, 1, 1),
                _dt.datetime(1997, 12, 31, 23, 59, 59, 999999),
            )
        },
    }
    df, facts = ts.plan_join_tree(
        spark,
        _q8_tables(sf_dir),
        predicates=_Q8_PREDICATES,
        broadcast_threshold_rows=broadcast_threshold_rows,
        filters=filters,
    )
    return df, facts


@query(
    "nation_market_share_planned",
    tags=("join", "planner", "stats", "tpch-q8", "multiway"),
    doc="The SECOND planner consumer (verdict-r10 #4): TPC-H Q8's "
    "eight-way join (nation twice, under aliased projections) served by "
    "plan_join_tree over RAW PARQUET — no versioned commit, no hand-built "
    "edge list, no hand-placed broadcasts. Edges come from equi-join "
    "predicate strings, row counts from file-listing footers, NDV from "
    "the on-demand session-cached ANALYZE, and the part-type / region / "
    "order-date filters are planner inputs applied before projection. "
    "Output contract identical to the hand-tuned nation_market_share; "
    "oracle verbatim, so parity proves the planner-driven tree computes "
    "exactly the hand-tuned production query.",
    oracle="""
        SELECT CAST(year(o_orderdate) AS INT) AS order_year,
               CAST(SUM(CASE WHEN ns.n_name = 'NATION_5' THEN
                        CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                        * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))
                      ELSE 0 END) AS BIGINT) AS nation_volume_e4,
               CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                        * (100 - CAST(ROUND(l_discount * 100) AS BIGINT)))
                    AS BIGINT) AS total_volume_e4,
               CAST(ROUND(1000000.0
                    * SUM(CASE WHEN ns.n_name = 'NATION_5' THEN
                            CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                            * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))
                          ELSE 0 END)
                    / SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                          * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))))
                    AS BIGINT) AS share_ppm
        FROM lineitem
        JOIN part     ON p_partkey = l_partkey
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation nc ON nc.n_nationkey = c_nationkey
        JOIN region   ON r_regionkey = nc.n_regionkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN nation ns ON ns.n_nationkey = s_nationkey
        WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1998-01-01'
        GROUP BY 1
        ORDER BY order_year
    """,
)
def nation_market_share_planned(spark: SparkSession, sf_dir: str) -> DataFrame:
    df, _ = build_planned_q8(spark, sf_dir)
    rev = F.round(F.col("l_extendedprice") * 100).cast("bigint") * (
        100 - F.round(F.col("l_discount") * 100).cast("bigint")
    )
    return (
        df.groupBy(F.year("o_orderdate").alias("order_year"))
        .agg(
            F.sum(F.when(F.col("supp_nation") == "NATION_5", rev).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("nation_volume_e4"),
            F.sum(rev).cast("bigint").alias("total_volume_e4"),
        )
        .select(
            "order_year",
            "nation_volume_e4",
            "total_volume_e4",
            F.round(
                F.lit(1_000_000.0)
                * F.col("nation_volume_e4")
                / F.col("total_volume_e4")
            )
            .cast("bigint")
            .alias("share_ppm"),
        )
        .orderBy("order_year")
    )


@query(
    "returned_item_customers_planned",
    tags=("join", "planner", "stats", "tpch-q10", "topk"),
    doc="The planner's THIRD consumer — TPC-H Q10 from raw parquet with "
    "predicate-derived edges and planner-input filters (l_returnflag on "
    "the FACT side, the quarter's date range on orders): plan_join_tree "
    "picks lineitem as the fact from footer counts, broadcasts every "
    "dimension, and the builder applies only the aggregation and the "
    "deterministic top-20 cut (revenue cents desc, custkey). Oracle "
    "verbatim from the hand-tuned returned_item_customers, so parity "
    "proves the planned tree computes exactly the production query.",
    oracle="""
        SELECT c_custkey, c_name, n_name AS nation,
               CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                        * (100 - CAST(ROUND(l_discount * 100) AS BIGINT)))
                    AS BIGINT) / 10000.0 AS revenue
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN nation   ON n_nationkey = c_nationkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1996-04-01'
        GROUP BY c_custkey, c_name, n_name
        ORDER BY SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                     * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) DESC,
                 c_custkey
        LIMIT 20
    """,
)
def returned_item_customers_planned(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime as _dt

    t = lambda name: f"{sf_dir}/{name}.parquet"  # noqa: E731
    tables = {
        "lineitem": {
            "path": t("lineitem"),
            "select": {
                "l_orderkey": "l_orderkey",
                "l_extendedprice": "l_extendedprice",
                "l_discount": "l_discount",
            },
        },
        "orders": {
            "path": t("orders"),
            "select": {"o_orderkey": "o_orderkey", "o_custkey": "o_custkey"},
        },
        "customer": {
            "path": t("customer"),
            "select": {
                "c_custkey": "c_custkey",
                "c_name": "c_name",
                "c_nationkey": "c_nationkey",
            },
        },
        "nation": {
            "path": t("nation"),
            "select": {"n_nationkey": "n_nationkey", "n_name": "n_name"},
        },
    }
    df, _ = ts.plan_join_tree(
        spark,
        tables,
        predicates=[
            "l_orderkey = o_orderkey",
            "o_custkey = c_custkey",
            "c_nationkey = n_nationkey",
        ],
        broadcast_threshold_rows=_BROADCAST_ROWS,
        filters={
            "lineitem": {"l_returnflag": ("R", "R")},
            "orders": {
                "o_orderdate": (
                    _dt.datetime(1996, 1, 1),
                    _dt.datetime(1996, 3, 31, 23, 59, 59, 999999),
                )
            },
        },
    )
    rev = F.round(F.col("l_extendedprice") * 100).cast("bigint") * (
        100 - F.round(F.col("l_discount") * 100).cast("bigint")
    )
    return (
        df.groupBy("c_custkey", "c_name", F.col("n_name").alias("nation"))
        .agg(F.sum(rev).cast("bigint").alias("rev_e4"))
        .orderBy(F.desc("rev_e4"), "c_custkey")
        .limit(20)
        .select(
            "c_custkey",
            "c_name",
            "nation",
            (F.col("rev_e4") / 10000.0).alias("revenue"),
        )
    )
