"""Relational analytical query inventory (SURVEY.md §2.2–§2.7 surface).

Each query re-expresses one operator family from the reference's Athena corpus
(`/root/reference/sql/athena/04–07*.sql`) as an idiomatic Spark DataFrame plan
over the driver's TPC-H-ish tables, paired with a DuckDB oracle.

Round-2 consolidation: the driver's correctness gate verifies at most the
first 50 registered queries, so single-operator demos that share a table and
grain are merged into profile/suite queries (every operator keeps its own
column or section — nothing was dropped, see each query's doc).

Cross-engine value discipline (the round-1 driver lessons, see
tests/test_oracle_parity.py):
- every integer SUM in an oracle is CAST(... AS BIGINT) — DuckDB's SUM(int)
  is HUGEINT, which the driver's type-sensitive hash rejects;
- no ``ROUND(AVG(x), 4)`` of low-decimal data — Spark rounds the shortest
  decimal string up while DuckDB rounds the binary double down on exact 4-dp
  half-boundaries. Averages are emitted as unrounded quotients of exactly
  computed integers (cents/tenths encodings), which are bit-identical doubles
  in both engines; integer-scale rounding (``CAST(ROUND(x*10^k) AS BIGINT)``)
  is used where quantization is needed (the .5 boundary is representable, and
  both engines round it away from zero).

Scale notes (100 TB posture):
- Dimension joins use explicit ``broadcast()`` hints — nation/region/customer
  style dims stay small at any fact-table scale, so no shuffle on the fact side.
- The band/theta join pre-filters with an equi-join key before applying the
  band predicate — the reference's ±1° airport-proximity pattern
  (`05_analytical_queries_part2.sql:145-196`) — keeping it a partitioned hash
  join instead of a cartesian product.
- Aggregations are plain groupBy().agg() → Spark's partial (map-side) + final
  hash aggregate; no driver-side collection anywhere.
- Top-k uses orderBy().limit() which Spark plans as TakeOrderedAndProject
  (per-partition heap + driver merge, no global sort).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from aws_flight_data_pipeline_spark.plans.registry import builder, query
from aws_flight_data_pipeline_spark.sources.testdata import load_table


def _r4(c):
    return F.round(c, 4)


def _cents_sum(col):
    """Exact integer-cents total of a 2-decimal column (order-independent)."""
    return F.sum(F.round(F.col(col) * 100).cast("long"))


# ---------------------------------------------------------------------------
# Aggregations (SURVEY §2.4)
# ---------------------------------------------------------------------------


@query(
    "pricing_summary",
    tags=("agg", "filter", "flagship"),
    doc="TPC-H Q1-shaped scan→filter→hash-agg; covers the reference's batch "
    "summary aggregations (flight_data_processor.py:193-275).",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               ROUND(SUM(l_quantity), 4)                          AS sum_qty,
               ROUND(SUM(l_extendedprice), 4)                     AS sum_base_price,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 4)  AS sum_disc_price,
               ROUND(AVG(l_quantity), 4)                          AS avg_qty,
               ROUND(AVG(l_extendedprice), 4)                     AS avg_price,
               ROUND(AVG(l_discount), 4)                          AS avg_disc,
               COUNT(*)                                           AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2025-09-01 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2025-09-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _r4(F.sum("l_quantity")).alias("sum_qty"),
            _r4(F.sum("l_extendedprice")).alias("sum_base_price"),
            _r4(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("sum_disc_price"),
            _r4(F.avg("l_quantity")).alias("avg_qty"),
            _r4(F.avg("l_extendedprice")).alias("avg_price"),
            _r4(F.avg("l_discount")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "order_status_profile",
    tags=("agg", "pivot", "distinct", "approx", "window"),
    doc="Per-status order profile merging four §2.4 operator demos on one "
    "grain (orders × o_orderstatus): COUNT DISTINCT (exact), conditional "
    "SUM(CASE)/COUNT(CASE) pivot counts (04_analytical_queries.sql:47-63), "
    "ratio-of-total via windowed SUM (04:102), and the at-scale "
    "approx_count_distinct (07:132-133) verified against the exact count as a "
    "relative-error bound (the HLL value itself is engine-specific, the "
    "±15 %% contract is not). pct_of_total is an unrounded quotient of exact "
    "counts — bit-identical in both engines.",
    oracle="""
        WITH agg AS (
            SELECT o_orderstatus,
                   COUNT(*) AS total_orders,
                   COUNT(DISTINCT o_custkey)       AS unique_customers,
                   COUNT(DISTINCT o_orderpriority) AS unique_priorities,
                   CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS urgent_count,
                   CAST(SUM(CASE WHEN o_orderpriority = '2-HIGH'   THEN 1 ELSE 0 END) AS BIGINT) AS high_count,
                   CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS normal_count,
                   COUNT(CASE WHEN o_totalprice > 100000 THEN 1 END) AS big_ticket_count
            FROM orders
            GROUP BY o_orderstatus
        )
        SELECT o_orderstatus, total_orders, unique_customers, unique_priorities,
               urgent_count, high_count, normal_count, big_ticket_count,
               CAST(100 AS DOUBLE) * total_orders / SUM(total_orders) OVER () AS pct_of_total,
               TRUE AS approx_customers_ok
        FROM agg
        ORDER BY o_orderstatus
    """,
)
def order_status_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    urgent = F.col("o_orderpriority") == "1-URGENT"
    high = F.col("o_orderpriority") == "2-HIGH"
    agg = o.groupBy("o_orderstatus").agg(
        F.count("*").alias("total_orders"),
        F.countDistinct("o_custkey").alias("unique_customers"),
        F.countDistinct("o_orderpriority").alias("unique_priorities"),
        F.sum(F.when(urgent, 1).otherwise(0)).alias("urgent_count"),
        F.sum(F.when(high, 1).otherwise(0)).alias("high_count"),
        F.sum(F.when(urgent | high, 0).otherwise(1)).alias("normal_count"),
        F.count(F.when(F.col("o_totalprice") > 100000, 1)).alias("big_ticket_count"),
        F.approx_count_distinct("o_custkey").alias("_approx_cust"),
    )
    w = Window.partitionBy()
    return (
        agg.withColumn(
            "pct_of_total",
            100.0 * F.col("total_orders") / F.sum("total_orders").over(w),
        )
        .withColumn(
            "approx_customers_ok",
            F.abs(F.col("_approx_cust") - F.col("unique_customers"))
            <= 0.15 * F.col("unique_customers"),
        )
        .drop("_approx_cust")
        .orderBy("o_orderstatus")
    )


@query(
    "distribution_stats",
    tags=("agg", "percentile", "histogram", "having", "approx"),
    doc="Distribution-profiling suite in long (section, grp, metric, value) "
    "form, merging three §2.4 operator demos: exact interpolated percentiles "
    "p25/p50/p75/p95 + stddev per returnflag (the APPROX_PERCENTILE surface, "
    "04:119-120, 06:39-48) with the at-scale percentile_approx verified as a "
    "5 %% relative-error bound; the Athena histogram(col, n) rewrite — fixed-"
    "width buckets + counts (07:163-164); and GROUP BY ... HAVING count "
    "floors (04:390, 05:62) with cents-exact averages. Three independent "
    "aggregates union'd — each is one hash-agg pass; counts travel as exact "
    "integer-valued doubles.",
    oracle="""
        WITH pct AS (
            SELECT l_returnflag AS grp,
                   ROUND(quantile_cont(l_extendedprice, 0.25), 4) AS p25_price,
                   ROUND(quantile_cont(l_extendedprice, 0.50), 4) AS p50_price,
                   ROUND(quantile_cont(l_extendedprice, 0.75), 4) AS p75_price,
                   ROUND(quantile_cont(l_extendedprice, 0.95), 4) AS p95_price,
                   ROUND(STDDEV_SAMP(l_extendedprice), 4)         AS price_stddev
            FROM lineitem GROUP BY 1
        ), hist AS (
            SELECT CAST(CAST(FLOOR(l_quantity / 5.0) AS BIGINT) AS VARCHAR) AS grp,
                   CAST(COUNT(*) AS DOUBLE)  AS bucket_count,
                   MIN(l_quantity)           AS bucket_min,
                   MAX(l_quantity)           AS bucket_max
            FROM lineitem GROUP BY 1
        ), brands AS (
            SELECT p_brand AS grp,
                   CAST(COUNT(*) AS DOUBLE) AS part_count,
                   CAST(SUM(CAST(ROUND(p_retailprice * 100) AS BIGINT)) AS DOUBLE)
                       / (100.0 * COUNT(*)) AS avg_price,
                   MIN(p_retailprice) AS min_price,
                   MAX(p_retailprice) AS max_price
            FROM part GROUP BY 1 HAVING COUNT(*) >= 5
        )
        SELECT 'percentile' AS section, grp, 'p25_price' AS metric, p25_price AS value FROM pct
        UNION ALL SELECT 'percentile', grp, 'p50_price', p50_price FROM pct
        UNION ALL SELECT 'percentile', grp, 'p75_price', p75_price FROM pct
        UNION ALL SELECT 'percentile', grp, 'p95_price', p95_price FROM pct
        UNION ALL SELECT 'percentile', grp, 'price_stddev', price_stddev FROM pct
        UNION ALL SELECT 'percentile', grp, 'p50_approx_ok', 1.0 FROM pct
        UNION ALL SELECT 'histogram', grp, 'bucket_count', bucket_count FROM hist
        UNION ALL SELECT 'histogram', grp, 'bucket_min', bucket_min FROM hist
        UNION ALL SELECT 'histogram', grp, 'bucket_max', bucket_max FROM hist
        UNION ALL SELECT 'brand_having', grp, 'part_count', part_count FROM brands
        UNION ALL SELECT 'brand_having', grp, 'avg_price', avg_price FROM brands
        UNION ALL SELECT 'brand_having', grp, 'min_price', min_price FROM brands
        UNION ALL SELECT 'brand_having', grp, 'max_price', max_price FROM brands
        ORDER BY section, grp, metric
    """,
)
def distribution_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")

    def _melt(df: DataFrame, section: str, metrics: list[str]) -> DataFrame:
        entries = F.array(
            *[
                F.struct(F.lit(m).alias("metric"), F.col(m).cast("double").alias("value"))
                for m in metrics
            ]
        )
        return df.select(
            F.lit(section).alias("section"),
            F.col("grp"),
            F.explode(entries).alias("e"),
        ).select("section", "grp", "e.metric", "e.value")

    pct = (
        li.groupBy(F.col("l_returnflag").alias("grp"))
        .agg(
            F.percentile(
                "l_extendedprice", F.array(F.lit(0.25), F.lit(0.50), F.lit(0.75), F.lit(0.95))
            ).alias("ps"),
            _r4(F.stddev_samp("l_extendedprice")).alias("price_stddev"),
            F.percentile_approx("l_extendedprice", 0.5).alias("_approx_p50"),
        )
        .select(
            "grp",
            _r4(F.element_at("ps", 1)).alias("p25_price"),
            _r4(F.element_at("ps", 2)).alias("p50_price"),
            _r4(F.element_at("ps", 3)).alias("p75_price"),
            _r4(F.element_at("ps", 4)).alias("p95_price"),
            "price_stddev",
            # the HLL-style contract check: approx median within 5% of exact
            F.when(
                F.abs(F.col("_approx_p50") - F.element_at("ps", 2))
                <= 0.05 * F.element_at("ps", 2),
                1.0,
            )
            .otherwise(0.0)
            .alias("p50_approx_ok"),
        )
    )
    hist = (
        li.withColumn("bucket", F.floor(F.col("l_quantity") / 5.0))
        .groupBy(F.col("bucket").cast("string").alias("grp"))
        .agg(
            F.count("*").cast("double").alias("bucket_count"),
            F.min("l_quantity").alias("bucket_min"),
            F.max("l_quantity").alias("bucket_max"),
        )
    )
    brands = (
        p.groupBy(F.col("p_brand").alias("grp"))
        .agg(
            F.count("*").alias("cnt"),
            _cents_sum("p_retailprice").alias("cents"),
            F.min("p_retailprice").alias("min_price"),
            F.max("p_retailprice").alias("max_price"),
        )
        .filter(F.col("cnt") >= 5)
        .select(
            "grp",
            F.col("cnt").cast("double").alias("part_count"),
            (F.col("cents").cast("double") / (100.0 * F.col("cnt"))).alias("avg_price"),
            "min_price",
            "max_price",
        )
    )
    return (
        _melt(pct, "percentile", ["p25_price", "p50_price", "p75_price", "p95_price",
                                  "price_stddev", "p50_approx_ok"])
        .unionByName(_melt(hist, "histogram", ["bucket_count", "bucket_min", "bucket_max"]))
        .unionByName(_melt(brands, "brand_having", ["part_count", "avg_price", "min_price",
                                                    "max_price"]))
        .orderBy("section", "grp", "metric")
    )


@builder(
    "multilevel_rollup",
    tags=("agg", "rollup"),
    doc="Hourly→daily two-level aggregation — the reference's CTE "
    "hourly_stats→daily_stats rollup (07:377-401, 06:183-233). Rotated to "
    "builder status in round 11 (oracle retained, strict parity): the "
    "window-over-agg family stays gate-covered by window_rank_suite and "
    "the grouping-set family by salted_skew_aggregate.",
    oracle="""
        WITH hourly AS (
            SELECT strftime(ts, '%Y-%m-%d') AS event_day,
                   CAST(hour(ts) AS INT)    AS event_hour,
                   COUNT(*)                 AS hourly_events,
                   ROUND(SUM(value), 4)     AS hourly_value
            FROM events
            GROUP BY 1, 2
        )
        SELECT event_day,
               COUNT(*)                       AS active_hours,
               CAST(SUM(hourly_events) AS BIGINT) AS daily_events,
               ROUND(AVG(hourly_events), 4)   AS avg_hourly_events,
               CAST(MAX(hourly_events) AS BIGINT) AS peak_hourly_events,
               ROUND(SUM(hourly_value), 4)    AS daily_value
        FROM hourly
        GROUP BY event_day
        ORDER BY event_day
    """,
)
def multilevel_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("event_day"),
        F.hour("ts").alias("event_hour"),
    ).agg(F.count("*").alias("hourly_events"), _r4(F.sum("value")).alias("hourly_value"))
    return (
        hourly.groupBy("event_day")
        .agg(
            F.count("*").alias("active_hours"),
            F.sum("hourly_events").alias("daily_events"),
            _r4(F.avg("hourly_events")).alias("avg_hourly_events"),
            F.max("hourly_events").alias("peak_hourly_events"),
            _r4(F.sum("hourly_value")).alias("daily_value"),
        )
        .orderBy("event_day")
    )


@builder(
    "rollup_subtotals",
    tags=("agg", "rollup"),
    doc="ROLLUP subtotal hierarchy (grand total → per-flag → per-flag-status) "
    "— parity-plus: the reference has no grouping sets (SURVEY §2.4 note), "
    "Spark and the oracle both support them natively. One pass produces every "
    "subtotal level (vs the reference's chained CTE re-aggregations).",
    oracle="""
        SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
               COALESCE(l_linestatus, 'ALL') AS linestatus,
               COUNT(*) AS row_count,
               ROUND(SUM(l_quantity), 4) AS sum_qty,
               ROUND(SUM(l_extendedprice), 4) AS sum_price
        FROM lineitem
        GROUP BY ROLLUP(l_returnflag, l_linestatus)
        ORDER BY returnflag, linestatus
    """,
)
def rollup_subtotals(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("row_count"),
            _r4(F.sum("l_quantity")).alias("sum_qty"),
            _r4(F.sum("l_extendedprice")).alias("sum_price"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "row_count",
            "sum_qty",
            "sum_price",
        )
        .orderBy("returnflag", "linestatus")
    )


# ---------------------------------------------------------------------------
# Joins (SURVEY §2.3)
# ---------------------------------------------------------------------------


@builder(
    "dim_join_rollup",
    tags=("join", "broadcast"),
    doc="Fact ⋈ small-dimension chain with broadcast hints — the reference's "
    "processed⋈aircraft_reference pattern (05:48-49, 07:205-224). At 100 TB the "
    "dims broadcast; zero fact-side shuffle before the agg. Rotated to "
    "builder status in round 11 (oracle retained, strict parity): the "
    "broadcast-dim-join family stays gate-covered by left_join_missing_dim "
    "and the planner-served multiway_join_revenue_planned (4 dim "
    "broadcasts, plan-pinned).",
    oracle="""
        SELECT r.r_name AS region_name, n.n_name AS nation_name,
               COUNT(*) AS customer_count,
               ROUND(AVG(c.c_acctbal), 4) AS avg_acctbal,
               ROUND(SUM(c.c_acctbal), 4) AS total_acctbal
        FROM customer c
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name, n.n_name
        ORDER BY region_name, nation_name
    """,
)
def dim_join_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region_name"), F.col("n_name").alias("nation_name"))
        .agg(
            F.count("*").alias("customer_count"),
            _r4(F.avg("c_acctbal")).alias("avg_acctbal"),
            _r4(F.sum("c_acctbal")).alias("total_acctbal"),
        )
        .orderBy("region_name", "nation_name")
    )


@query(
    "left_join_missing_dim",
    tags=("join", "left"),
    doc="LEFT join preserving unmatched rows — the reference's LEFT JOIN "
    "aircraft_reference with null-model rows (05:48-49); null-bucketed counts.",
    oracle="""
        SELECT c.c_mktsegment,
               COUNT(*)            AS customer_count,
               COUNT(o.o_orderkey) AS order_count,
               CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS customers_without_orders
        FROM customer c
        LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        GROUP BY c.c_mktsegment
        ORDER BY c.c_mktsegment
    """,
)
def left_join_missing_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("customer_count"),
            F.count("o_orderkey").alias("order_count"),
            F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0)).alias(
                "customers_without_orders"
            ),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "band_proximity_join",
    tags=("join", "theta", "range"),
    doc="Equi-prefilter + band predicate theta join — the airport-proximity "
    "pattern (05:145-196): join on nation (the ±1° box analog) then band-filter "
    "on |acctbal delta| ≤ 100. Stays a hash join, never a cartesian product.",
    oracle="""
        SELECT n.n_name AS nation_name,
               COUNT(*) AS close_pairs,
               ROUND(AVG(ABS(c.c_acctbal - s.s_acctbal)), 4) AS avg_balance_gap,
               ROUND(MIN(ABS(c.c_acctbal - s.s_acctbal)), 4) AS min_balance_gap
        FROM customer c
        JOIN supplier s ON c.c_nationkey = s.s_nationkey
                       AND ABS(c.c_acctbal - s.s_acctbal) <= 100.0
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name
        ORDER BY nation_name
    """,
)
def band_proximity_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    gap = F.abs(F.col("c_acctbal") - F.col("s_acctbal"))
    return (
        c.join(s, (F.col("c_nationkey") == F.col("s_nationkey")) & (gap <= 100.0))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation_name"))
        .agg(
            F.count("*").alias("close_pairs"),
            _r4(F.avg(gap)).alias("avg_balance_gap"),
            _r4(F.min(gap)).alias("min_balance_gap"),
        )
        .orderBy("nation_name")
    )


@query(
    "latest_order_per_customer",
    tags=("join", "window", "qualify"),
    doc="QUALIFY ROW_NUMBER()=1 rewrite (07:266) — Spark has no QUALIFY, so "
    "window + filter; deterministic tiebreak on orderkey (SURVEY §7.3 hard-part 5).",
    oracle="""
        WITH ranked AS (
            SELECT o_custkey, o_orderkey, o_totalprice, o_orderdate,
                   ROW_NUMBER() OVER (
                       PARTITION BY o_custkey
                       ORDER BY o_orderdate DESC, o_orderkey DESC
                   ) AS rn
            FROM orders
        )
        SELECT o_custkey, o_orderkey AS latest_orderkey,
               ROUND(o_totalprice, 4) AS latest_totalprice
        FROM ranked WHERE rn = 1
        ORDER BY o_custkey
    """,
)
def latest_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_orderdate"), F.desc("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            F.col("o_orderkey").alias("latest_orderkey"),
            _r4(F.col("o_totalprice")).alias("latest_totalprice"),
        )
        .orderBy("o_custkey")
    )


@builder(
    "zscore_anomalies",
    tags=("join", "anomaly", "crossjoin"),
    doc="Scalar-stats cross join + z-score top-k — the reference's statistical "
    "anomaly query (04:483-537): one-row global stats broadcast to every row.",
    oracle="""
        WITH stats AS (
            SELECT AVG(o_totalprice) AS mean_price,
                   STDDEV_SAMP(o_totalprice) AS std_price
            FROM orders
        )
        SELECT o.o_orderkey,
               ROUND(o.o_totalprice, 4) AS totalprice,
               ROUND((o.o_totalprice - s.mean_price) / s.std_price, 4) AS price_zscore
        FROM orders o CROSS JOIN stats s
        WHERE ABS((o.o_totalprice - s.mean_price) / s.std_price) > 1.5
        ORDER BY ABS((o.o_totalprice - s.mean_price) / s.std_price) DESC, o.o_orderkey
        LIMIT 100
    """,
)
def zscore_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    stats = o.agg(
        F.avg("o_totalprice").alias("mean_price"),
        F.stddev_samp("o_totalprice").alias("std_price"),
    )
    z = (F.col("o_totalprice") - F.col("mean_price")) / F.col("std_price")
    return (
        o.crossJoin(F.broadcast(stats))
        .withColumn("price_zscore_raw", z)
        # fence 1.5 (reference uses 2.0 over real data, 04:483-537): the
        # synthetic uniform-ish o_totalprice maxes out near |z|≈1.73, so a
        # 2.0 fence verified only the empty path — 1.5 exercises the top-k
        # ordering and ratio arithmetic end-to-end with real rows.
        .filter(F.abs(F.col("price_zscore_raw")) > 1.5)
        .orderBy(F.abs(F.col("price_zscore_raw")).desc(), F.col("o_orderkey"))
        .limit(100)
        .select(
            "o_orderkey",
            _r4(F.col("o_totalprice")).alias("totalprice"),
            _r4(F.col("price_zscore_raw")).alias("price_zscore"),
        )
    )


# ---------------------------------------------------------------------------
# Windows (SURVEY §2.5) and sorts/limits (§2.6)
# ---------------------------------------------------------------------------


def _nation_order_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANK/DENSE_RANK over a global aggregate order (04:251, 05:68-72):
    window_rank_suite's ``nation_rank`` section."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    agg = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation_name"))
        .agg(F.count("*").alias("order_count"), _r4(F.sum("o_totalprice")).alias("total_revenue"))
    )
    return (
        agg.withColumn("volume_rank", F.rank().over(Window.orderBy(F.desc("order_count"))))
        .withColumn("revenue_rank", F.dense_rank().over(Window.orderBy(F.desc("total_revenue"))))
        .orderBy("volume_rank", "nation_name")
    )


def _window_distribution_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile/percent_rank/cume_dist distribution windows (§2.5 completion):
    window_rank_suite's ``price_quartile`` section."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    joined = o.join(c, o.o_custkey == c.c_custkey)
    w = Window.partitionBy("c_nationkey").orderBy("o_totalprice", "o_orderkey")
    ranked = joined.select(
        "c_nationkey",
        "o_totalprice",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
    )
    return (
        ranked.groupBy("c_nationkey", "quartile")
        .agg(
            F.count("*").alias("order_count"),
            _r4(F.min("o_totalprice")).alias("min_price"),
            _r4(F.max("o_totalprice")).alias("max_price"),
            _r4(F.max("pr")).alias("max_percent_rank"),
            _r4(F.max("cd")).alias("max_cume_dist"),
        )
        .orderBy("c_nationkey", "quartile")
    )


@query(
    "window_rank_suite",
    tags=("window", "rank", "distribution"),
    doc="Ranking + distribution window functions in long (section, grp, "
    "metric, value) form, merging two §2.5 demos: RANK/DENSE_RANK over a "
    "global aggregate order — the traffic-rank pattern (04:251, 05:68-72) — "
    "and ntile quartiles / percent_rank / cume_dist per nation (parity-plus: "
    "the reference uses only rank/row_number/lag; these complete Spark's "
    "window surface). Both blocks aggregate to compact grains, so the result "
    "stays small at any scale.",
    oracle="""
        WITH nation_orders AS (
            SELECT n.n_name AS nation_name, COUNT(*) AS order_count,
                   ROUND(SUM(o.o_totalprice), 4) AS total_revenue
            FROM orders o
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n   ON c.c_nationkey = n.n_nationkey
            GROUP BY n.n_name
        ), nranks AS (
            SELECT nation_name AS grp,
                   CAST(order_count AS DOUBLE) AS order_count,
                   total_revenue,
                   CAST(RANK() OVER (ORDER BY order_count DESC) AS DOUBLE) AS volume_rank,
                   CAST(DENSE_RANK() OVER (ORDER BY total_revenue DESC) AS DOUBLE) AS revenue_rank
            FROM nation_orders
        ), ranked AS (
            SELECT c_nationkey, o_totalprice,
                   NTILE(4) OVER w AS quartile,
                   PERCENT_RANK() OVER w AS pr,
                   CUME_DIST() OVER w AS cd
            FROM orders JOIN customer ON o_custkey = c_custkey
            WINDOW w AS (PARTITION BY c_nationkey ORDER BY o_totalprice, o_orderkey)
        ), quartiles AS (
            SELECT CAST(c_nationkey AS VARCHAR) || '/' || CAST(quartile AS VARCHAR) AS grp,
                   CAST(COUNT(*) AS DOUBLE) AS order_count,
                   ROUND(MIN(o_totalprice), 4) AS min_price,
                   ROUND(MAX(o_totalprice), 4) AS max_price,
                   ROUND(MAX(pr), 4) AS max_percent_rank,
                   ROUND(MAX(cd), 4) AS max_cume_dist
            FROM ranked GROUP BY c_nationkey, quartile
        )
        SELECT 'nation_rank' AS section, grp, 'order_count' AS metric, order_count AS value FROM nranks
        UNION ALL SELECT 'nation_rank', grp, 'total_revenue', total_revenue FROM nranks
        UNION ALL SELECT 'nation_rank', grp, 'volume_rank', volume_rank FROM nranks
        UNION ALL SELECT 'nation_rank', grp, 'revenue_rank', revenue_rank FROM nranks
        UNION ALL SELECT 'price_quartile', grp, 'order_count', order_count FROM quartiles
        UNION ALL SELECT 'price_quartile', grp, 'min_price', min_price FROM quartiles
        UNION ALL SELECT 'price_quartile', grp, 'max_price', max_price FROM quartiles
        UNION ALL SELECT 'price_quartile', grp, 'max_percent_rank', max_percent_rank FROM quartiles
        UNION ALL SELECT 'price_quartile', grp, 'max_cume_dist', max_cume_dist FROM quartiles
        ORDER BY section, grp, metric
    """,
)
def window_rank_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    def _melt(df: DataFrame, section: str, grp_col, metrics: list[str]) -> DataFrame:
        entries = F.array(
            *[
                F.struct(F.lit(m).alias("metric"), F.col(m).cast("double").alias("value"))
                for m in metrics
            ]
        )
        return df.select(
            F.lit(section).alias("section"), grp_col.alias("grp"), F.explode(entries).alias("e")
        ).select("section", "grp", "e.metric", "e.value")

    nranks = _nation_order_rank(spark, sf_dir)
    quart = _window_distribution_functions(spark, sf_dir)
    return (
        _melt(nranks, "nation_rank", F.col("nation_name"),
              ["order_count", "total_revenue", "volume_rank", "revenue_rank"])
        .unionByName(
            _melt(
                quart,
                "price_quartile",
                F.concat(
                    F.col("c_nationkey").cast("string"), F.lit("/"),
                    F.col("quartile").cast("string")
                ),
                ["order_count", "min_price", "max_price", "max_percent_rank", "max_cume_dist"],
            )
        )
        .orderBy("section", "grp", "metric")
    )


@builder(
    "daily_window_metrics",
    tags=("window", "frame", "lag"),
    doc="Daily trend metrics merging two §2.5 demos on one daily grain: the "
    "centered moving average with an explicit ROWS frame — the reference's "
    "5-hour trend window (04:253-256, 07:302-307) — and LAG + delta + guarded "
    "pct-change — the prev-day quality trend pattern (05:533-537) with NULLIF "
    "division guard (04:168-169). One daily aggregate, two window specs over "
    "the same global date order (one range shuffle; at scale the daily frame "
    "is tiny — thousands of rows per decade).",
    oracle="""
        WITH daily AS (
            SELECT strftime(o_orderdate, '%Y-%m-%d') AS order_day,
                   COUNT(*) AS order_count,
                   ROUND(SUM(o_totalprice), 4) AS daily_revenue
            FROM orders
            GROUP BY 1
        )
        SELECT order_day, order_count, daily_revenue,
               ROUND(AVG(order_count) OVER (
                   ORDER BY order_day ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING), 4)
                   AS moving_avg_orders,
               ROUND(daily_revenue - LAG(daily_revenue) OVER (ORDER BY order_day), 4)
                   AS revenue_delta,
               ROUND(100.0 * (daily_revenue - LAG(daily_revenue) OVER (ORDER BY order_day))
                     / NULLIF(LAG(daily_revenue) OVER (ORDER BY order_day), 0), 4)
                   AS revenue_pct_change
        FROM daily
        ORDER BY order_day
    """,
)
def daily_window_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_day")).agg(
        F.count("*").alias("order_count"), _r4(F.sum("o_totalprice")).alias("daily_revenue")
    )
    w_frame = Window.orderBy("order_day").rowsBetween(-2, 2)
    w = Window.orderBy("order_day")
    prev = F.lag("daily_revenue").over(w)
    return (
        daily.withColumn("moving_avg_orders", _r4(F.avg("order_count").over(w_frame)))
        .withColumn("revenue_delta", _r4(F.col("daily_revenue") - prev))
        .withColumn(
            "revenue_pct_change",
            _r4(100.0 * (F.col("daily_revenue") - prev) / F.nullif(prev, F.lit(0))),
        )
        .orderBy("order_day")
    )


@builder(
    "peak_hour_per_day",
    tags=("window", "agg"),
    doc="MAX(COUNT(*)) OVER partition — the peak-hour-flights pattern "
    "(06_analytics_views.sql:203-204).",
    oracle="""
        WITH hourly AS (
            SELECT strftime(ts, '%Y-%m-%d') AS event_day,
                   CAST(hour(ts) AS INT) AS event_hour,
                   COUNT(*) AS event_count
            FROM events
            GROUP BY 1, 2
        )
        SELECT event_day, event_hour, event_count,
               CAST(MAX(event_count) OVER (PARTITION BY event_day) AS BIGINT) AS peak_hour_events,
               CASE WHEN event_count = MAX(event_count) OVER (PARTITION BY event_day)
                    THEN 1 ELSE 0 END AS is_peak_hour
        FROM hourly
        ORDER BY event_day, event_hour
    """,
)
def peak_hour_per_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("event_day"),
        F.hour("ts").alias("event_hour"),
    ).agg(F.count("*").alias("event_count"))
    w = Window.partitionBy("event_day")
    peak = F.max("event_count").over(w)
    return (
        hourly.withColumn("peak_hour_events", peak)
        .withColumn("is_peak_hour", F.when(F.col("event_count") == peak, 1).otherwise(0))
        .orderBy("event_day", "event_hour")
    )


@query(
    "topk_line_items",
    tags=("sort", "limit", "topk"),
    doc="ORDER BY ... LIMIT top-k with deterministic tiebreak — Spark plans "
    "TakeOrderedAndProject (per-partition heaps, no global sort) (SURVEY §2.6).",
    oracle="""
        SELECT l_orderkey, l_linenumber,
               ROUND(l_extendedprice, 4) AS extendedprice,
               ROUND(l_quantity, 4)      AS quantity,
               l_returnflag
        FROM lineitem
        ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
        LIMIT 100
    """,
)
def topk_line_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.orderBy(F.desc("l_extendedprice"), "l_orderkey", "l_linenumber")
        .limit(100)
        .select(
            "l_orderkey",
            "l_linenumber",
            _r4(F.col("l_extendedprice")).alias("extendedprice"),
            _r4(F.col("l_quantity")).alias("quantity"),
            "l_returnflag",
        )
    )


# ---------------------------------------------------------------------------
# Scalar-function surface (SURVEY §2.7)
# ---------------------------------------------------------------------------


@query(
    "scalar_function_suite",
    tags=("scalar", "string", "math"),
    doc="Per-row scalar-function surface on one grain (customer), merging the "
    "string demo — LPAD/CONCAT/TRIM/UPPER/SUBSTRING/LENGTH/CONTAINS "
    "(04:160,267,570-578; flight_data_processor.py:157-164: callsign "
    "normalize + 3-char airline-code extraction) — with the math demo — "
    "ABS/SQRT/POW/GREATEST/modulo (04:102,335-336,517-518,589). Math columns "
    "are cross-engine exact by construction: ABS/GREATEST are exact IEEE ops, "
    "SQRT is correctly rounded per IEEE-754, and POW runs on small integers "
    "where every libm is exact — no ROUND needed anywhere.",
    oracle="""
        SELECT c_custkey,
               UPPER(TRIM(c_name))                         AS name_upper,
               SUBSTRING(TRIM(c_name), 1, 8)               AS name_prefix,
               LPAD(CAST(c_custkey AS VARCHAR), 10, '0')   AS padded_key,
               c_mktsegment || '#' || CAST(c_nationkey AS VARCHAR) AS segment_tag,
               CAST(LENGTH(c_name) AS INT)                 AS name_len,
               CASE WHEN contains(c_name, '1') THEN 1 ELSE 0 END AS has_digit_one,
               ABS(c_acctbal)                              AS abs_bal,
               SQRT(ABS(c_acctbal))                        AS sqrt_abs_bal,
               CAST(POW(c_custkey % 9, 2) AS BIGINT)       AS pow_key_sq,
               GREATEST(c_acctbal, 0.0)                    AS pos_bal,
               c_custkey % 10                              AS mod_key
        FROM customer
        ORDER BY c_custkey
    """,
)
def scalar_function_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper(F.trim(F.col("c_name"))).alias("name_upper"),
        F.substring(F.trim(F.col("c_name")), 1, 8).alias("name_prefix"),
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("padded_key"),
        F.concat(F.col("c_mktsegment"), F.lit("#"), F.col("c_nationkey").cast("string")).alias(
            "segment_tag"
        ),
        F.length("c_name").alias("name_len"),
        F.when(F.col("c_name").contains("1"), 1).otherwise(0).alias("has_digit_one"),
        F.abs(F.col("c_acctbal")).alias("abs_bal"),
        F.sqrt(F.abs(F.col("c_acctbal"))).alias("sqrt_abs_bal"),
        F.pow(F.col("c_custkey") % 9, 2).cast("long").alias("pow_key_sq"),
        F.greatest(F.col("c_acctbal"), F.lit(0.0)).alias("pos_bal"),
        (F.col("c_custkey") % 10).alias("mod_key"),
    ).orderBy("c_custkey")


@builder(
    "datetime_function_suite",
    tags=("scalar", "datetime"),
    doc="year/month/day/hour extraction + the reference's deliberate "
    "day-of-week approximation ((day-1)%7)+1 (04:260, 06:193) kept verbatim "
    "for parity.",
    oracle="""
        SELECT CAST(year(o_orderdate) AS INT)    AS order_year,
               CAST(month(o_orderdate) AS INT)   AS order_month,
               CAST(((day(o_orderdate) - 1) % 7) + 1 AS INT) AS approx_dow,
               COUNT(*) AS order_count,
               ROUND(SUM(o_totalprice), 4) AS revenue
        FROM orders
        GROUP BY 1, 2, 3
        ORDER BY order_year, order_month, approx_dow
    """,
)
def datetime_function_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.year("o_orderdate").alias("order_year"),
            F.month("o_orderdate").alias("order_month"),
            (((F.dayofmonth("o_orderdate") - 1) % 7) + 1).alias("approx_dow"),
        )
        .agg(F.count("*").alias("order_count"), _r4(F.sum("o_totalprice")).alias("revenue"))
        .orderBy("order_year", "order_month", "approx_dow")
    )


@builder(
    "case_bucketing",
    tags=("scalar", "case"),
    doc="CASE WHEN banding + GROUP BY the derived band — the altitude-band "
    "distribution query shape (04:82-146), the reference's flagship pattern.",
    oracle="""
        SELECT CASE WHEN o_totalprice < 50000  THEN 'Low'
                    WHEN o_totalprice < 150000 THEN 'Medium'
                    WHEN o_totalprice < 300000 THEN 'High'
                    ELSE 'Very High' END AS price_band,
               COUNT(*) AS order_count,
               COUNT(DISTINCT o_custkey) AS unique_customers,
               ROUND(AVG(o_totalprice), 4) AS avg_price,
               ROUND(MIN(o_totalprice), 4) AS min_price,
               ROUND(MAX(o_totalprice), 4) AS max_price
        FROM orders
        GROUP BY 1
        ORDER BY min_price
    """,
)
def case_bucketing(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    band = (
        F.when(F.col("o_totalprice") < 50000, "Low")
        .when(F.col("o_totalprice") < 150000, "Medium")
        .when(F.col("o_totalprice") < 300000, "High")
        .otherwise("Very High")
    )
    return (
        o.groupBy(band.alias("price_band"))
        .agg(
            F.count("*").alias("order_count"),
            F.countDistinct("o_custkey").alias("unique_customers"),
            _r4(F.avg("o_totalprice")).alias("avg_price"),
            _r4(F.min("o_totalprice")).alias("min_price"),
            _r4(F.max("o_totalprice")).alias("max_price"),
        )
        .orderBy("min_price")
    )


@query(
    "salted_skew_aggregate",
    tags=("agg", "skew", "scale"),
    doc="Skew-proof two-phase aggregation (functions/skew.py): salt the key, "
    "partial-aggregate per (key, salt), merge per key. The oracle is the "
    "PLAIN group-by — proving the salted rewrite is result-identical while "
    "spreading a hot key over n_salts reducers at 100 TB. AQE splits skewed "
    "JOINS automatically; this is the aggregation-side counterpart.",
    oracle="""
        SELECT event_type,
               ROUND(SUM(value), 4) AS sum_value,
               COUNT(value) AS cnt,
               ROUND(SUM(value) / COUNT(value), 4) AS avg_value
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
)
def salted_skew_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_flight_data_pipeline_spark.functions.skew import salted_sum_count

    e = load_table(spark, sf_dir, "events")
    return (
        salted_sum_count(e, ["event_type"], "value", n_salts=16)
        .select(
            "event_type",
            _r4(F.col("sum_value")).alias("sum_value"),
            "cnt",
            _r4(F.col("avg_value")).alias("avg_value"),
        )
        .orderBy("event_type")
    )


@builder(
    "asof_join_attribution",
    tags=("join", "asof", "temporal"),
    doc="Backward as-of join (operators/asof.py): every purchase event is "
    "matched to the user's LATEST click at or before the purchase timestamp "
    "— the point-in-time attribution lookup. Spark has no ASOF JOIN, so the "
    "operator encodes it as union + one keyed sort + last(ignorenulls) "
    "forward-fill: ONE shuffle over |L|+|R| rows, no range-join pair "
    "explosion, the merge-join shape that survives a 100 TB event stream. "
    "Verified against DuckDB's native ASOF LEFT JOIN (inclusive >= bound). "
    "micros_since_click is exact BIGINT epoch-microsecond arithmetic.",
    oracle="""
        WITH p AS (
            SELECT event_id, user_id, ts, value AS purchase_value
            FROM events WHERE event_type = 'purchase'
        ),
        c AS (
            SELECT user_id, ts AS click_ts, value AS click_value
            FROM events WHERE event_type = 'click'
        )
        SELECT p.event_id,
               p.user_id,
               p.ts,
               p.purchase_value,
               c.click_ts,
               c.click_value,
               epoch_us(p.ts) - epoch_us(c.click_ts) AS micros_since_click
        FROM p ASOF LEFT JOIN c
          ON p.user_id = c.user_id AND p.ts >= c.click_ts
    """,
)
def asof_join_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_flight_data_pipeline_spark.operators.asof import asof_join

    e = load_table(spark, sf_dir, "events")
    purchases = e.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", F.col("value").alias("purchase_value")
    )
    clicks = e.where(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts"), F.col("value").alias("click_value")
    )
    return asof_join(purchases, clicks, on="user_id", left_ts="ts", right_ts="click_ts").select(
        "event_id",
        "user_id",
        "ts",
        "purchase_value",
        "click_ts",
        "click_value",
        (F.unix_micros("ts") - F.unix_micros("click_ts")).alias("micros_since_click"),
    )


@builder(
    "set_operation_suite",
    tags=("relational", "set-ops"),
    doc="The ANSI set-operation surface over two order-derived custkey "
    "multisets (A = custkeys with a finished 'F' order, B = custkeys with an "
    "order above 150k): UNION / UNION ALL / INTERSECT / INTERSECT ALL / "
    "EXCEPT / EXCEPT ALL, each reported as (count, min key, max key). The "
    "reference's SQL corpus never uses set operators (SURVEY §2.3) — this is "
    "parity-plus surface a switching user expects an engine to have. Spark "
    "plans the DISTINCT variants as hash aggregates over a union and the ALL "
    "variants as left-anti-style multiset joins; every shape is "
    "shuffle-bounded by the key cardinality.",
    oracle="""
        WITH a AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'),
        b AS (SELECT o_custkey FROM orders WHERE o_totalprice > 150000),
        u  AS (SELECT o_custkey FROM a UNION SELECT o_custkey FROM b),
        ua AS (SELECT o_custkey FROM a UNION ALL SELECT o_custkey FROM b),
        i  AS (SELECT o_custkey FROM a INTERSECT SELECT o_custkey FROM b),
        ia AS (SELECT o_custkey FROM a INTERSECT ALL SELECT o_custkey FROM b),
        x  AS (SELECT o_custkey FROM a EXCEPT SELECT o_custkey FROM b),
        xa AS (SELECT o_custkey FROM a EXCEPT ALL SELECT o_custkey FROM b)
        SELECT 'union_distinct' AS section, CAST(COUNT(*) AS BIGINT) AS cnt,
               CAST(MIN(o_custkey) AS BIGINT) AS min_custkey,
               CAST(MAX(o_custkey) AS BIGINT) AS max_custkey FROM u
        UNION ALL
        SELECT 'union_all', CAST(COUNT(*) AS BIGINT),
               CAST(MIN(o_custkey) AS BIGINT), CAST(MAX(o_custkey) AS BIGINT) FROM ua
        UNION ALL
        SELECT 'intersect_distinct', CAST(COUNT(*) AS BIGINT),
               CAST(MIN(o_custkey) AS BIGINT), CAST(MAX(o_custkey) AS BIGINT) FROM i
        UNION ALL
        SELECT 'intersect_all', CAST(COUNT(*) AS BIGINT),
               CAST(MIN(o_custkey) AS BIGINT), CAST(MAX(o_custkey) AS BIGINT) FROM ia
        UNION ALL
        SELECT 'except_distinct', CAST(COUNT(*) AS BIGINT),
               CAST(MIN(o_custkey) AS BIGINT), CAST(MAX(o_custkey) AS BIGINT) FROM x
        UNION ALL
        SELECT 'except_all', CAST(COUNT(*) AS BIGINT),
               CAST(MIN(o_custkey) AS BIGINT), CAST(MAX(o_custkey) AS BIGINT) FROM xa
        ORDER BY section
    """,
)
def set_operation_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    b = o.filter(F.col("o_totalprice") > 150000).select("o_custkey")
    parts = {
        "union_distinct": a.union(b).distinct(),
        "union_all": a.unionAll(b),
        "intersect_distinct": a.intersect(b),
        "intersect_all": a.intersectAll(b),
        "except_distinct": a.distinct().subtract(b.distinct()),
        "except_all": a.exceptAll(b),
    }
    out = None
    for name, df in parts.items():
        s = df.agg(
            F.count("*").alias("cnt"),
            F.min("o_custkey").alias("min_custkey"),
            F.max("o_custkey").alias("max_custkey"),
        ).select(F.lit(name).alias("section"), "cnt", "min_custkey", "max_custkey")
        out = s if out is None else out.unionByName(s)
    return out.orderBy("section")


@builder(
    "subquery_suite",
    tags=("relational", "subquery", "semi-join", "anti-join"),
    doc="The correlated/uncorrelated-subquery surface, rewritten the way the "
    "engine executes it: EXISTS -> LEFT SEMI join (customers with a finished "
    "order), NOT EXISTS -> LEFT ANTI join (customers with no orders at all), "
    "IN <subquery> -> semi join on a filtered key set (orders whose customer "
    "is in the AUTOMOBILE segment), scalar subquery -> 1-row aggregate "
    "broadcast (orders above the global average total). The reference has "
    "no semi/anti joins anywhere (SURVEY §2.3) — parity-plus surface; each "
    "section reports row count plus an exact cents total so the join "
    "semantics (no duplication, no loss) are value-verified, not just "
    "counted.",
    oracle="""
        WITH sections AS (
            SELECT 'exists_semi' AS section,
                   CAST(COUNT(*) AS BIGINT) AS cnt,
                   CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT)
                       AS cents_total
            FROM customer c
            WHERE EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderstatus = 'F')
            UNION ALL
            SELECT 'not_exists_anti',
                   CAST(COUNT(*) AS BIGINT),
                   CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT)
            FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_custkey = c.c_custkey)
            UNION ALL
            SELECT 'in_subquery',
                   CAST(COUNT(*) AS BIGINT),
                   CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
            FROM orders
            WHERE o_custkey IN (SELECT c_custkey FROM customer
                                WHERE c_mktsegment = 'AUTOMOBILE')
            UNION ALL
            SELECT 'scalar_subquery',
                   CAST(COUNT(*) AS BIGINT),
                   CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
            FROM orders
            WHERE o_totalprice > (SELECT AVG(o_totalprice) FROM orders)
        )
        SELECT section, cnt, cents_total FROM sections ORDER BY section
    """,
)
def subquery_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")

    def _cents(col: str):
        return F.sum(F.round(F.col(col) * 100).cast("bigint")).cast("bigint")

    exists_semi = c.join(
        o.filter(F.col("o_orderstatus") == "F"),
        c["c_custkey"] == o["o_custkey"],
        "left_semi",
    ).agg(F.count("*").alias("cnt"), _cents("c_acctbal").alias("cents_total"))
    not_exists = c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti").agg(
        F.count("*").alias("cnt"), _cents("c_acctbal").alias("cents_total")
    )
    in_sub = o.join(
        c.filter(F.col("c_mktsegment") == "AUTOMOBILE").select("c_custkey"),
        o["o_custkey"] == F.col("c_custkey"),
        "left_semi",
    ).agg(F.count("*").alias("cnt"), _cents("o_totalprice").alias("cents_total"))
    avg_price = o.agg(F.avg("o_totalprice").alias("_avg"))
    scalar = (
        o.crossJoin(F.broadcast(avg_price))
        .filter(F.col("o_totalprice") > F.col("_avg"))
        .agg(F.count("*").alias("cnt"), _cents("o_totalprice").alias("cents_total"))
    )
    sections = {
        "exists_semi": exists_semi,
        "not_exists_anti": not_exists,
        "in_subquery": in_sub,
        "scalar_subquery": scalar,
    }
    out = None
    for name, df in sections.items():
        s = df.select(F.lit(name).alias("section"), "cnt", "cents_total")
        out = s if out is None else out.unionByName(s)
    return out.orderBy("section")


@builder(
    "multiway_join_revenue",
    tags=("join", "multiway", "broadcast", "agg"),
    doc="TPC-H Q5-shaped six-table join — local-supplier revenue by nation "
    "and order year for one region: region→nation→supplier chain and the "
    "customer dim broadcast (all KB–MB frames), ONE shuffle join between "
    "the two fact tables (lineitem ⋈ orders on orderkey — the join that "
    "must stay a shuffled equi-join at 100 TB, co-locatable by bucketing "
    "both facts on orderkey), and the "
    "local-supplier predicate c_nationkey = s_nationkey applied as a "
    "post-broadcast filter. Revenue follows the cents-exact discipline: "
    "price cents × (100 − discount%) summed as exact BIGINT, divided once "
    "at the end — no float summation order anywhere.",
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
def multiway_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")

    # dim chain resolved first — everything here is broadcast-sized
    local_sup = (
        s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r.where(F.col("r_name") == "ASIA")),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    cents = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    disc = F.round(F.col("l_discount") * 100).cast("bigint")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])  # fact ⋈ fact: the one shuffle
        .join(F.broadcast(local_sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .where(F.col("c_nationkey") == F.col("s_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("order_year"),
        )
        .agg(
            (F.sum(cents * (100 - disc)).cast("bigint") / 10000.0).alias("revenue"),
            F.countDistinct("o_orderkey").alias("n_orders"),
        )
        .orderBy("nation", "order_year")
    )


@builder(
    "pivot_unpivot_roundtrip",
    tags=("pivot", "unpivot", "agg"),
    doc="Pivot/unpivot as first-class reshape operators: order totals pivot "
    "to a wide (year × status) matrix with an EXPLICIT pivot-value list "
    "(never the two-pass value-discovery scan — at 100 TB the distinct "
    "probe is a full extra pass; declared values keep it one aggregation), "
    "then unpivot back to long form via the stack expression. The oracle "
    "is the DIRECT long-form aggregation, so parity proves the roundtrip "
    "is lossless — absent (year, status) cells surface as nulls and are "
    "dropped, exactly like the direct group-by never emits them. Totals "
    "ride as exact integer cents.",
    oracle="""
        SELECT CAST(year(o_orderdate) AS INT) AS order_year,
               o_orderstatus AS status,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS total_cents
        FROM orders
        GROUP BY 1, 2
        ORDER BY order_year, status
    """,
)
def pivot_unpivot_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    wide = (
        o.groupBy(F.year("o_orderdate").alias("order_year"))
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.sum(cents))
    )
    return (
        wide.unpivot(["order_year"], ["F", "O", "P"], "status", "total_cents")
        .where(F.col("total_cents").isNotNull())
        .orderBy("order_year", "status")
    )


@query(
    "interval_bin_join",
    tags=("join", "range-join", "interval", "scale"),
    doc="Point-in-interval (range) join via bin decomposition "
    "(operators/rangejoin.py): every error event opens a 30-minute "
    "incident window; purchases by the same user inside the window are "
    "correlated to it. Spark plans a raw BETWEEN join as key-equality + "
    "post-filter — every same-user pair becomes a candidate; the operator "
    "instead explodes each interval onto the fixed 30-minute bins it "
    "overlaps (replication <= 2 here), maps each point to its single bin, "
    "and equi-joins on (user, bin) — candidate volume is per-bin, the "
    "shape that survives 100 TB. Each matching pair lands exactly once "
    "(the join can only fire in the point's own bin). Windows with no "
    "purchases ride back in via an aggregate-then-left-join (never a "
    "left bin-join, which would duplicate unmatched windows per bin). "
    "Bounds travel as integer epoch micros; purchase value as exact cents.",
    oracle="""
        WITH win AS (
            SELECT user_id, event_id AS win_id,
                   epoch_us(ts) AS s_us,
                   epoch_us(ts) + 1800000000 AS e_us
            FROM events WHERE event_type = 'error'
        ), pts AS (
            SELECT user_id, epoch_us(ts) AS p_us,
                   CAST(ROUND(value * 100) AS BIGINT) AS cents
            FROM events WHERE event_type = 'purchase'
        )
        SELECT w.user_id, w.win_id,
               CAST(COUNT(p.p_us) AS BIGINT) AS n_purchases,
               CAST(COALESCE(SUM(p.cents), 0) AS BIGINT) AS purchase_cents
        FROM win w
        LEFT JOIN pts p
          ON p.user_id = w.user_id AND p.p_us BETWEEN w.s_us AND w.e_us
        GROUP BY w.user_id, w.win_id
        ORDER BY w.user_id, w.win_id
    """,
)
def interval_bin_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_flight_data_pipeline_spark.operators.rangejoin import bin_interval_join

    e = load_table(spark, sf_dir, "events")
    win = e.where(F.col("event_type") == "error").select(
        "user_id",
        F.col("event_id").alias("win_id"),
        F.unix_micros("ts").alias("s_us"),
        (F.unix_micros("ts") + F.lit(1_800_000_000).cast("bigint")).alias("e_us"),
    )
    pts = e.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.unix_micros("ts").alias("p_us"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    matched = bin_interval_join(
        pts, win, "p_us", "s_us", "e_us", bin_width=1_800_000_000, keys=("user_id",)
    )
    per_win = matched.groupBy("user_id", "win_id").agg(
        F.count("*").cast("bigint").alias("n_purchases"),
        F.sum("cents").cast("bigint").alias("purchase_cents"),
    )
    return (
        win.select("user_id", "win_id")
        .join(per_win, ["user_id", "win_id"], "left")
        .select(
            "user_id",
            "win_id",
            F.coalesce("n_purchases", F.lit(0)).cast("bigint").alias("n_purchases"),
            F.coalesce("purchase_cents", F.lit(0)).cast("bigint").alias("purchase_cents"),
        )
        .orderBy("user_id", "win_id")
    )


@builder(
    "bloom_semi_join_prune",
    tags=("join", "semi", "bloom", "runtime-filter", "scale"),
    doc="Bloom-filter runtime pruning ahead of a shuffle semi join "
    "(functions/bloom.py): lineitem rows are pre-filtered by a KB-scale "
    "bloom digest of the high-value order keys — built distributively "
    "(bit-position explode + per-word bit_or, shuffle of at most m/64 "
    "groups), attached to the fact side as a BROADCAST one-row dense "
    "word array (the words never touch the driver or the plan tree), "
    "probed with pure codegen element_at bit arithmetic — then the real "
    "left-semi join removes the ~1% false positives. At 100 TB the "
    "driving key set is too big to broadcast raw but its bloom is a few "
    "hundred KB, and the fact side shrinks BEFORE it is hashed/sorted/"
    "shuffled; a selectivity guard skips the bloom when the keys cover "
    "too much of the fact domain to prune anything. The result is "
    "provably identical to the un-pruned semi join (the oracle verifies "
    "exactly that). Revenue rides as exact integer cents.",
    oracle="""
        SELECT l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n_items,
               CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
                   AS ext_cents
        FROM lineitem
        WHERE l_orderkey IN (
            SELECT o_orderkey FROM orders WHERE o_totalprice > 400000
        )
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """,
)
def bloom_semi_join_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_flight_data_pipeline_spark.functions.bloom import bloom_semi_join

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice"
    )
    hot = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_totalprice") > 400000)
        .select(F.col("o_orderkey").alias("l_orderkey"))
    )
    return (
        bloom_semi_join(li, hot, "l_orderkey", fpp=0.01)
        .groupBy("l_returnflag")
        .agg(
            F.count("*").cast("bigint").alias("n_items"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("ext_cents"),
        )
        .orderBy("l_returnflag")
    )


@builder(
    "cube_subtotals",
    tags=("agg", "cube", "grouping-sets"),
    doc="CUBE aggregation completing the multi-level subtotal family "
    "(rollup_subtotals covers ROLLUP/GROUPING SETS): all four grouping "
    "combinations of (order year, status) in ONE aggregation pass — Spark "
    "plans cube() as a single Expand + hash aggregate, never four scans. "
    "GROUPING() flags disambiguate subtotal rows from genuine NULL group "
    "keys (the classic CUBE pitfall); totals ride as exact integer cents.",
    oracle="""
        SELECT CAST(year(o_orderdate) AS INT) AS order_year,
               o_orderstatus AS status,
               CAST(GROUPING(year(o_orderdate)) AS BIGINT) AS g_year,
               CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS total_cents
        FROM orders
        GROUP BY CUBE (year(o_orderdate), o_orderstatus)
        ORDER BY g_year, g_status, order_year, status
    """,
)
def cube_subtotals(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        F.year("o_orderdate").alias("order_year"),
        F.col("o_orderstatus").alias("status"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    return (
        o.cube("order_year", "status")
        .agg(
            F.grouping("order_year").cast("bigint").alias("g_year"),
            F.grouping("status").cast("bigint").alias("g_status"),
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum("cents").cast("bigint").alias("total_cents"),
        )
        .orderBy("g_year", "g_status", "order_year", "status")
    )


@builder(
    "json_extract_profile",
    tags=("scalar", "json", "semi-structured"),
    doc="Semi-structured JSON extraction as a first-class scalar family "
    "(the reference's ingestion layer decodes raw JSON payloads — "
    "src/lambda/data_ingestion; here the per-event props payload): "
    "get_json_object pulls the numeric field JVM-side (no Python, no "
    "schema inference pass), profiled per event type with exact integer "
    "aggregates and a null-payload guard. At 100 TB prefer from_json with "
    "an explicit schema for wide payloads (single parse, columnar "
    "struct); the path-extract form profiled here is the one-field probe "
    "that avoids materializing the whole document.",
    oracle="""
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(COUNT(k) AS BIGINT) AS n_with_k,
               CAST(SUM(k) AS BIGINT) AS sum_k,
               CAST(COUNT(DISTINCT k) AS BIGINT) AS n_distinct_k,
               CAST(MIN(k) AS BIGINT) AS min_k,
               CAST(MAX(k) AS BIGINT) AS max_k
        FROM (
            SELECT event_type,
                   CAST(json_extract(props, '$.k') AS BIGINT) AS k
            FROM events
        )
        GROUP BY event_type
        ORDER BY event_type
    """,
)
def json_extract_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.get_json_object("props", "$.k").cast("bigint").alias("k"),
    )
    return (
        e.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.count("k").cast("bigint").alias("n_with_k"),
            F.sum("k").cast("bigint").alias("sum_k"),
            F.countDistinct("k").cast("bigint").alias("n_distinct_k"),
            F.min("k").cast("bigint").alias("min_k"),
            F.max("k").cast("bigint").alias("max_k"),
        )
        .orderBy("event_type")
    )


@builder(
    "custdist_histogram",
    tags=("relational", "outer-join", "two-level-agg", "tpch-q13"),
    doc="Customer-order-count distribution (TPC-H Q13 shape): LEFT join "
    "preserves zero-order customers (COUNT(o_orderkey) counts non-null "
    "matches, so the 0 bucket is real rows, not absence), then a second "
    "aggregation histograms the counts. Two shuffles total: one per "
    "aggregation level; the join key is the first grouping key so the "
    "per-customer count reuses the join exchange. The reference's SQL "
    "corpus has no outer-join-under-aggregation anywhere.",
    oracle="""
        SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
        FROM (
            SELECT c.c_custkey,
                   CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
            FROM customer c
            LEFT JOIN orders o
              ON c.c_custkey = o.o_custkey
             AND o.o_orderpriority <> '1-URGENT'
            GROUP BY c.c_custkey
        )
        GROUP BY c_count
        ORDER BY custdist DESC, c_count DESC
    """,
)
def custdist_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") != "1-URGENT")
        .select("o_custkey", "o_orderkey")
    )
    per_cust = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("bigint").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").cast("bigint").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@builder(
    "small_quantity_revenue",
    tags=("relational", "correlated-scalar-agg", "tpch-q17"),
    doc="Revenue locked in below-average-quantity line items of one brand "
    "(TPC-H Q17 shape): the classic correlated scalar aggregate "
    "(l_quantity < avg(l_quantity) per part) rewritten as a per-part "
    "aggregate join. The brand's part keys broadcast-semi-prune lineitem "
    "BEFORE the per-part aggregate, so both the agg and the final join "
    "scan only the brand's items. The threshold compares in EXACT integer "
    "space (qty_i * 5 * n < sum_qty_i  <=>  qty < sum/(5n) = avg/5): a "
    "double avg would let engine-order ulp noise flip boundary rows.",
    oracle="""
        WITH li AS (
            SELECT l.l_partkey,
                   CAST(ROUND(l.l_quantity * 100) AS BIGINT) AS qty_i,
                   CAST(ROUND(l.l_extendedprice * 100) AS BIGINT) AS ext_i
            FROM lineitem l
            JOIN part p ON p.p_partkey = l.l_partkey
            WHERE p.p_brand = 'Brand#4'
        ), pa AS (
            SELECT l_partkey,
                   CAST(SUM(qty_i) AS BIGINT) AS sum_qty,
                   CAST(COUNT(*) AS BIGINT) AS n_items
            FROM li GROUP BY l_partkey
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_small,
               CAST(COALESCE(SUM(ext_i), 0) AS BIGINT) AS ext_cents
        FROM li JOIN pa USING (l_partkey)
        WHERE qty_i * 5 * n_items < sum_qty
    """,
)
def small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import broadcast

    brand_parts = (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_brand") == "Brand#4")
        .select(F.col("p_partkey").alias("l_partkey"))
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .join(broadcast(brand_parts), on="l_partkey", how="left_semi")
        .select(
            "l_partkey",
            F.round(F.col("l_quantity") * 100).cast("bigint").alias("qty_i"),
            F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("ext_i"),
        )
    )
    pa = li.groupBy("l_partkey").agg(
        F.sum("qty_i").cast("bigint").alias("sum_qty"),
        F.count("*").cast("bigint").alias("n_items"),
    )
    return (
        li.join(pa, on="l_partkey")
        .where(F.col("qty_i") * 5 * F.col("n_items") < F.col("sum_qty"))
        .agg(
            F.count("*").cast("bigint").alias("n_small"),
            F.coalesce(F.sum("ext_i"), F.lit(0)).cast("bigint").alias("ext_cents"),
        )
    )


@builder(
    "sole_delayed_supplier",
    tags=("relational", "exists", "not-exists", "tpch-q21"),
    doc="Suppliers who were the ONLY delayed supplier on a multi-supplier "
    "finished order (TPC-H Q21 shape; 'delayed' = shipped more than 90 "
    "days after the order date). The double correlated EXISTS / NOT "
    "EXISTS self-join is rewritten Spark-first as ONE per-order aggregate "
    "— distinct suppliers and distinct DELAYED suppliers per order — "
    "joined back to the delayed rows: a row qualifies iff its order has "
    ">1 supplier and exactly 1 delayed supplier (which, the row being "
    "delayed, must be this one). Two shuffles instead of two self-joins "
    "over the fact table; the oracle proves the rewrite against the "
    "literal EXISTS/NOT EXISTS form.",
    oracle="""
        WITH lo AS (
            SELECT l.l_orderkey, l.l_suppkey,
                   CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
                        THEN 1 ELSE 0 END AS delayed
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            WHERE o.o_orderstatus = 'F'
        )
        SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
        FROM supplier s
        JOIN lo l1 ON s.s_suppkey = l1.l_suppkey
        WHERE l1.delayed = 1
          AND EXISTS (SELECT 1 FROM lo l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM lo l3
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey
                            AND l3.delayed = 1)
        GROUP BY s.s_name
        ORDER BY numwait DESC, s_name
        LIMIT 20
    """,
)
def sole_delayed_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import broadcast

    o = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    lo = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            "l_orderkey",
            "l_suppkey",
            F.when(
                F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"),
                1,
            )
            .otherwise(0)
            .alias("delayed"),
        )
    )
    # ONE pass over the joined fact rows: collapse to (order, supplier)
    # grain first, then per-order supplier counts ride a window over that
    # aggregate — the fact table is scanned once and never self-joined
    from pyspark.sql import Window

    per_os = lo.groupBy("l_orderkey", "l_suppkey").agg(
        F.sum("delayed").cast("bigint").alias("d_rows")
    )
    w = Window.partitionBy("l_orderkey")
    qualified = per_os.select(
        "l_orderkey",
        "l_suppkey",
        "d_rows",
        F.count("*").over(w).alias("n_supp"),
        F.sum((F.col("d_rows") > 0).cast("int")).over(w).alias("n_delayed_supp"),
    ).where(
        (F.col("d_rows") > 0)
        & (F.col("n_supp") > 1)
        & (F.col("n_delayed_supp") == 1)
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        qualified.join(broadcast(s), qualified["l_suppkey"] == s["s_suppkey"])
        .groupBy("s_name")
        .agg(F.sum("d_rows").cast("bigint").alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(20)
    )


@builder(
    "idle_rich_customers",
    tags=("relational", "anti-join", "scalar-subquery", "tpch-q22"),
    doc="Above-average-balance customers with no RECENT order (none since "
    "2000-01-01; 'never ordered' is degenerate in this data), grouped by "
    "a derived name code (TPC-H Q22 shape): string-derived grouping key "
    "(right(c_name, 2)), a scalar aggregate threshold over the POSITIVE "
    "balances, and NOT EXISTS -> broadcast left-anti against the recent "
    "order custkeys. The threshold comparison is exact-integer (acct_i * "
    "n > sum_i  <=>  acctbal > avg-of-positives) so no double-avg "
    "boundary wobble can flip membership between engines.",
    oracle="""
        WITH pos AS (
            SELECT CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT)
                       AS sum_i,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM customer WHERE c_acctbal > 0
        )
        SELECT RIGHT(c_name, 2) AS code,
               CAST(COUNT(*) AS BIGINT) AS numcust,
               CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT)
                   AS acct_cents
        FROM customer, pos
        WHERE CAST(ROUND(c_acctbal * 100) AS BIGINT) * n > sum_i
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = customer.c_custkey
                            AND o.o_orderdate >= TIMESTAMP '2000-01-01')
        GROUP BY code
        ORDER BY code
    """,
)
def idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import broadcast

    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.expr("right(c_name, 2)").alias("code"),
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("acct_i"),
        "c_acctbal",
    )
    pos = c.where(F.col("c_acctbal") > 0).agg(
        F.sum("acct_i").cast("bigint").alias("sum_i"),
        F.count("*").cast("bigint").alias("n"),
    )
    okeys = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return (
        c.crossJoin(broadcast(pos))
        .where(F.col("acct_i") * F.col("n") > F.col("sum_i"))
        .join(okeys, on="c_custkey", how="left_anti")
        .groupBy("code")
        .agg(
            F.count("*").cast("bigint").alias("numcust"),
            F.sum("acct_i").cast("bigint").alias("acct_cents"),
        )
        .orderBy("code")
    )


@query(
    "range_frame_burst",
    tags=("window", "range-frame", "event-time", "sequence"),
    doc="Event-time RANGE-frame rolling metrics — the frame family the ROWS "
    "demos (daily_window_metrics) cannot express: a trailing ONE HOUR of "
    "event time holds however many rows actually occurred, so sparse and "
    "bursty users get the same semantic window. Per event: the user's "
    "trailing-1h value mass (exact integer cents), trailing-1h and "
    "trailing-15min event counts over epoch-microsecond RANGE frames "
    "(ties are peers in both engines), and a burst ratio (15m/1h share, "
    "exact ppm) that spikes when activity concentrates. Both frames share "
    "one hashpartitioning(user_id) sort; at scale this is the standard "
    "per-entity telemetry window — partitions are per-user, never global.",
    oracle="""
        WITH e AS (
            SELECT event_id, user_id, epoch_us(ts) AS us,
                   CAST(ROUND(value * 100) AS BIGINT) AS cents
            FROM events
        )
        SELECT event_id, user_id, us,
               CAST(SUM(cents) OVER w1 AS BIGINT) AS roll_1h_cents,
               CAST(COUNT(*) OVER w1 AS BIGINT) AS roll_1h_events,
               CAST(COUNT(*) OVER w2 AS BIGINT) AS roll_15m_events,
               CAST(ROUND(1000000.0 * (COUNT(*) OVER w2)
                          / (COUNT(*) OVER w1)) AS BIGINT) AS burst_ppm
        FROM e
        WINDOW w1 AS (PARTITION BY user_id ORDER BY us
                      RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW),
               w2 AS (PARTITION BY user_id ORDER BY us
                      RANGE BETWEEN 900000000 PRECEDING AND CURRENT ROW)
        ORDER BY event_id
    """,
)
def range_frame_burst(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("us"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    w1 = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-3_600_000_000, Window.currentRow)
    )
    w2 = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-900_000_000, Window.currentRow)
    )
    c1 = F.count("*").over(w1)
    c2 = F.count("*").over(w2)
    return e.select(
        "event_id",
        "user_id",
        "us",
        F.sum("cents").over(w1).cast("bigint").alias("roll_1h_cents"),
        c1.cast("bigint").alias("roll_1h_events"),
        c2.cast("bigint").alias("roll_15m_events"),
        F.round(F.lit(1_000_000.0) * c2 / c1).cast("bigint").alias("burst_ppm"),
    ).orderBy("event_id")


@query(
    "null_semantics_suite",
    tags=("join", "null-semantics", "three-valued-logic"),
    doc="NULL join-semantics contract, pinned value-for-value against the "
    "oracle: nullable keys derived from orders (every 10th key NULL) are "
    "split into two sides, and one row reports the four counts that "
    "separate a correct engine from a sloppy one — equi-join pairs "
    "(NULLs never match), null-safe <=> pairs (NULL matches NULL: adds "
    "exactly l_nulls x r_nulls), NOT-EXISTS anti rows (NULL-keyed probe "
    "rows always survive), and the NOT IN trap (a single NULL in the "
    "subquery makes NOT IN return ZERO rows under three-valued logic). "
    "Engines disagree on these corners more than anywhere else; a "
    "migration that rewrites NOT IN into an anti join silently changes "
    "answers unless this contract holds.",
    oracle="""
        WITH l AS (
            SELECT o_orderkey,
                   CASE WHEN o_orderkey % 9 = 0 THEN NULL
                        ELSE o_custkey % 500 END AS k
            FROM orders WHERE o_orderkey % 2 = 0
        ), r AS (
            SELECT o_orderkey,
                   CASE WHEN o_orderkey % 9 = 0 THEN NULL
                        ELSE o_custkey % 500 END AS k
            FROM orders WHERE o_orderkey % 2 = 1
        )
        SELECT
            (SELECT CAST(COUNT(*) AS BIGINT) FROM l WHERE k IS NULL) AS l_nulls,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM r WHERE k IS NULL) AS r_nulls,
            (SELECT CAST(COUNT(*) AS BIGINT)
               FROM l JOIN r ON l.k = r.k) AS eq_pairs,
            (SELECT CAST(COUNT(*) AS BIGINT)
               FROM l JOIN r ON l.k IS NOT DISTINCT FROM r.k) AS nullsafe_pairs,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM l
              WHERE NOT EXISTS (SELECT 1 FROM r WHERE r.k = l.k)) AS anti_rows,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM l
              WHERE k NOT IN (SELECT k FROM r)) AS not_in_rows
    """,
)
def null_semantics_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_flight_data_pipeline_spark.functions.caching import tracked_cache

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    # % 9 hits both parities (a % 10 rule would leave one side with no
    # NULLs and never arm the NOT IN trap); % 500 keys leave some keys
    # missing per side so genuine non-null anti rows exist too
    k = F.when(F.col("o_orderkey") % 9 == 0, F.lit(None)).otherwise(
        F.col("o_custkey") % 500
    )
    # the six scalar subqueries below each scan both sides — 20 parquet
    # scans of orders in one plan; cache the tiny derived (orderkey, k)
    # frame so the scan happens once and every subquery reads memory
    both = tracked_cache(o.select("o_orderkey", k.alias("k")))
    both.where(F.col("o_orderkey") % 2 == 0).createOrReplaceTempView(
        "_null_suite_l"
    )
    both.where(F.col("o_orderkey") % 2 == 1).createOrReplaceTempView(
        "_null_suite_r"
    )
    # run the REAL SQL forms (<=> , NOT EXISTS, NOT IN) through the engine
    # rather than hand-rewritten equivalents — the three-valued-logic
    # behavior of the engine itself is what this query certifies. The two
    # PAIR COUNTS alone run at KEY grain (one count row per key and side,
    # the NULL-key group included): the certified corner — = drops the
    # NULL group, <=> matches it — is still decided by the engine's own
    # join operators on genuinely NULL keys, but counting SUM(cnt_l*cnt_r)
    # over the key-grain join replaces materializing every row pair just
    # to count it (r14, guide §2.3 "aggregate before you shuffle": the
    # row-grain equi join built ~11M pairs and the null-safe join another
    # ~69M at sf0.1 — O(N^2/|keys|) at scale — for two scalar counts).
    for side, view in ((0, "_null_suite_lk"), (1, "_null_suite_rk")):
        both.where(F.col("o_orderkey") % 2 == side).groupBy("k").agg(
            # count() is already bigint in Spark (ADVICE r14 #2)
            F.count("*").alias("cnt")
        ).createOrReplaceTempView(view)
    return spark.sql(
        """
        SELECT
            (SELECT CAST(COUNT(*) AS BIGINT) FROM _null_suite_l WHERE k IS NULL)
                AS l_nulls,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM _null_suite_r WHERE k IS NULL)
                AS r_nulls,
            (SELECT CAST(COALESCE(SUM(l.cnt * r.cnt), 0) AS BIGINT)
               FROM _null_suite_lk l JOIN _null_suite_rk r ON l.k = r.k)
                AS eq_pairs,
            (SELECT CAST(COALESCE(SUM(l.cnt * r.cnt), 0) AS BIGINT)
               FROM _null_suite_lk l JOIN _null_suite_rk r ON l.k <=> r.k)
                AS nullsafe_pairs,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM _null_suite_l l
              WHERE NOT EXISTS (SELECT 1 FROM _null_suite_r r WHERE r.k = l.k))
                AS anti_rows,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM _null_suite_l l
              WHERE k NOT IN (SELECT k FROM _null_suite_r))
                AS not_in_rows
        """
    )


@builder(
    "promo_revenue_ratio",
    tags=("join", "agg", "conditional", "tpch"),
    doc="TPC-H Q14-shaped promotion-revenue ratio: lineitem x part over a "
    "one-quarter shipdate window, the part dimension broadcast, revenue "
    "split by p_type = 'PROMO' inside ONE aggregate (conditional sum, no "
    "second scan). The date filter reaches the lineitem scan as a pushed "
    "predicate and the revenue rides the cents-exact discipline "
    "(price-cents x (100 - discount%), BIGINT end to end); the ratio is "
    "the only float, rounded to exact ppm on both engines.",
    oracle="""
        SELECT CAST(SUM(CASE WHEN p_type = 'PROMO' THEN
                        CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                        * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))
                      ELSE 0 END) AS BIGINT) AS promo_revenue_e4,
               CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                        * (100 - CAST(ROUND(l_discount * 100) AS BIGINT)))
                    AS BIGINT) AS total_revenue_e4,
               CAST(ROUND(1000000.0
                    * SUM(CASE WHEN p_type = 'PROMO' THEN
                            CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                            * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))
                          ELSE 0 END)
                    / SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                          * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))))
                    AS BIGINT) AS promo_ppm
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1996-04-01'
    """,
)
def promo_revenue_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.round(F.col("l_extendedprice") * 100).cast("bigint") * (
        100 - F.round(F.col("l_discount") * 100).cast("bigint")
    )
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("promo_revenue_e4"),
            F.sum(rev).cast("bigint").alias("total_revenue_e4"),
        )
        .select(
            "promo_revenue_e4",
            "total_revenue_e4",
            F.round(
                F.lit(1_000_000.0)
                * F.col("promo_revenue_e4")
                / F.col("total_revenue_e4")
            )
            .cast("bigint")
            .alias("promo_ppm"),
        )
    )


@builder(
    "top_supplier_revenue",
    tags=("join", "subquery", "scalar-agg", "view", "tpch"),
    doc="TPC-H Q15-shaped top supplier: per-supplier revenue over a "
    "half-year shipdate window (the revenue 'view'), then the suppliers "
    "whose revenue EQUALS the view's scalar maximum — the aggregate is "
    "computed ONCE and reused for both the max and the final join (the "
    "1-row max rides a broadcast crossJoin, never a recompute; Q15's "
    "stated trap is evaluating the view twice). Supplier dim broadcast; "
    "revenue cents-exact, divided once at the end.",
    oracle="""
        WITH rev AS (
            SELECT l_suppkey,
                   CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                            * (100 - CAST(ROUND(l_discount * 100) AS BIGINT)))
                        AS BIGINT) AS rev_e4
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1996-07-01'
            GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name, rev_e4 / 10000.0 AS total_revenue
        FROM supplier JOIN rev ON s_suppkey = l_suppkey
        WHERE rev_e4 = (SELECT MAX(rev_e4) FROM rev)
        ORDER BY s_suppkey
    """,
)
def top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_flight_data_pipeline_spark.functions.caching import tracked_cache

    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    revc = F.round(F.col("l_extendedprice") * 100).cast("bigint") * (
        100 - F.round(F.col("l_discount") * 100).cast("bigint")
    )
    rev = tracked_cache(
        li.groupBy("l_suppkey").agg(F.sum(revc).cast("bigint").alias("rev_e4"))
    )
    mx = rev.agg(F.max("rev_e4").alias("_mx"))
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.crossJoin(F.broadcast(mx))
        .where(F.col("rev_e4") == F.col("_mx"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .select(
            "s_suppkey", "s_name", (F.col("rev_e4") / 10000.0).alias("total_revenue")
        )
        .orderBy("s_suppkey")
    )


@builder(
    "large_volume_customers",
    tags=("join", "having", "semi", "tpch"),
    doc="TPC-H Q18-shaped large-volume customers: orders whose lineitem "
    "quantity total exceeds 170 (the IN-over-GROUP-BY-HAVING shape, "
    "planned as ONE aggregate over the fact reused as both the filter and "
    "the reported total — never an aggregate-then-semi-join recompute), "
    "joined back to orders and the broadcast customer dim. Quantities are "
    "integral doubles, cast BIGINT for exact sums on both engines.",
    oracle="""
        WITH big AS (
            SELECT l_orderkey,
                   CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
            FROM lineitem
            GROUP BY l_orderkey
            HAVING SUM(CAST(l_quantity AS BIGINT)) > 170
        )
        SELECT c_custkey, o_orderkey,
               CAST(year(o_orderdate) AS INT) AS order_year,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS total_cents,
               sum_qty
        FROM big
        JOIN orders ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        ORDER BY o_orderkey
    """,
)
def large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("sum_qty"))
        .where(F.col("sum_qty") > 170)
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    return (
        big.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(c), F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_custkey",
            "o_orderkey",
            F.year("o_orderdate").alias("order_year"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("total_cents"),
            "sum_qty",
        )
        .orderBy("o_orderkey")
    )


@builder(
    "disjunctive_band_revenue",
    tags=("join", "predicate-pushdown", "disjunction", "tpch"),
    doc="TPC-H Q19-shaped disjunctive-band revenue: an OR of three "
    "(brand, size-band, quantity-band) conjunctions across lineitem x "
    "broadcast part. The shape exists to keep a multi-clause disjunction "
    "INSIDE one scan+join — the anti-pattern is a 3-way union of "
    "per-clause scans (three fact passes at 100 TB); the common "
    "sub-predicates (partkey join, per-side column pruning) are shared "
    "and each clause's part-side conjuncts still prune the broadcast "
    "build. Revenue cents-exact; one aggregate row.",
    oracle="""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
               CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                        * (100 - CAST(ROUND(l_discount * 100) AS BIGINT)))
                    AS BIGINT) / 10000.0 AS revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
               AND l_quantity BETWEEN 1 AND 20)
           OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
               AND l_quantity BETWEEN 10 AND 30)
           OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
               AND l_quantity BETWEEN 20 AND 40)
    """,
)
def disjunctive_band_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    clause = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 20)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(10, 30)
            & F.col("l_quantity").between(10, 30)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(20, 50)
            & F.col("l_quantity").between(20, 40)
        )
    )
    rev = F.round(F.col("l_extendedprice") * 100).cast("bigint") * (
        100 - F.round(F.col("l_discount") * 100).cast("bigint")
    )
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .where(clause)
        .agg(
            F.count("*").cast("bigint").alias("n_items"),
            (F.sum(rev).cast("bigint") / 10000.0).alias("revenue"),
        )
    )


@builder(
    "shipping_priority_topk",
    tags=("join", "topk", "tpch-q3", "broadcast"),
    doc="TPC-H Q3-shaped shipping priority: unshipped-revenue per order for "
    "one market segment — customer dim broadcast onto orders, ONE shuffle "
    "join between the two facts (orders ⋈ lineitem on orderkey, the same "
    "co-locatable edge as Q5), revenue cents-exact, and the top-10 cut as "
    "TakeOrderedAndProject (LIMIT over a total order: revenue cents desc, "
    "then orderkey — ties at the boundary are deterministic in both "
    "engines, which a bare ORDER BY revenue would not guarantee).",
    oracle="""
        SELECT l_orderkey,
               CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                        * (100 - CAST(ROUND(l_discount * 100) AS BIGINT)))
                    AS BIGINT) / 10000.0 AS revenue,
               strftime(o_orderdate, '%Y-%m-%d') AS order_date
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-01-01'
          AND l_shipdate  > TIMESTAMP '1998-01-01'
        GROUP BY l_orderkey, o_orderdate
        ORDER BY SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                     * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) DESC,
                 l_orderkey
        LIMIT 10
    """,
)
def shipping_priority_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    rev = F.round(F.col("l_extendedprice") * 100).cast("bigint") * (
        100 - F.round(F.col("l_discount") * 100).cast("bigint")
    )
    return (
        o.join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.sum(rev).cast("bigint").alias("rev_e4"))
        .orderBy(F.desc("rev_e4"), "l_orderkey")
        .limit(10)
        .select(
            "l_orderkey",
            (F.col("rev_e4") / 10000.0).alias("revenue"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        )
    )


@builder(
    "bilateral_shipping_volume",
    tags=("join", "dim-pair", "tpch-q7", "broadcast"),
    doc="TPC-H Q7-shaped bilateral shipping volume: revenue between one "
    "PAIR of nations by supplier-nation/customer-nation/ship-year — the "
    "supplier and customer sides each resolve their nation through a "
    "broadcast dim join, the pair predicate keeps BOTH directions, and "
    "the only shuffles are the two fact joins (lineitem ⋈ orders, "
    "⋈-customer) plus the final 4-group aggregate. Revenue cents-exact, "
    "divided once.",
    oracle="""
        SELECT ns.n_name AS supp_nation,
               nc.n_name AS cust_nation,
               CAST(year(l_shipdate) AS INT) AS ship_year,
               CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                        * (100 - CAST(ROUND(l_discount * 100) AS BIGINT)))
                    AS BIGINT) / 10000.0 AS revenue
        FROM lineitem
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN nation ns ON ns.n_nationkey = s_nationkey
        JOIN nation nc ON nc.n_nationkey = c_nationkey
        WHERE ((ns.n_name = 'NATION_1' AND nc.n_name = 'NATION_2')
            OR (ns.n_name = 'NATION_2' AND nc.n_name = 'NATION_1'))
          AND l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1998-01-01'
        GROUP BY 1, 2, 3
        ORDER BY supp_nation, cust_nation, ship_year
    """,
)
def bilateral_shipping_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    pair = n.where(F.col("n_name").isin("NATION_1", "NATION_2"))
    s = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(pair.select(F.col("n_nationkey").alias("s_nationkey"),
                                    F.col("n_name").alias("supp_nation"))),
            "s_nationkey",
        )
        .select("s_suppkey", "supp_nation")
    )
    c = (
        load_table(spark, sf_dir, "customer")
        .join(
            F.broadcast(pair.select(F.col("n_nationkey").alias("c_nationkey"),
                                    F.col("n_name").alias("cust_nation"))),
            "c_nationkey",
        )
        .select("c_custkey", "cust_nation")
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    rev = F.round(F.col("l_extendedprice") * 100).cast("bigint") * (
        100 - F.round(F.col("l_discount") * 100).cast("bigint")
    )
    return (
        li.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .where(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("ship_year"),
        )
        .agg((F.sum(rev).cast("bigint") / 10000.0).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "ship_year")
    )


@builder(
    "nation_market_share",
    tags=("join", "ratio", "tpch-q8", "broadcast"),
    doc="TPC-H Q8-shaped market share: one supplier nation's share of a "
    "region's market for one part type, per order year — the share is a "
    "conditional sum over ONE joined frame (never two scans), both the "
    "numerator and denominator travel as exact BIGINT e4-cents, and the "
    "ratio is the only float (identical IEEE division on identical "
    "integers in both engines, rounded to ppm). Part, customer-side "
    "nation/region, and supplier-side nation all broadcast; the fact "
    "joins are the same two shuffles as Q3/Q5.",
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
def nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_type") == "ECONOMY")
        .select("p_partkey")
    )
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    asia_cust = (
        load_table(spark, sf_dir, "customer")
        .join(
            F.broadcast(
                n.join(r, n["n_regionkey"] == r["r_regionkey"]).select(
                    F.col("n_nationkey").alias("c_nationkey")
                )
            ),
            "c_nationkey",
        )
        .select("c_custkey")
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                n.select(
                    F.col("n_nationkey").alias("s_nationkey"),
                    F.col("n_name").alias("supp_nation"),
                )
            ),
            "s_nationkey",
        )
        .select("s_suppkey", "supp_nation")
    )
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    rev = F.round(F.col("l_extendedprice") * 100).cast("bigint") * (
        100 - F.round(F.col("l_discount") * 100).cast("bigint")
    )
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(asia_cust), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(F.year("o_orderdate").alias("order_year"))
        .agg(
            F.sum(
                F.when(F.col("supp_nation") == "NATION_5", rev).otherwise(F.lit(0))
            )
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


@builder(
    "returned_item_customers",
    tags=("join", "topk", "tpch-q10", "broadcast"),
    doc="TPC-H Q10-shaped returned-item reporting: revenue lost to "
    "returned items (l_returnflag = 'R') per customer over one quarter, "
    "top 20 by lost revenue — nation broadcast onto customer, orders "
    "date-pruned at the scan, the orderkey fact join the one real "
    "shuffle, and the cut a TakeOrderedAndProject over the total order "
    "(revenue cents desc, custkey) so boundary ties are deterministic.",
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
def returned_item_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    c = load_table(spark, sf_dir, "customer").join(
        F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey")
    )
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    rev = F.round(F.col("l_extendedprice") * 100).cast("bigint") * (
        100 - F.round(F.col("l_discount") * 100).cast("bigint")
    )
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(c.select("c_custkey", "c_name", "n_name")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("c_custkey", "c_name", F.col("n_name").alias("nation"))
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
