"""Statistics-driven join planning over versioned tables: footer row
counts (exact, no scan) decide the broadcast side of a join tree: the
fact table never broadcasts, the dimensions do, and results always equal
the unhinted join."""

from __future__ import annotations

from aws_flight_data_pipeline_spark.sources import table_stats as ts
from aws_flight_data_pipeline_spark.sources import versioned as vt
from aws_flight_data_pipeline_spark.sources.testdata import load_table

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def _mk(spark, tmp_path):
    orders = load_table(spark, SF, "orders").select("o_orderkey", "o_custkey")
    cust = (
        load_table(spark, SF, "customer")
        .select("c_custkey", "c_name")
        .withColumnRenamed("c_custkey", "o_custkey")
    )
    op, cp = str(tmp_path / "orders"), str(tmp_path / "cust")
    vt.commit(orders.repartition(2), op)
    vt.commit(cust.repartition(2), cp)
    return op, cp, orders, cust


def test_row_count_is_exact_without_scan(spark, tmp_path):
    op, cp, orders, cust = _mk(spark, tmp_path)
    assert ts._Relation("orders", op).rows() == orders.count()
    assert ts._Relation("cust", cp).rows() == cust.count()


def _mk_q5(spark, tmp_path, sf=SF):
    from aws_flight_data_pipeline_spark.plans import planner_queries as pq

    return pq.build_planned_join(spark, sf)


def test_join_tree_fact_never_broadcast_dims_all_broadcast(spark, tmp_path):
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df, facts = _mk_q5(spark, tmp_path)
        plan = _plan(df)
        # lineitem is the fact: largest by footer count, heads the order
        assert facts["fact_table"] == "lineitem"
        assert facts["order"][0] == "lineitem"
        # every true dimension broadcast — these are the broadcasts
        # Catalyst would have MISSED (autoBroadcastJoinThreshold is off,
        # mimicking the misreported-size case the planner exists for)
        assert facts["broadcasts"] >= 4
        assert plan.count("BroadcastHashJoin") >= 4
        # and no cartesian product anywhere
        assert "CartesianProduct" not in plan
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_join_tree_cycle_lands_as_filter_not_join(spark, tmp_path):
    # sf0.01: supplier (100 rows) is big enough that joining it through the
    # 25-value nationkey would fan out 4x — the estimator must defer that
    # edge to a post-join filter. (At sf0.001 supplier has 10 rows and the
    # nationkey join genuinely SHRINKS the result, so the greedy choice
    # legitimately inverts — the estimator follows the data, not the shape.)
    df, facts = _mk_q5(spark, tmp_path, sf="/root/testdata/sf0.01")
    strategies = [s["strategy"] for s in facts["steps"]]
    assert strategies.count("filter") == 1
    # 5 joins + 1 filter = 6 edges; the filter is the nationkey cycle
    filt = next(s for s in facts["steps"] if s["strategy"] == "filter")
    assert {filt["edge"][1], filt["edge"][3]} == {"c_nationkey", "s_nationkey"}
    # greedy deferred it: joining through a 25-value key would fan out
    # ~rows(customer)/25 per row, and the estimator saw that
    assert all("table" in s or s is filt for s in facts["steps"])


def test_join_tree_matches_unhinted_join(spark, tmp_path):
    from aws_flight_data_pipeline_spark.plans.planner_queries import (
        stats_planned_join_tree,
    )
    from aws_flight_data_pipeline_spark.sources.testdata import load_table

    got = stats_planned_join_tree(spark, SF)
    li = load_table(spark, SF, "lineitem")
    o = load_table(spark, SF, "orders")
    c = load_table(spark, SF, "customer")
    s = load_table(spark, SF, "supplier")
    n = load_table(spark, SF, "nation")
    r = load_table(spark, SF, "region")
    from pyspark.sql import functions as F

    cents = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    disc = F.round(F.col("l_discount") * 100).cast("bigint")
    want = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .where(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(n, F.col("c_nationkey") == F.col("n_nationkey"))
        .join(r.where(F.col("r_name") == "ASIA"), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count("*").alias("n_items"),
            (F.sum(cents * (100 - disc)).cast("bigint") / 10000.0).alias("revenue"),
        )
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_join_tree_rejects_disconnected_graph(spark, tmp_path):
    orders = load_table(spark, SF, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, SF, "customer").select("c_custkey")
    nat = load_table(spark, SF, "nation").select("n_nationkey")
    op, cp, np_ = str(tmp_path / "o"), str(tmp_path / "c"), str(tmp_path / "n")
    vt.commit(orders, op)
    vt.commit(cust, cp)
    vt.commit(nat, np_)
    import pytest

    with pytest.raises(ValueError, match="connect"):
        ts.plan_join_tree(
            spark,
            {"orders": op, "cust": cp, "nation": np_},
            [("orders", "o_custkey", "cust", "c_custkey")],
        )


def test_filter_aware_rows_flip_broadcast_decision(spark, tmp_path):
    # filter-before-join as a PLANNER input: orders is committed
    # range-clustered on o_orderkey with footer stats, so a narrow key
    # range prunes to ~1/4 of its files; the planner's row estimate for
    # the filtered table is the surviving files' footer count, which
    # drops it under the broadcast threshold a full-table count exceeds
    from pyspark.sql import functions as F

    li = load_table(spark, SF, "lineitem").select("l_orderkey", "l_extendedprice")
    orders = load_table(spark, SF, "orders").select("o_orderkey", "o_totalprice")
    lp, op = str(tmp_path / "li"), str(tmp_path / "orders")
    vt.commit(li.repartition(2), lp)
    vt.commit(
        orders.repartitionByRange(4, "o_orderkey"), op, stats_cols=("o_orderkey",)
    )
    n_orders = ts._Relation("orders", op).rows()
    hi = 300  # a narrow head range: prunes to the first range file
    tables = {"lineitem": lp, "orders": op}
    edges = [("lineitem", "l_orderkey", "orders", "o_orderkey")]
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # unfiltered: orders (1500 rows) exceeds the 500-row threshold -> SMJ
        df_full, facts_full = ts.plan_join_tree(
            spark, tables, edges, broadcast_threshold_rows=500
        )
        assert facts_full["row_counts"]["orders"] == n_orders
        assert "SortMergeJoin" in _plan(df_full)

        # filtered: the pruned footer count enables the broadcast
        df_f, facts_f = ts.plan_join_tree(
            spark,
            tables,
            edges,
            broadcast_threshold_rows=500,
            filters={"orders": {"o_orderkey": (1, hi)}},
        )
        assert facts_f["row_counts"]["orders"] < n_orders
        assert facts_f["row_counts"]["orders"] <= 500
        plan = _plan(df_f)
        assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan

        # and the result equals the hand-filtered plain join
        want = li.join(
            orders.where(F.col("o_orderkey").between(1, hi)),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        assert sorted(map(tuple, df_f.collect())) == sorted(
            map(tuple, want.collect())
        )
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_planned_q5_matches_hand_tuned_production_query(spark, tmp_path):
    """Verdict-r9 wiring: the production Q5 (multiway_join_revenue) served
    by the planner — identical values to the hand-tuned plan, the same
    strategy skeleton (dims broadcast, exactly one shuffled fact-fact
    edge), and the planner's decisions land in the monitor's history."""
    from pyspark.sql import functions as F  # noqa: F401

    from aws_flight_data_pipeline_spark.operators.monitoring import WorkloadMonitor
    from aws_flight_data_pipeline_spark.plans.planner_queries import (
        build_planned_join,
        multiway_join_revenue_planned,
    )
    from aws_flight_data_pipeline_spark.plans.registry import resolve

    sf = "/root/testdata/sf0.01"
    got = multiway_join_revenue_planned(spark, sf)
    want = resolve("multiway_join_revenue")(spark, sf)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    # same strategy skeleton as the hand-tuned plan: every dimension
    # broadcast, the lineitem-orders edge the one sort-merge join. At
    # sf0.01 orders (15k rows) legitimately fits the production 100k
    # threshold, so pin the 100 TB skeleton with a threshold that makes
    # both facts big relative to it — the planner must then broadcast
    # every dim and shuffle exactly the fact-fact edge.
    from aws_flight_data_pipeline_spark.plans import planner_queries as pq
    from aws_flight_data_pipeline_spark.sources import table_stats as ts2

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        _, facts = build_planned_join(spark, sf)
        assert facts["fact_table"] == "lineitem"
        assert facts["broadcasts"] >= 4

        paths = pq._ensure_tables(spark, sf)
        df, facts = ts2.plan_join_tree(
            spark,
            paths,
            list(pq._EDGES),
            broadcast_threshold_rows=10_000,  # orders (15k) stays above
            filters={"region": {"r_name": ("ASIA", "ASIA")}},
        )
        plan = _plan(df)
        assert facts["fact_table"] == "lineitem"
        assert facts["broadcasts"] == 4
        assert plan.count("BroadcastHashJoin") >= 4
        smj = [s for s in facts["steps"] if s["strategy"] == "sort_merge"]
        assert [s["table"] for s in smj] == ["orders"]  # the fact-fact edge
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")

    # planner decisions are queryable evidence in the monitor
    mon = WorkloadMonitor(spark)
    m = mon.run_planned("multiway_join_revenue_planned", got, facts)
    assert m.output_rows == want.count()
    ph = mon.plan_history()
    rows = ph.collect()
    assert len(rows) == len(facts["steps"])
    assert {r["strategy"] for r in rows} >= {"broadcast", "filter"}
    assert all(r["name"] == "multiway_join_revenue_planned" for r in rows)
    assert all(r["fact_table"] == "lineitem" for r in rows)


def test_edges_from_predicates_resolution_and_errors():
    import pytest

    cols = {
        "lineitem": ["l_orderkey", "l_suppkey"],
        "orders": ["o_orderkey", "dup"],
        "supplier": ["s_suppkey", "dup"],
    }
    edges = ts.edges_from_predicates(
        ["l_orderkey = o_orderkey", "s_suppkey=l_suppkey"], cols
    )
    assert edges == [
        ("lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("supplier", "s_suppkey", "lineitem", "l_suppkey"),
    ]
    # qualified form disambiguates a shared column name
    assert ts.edges_from_predicates(["orders.dup = s_suppkey"], cols) == [
        ("orders", "dup", "supplier", "s_suppkey")
    ]
    with pytest.raises(ValueError, match="ambiguous"):
        ts.edges_from_predicates(["dup = l_orderkey"], cols)
    with pytest.raises(ValueError, match="unknown column"):
        ts.edges_from_predicates(["nope = l_orderkey"], cols)
    with pytest.raises(ValueError, match="references one table twice"):
        ts.edges_from_predicates(["l_orderkey = l_suppkey"], cols)
    with pytest.raises(ValueError, match="not an equi-join"):
        ts.edges_from_predicates(["l_orderkey < o_orderkey"], cols)


def test_plain_parquet_relation_rows_read_ndv(spark):
    # raw single-file parquet: footer count exact, filters apply as row
    # filters, select-spec renames project, NDV comes from the on-demand
    # session cache (second call must not rescan — same dict object)
    rel = ts._Relation("orders", f"{SF}/orders.parquet")
    assert rel.versioned is False
    assert rel.rows() == load_table(spark, SF, "orders").count()
    aliased = ts._Relation(
        "o2",
        {
            "path": f"{SF}/orders.parquet",
            "select": {"o_orderkey": "key", "o_totalprice": "price"},
        },
    )
    assert aliased.out_columns() == ["key", "price"]
    df = aliased.read(spark, where={"o_orderkey": (1, 50)})
    assert df.columns == ["key", "price"]
    got = df.count()
    want = (
        load_table(spark, SF, "orders")
        .where("o_orderkey between 1 and 50")
        .count()
    )
    assert got == want
    ndv1 = aliased.ndv(spark, ("key",))
    ndv2 = aliased.ndv(spark, ("key",))
    assert ndv1 == ndv2
    n = load_table(spark, SF, "orders").count()
    assert 0.8 * n <= ndv1["key"] <= 1.2 * n  # near-unique key, HLL++ error


def test_versioned_ndv_follows_an_append(spark, tmp_path):
    # a commit names new files, so the head manifest's file set — the
    # session cache's key — changes, and the estimate sees the new keys
    path = str(tmp_path / "t")
    df = spark.createDataFrame([(i, i % 10) for i in range(200)], "id bigint, k bigint")
    vt.commit(df.repartition(2), path)
    rel = ts._Relation("t", path)
    assert rel.ndv(spark, ("k",)) == {"k": 10}
    vt.commit(df.selectExpr("id", "k + 10 AS k").repartition(2), path, mode="append")
    assert rel.ndv(spark, ("k",)) == {"k": 20}


def test_planned_q8_matches_hand_tuned_production_query(spark):
    """Verdict-r10 #4: the planner generalized past the Q5 episode — Q8
    (eight tables, nation twice) served from RAW PARQUET with predicate-
    derived edges, value-equal to the hand-tuned query, the 100 TB
    skeleton pinned (every dim broadcast, orders the one sort-merge
    edge), and the decisions queryable in the monitor."""
    from aws_flight_data_pipeline_spark.operators.monitoring import WorkloadMonitor
    from aws_flight_data_pipeline_spark.plans.planner_queries import (
        build_planned_q8,
        nation_market_share_planned,
    )
    from aws_flight_data_pipeline_spark.plans.registry import resolve

    sf = "/root/testdata/sf0.01"
    got = nation_market_share_planned(spark, sf)
    want = resolve("nation_market_share")(spark, sf)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    # 100 TB skeleton: at sf0.01 orders (15k rows) sits above a 10k
    # threshold, so the planner must broadcast all six dims and shuffle
    # exactly the lineitem-orders fact edge — with Catalyst's own
    # threshold off, every broadcast below is the planner's decision
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df, facts = build_planned_q8(spark, sf, broadcast_threshold_rows=10_000)
        plan = _plan(df)
        assert facts["fact_table"] == "lineitem"
        assert facts["broadcasts"] == 6
        assert plan.count("BroadcastHashJoin") >= 6
        assert "CartesianProduct" not in plan
        smj = [s for s in facts["steps"] if s["strategy"] == "sort_merge"]
        assert [s["table"] for s in smj] == ["orders"]
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")

    mon = WorkloadMonitor(spark)
    mon.run_planned("nation_market_share_planned", got, facts)
    rows = mon.plan_history().collect()
    assert len(rows) == len(facts["steps"])
    assert all(r["name"] == "nation_market_share_planned" for r in rows)
    assert all(r["fact_table"] == "lineitem" for r in rows)


def test_planned_q10_matches_hand_tuned_and_broadcasts_dims(spark):
    """Third planner consumer: Q10 from raw parquet — value-equal to the
    hand-tuned top-20, lineitem the fact, every dimension broadcast."""
    from aws_flight_data_pipeline_spark.plans.planner_queries import (
        returned_item_customers_planned,
    )
    from aws_flight_data_pipeline_spark.plans.registry import resolve

    sf = "/root/testdata/sf0.01"
    got = returned_item_customers_planned(spark, sf)
    want = resolve("returned_item_customers")(spark, sf)
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in want.collect()]
