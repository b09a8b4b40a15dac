"""Physical-plan shape assertions — the scale contract, enforced.

Correctness tests prove the numbers; these prove the PLANS stay the ones that
survive a 100× scale-up: filters pushed into the parquet scan, columns pruned,
small sides broadcast (never sort-merge-joined or cartesian'd), top-k planned
as TakeOrderedAndProject, JVM-side expressions with Python only at the
declared Arrow boundaries, and window specs sharing one shuffle. A regression
that silently flips any of these still passes value checks at sf0.001 — this
file is what catches it.
"""

from __future__ import annotations

import re

import pytest

from aws_flight_data_pipeline_spark.plans.registry import _ensure_loaded, resolve
from aws_flight_data_pipeline_spark.sources import testdata

_ensure_loaded()


@pytest.fixture(autouse=True)
def _lake_layout_plans(monkeypatch):
    """Pin the shapes a multi-split lake produces: the single-split fan-out
    exchange (a local-testdata compensation, absent at scale) would otherwise
    show up in every documents/embeddings plan and mask real shuffle
    regressions behind a fixed +1."""
    monkeypatch.setattr(testdata, "_FAN_OUT_TABLES", {})


def _plan(spark, sf_dir, name: str, mode: str = "formatted") -> str:
    df = resolve(name)(spark, sf_dir)
    return spark._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


def test_filter_pushdown_and_column_pruning(spark, sf_dir):
    plan = _plan(spark, sf_dir, "pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # projection pruning: the 16-column lineitem scan reads only the 6 needed
    assert "l_comment" not in plan and "l_partkey" not in plan
    # partial + final hash aggregation (map-side combine before the shuffle)
    assert plan.count("HashAggregate") >= 2 and "partial_sum" in plan


def test_dim_join_broadcasts(spark, sf_dir):
    plan = _plan(spark, sf_dir, "dim_join_rollup")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_stats_frames_broadcast(spark, sf_dir):
    for name in ("anomaly_scan_suite", "zscore_anomalies"):
        plan = _plan(spark, sf_dir, name)
        assert "Broadcast" in plan, f"{name}: stats frame not broadcast"
        assert "SortMergeJoin" not in plan, f"{name}: unexpected sort-merge join"


def test_band_join_is_broadcast_not_cartesian(spark, sf_dir):
    plan = _plan(spark, sf_dir, "band_proximity_join")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_topk_plans_as_take_ordered(spark, sf_dir):
    plan = _plan(spark, sf_dir, "topk_line_items")
    assert "TakeOrderedAndProject" in plan
    # no global sort materialization for a LIMIT query
    assert plan.count("Exchange rangepartitioning") == 0


def test_text_vector_paths_stay_jvm_side(spark, sf_dir):
    for name in (
        "dedup_minhash_signatures",
        "text_rolling_fingerprint",
        "ann_topk_compare",
        "dedup_simhash",
        "embedding_near_dup_pairs",
    ):
        plan = _plan(spark, sf_dir, name)
        for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "PythonUDF"):
            assert marker not in plan, f"{name}: Python appeared in the hot path ({marker})"


def test_multimodal_uses_declared_arrow_boundary(spark, sf_dir):
    plan = _plan(spark, sf_dir, "multimodal_asset_profile")
    assert "MapInPandas" in plan  # the one sanctioned Python boundary
    assert "BatchEvalPython" not in plan  # and never row-at-a-time


def test_salted_aggregate_two_phase(spark, sf_dir):
    plan = _plan(spark, sf_dir, "salted_skew_aggregate")
    # phase 1 shuffles on (key, salt), phase 2 on key alone
    assert re.search(r"hashpartitioning\(event_type#\d+, _salt", plan)
    assert len(re.findall(r"hashpartitioning\(event_type#\d+, 3", plan)) >= 1


def test_ivf_probe_prunes_before_scoring(spark, sf_dir):
    plan = _plan(spark, sf_dir, "ann_topk_compare")
    assert "BroadcastHashJoin [label" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize(
    "name",
    ["pricing_summary", "seq_kinematics", "quality_grade_distribution"],
)
def test_hot_paths_whole_stage_codegen(spark, sf_dir, name):
    # codegen spans (the *(n) markers) only appear in the AQE FINAL plan, so
    # execute first and read the plan back off the same DataFrame
    df = resolve(name)(spark, sf_dir)
    df.collect()
    plan = spark._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "simple")
    assert "*(" in plan, f"{name}: no WholeStageCodegen span in final plan"


def test_kinematics_suite_shares_one_shuffle(spark, sf_dir):
    # delta, cumsum, rate, and trajectory legs all ride ONE user_id shuffle
    plan = _plan(spark, sf_dir, "seq_kinematics")
    assert len(re.findall(r"hashpartitioning\(user_id", plan)) == 1


def test_text_signal_suite_is_one_scan(spark, sf_dir):
    # four merged operators, still a single documents scan + one hash-agg
    # (formatted explain prints each scan node twice: tree + detail section,
    # so count the Location lines — one per physical scan)
    plan = _plan(spark, sf_dir, "text_signal_suite")
    assert plan.count("Location: InMemoryFileIndex") == 1
    assert plan.count("HashAggregate") == 4  # partial + final, tree + detail


def test_dedup_pipeline_never_cartesian(spark, sf_dir):
    # candidate generation is per-bucket equi-join; verification is an
    # exploded-shingle equi-join — no all-pairs anywhere
    plan = _plan(spark, sf_dir, "dedup_pipeline_end_to_end")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_near_dup_lsh_is_bucketed_equi_join(spark, sf_dir):
    # the production near-dup path joins on the sign bucket (equi), with the
    # id inequality only as a post-join filter — never a cartesian scan
    plan = _plan(spark, sf_dir, "embedding_near_dup_lsh")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_asof_join_is_one_shuffle_no_range_explosion(spark, sf_dir):
    plan = _plan(spark, sf_dir, "asof_join_attribution")
    # the union+window encoding: ONE hash shuffle on the key, and never a
    # range join (BroadcastNestedLoop/Cartesian) that explodes pairs
    assert len(re.findall(r"hashpartitioning\(user_id", plan)) == 1
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan


def test_language_id_profile_broadcasts(spark, sf_dir):
    plan = _plan(spark, sf_dir, "text_language_id")
    # scoring joins the lang×vocab profile via broadcast — the token stream
    # must never shuffle for the profile lookup
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_simhash_signatures_run_in_codegen(spark, sf_dir):
    df = resolve("dedup_simhash")(spark, sf_dir)
    df.collect()
    plan = spark._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "simple")
    # the vote fold is 32 conditional sums inside whole-stage codegen (the
    # *(n) spans) — the interpreted HOF evaluator (the round-1 hotspot) must
    # not reappear in the signature subtree
    assert re.search(r"\*\(\d+\) HashAggregate\(keys=\[doc_id", plan)
    assert "partial_sum(CASE WHEN" in plan  # map-side combine of the votes


def test_decontamination_probe_is_broadcast(spark, sf_dir):
    # the eval shingle set must broadcast: the corpus side is never shuffled
    # for the membership probe (the property that keeps it one pass at scale)
    plan = _plan(spark, sf_dir, "corpus_decontamination")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_split_and_budget_sample_plan_shapes(spark, sf_dir):
    # split assignment is a pure per-row expression: no join, single agg shuffle
    plan = _plan(spark, sf_dir, "dataset_split_assign")
    assert "Join" not in plan
    assert plan.count("hashpartitioning(") == 1
    # budget sampling: ONE window shuffle on source, then the rollup reuses it
    plan = _plan(spark, sf_dir, "domain_budget_sample")
    assert plan.count("hashpartitioning(") == 1
    assert "RunningWindowFunction" in plan or "Window" in plan


def test_pii_sweep_is_single_scan_no_shuffle_before_agg(spark, sf_dir):
    plan = _plan(spark, sf_dir, "text_pii_redaction")
    assert "Join" not in plan
    assert plan.count("hashpartitioning(") == 1  # the final rollup only


def test_repetition_filter_zero_preagg_shuffle(spark, sf_dir):
    # per-doc multiplicity is a per-row run-length fold over the sorted gram
    # array — no explode, no join, and the ONLY exchange is the per-source
    # rollup (round 2's exploded (doc, k, gram) combine moved ~5M gram
    # strings through a shuffle; this shape moves |sources| rows)
    plan = _plan(spark, sf_dir, "text_repetition_filter", mode="simple")
    assert "Join" not in plan
    assert "Generate" not in plan  # no explode
    assert plan.count("Exchange") <= 2  # source rollup (+ orderBy range)


def test_quality_funnel_joinless_single_scan(spark, sf_dir):
    # ALL five rules (incl. repetition) are per-row expressions off one scan
    plan = _plan(spark, sf_dir, "quality_filter_funnel", mode="simple")
    assert "Join" not in plan
    assert "Generate" not in plan
    assert plan.count("Exchange") <= 2


def test_subquery_suite_plans_semi_and_anti_joins(spark, sf_dir):
    # EXISTS/IN rewrite to LEFT SEMI, NOT EXISTS to LEFT ANTI — never a
    # pair-exploding join; the scalar subquery broadcasts one row
    plan = _plan(spark, sf_dir, "subquery_suite", mode="simple")
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_embedding_dedup_pipeline_never_all_pairs(spark, sf_dir):
    # candidate generation is the sign-bucket equi-join; label propagation is
    # equi-joins over the (node, label) table — no cartesian anywhere
    plan = _plan(spark, sf_dir, "embedding_dedup_pipeline", mode="simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_sketch_rollup_reaggregates_sketches(spark, sf_dir):
    # the GLOBAL row merges per-source HLL sketches (hll_union_agg over the
    # grouped sketches) — documents must not be rescanned for the estimate
    plan = _plan(spark, sf_dir, "sketch_distinct_rollup", mode="simple")
    assert "hll_union_agg" in plan
    assert "hll_sketch_agg" in plan


def test_paragraph_dedup_election_is_agg_join_not_window(spark, sf_dir):
    # first-occurrence election must be min(struct) agg + equi-join back —
    # map-side combinable; a Window(row_number over seg) would sort every
    # shuffle partition and cannot partial-aggregate
    plan = _plan(spark, sf_dir, "dedup_paragraphs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" not in plan
    assert "partial_min" in plan


def test_zorder_profile_broadcasts_bounds(spark, sf_dir):
    # grid normalization bounds are a 1-row aggregate broadcast onto the
    # scan — never a sort-merge join, never a shuffled cross join
    plan = _plan(spark, sf_dir, "zorder_locality_profile")
    assert "Broadcast" in plan
    assert "SortMergeJoin" not in plan


def test_zorder_writer_is_one_range_exchange(spark, sf_dir):
    from pyspark.sql import functions as F

    from aws_flight_data_pipeline_spark.operators.layout import zorder_key
    from aws_flight_data_pipeline_spark.sources.testdata import load_table

    e = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.col("ts").cast("long").alias("t_sec")
    )
    keyed = zorder_key(e, "user_id", "t_sec").repartitionByRange(16, F.col("_z"))
    plan = spark._jvm.PythonSQLUtils.explainString(
        keyed._jdf.queryExecution(), "formatted"
    )
    # exactly one range exchange (the file-assignment shuffle a sorted write
    # pays anyway) plus the single-partition exchange for the 1-row bounds
    assert plan.count("rangepartitioning(_z") == 1
    assert "hashpartitioning" not in plan
    assert "SortMergeJoin" not in plan


def test_heavy_dedup_pipelines_cache_and_never_cartesian(spark, sf_dir):
    # the composed dedup pipelines must keep their reused subtrees cached
    # (signature/candidate frames feed multiple consumers — losing the cache
    # silently multiplies the MinHash stage) and must never degrade to a
    # cartesian or nested-loop candidate join; equi-joins may plan as SMJ
    # statically (AQE re-plans small sides to broadcast at runtime)
    for name in ("dedup_pipeline_end_to_end", "corpus_merge_increment"):
        plan = _plan(spark, sf_dir, name, mode="simple")
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "InMemoryTableScan" in plan, f"{name}: tracked caches unwired"


def test_bm25_broadcasts_stats_and_takes_ordered(spark, sf_dir):
    plan = _plan(spark, sf_dir, "text_bm25_topk")
    # df + corpus-stats frames broadcast; top-k never globally sorts
    assert plan.count("BroadcastHashJoin") + plan.count("BroadcastNestedLoopJoin") >= 2
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_lm_scoring_trains_vocab_once(spark, sf_dir):
    plan = _plan(spark, sf_dir, "text_lm_quality_score")
    # the cached vocab model means the corpus token stream is exploded at
    # most twice (train + score) — a third explode is the recompute bug
    assert plan.count("explode") <= 2, plan.count("explode")
    assert "SortMergeJoin" not in plan


def test_scd2_shares_one_event_shuffle(spark, sf_dir):
    plan = _plan(spark, sf_dir, "scd2_state_history")
    # LAG window, version window, run agg, and user rollup all ride ONE
    # user_id hash exchange (hashpartitioning(user_id) satisfies the
    # (user_id, ver) clustering); the only other exchange is the
    # presentation orderBy
    assert len(re.findall(r"hashpartitioning\(user_id", plan)) == 1
    assert len(re.findall(r"rangepartitioning", plan)) == 1


def test_quantile_profile_sketch_path_reaggregates(spark, sf_dir):
    plan = _plan(spark, sf_dir, "sketch_quantile_profile")
    # the GLOBAL histogram re-aggregates per-status sketches: the orders
    # scan feeds the bucket path once, never twice (the exact-stat contract
    # path accounts for the other scans)
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_diversity_sample_is_one_bucket_shuffle(spark, sf_dir):
    plan = _plan(spark, sf_dir, "corpus_diversity_sample")
    # rank + stratum-size windows and the final rollup share one bucket
    # exchange (plus the presentation orderBy)
    assert len(re.findall(r"hashpartitioning\(bucket", plan)) == 1
    assert "SortMergeJoin" not in plan


def test_multiway_join_broadcasts_dims_single_fact_shuffle(spark, sf_dir):
    plan = _plan(spark, sf_dir, "multiway_join_revenue")
    # region/nation/supplier/customer resolve as broadcast joins; the only
    # non-broadcast join is lineitem ⋈ orders on orderkey
    assert plan.count("BroadcastHashJoin") >= 3
    non_broadcast = plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin")
    assert non_broadcast <= 1, plan
    assert "CartesianProduct" not in plan


def test_pivot_declares_values_one_pass(spark, sf_dir):
    # explicit pivot values -> ONE scan of orders (value discovery would scan twice)
    plan = _plan(spark, sf_dir, "pivot_unpivot_roundtrip")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "Expand" in plan  # the unpivot stack expression


def test_cube_is_one_expand_one_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "cube_subtotals")
    # CUBE = one Expand feeding one aggregation over ONE scan — never a
    # scan per grouping combination
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "Expand" in plan


def test_json_extraction_stays_jvm_side(spark, sf_dir):
    plan = _plan(spark, sf_dir, "json_extract_profile")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "BatchEvalPython" not in plan  # get_json_object is JVM-side
    assert "partial_" in plan  # map-side combine before the shuffle


def test_bloom_semi_join_filters_before_the_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "bloom_semi_join_prune")
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    # the bloom rides as an uncorrelated scalar subquery (executed once,
    # plugged into the probe as a runtime constant) and the probe
    # (element_at over the word array) sits in a Filter on the lineitem
    # side, i.e. BEFORE the semi join
    assert "Subquery" in plan
    assert "element_at" in plan and "xxhash64" in plan


def test_set_similarity_never_all_pairs(spark, sf_dir):
    plan = _plan(spark, sf_dir, "set_similarity_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pagerank_rounds_are_equi_joins(spark, sf_dir):
    plan = _plan(spark, sf_dir, "graph_pagerank_unrolled")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # top-k never global-sorts
    assert "TakeOrderedAndProject" in plan


def test_resample_grid_generates_rows_never_cartesian(spark, sf_dir):
    plan = _plan(spark, sf_dir, "seq_resample_grid")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "Generate explode" in plan or "Generate" in plan  # grid is generated


def test_custdist_preserves_zero_bucket_and_two_shuffles(spark, sf_dir):
    plan = _plan(spark, sf_dir, "custdist_histogram")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    # LEFT join (zero-order customers preserved), two aggregation levels
    assert "LeftOuter" in plan


def test_small_quantity_prunes_before_per_part_agg(spark, sf_dir):
    plan = _plan(spark, sf_dir, "small_quantity_revenue")
    # the brand's part keys broadcast-semi-prune lineitem BEFORE any agg
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_sole_delayed_supplier_is_agg_rewrite_not_self_joins(spark, sf_dir):
    plan = _plan(spark, sf_dir, "sole_delayed_supplier")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    # the EXISTS/NOT-EXISTS pair is ONE per-order aggregate + window, not
    # two more scans of the fact table: exactly one lineitem scan (the
    # file path prints on the detail Location line, once per scan)
    assert len(re.findall(r"Location: InMemoryFileIndex \[[^\n]*lineitem", plan)) == 1
    # supplier dimension rides as a broadcast
    assert "BroadcastHashJoin" in plan


def test_idle_rich_customers_anti_join_shape(spark, sf_dir):
    plan = _plan(spark, sf_dir, "idle_rich_customers")
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    # the recent-order date filter reaches the orders scan
    assert "PushedFilters" in plan


def test_substring_dedup_never_cartesian_one_doc_shuffle(spark, sf_dir):
    plan = _plan(spark, sf_dir, "dedup_substring_spans")
    assert "CartesianProduct" not in plan
    # the two windows and the island rollup share ONE doc_id partitioning
    assert plan.count("hashpartitioning(doc_id") <= 1


def test_decontam_fuzzy_prefix_blocks_before_verify(spark, sf_dir):
    plan = _plan(spark, sf_dir, "decontam_fuzzy_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan  # candidates via equi joins only


def test_polygon_zones_unrolled_single_rollup_shuffle(spark, sf_dir):
    # simple mode: exchanges print inline with their partitioning
    plan = _plan(spark, sf_dir, "anomaly_polygon_zones", mode="simple")
    # r14: the literal vertex rings unroll into codegen'd expressions —
    # no zones join of any kind and no interpreted higher-order fold
    assert "Join" not in plan
    assert "aggregate(" not in plan  # the old F.aggregate lambda
    # the only real shuffle is the final per-zone rollup
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1


def test_range_frame_burst_shares_one_user_sort(spark, sf_dir):
    plan = _plan(spark, sf_dir, "range_frame_burst", mode="simple")
    assert len(re.findall(r"Exchange hashpartitioning\(user_id", plan)) == 1
    # range frames run as specified-window aggregation, never a self join
    assert "Join" not in plan


def test_phash_neardup_buckets_never_all_pairs(spark, sf_dir):
    plan = _plan(spark, sf_dir, "multimodal_phash_neardup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan  # candidate join is equi
    # python only at the declared Arrow boundary: the pHash mapInPandas,
    # cached once and REUSED by both self-join branches (textual mentions
    # repeat per branch; the InMemoryRelation proves single execution)
    assert "MapInPandas" in plan and "InMemoryRelation" in plan


def test_phash_wide_collapses_groups_and_stays_equi(spark, sf_dir):
    plan = _plan(spark, sf_dir, "multimodal_phash_neardup_wide")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan  # banded join is equi
    # python only at the declared Arrow boundary (the wide pHash
    # mapInPandas); the distinct-hash GROUP frame is cached so the skew
    # guard's group-by runs once for banding, cross fan-out, and within
    assert "MapInPandas" in plan and "InMemoryRelation" in plan


def test_bpe_apply_merge_table_broadcasts(spark, sf_dir):
    plan = _plan(spark, sf_dir, "bpe_apply_encode")
    assert "CartesianProduct" not in plan
    # the 1-row merge table rides a broadcast onto every doc
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_pmi_totals_broadcast_no_cartesian(spark, sf_dir):
    plan = _plan(spark, sf_dir, "text_collocation_pmi")
    assert "CartesianProduct" not in plan
    # the top-k cut is a TakeOrdered, not a global sort
    assert "TakeOrderedAndProject" in plan


def test_tpch_shape_block_plans(spark, sf_dir):
    # Q14: one lineitem scan, date window pushed, part broadcast
    plan = _plan(spark, sf_dir, "promo_revenue_ratio")
    # formatted explain lists each scan twice (tree + details): 2 scans -> 4
    assert plan.count("Scan parquet") == 4  # lineitem + part, once each
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan

    # Q18: the big-order aggregate is ONE hashpartitioning(l_orderkey)
    # shuffle reused as filter and reported total — no second fact pass
    plan = _plan(spark, sf_dir, "large_volume_customers")
    assert plan.count("Scan parquet") == 6  # lineitem, orders, customer
    assert len(re.findall(r"hashpartitioning\(l_orderkey", plan)) >= 1

    # Q19: the disjunction stays inside one scan+join (no 3-way union)
    plan = _plan(spark, sf_dir, "disjunctive_band_revenue")
    assert plan.count("Scan parquet") == 4
    assert "Union" not in plan
    assert "BroadcastHashJoin" in plan and "CartesianProduct" not in plan

    # Q3: customer dim broadcast, date windows pushed to BOTH fact scans,
    # the top-10 cut a TakeOrdered (never a global sort materialization)
    plan = _plan(spark, sf_dir, "shipping_priority_topk")
    assert "TakeOrderedAndProject" in plan
    assert plan.count("Exchange rangepartitioning") == 0
    assert "PushedFilters: [IsNotNull(o_orderdate)" in plan
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    assert "BroadcastHashJoin" in plan and "CartesianProduct" not in plan

    # Q7: both nation sides broadcast; the only sort-merge edge (if any)
    # is fact-fact; never a cartesian for the pair predicate
    plan = _plan(spark, sf_dir, "bilateral_shipping_volume")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan

    # Q8: the share is ONE aggregate over one joined frame — a single
    # lineitem scan (x2 in formatted explain), no second pass for the
    # denominator
    plan = _plan(spark, sf_dir, "nation_market_share")
    assert plan.count("lineitem.parquet") == 1  # one lineitem scan location
    assert "CartesianProduct" not in plan

    # Q10: top-20 as TakeOrdered; order date window pushed
    plan = _plan(spark, sf_dir, "returned_item_customers")
    assert "TakeOrderedAndProject" in plan
    assert "PushedFilters: [IsNotNull(o_orderdate)" in plan
    assert "CartesianProduct" not in plan


def test_top_supplier_view_not_recomputed(spark, sf_dir):
    # Q15's trap: evaluating the revenue view twice (once for MAX, once for
    # the join). The cached view means the EXECUTED plan reuses it — pinned
    # as at most one lineitem scan in the final plan (the max side reads
    # the InMemoryRelation, not the parquet again).
    df = resolve("top_supplier_revenue")(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("InMemoryTableScan") >= 1
    from aws_flight_data_pipeline_spark.functions.caching import release_tracked

    release_tracked()


def test_semdedup_scale_twin_no_global_topk_and_size_gated_join(
    spark, sf_dir, monkeypatch
):
    """Verdict r12 #2: the linear-scale SemDeDup twin must carry NO stage
    whose single-task rows or broadcast bytes grow with N — centroid
    selection is a hash-threshold filter (no global orderBy+limit), and
    the assignment join broadcasts only under the size gate, becoming a
    bucket-keyed shuffle hash join past it."""
    from pyspark.sql import functions as F

    from aws_flight_data_pipeline_spark.functions.vectors import sign_bucket
    from aws_flight_data_pipeline_spark.plans import vector_queries as vq
    from aws_flight_data_pipeline_spark.sources.testdata import load_table

    # full registered plan: the old TakeOrdered centroid sample is gone —
    # including on corpora small enough to trigger the centroid-floor
    # widening (ADVICE r13 #4: the floor is met by doubling the hash
    # acceptance threshold, a pure filter at every size, never a top-k)
    plan = _plan(spark, sf_dir, "semantic_dedup_semdedup_scale")
    assert "GlobalLimit" not in plan
    assert "TakeOrderedAndProject" not in plan
    assert "CartesianProduct" not in plan

    # the floor itself: this sf's corpus is small enough that the base
    # 1/64 rate alone could not reach 32 centroids, yet k >= 32 and the
    # fallback path stays cold (ADVICE r13 #4's small-corpus scenario)
    row = resolve("semantic_dedup_semdedup_scale")(spark, sf_dir).collect()[0]
    assert row["k"] >= 32
    assert row["fallback_docs"] == 0

    e = (
        load_table(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        )
        .withColumn("bucket", sign_bucket(F.col("v"), 2))
    )
    centroids = e.filter(F.pmod(F.xxhash64("vec_id"), F.lit(64)) == 0).select(
        F.col("vec_id").alias("cid"),
        F.col("v").alias("c"),
        F.col("bucket").alias("c_bucket"),
    )

    def _explain(df):
        return spark._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )

    # under the gate: the tiny centroid table rides a broadcast
    small = _explain(vq.semdedup_scale_assignment(e, centroids, 10))
    assert "BroadcastHashJoin" in small

    # past the gate (forced shut): bucket-keyed shuffle hash join, zero
    # broadcast anywhere in the assignment subtree
    monkeypatch.setattr(vq, "_SEMDEDUP_SCALE_BROADCAST_MAX", -1)
    big = _explain(vq.semdedup_scale_assignment(e, centroids, 10))
    assert "BroadcastExchange" not in big
    assert "BroadcastHashJoin" not in big
    assert "ShuffledHashJoin" in big
