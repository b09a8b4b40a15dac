"""Min-label propagation (operators/graph.py): exact components on known
graphs, the hop-per-round propagation bound of the explicit-iterations
form, and the FIXPOINT default (verdict-r11 #1): deep chains whose
diameter exceeds any fixed round count must still collapse to one
component — on the distributed branch specifically."""

from __future__ import annotations

from pyspark.sql import functions as F

from aws_flight_data_pipeline_spark.operators.graph import (
    _union_find_min_labels,
    connected_components,
    propagate_min_labels,
    symmetrize,
)
from aws_flight_data_pipeline_spark.plans.text_queries import scored_pair_frame
from aws_flight_data_pipeline_spark.sources.testdata import load_table


def _labels(spark, node_ids, edge_pairs, iterations):
    nodes = spark.createDataFrame([(n,) for n in node_ids], "node long")
    edges = symmetrize(spark.createDataFrame(edge_pairs, "u long, v long"))
    out = propagate_min_labels(nodes, edges, iterations)
    return {r["node"]: r["label"] for r in out.collect()}


def test_triangle_chain_and_singleton(spark):
    # triangle {1,2,3}, chain 10-11-12, singleton 20
    got = _labels(spark, [1, 2, 3, 10, 11, 12, 20], [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12)], 3)
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10, 20: 20}


def test_propagation_is_one_hop_per_round(spark):
    # chain 0-1-2-3-4: node 4 is 4 hops from the minimum, so 3 rounds are
    # NOT enough (the documented bound) and 4 rounds converge it
    chain = [(i, i + 1) for i in range(4)]
    after3 = _labels(spark, list(range(5)), chain, 3)
    assert after3[4] != 0 and after3[3] == 0
    after4 = _labels(spark, list(range(5)), chain, 4)
    assert set(after4.values()) == {0}


def test_fixpoint_converges_past_any_fixed_round_count(spark):
    # the FIXPOINT default (iterations=None) must be exact on a chain whose
    # diameter (9) far exceeds the old fixed setting of 3
    chain = [(i, i + 1) for i in range(9)]
    got = _labels(spark, list(range(10)), chain, None)
    assert set(got.values()) == {0}


def test_distributed_branch_exact_on_planted_diameter6_chain(spark):
    # THE r11 scale hole: a near-dup chain A~B~C~D~E~F~G (successive edits,
    # diameter 6) forced down the DISTRIBUTED branch (local_max_edges=0)
    # must come back as ONE component — a truncated Hash-Min run would
    # split it into internally-consistent label groups that no downstream
    # straddle audit can detect
    chain_nodes = [100, 101, 102, 103, 104, 105, 106]
    edge_pairs = [(a, b) for a, b in zip(chain_nodes, chain_nodes[1:])]
    node_ids = chain_nodes + [200, 300]  # plus two isolated docs
    nodes = spark.createDataFrame([(n,) for n in node_ids], "node long")
    edges = symmetrize(spark.createDataFrame(edge_pairs, "u long, v long")).cache()
    got = {
        r["node"]: r["label"]
        for r in connected_components(nodes, edges, local_max_edges=0).collect()
    }
    assert got == {n: 100 for n in chain_nodes} | {200: 200, 300: 300}
    edges.unpersist()


def test_symmetrize_doubles_edges(spark):
    e = symmetrize(spark.createDataFrame([(1, 2), (3, 4)], "u long, v long"))
    assert sorted((r["u"], r["v"]) for r in e.collect()) == [(1, 2), (2, 1), (3, 4), (4, 3)]


def test_union_find_min_labels():
    # triangle + chain + transitive merge across unions; root is always min
    got = _union_find_min_labels([(2, 1), (2, 3), (10, 11), (12, 11), (3, 12)])
    assert got == {1: 1, 2: 1, 3: 1, 10: 1, 11: 1, 12: 1}
    assert _union_find_min_labels([]) == {}


def test_connected_components_both_strategies_match_full(spark):
    node_ids = [1, 2, 3, 10, 11, 12, 20, 21]
    edge_pairs = [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12)]
    nodes = spark.createDataFrame([(n,) for n in node_ids], "node long")
    edges = symmetrize(spark.createDataFrame(edge_pairs, "u long, v long")).cache()
    full = {r["node"]: r["label"] for r in propagate_min_labels(nodes, edges).collect()}
    local = {
        r["node"]: r["label"]
        for r in connected_components(nodes, edges).collect()
    }
    dist = {
        r["node"]: r["label"]
        for r in connected_components(nodes, edges, local_max_edges=0).collect()
    }
    assert local == full == dist
    assert local[20] == 20 and local[21] == 21
    edges.unpersist()


def test_corpus_fixpoint_matches_union_find(spark, sf_dir):
    # on the real corpus the fixpoint labels must equal the exact driver
    # union-find over the same edge list — the two strategies of
    # connected_components are interchangeable by construction
    d = load_table(spark, sf_dir, "documents")
    edges = symmetrize(
        scored_pair_frame(d)
        .filter(F.col("j") >= 0.5)
        .select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
    ).cache()
    nodes = d.select(F.col("doc_id").alias("node"))
    fix = {r["node"]: r["label"] for r in propagate_min_labels(nodes, edges).collect()}
    exact = _union_find_min_labels((r["u"], r["v"]) for r in edges.collect())
    for node, label in exact.items():
        assert fix[node] == label
    # nodes outside the edge set keep their own id
    assert all(l == n for n, l in fix.items() if n not in exact)
    edges.unpersist()
