"""Unit tests for topology utilities against hand-computed fixtures
(mirrors the reference's tiny-fixture style, tests/conftest.py:318-346)."""

import pytest
from pyspark.sql import functions as F

from city2graph_spark.operators.topology import (
    canonicalize_edges,
    connected_components,
    dual_graph,
    minimum_spanning_forest,
    remove_isolated_components,
    segments_to_graph,
    symmetrize_edges,
)


@pytest.fixture(scope="module")
def simple_edges(spark):
    return spark.createDataFrame(
        [(2, 1), (1, 2), (3, 4), (5, 5)], "src long, dst long")


def test_canonicalize_first(spark, simple_edges):
    got = {(r.src, r.dst) for r in canonicalize_edges(simple_edges).collect()}
    assert got == {(1, 2), (3, 4), (5, 5)}


def test_canonicalize_key(spark, simple_edges):
    rows = canonicalize_edges(simple_edges, duplicates="key").collect()
    keys = sorted((r.src, r.dst, r.edge_key) for r in rows)
    assert keys == [(1, 2, 0), (1, 2, 1), (3, 4, 0), (5, 5, 0)]


def test_symmetrize_idempotent(spark):
    e = spark.createDataFrame([(1, 2), (2, 1), (3, 4), (7, 7)], "src long, dst long")
    once = symmetrize_edges(e)
    got = {(r.src, r.dst) for r in once.collect()}
    assert got == {(1, 2), (2, 1), (3, 4), (4, 3), (7, 7)}
    assert {(r.src, r.dst) for r in symmetrize_edges(once).collect()} == got


def test_segments_to_graph_contract(spark):
    # reference contract (morphology.py:1741-1815): node ids in
    # first-appearance order of [starts..., ends...]; edge_key = cumcount
    segs = spark.createDataFrame(
        [(0, 0.0, 0.0, 1.0, 0.0),
         (1, 1.0, 0.0, 1.0, 1.0),
         (2, 0.0, 0.0, 1.0, 0.0),   # duplicate of seg 0 → edge_key 1
         (3, 2.0, 2.0, 0.0, 0.0)],
        "seg_id long, ax double, ay double, bx double, by double")
    nodes, edges = segments_to_graph(segs, directed=False)
    nid = {(r.x, r.y): r.node_id for r in nodes.collect()}
    # first-appearance: starts (0,0),(1,0),(2,2) then ends (1,0)dup,(1,1),(0,0)dup
    assert nid == {(0.0, 0.0): 0, (1.0, 0.0): 1, (2.0, 2.0): 2, (1.0, 1.0): 3}
    got = sorted((r.from_node_id, r.to_node_id, r.edge_key, r.seg_id)
                 for r in edges.collect())
    assert got == [(0, 1, 0, 0), (0, 1, 1, 2), (0, 2, 0, 3), (1, 3, 0, 1)]


def test_dual_graph(spark):
    e = spark.createDataFrame(
        [(10, 0, 1), (11, 1, 2), (12, 2, 3), (13, 0, 3)],
        "edge_id long, from_node_id long, to_node_id long")
    got = {(r.from_edge, r.to_edge) for r in dual_graph(e).collect()}
    assert got == {(10, 11), (11, 12), (12, 13), (10, 13)}


def test_connected_components_and_prune(spark):
    e = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23), (23, 24)],
        "src long, dst long")
    cc = {r.node: r.component for r in connected_components(e).collect()}
    assert cc == {0: 0, 1: 0, 2: 0, 3: 0, 10: 10, 11: 10,
                  20: 20, 21: 20, 22: 20, 23: 20, 24: 20}
    kept = {(r.src, r.dst) for r in remove_isolated_components(e).collect()}
    assert kept == {(20, 21), (21, 22), (22, 23), (23, 24)}


def test_node_link_round_trip(spark):
    """U7 driver collectors: to_node_link ∘ from_node_link is the identity
    on (ids, attrs); the max_rows guard refuses planet-sized collects."""
    import pytest

    from city2graph_spark.operators.conversion import (
        from_node_link,
        to_node_link,
    )
    nodes = spark.createDataFrame([(0, 1.0), (1, 2.0), (2, 3.0)],
                                  "node_id long, score double")
    edges = spark.createDataFrame([(0, 1, 5.0), (1, 2, 7.0)],
                                  "src long, dst long, weight double")
    nl = to_node_link(nodes, edges)
    assert {n["id"] for n in nl["nodes"]} == {0, 1, 2}
    assert {(l["source"], l["target"], l["weight"])
            for l in nl["links"]} == {(0, 1, 5.0), (1, 2, 7.0)}
    n2, e2 = from_node_link(spark, nl)
    assert {r.node_id for r in n2.collect()} == {0, 1, 2}
    assert {(r.src, r.dst) for r in e2.collect()} == {(0, 1), (1, 2)}
    with pytest.raises(ValueError):
        to_node_link(None, edges, max_rows=1)
    # nodes=None derives the id set from the links
    nl2 = to_node_link(None, edges)
    assert {n["id"] for n in nl2["nodes"]} == {0, 1, 2}


def test_spanning_forest_keeps_lightest_parallel_edge(spark):
    """(1,2) appears at weights 5 and 1: the forest must use weight 1."""
    e = spark.createDataFrame(
        [(1, 2, 5.0), (2, 1, 1.0), (2, 3, 2.0), (1, 3, 3.0)],
        "u long, v long, weight double").coalesce(1)
    got = {(r.u, r.v, r.weight)
           for r in minimum_spanning_forest(e).collect()}
    assert got == {(1, 2, 1.0), (2, 3, 2.0)}
