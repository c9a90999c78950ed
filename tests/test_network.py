"""Bipartite kNN, bridge_nodes, broadcast SSSP, network metric, X2 bands."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from city2graph_spark.operators.bipartite import (
    bridge_nodes,
    fixed_radius_bipartite,
    knn_graph_bipartite,
)
from city2graph_spark.operators.net import (
    BroadcastGraph,
    add_metapaths_by_weight,
    filter_graph_by_distance,
    network_knn_graph,
    snap_points,
)
from city2graph_spark.operators.proximity import _knn_edges


def _layer(spark, xy, ids):
    return spark.createDataFrame(
        [(int(i), float(x), float(y)) for i, (x, y) in zip(ids, xy)],
        "node_id long, x double, y double")


@pytest.fixture(scope="module")
def layers(spark):
    rng = np.random.default_rng(11)
    a = rng.uniform(0, 1000, (40, 2))
    b = rng.uniform(0, 1000, (25, 2))
    df_a = _layer(spark, a, range(len(a)))
    df_b = _layer(spark, b, range(len(b)))
    return df_a, df_b, a, b


def _bi_knn_want(a, aid, b, bid, k, metric="euclidean"):
    """numpy oracle: each a-row's k nearest b-rows, ties by b id."""
    diff = a[:, None, :] - b[None, :, :]
    d = (np.abs(diff).sum(-1) if metric == "manhattan"
         else np.sqrt((diff ** 2).sum(-1)))
    return {(int(aid[i]), int(bid[j])) for i in range(len(a))
            for j in np.lexsort((bid, d[i]))[:k]}


def _edge_pairs(df):
    rows = [(r.src, r.dst) for r in df.collect()]
    assert len(rows) == len(set(rows)), "duplicate edges"
    return set(rows)


def test_bipartite_knn_exact(spark, layers):
    df_a, df_b, a, b = layers
    ia, ib = np.arange(len(a)), np.arange(len(b))
    for cell in (100.0, 2000.0, 20.0):  # certified / single-block / retry paths
        got = _edge_pairs(knn_graph_bipartite(df_a, df_b, 3, cell_size=cell))
        assert got == _bi_knn_want(a, ia, b, ib, 3), f"cell={cell}"
    # negative ids, ids shared between the layers, and one source point far
    # from every destination (no candidate in its halo ⇒ residual broadcast)
    a2 = np.vstack([a, [[1e6, 1e6]]])
    ia2 = np.arange(len(a2)) - 20          # -20..20
    ib2 = np.arange(len(b)) - 5            # -5..19, all shared with ia2
    src, dst = _layer(spark, a2, ia2), _layer(spark, b, ib2)
    for k, cell, metric in ((3, 100.0, "euclidean"), (3, 20.0, "manhattan"),
                            (len(b) + 5, 300.0, "euclidean")):  # k > |dst|
        got = _edge_pairs(knn_graph_bipartite(src, dst, k, cell_size=cell,
                                              metric=metric))
        assert got == _bi_knn_want(a2, ia2, b, ib2, k, metric), (k, metric)
    # forced salt split: one 2000-unit block holds the 40 near probes, so a
    # salt target of 4 spreads them over 10 kernel groups
    got = _edge_pairs(_knn_edges(src, dst, 3, "euclidean", 2000.0,
                                 salt_target=4))
    assert got == _bi_knn_want(a2, ia2, b, ib2, 3)


def test_bipartite_radius(layers):
    df_a, df_b, a, b = layers
    got = {(r.src, r.dst) for r in
           fixed_radius_bipartite(df_a, df_b, 150.0).collect()}
    d = np.sqrt(((a[:, None, :] - b[None, :, :]) ** 2).sum(-1))
    want = {(i, j) for i in range(len(a)) for j in range(len(b))
            if d[i, j] <= 150.0}
    assert got == want


def test_bridge_nodes_keys(layers):
    df_a, df_b, *_ = layers
    out = bridge_nodes({"building": df_a, "road": df_b}, k=1, cell_size=300.0)
    assert set(out) == {("building", "is_nearby", "road"),
                        ("road", "is_nearby", "building")}
    assert out[("building", "is_nearby", "road")].count() == 40
    assert out[("road", "is_nearby", "building")].count() == 25


@pytest.fixture(scope="module")
def street(spark):
    # path graph 0-1-2-3-4 with unit-ish weights + spur 2-5
    nodes = spark.createDataFrame(
        [(0, 0.0, 0.0), (1, 100.0, 0.0), (2, 200.0, 0.0),
         (3, 300.0, 0.0), (4, 400.0, 0.0), (5, 200.0, 100.0)],
        "node_id long, x double, y double")
    edges = spark.createDataFrame(
        [(0, 1, 100.0), (1, 2, 100.0), (2, 3, 100.0), (3, 4, 100.0),
         (2, 5, 100.0)],
        "src long, dst long, weight double")
    return nodes, edges


def test_sssp_and_filter(street):
    nodes, edges = street
    g = BroadcastGraph.from_df(edges)
    costs = g.sssp([0])
    assert costs == {0: 0.0, 1: 100.0, 2: 200.0, 3: 300.0, 4: 400.0, 5: 300.0}
    assert g.sssp([0], cutoff=250.0) == {0: 0.0, 1: 100.0, 2: 200.0}
    kept = {(r.src, r.dst) for r in
            filter_graph_by_distance(nodes, edges, (10.0, 5.0), 300.0).collect()}
    assert kept == {(0, 1), (1, 2), (2, 3), (2, 5)}


def test_snap_and_network_knn(spark, street):
    nodes, edges = street
    pts = spark.createDataFrame(
        [(100, 1.0, 1.0), (101, 99.0, 2.0), (102, 401.0, -1.0), (103, 201.0, 99.0)],
        "node_id long, x double, y double")
    snaps = {r.node_id: r.snap_node for r in
             snap_points(pts, nodes, cell_size=500.0).collect()}
    assert snaps == {100: 0, 101: 1, 102: 4, 103: 5}
    got = {(r.src, r.dst): r.weight for r in
           network_knn_graph(pts, 1, nodes, edges).collect()}
    # 100(snap 0) nearest other point: 101 (snap 1, cost 100)
    assert got[(100, 101)] == 100.0
    # 103 (snap 5): costs — to 0:300, 1:200, 4:300 → nearest 101 (200)
    assert got[(101, 103)] == 200.0


def test_metapaths_by_weight(spark, street):
    _, edges = street
    endpoints = spark.createDataFrame([(0,), (3,), (5,)], "node_id long")
    got = {(r.src, r.dst): r.weight for r in
           add_metapaths_by_weight(edges, endpoints,
                                   threshold=300.0, min_threshold=150.0).collect()}
    assert got == {(0, 3): 300.0, (0, 5): 300.0, (3, 5): 200.0}
