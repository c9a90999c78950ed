"""Broadcast-graph network utilities (SURVEY.md §2.2 D3, §2.4 U5, §2.7 X2,
§2.3 M9).

The reference runs networkx Dijkstra in-process
(/root/reference/city2graph/proximity.py:318-362, utils/spatial.py:404-456).
Distributed, the street/hetero graph is tiny next to the document table, so
the right strategy (SURVEY §4) is: collect the edge list once, build a CSR
adjacency at the driver, run SSSP there (or inside one task), and broadcast
the resulting cost map — every downstream filter is then a column lookup /
semi-join.  Co-snapped sources share one traversal exactly like the
reference (proximity.py:349-362).
"""

from __future__ import annotations

import heapq
from collections import defaultdict

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .bipartite import knn_graph_bipartite


class BroadcastGraph:
    """Driver-side adjacency for SSSP over small network graphs."""

    def __init__(self, edges: list[tuple], *, directed: bool = False):
        self.adj: dict = defaultdict(list)
        for u, v, w in edges:
            self.adj[u].append((v, float(w)))
            if not directed:
                self.adj[v].append((u, float(w)))

    @classmethod
    def from_df(cls, edges: DataFrame, src: str = "src", dst: str = "dst",
                weight: str = "weight", *, directed: bool = False
                ) -> "BroadcastGraph":
        rows = edges.select(src, dst, weight).collect()
        return cls([(r[0], r[1], r[2]) for r in rows], directed=directed)

    def sssp(self, sources, cutoff: float | None = None) -> dict:
        """Multi-source Dijkstra costs (heapq; the graph fits the driver)."""
        dist: dict = {}
        heap = []
        for s in sources:
            dist[s] = 0.0
            heapq.heappush(heap, (0.0, s))
        while heap:
            d, u = heapq.heappop(heap)
            if d > dist.get(u, float("inf")):
                continue
            for v, w in self.adj.get(u, ()):
                nd = d + w
                if cutoff is not None and nd > cutoff:
                    continue
                if nd < dist.get(v, float("inf")):
                    dist[v] = nd
                    heapq.heappush(heap, (nd, v))
        return dist

    def pairwise_costs(self, sources, targets=None,
                       cutoff: float | None = None) -> list[tuple]:
        """(source, target, cost) rows — one Dijkstra per distinct source
        (co-snapped callers should dedupe sources first)."""
        targets = set(targets) if targets is not None else None
        out = []
        for s in set(sources):
            costs = self.sssp([s], cutoff)
            for t, c in costs.items():
                if targets is None or t in targets:
                    out.append((s, t, c))
        return out


def snap_points(points: DataFrame, node_xy: DataFrame, *,
                cell_size: float = 500.0) -> DataFrame:
    """Nearest network node per point (the reference's cached-cKDTree snap,
    proximity.py:295-316) — a bipartite 1-NN.  Returns
    (node_id, snap_node, snap_dist)."""
    e = knn_graph_bipartite(points, node_xy, 1, cell_size=cell_size)
    return e.select(F.col("src").alias("node_id"),
                    F.col("dst").alias("snap_node"),
                    F.col("weight").alias("snap_dist"))


def filter_graph_by_distance(nodes: DataFrame, edges: DataFrame,
                             center_xy: tuple[float, float], distance: float,
                             *, weight: str = "weight") -> DataFrame:
    """U5 (utils/spatial.py:68-159): snap the center to its nearest network
    node, run cutoff Dijkstra, keep edges whose BOTH endpoints are within
    ``distance`` (induced subgraph)."""
    g = BroadcastGraph.from_df(edges, weight=weight)
    xy = nodes.select("node_id", "x", "y").collect()
    if not xy:
        return edges.limit(0)
    arr = np.array([[r["x"], r["y"]] for r in xy])
    ids = [r["node_id"] for r in xy]
    c = np.array(center_xy)
    start = ids[int(np.argmin(((arr - c) ** 2).sum(axis=1)))]
    costs = g.sssp([start], cutoff=float(distance))
    reachable = [(k,) for k in costs]
    spark = edges.sparkSession
    keep = spark.createDataFrame(reachable or [(None,)], "node_id long") \
        .where(F.col("node_id").isNotNull())
    return (edges
            .join(keep.withColumnRenamed("node_id", "src"), "src", "left_semi")
            .join(keep.withColumnRenamed("node_id", "dst"), "dst", "left_semi"))


def network_knn_graph(points: DataFrame, k: int, nodes: DataFrame,
                      edges: DataFrame, *, snap_cell: float = 500.0,
                      cutoff: float | None = None) -> DataFrame:
    """P1 with the network metric (proximity.py:861-873): snap points to
    nearest network nodes, measure distance between snapped nodes via
    Dijkstra (co-snapped sources share one traversal), take k nearest other
    points per point, drop unreachable (inf) rows.

    Relational shape: snap (bipartite 1-NN) → broadcast (snode, snode, cost)
    table → points⋈costs⋈points → window top-k.
    """
    from pyspark.sql import Window
    snaps = snap_points(points, nodes, cell_size=snap_cell).persist()
    snodes = [r["snap_node"] for r in snaps.select("snap_node").dropDuplicates().collect()]
    g = BroadcastGraph.from_df(edges)
    spark = points.sparkSession
    costs = spark.createDataFrame(
        g.pairwise_costs(snodes, targets=set(snodes), cutoff=cutoff) or [(None, None, None)],
        "sa long, sb long, cost double").where(F.col("sa").isNotNull())
    a = snaps.select(F.col("node_id").alias("src"), F.col("snap_node").alias("sa"))
    b = snaps.select(F.col("node_id").alias("dst"), F.col("snap_node").alias("sb"))
    cand = (a.join(F.broadcast(costs), "sa").join(b, "sb")
            .where(F.col("src") != F.col("dst"))
            .select("src", "dst", F.col("cost").alias("weight")))
    w = Window.partitionBy("src").orderBy(F.col("weight").asc(), F.col("dst").asc())
    top = cand.withColumn("_rn", F.row_number().over(w)) \
              .where(F.col("_rn") <= k).drop("_rn")
    return (top.select(F.least("src", "dst").alias("src"),
                       F.greatest("src", "dst").alias("dst"), "weight")
            .dropDuplicates(["src", "dst"]))


def add_metapaths_by_weight(hetero_edges: DataFrame, endpoints: DataFrame, *,
                            threshold: float, min_threshold: float = 0.0,
                            weight: str = "weight") -> DataFrame:
    """X2 (metapath.py:169-312): connect endpoint pairs whose shortest-path
    cost over the selected edges lies in [min_threshold, threshold]."""
    g = BroadcastGraph.from_df(hetero_edges, weight=weight)
    eps = [r[0] for r in endpoints.select(endpoints.columns[0]).collect()]
    rows = []
    epset = set(eps)
    for s, t, c in g.pairwise_costs(eps, targets=epset, cutoff=threshold):
        if s < t and min_threshold <= c <= threshold:
            rows.append((s, t, c))
    spark = hetero_edges.sparkSession
    return spark.createDataFrame(rows or [(None, None, None)],
                                 "src long, dst long, weight double") \
        .where(F.col("src").isNotNull())


def network_fixed_radius_graph(points: DataFrame, radius: float,
                               nodes: DataFrame, edges: DataFrame, *,
                               snap_cell: float = 500.0) -> DataFrame:
    """P2 with the network metric (proximity.py:1412-1422): cutoff-bounded
    Dijkstra between snapped nodes, keep pairs with cost ≤ radius, j > i."""
    snaps = snap_points(points, nodes, cell_size=snap_cell).persist()
    snodes = [r["snap_node"] for r in
              snaps.select("snap_node").dropDuplicates().collect()]
    g = BroadcastGraph.from_df(edges)
    spark = points.sparkSession
    costs = spark.createDataFrame(
        g.pairwise_costs(snodes, targets=set(snodes), cutoff=float(radius))
        or [(None, None, None)],
        "sa long, sb long, cost double").where(F.col("sa").isNotNull())
    a = snaps.select(F.col("node_id").alias("src"), F.col("snap_node").alias("sa"))
    b = snaps.select(F.col("node_id").alias("dst"), F.col("snap_node").alias("sb"))
    return (a.join(F.broadcast(costs), "sa").join(b, "sb")
            .where(F.col("src") < F.col("dst"))
            .where(F.col("cost") <= F.lit(float(radius)))
            .select("src", "dst", F.col("cost").alias("weight"))
            .dropDuplicates(["src", "dst"]))
