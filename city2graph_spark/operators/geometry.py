"""D4 edge-geometry materialisation (SURVEY §2.2; reference
/root/reference/city2graph/proximity.py:612-690).

- euclidean: straight ``LINESTRING (x1 y1, x2 y2)``
- manhattan: the L-path ``LINESTRING (x1 y1, x2 y1, x2 y2)``
  (reference proximity.py:612-618)
- network: the shortest-path polyline over the street graph's node
  positions, straight-line fallback when no path exists
  (proximity.py:660-690)

Euclidean/manhattan geometries are pure JVM string expressions (concat of
double→string casts — no Python in the path).  Network polylines reuse the
broadcast street graph + co-snapped Dijkstra strategy of ``operators.net``
(street graphs are driver-size by SURVEY §4; the per-source traversal adds
parent tracking to emit paths).
"""

from __future__ import annotations

import heapq

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .net import BroadcastGraph, snap_points


def _linestring(*xy_cols: str) -> F.Column:
    """WKT ``LINESTRING (x1 y1, x2 y2, …)`` over (x, y) column-name pairs:
    one JVM ``concat`` of double→string casts, so a null coordinate gives
    a null line (``concat_ws`` would skip it and change the string)."""
    parts = [F.lit("LINESTRING (")]
    for i in range(0, len(xy_cols), 2):
        if i:
            parts.append(F.lit(", "))
        parts += [F.col(xy_cols[i]).cast("string"), F.lit(" "),
                  F.col(xy_cols[i + 1]).cast("string")]
    return F.concat(*parts, F.lit(")"))


def with_edge_geometry(edges: DataFrame, points: DataFrame, *,
                       src: str = "src", dst: str = "dst",
                       metric: str = "euclidean",
                       out: str = "geometry") -> DataFrame:
    """Attach a WKT LINESTRING column to a proximity edge list by joining
    endpoint coordinates from ``points`` (node_id, x, y)."""
    a = points.select(F.col("node_id").alias(src), F.col("x").alias("_ux"),
                      F.col("y").alias("_uy"))
    b = points.select(F.col("node_id").alias(dst), F.col("x").alias("_vx"),
                      F.col("y").alias("_vy"))
    e = edges.join(a, src).join(b, dst)
    if metric == "manhattan":
        wkt = _linestring("_ux", "_uy", "_vx", "_uy", "_vx", "_vy")
    else:
        wkt = _linestring("_ux", "_uy", "_vx", "_vy")
    return e.withColumn(out, wkt).drop("_ux", "_uy", "_vx", "_vy")


def _sssp_paths(g: BroadcastGraph, source, cutoff=None) -> dict:
    """Dijkstra with parent tracking: target → [node path from source]."""
    dist = {source: 0.0}
    parent = {source: None}
    heap = [(0.0, source)]
    while heap:
        d, u = heapq.heappop(heap)
        if d > dist.get(u, float("inf")):
            continue
        for v, w in g.adj.get(u, ()):
            nd = d + w
            if cutoff is not None and nd > cutoff:
                continue
            if nd < dist.get(v, float("inf")):
                dist[v] = nd
                parent[v] = u
                heapq.heappush(heap, (nd, v))
    paths = {}
    for t in dist:
        p, cur = [], t
        while cur is not None:
            p.append(cur)
            cur = parent[cur]
        paths[t] = p[::-1]
    return paths


def network_edge_geometry(edges: DataFrame, points: DataFrame,
                          nodes: DataFrame, street_edges: DataFrame, *,
                          src: str = "src", dst: str = "dst",
                          weight: str = "weight", snap_cell: float = 500.0,
                          cutoff: float | None = None,
                          out: str = "geometry") -> DataFrame:
    """Shortest-path polyline geometry for network-metric edges (reference
    proximity.py:631-690): endpoints snap to their nearest street node,
    co-snapped sources share one parent-tracking Dijkstra, and each edge
    gets ``LINESTRING`` over the path nodes' positions — straight src→dst
    fallback when no path exists (reference's LineString fallback)."""
    from ..geo.wkt import fmt_linestring
    spark = edges.sparkSession
    snaps = snap_points(points, nodes, cell_size=snap_cell).persist()
    need = (edges
            .join(snaps.select(F.col("node_id").alias(src),
                               F.col("snap_node").alias("_sa")), src)
            .join(snaps.select(F.col("node_id").alias(dst),
                               F.col("snap_node").alias("_sb")), dst))
    pairs = {(r["_sa"], r["_sb"])
             for r in need.select("_sa", "_sb").dropDuplicates().collect()}
    pos = {r["node_id"]: (r["x"], r["y"])
           for r in nodes.select("node_id", "x", "y").collect()}
    g = BroadcastGraph.from_df(street_edges, src="from_node_id",
                               dst="to_node_id", weight="length") \
        if "from_node_id" in street_edges.columns else \
        BroadcastGraph.from_df(street_edges)
    rows = []
    by_src: dict = {}
    for sa, sb in pairs:
        by_src.setdefault(sa, []).append(sb)
    for sa, sbs in by_src.items():
        paths = _sssp_paths(g, sa, cutoff)
        for sb in sbs:
            p = paths.get(sb)
            if p and len(p) >= 2:
                rows.append((sa, sb, fmt_linestring([pos[n] for n in p])))
            else:
                rows.append((sa, sb, None))
    wkts = spark.createDataFrame(rows or [(None, None, None)],
                                 "_sa long, _sb long, _wkt string") \
        .where(F.col("_sa").isNotNull())
    a = points.select(F.col("node_id").alias(src), F.col("x").alias("_ux"),
                      F.col("y").alias("_uy"))
    b = points.select(F.col("node_id").alias(dst), F.col("x").alias("_vx"),
                      F.col("y").alias("_vy"))
    return (need.join(wkts, ["_sa", "_sb"], "left")
            .join(a, src).join(b, dst)
            .withColumn(out, F.coalesce(F.col("_wkt"),
                                        _linestring("_ux", "_uy", "_vx", "_vy")))
            .drop("_sa", "_sb", "_wkt", "_ux", "_uy", "_vx", "_vy"))
