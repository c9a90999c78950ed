"""Directed / bipartite proximity joins — the engine behind the reference's
``target_gdf`` variants and ``bridge_nodes``
(/root/reference/city2graph/proximity.py:2138-2406 `_directed_graph`,
1609-1756 `bridge_nodes`).

``knn_graph_bipartite`` runs the unipartite kNN itself
(``proximity._knn_edges``) with the dst layer as the candidate set: the same
salted per-superblock kernel, per-point certificate, variable-radius retry
and broadcast residual.  No self-exclusion: src and dst are distinct layers
(the reference queries the dst KD-tree with plain ``k``)."""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..index import explode_ring, with_cell
from .proximity import _dist, _knn_edges


def knn_graph_bipartite(src_pts: DataFrame, dst_pts: DataFrame, k: int, *,
                        cell_size: float, metric: str = "euclidean") -> DataFrame:
    """Exact directed kNN: each src point → its k nearest dst points.
    Returns (src, dst, weight)."""
    from ..crs import ensure_same_crs
    ensure_same_crs(src_pts, dst_pts)
    return _knn_edges(src_pts, dst_pts, k, metric, float(cell_size))


def fixed_radius_bipartite(src_pts: DataFrame, dst_pts: DataFrame,
                           radius: float, *, metric: str = "euclidean",
                           cell_size: float | None = None) -> DataFrame:
    """Directed radius join src→dst (proximity.py:2272-2316 radius variant)."""
    from ..crs import ensure_same_crs
    ensure_same_crs(src_pts, dst_pts)
    cell_size = cell_size or radius
    ring = max(1, math.ceil(radius / cell_size))
    s = with_cell(src_pts, cell_size=cell_size)
    d = with_cell(dst_pts, cell_size=cell_size)
    probe = explode_ring(s, ring=ring).select(
        F.col("node_id").alias("src"), F.col("x").alias("px"),
        F.col("y").alias("py"), "qcell")
    build = d.select(F.col("node_id").alias("dst"), F.col("x").alias("bx"),
                     F.col("y").alias("by"), F.col("cell").alias("bcell"))
    return (probe.join(build, probe.qcell == build.bcell)
            .withColumn("weight", _dist(metric, F.col("px") - F.col("bx"),
                                        F.col("py") - F.col("by")))
            .where(F.col("weight") <= F.lit(float(radius)))
            .select("src", "dst", "weight")
            .dropDuplicates(["src", "dst"]))


def bridge_nodes(nodes: dict[str, DataFrame], *,
                 proximity_method: str = "knn", k: int = 1,
                 radius: float | None = None,
                 cell_size: float = 500.0,
                 metric: str = "euclidean",
                 source_node_types: list[str] | None = None,
                 target_node_types: list[str] | None = None
                 ) -> dict[tuple[str, str, str], DataFrame]:
    """P8 bridge_nodes (proximity.py:1609-1756): for every ordered pair of
    node layers (src≠dst), directed kNN (default k=1) or fixed-radius edges,
    keyed (src_type, 'is_nearby', dst_type)."""
    src_types = source_node_types or list(nodes)
    dst_types = target_node_types or list(nodes)
    unknown = (set(src_types) | set(dst_types)) - set(nodes)
    if unknown:
        raise ValueError(f"unknown node types: {sorted(unknown)}")
    out = {}
    for s in src_types:
        for t in dst_types:
            if s == t:
                continue
            if proximity_method == "knn":
                e = knn_graph_bipartite(nodes[s], nodes[t], k,
                                        cell_size=cell_size, metric=metric)
            elif proximity_method == "fixed_radius":
                if radius is None:
                    raise ValueError("radius required for fixed_radius")
                e = fixed_radius_bipartite(nodes[s], nodes[t], radius,
                                           metric=metric)
            else:
                raise ValueError(f"unknown proximity_method {proximity_method!r}")
            out[(s, "is_nearby", t)] = e
    return out
