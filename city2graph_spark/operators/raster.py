"""Raster ↔ vector operators (north-rule surface: "H3/S2 index,
point-in-polygon, kNN, raster↔vector").

The reference repo is vector-only; these cover the tiling engine's raster
side with the same primitives the rest of the engine runs on: a raster is
just a DataFrame of pixels (px, py, value…) on an implicit regular grid
(``origin`` + ``cell_size``) — input contract: ONE row per (px, py) — so
every conversion is a JVM column expression, a cell equi-join, or a reuse
of an existing kernel:

- rasterize_points  — pure floor-division groupBy (whole-stage codegen);
- rasterize_polygons — pixel-center coverage via the ``group_nodes``
  cell-join + PIP kernel (GDAL ``all_touched=False`` semantics);
- raster_to_points — pixel centers back out (trivial select);
- raster_regions   — same-value 4/8-connected labeling via the existing
  distributed connected-components (pointer jumping);
- raster_to_polygons — region boundary rings by per-label edge
  cancellation (each pixel is a square ring; shared edges cancel exactly
  on the integer grid — the same dissolve idea as the tessellation);
- zonal_stats      — per-zone pixel aggregates (PIP join + groupBy), the
  classic raster↔vector reduction.

Scale shape: pixels shuffle by packed cell key only; no driver gathers
anywhere except ``raster_to_polygons``'s per-label applyInPandas groups
(one region's boundary per task).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _px(col, origin: float, cell_size: float):
    return F.floor((col - F.lit(float(origin))) / F.lit(float(cell_size))) \
        .cast("long")


# Pixel-key packing: bias both axes (like index.pack_cell's CELL_OFFSET) so
# negative pixel indices — routine with origin=(0,0) over negative projected
# coordinates — stay injective.  Injective for px,py ∈ [−2^21, 2^21); a
# raster outside that is > 4M pixels on an axis, beyond any single grid
# this engine addresses un-tiled.
PIXEL_AXIS_BITS = 22
PIXEL_OFFSET = 1 << (PIXEL_AXIS_BITS - 1)


def _pack_pixel(px, py):
    return ((px + F.lit(PIXEL_OFFSET)) * F.lit(1 << PIXEL_AXIS_BITS)
            + (py + F.lit(PIXEL_OFFSET))).cast("long")


def rasterize_points(points: DataFrame, *, cell_size: float,
                     origin: tuple[float, float] = (0.0, 0.0),
                     value_col: str | None = None) -> DataFrame:
    """Vector→raster: bin points onto the pixel grid.  Returns
    (px, py, n[, value_sum]) — one partial-aggregated groupBy, fully
    codegen'd."""
    df = points.withColumn("px", _px(F.col("x"), origin[0], cell_size)) \
               .withColumn("py", _px(F.col("y"), origin[1], cell_size))
    aggs = [F.count("*").alias("n")]
    if value_col is not None:
        aggs.append(F.sum(value_col).alias("value_sum"))
    return df.groupBy("px", "py").agg(*aggs)


def rasterize_polygons(verts: DataFrame, *, cell_size: float,
                       origin: tuple[float, float] = (0.0, 0.0)
                       ) -> DataFrame:
    """Vector→raster: pixels whose CENTER is covered by the polygon
    (GDAL ``all_touched=False``).  Plan: per-polygon bbox → candidate
    pixel explode → exact PIP refine via the ``group_nodes`` kernel.
    Returns (poly_id, px, py)."""
    from .polygons import _covered_points
    # all rings: superset bbox, exact for multipart ring lists
    ext = verts
    bbox = ext.groupBy("poly_id").agg(
        F.min("x").alias("xmin"), F.min("y").alias("ymin"),
        F.max("x").alias("xmax"), F.max("y").alias("ymax"))
    cand = (bbox
            .withColumn("px", F.explode(F.sequence(
                _px(F.col("xmin"), origin[0], cell_size),
                _px(F.col("xmax"), origin[0], cell_size))))
            .withColumn("py", F.explode(F.sequence(
                _px(F.col("ymin"), origin[1], cell_size),
                _px(F.col("ymax"), origin[1], cell_size))))
            .select("poly_id", "px", "py"))
    centers = (cand.select("px", "py").dropDuplicates()
               .withColumn("node_id", _pack_pixel(F.col("px"), F.col("py")))
               .withColumn("x", (F.col("px") + 0.5) * cell_size + origin[0])
               .withColumn("y", (F.col("py") + 0.5) * cell_size + origin[1]))
    hits = _covered_points(verts, centers.select("node_id", "x", "y"),
                           cell_size=cell_size * 4)
    return (hits.join(centers.select("node_id", "px", "py"), "node_id")
            .select("poly_id", "px", "py"))


def raster_to_points(raster: DataFrame, *, cell_size: float,
                     origin: tuple[float, float] = (0.0, 0.0)) -> DataFrame:
    """Raster→vector: pixel centers as a point table (all non-pixel
    columns carried through)."""
    return raster.withColumn(
        "x", (F.col("px") + 0.5) * cell_size + origin[0]).withColumn(
        "y", (F.col("py") + 0.5) * cell_size + origin[1])


def raster_regions(raster: DataFrame, *, value_col: str = "value",
                   connectivity: int = 4) -> DataFrame:
    """Label maximal same-value connected pixel regions (raster→vector
    step 1).  Adjacency = equal-value neighbors (4- or 8-connected), labels
    from the distributed connected-components (min pixel key per region).
    Returns the raster + ``region`` column."""
    from .topology import connected_components
    key = _pack_pixel(F.col("px"), F.col("py")).alias("node_id")
    px = raster.select(key, "px", "py", F.col(value_col).alias("_v"))
    offs = [(1, 0), (0, 1)]
    if connectivity == 8:
        offs += [(1, 1), (1, -1)]
    elif connectivity != 4:
        raise ValueError("connectivity must be 4 or 8")
    edges = None
    b = px.select(F.col("node_id").alias("dst"), F.col("px").alias("bx"),
                  F.col("py").alias("by"), F.col("_v").alias("bv"))
    for dx, dy in offs:
        e = (px.join(b, (F.col("px") + dx == F.col("bx"))
                     & (F.col("py") + dy == F.col("by"))
                     & (F.col("_v") == F.col("bv")))
             .select(F.col("node_id").alias("src"), "dst"))
        edges = e if edges is None else edges.unionByName(e)
    cc = connected_components(edges, nodes=px.select("node_id")) \
        .select(F.col("node").alias("node_id"),
                F.col("component").alias("region"))
    out = raster.withColumn(
        "node_id", _pack_pixel(F.col("px"), F.col("py")))
    return out.join(cc, "node_id").drop("node_id")


def raster_to_polygons(raster: DataFrame, *, cell_size: float,
                       origin: tuple[float, float] = (0.0, 0.0),
                       value_col: str = "value",
                       connectivity: int = 4) -> DataFrame:
    """Raster→vector: dissolve each same-value region into boundary rings
    (exterior + holes) — per-region edge cancellation on the integer pixel
    grid (exact; every pixel contributes its square, shared edges appear
    twice and cancel).  Returns a polygon vertex table
    (region long, ring long, seq long, x double, y double)."""
    labeled = raster_regions(raster, value_col=value_col,
                             connectivity=connectivity)

    def dissolve(key, pdf):
        import math
        import numpy as np
        import pandas as pd
        from collections import defaultdict
        # each pixel square emits its 4 edges CCW (interior on the LEFT of
        # the travel direction); a shared edge appears once per direction
        # and cancels.  Keeping the surviving edges DIRECTED makes tracing
        # unambiguous even at degree-4 pinch vertices (8-connected regions
        # touching diagonally): follow outgoing edges, and when two are
        # available take the sharpest LEFT turn — interior-left is
        # preserved, each touching ring closes separately.
        count: dict = {}
        for px_, py_ in zip(pdf["px"], pdf["py"]):
            c = [((px_, py_), (px_ + 1, py_)),
                 ((px_ + 1, py_), (px_ + 1, py_ + 1)),
                 ((px_ + 1, py_ + 1), (px_, py_ + 1)),
                 ((px_, py_ + 1), (px_, py_))]
            for p, q in c:
                e = (p, q) if p < q else (q, p)
                n, d = count.get(e, (0, None))
                count[e] = (n + 1, (p, q))
        out_adj = defaultdict(list)
        boundary = []
        for (n, pq) in count.values():
            if n == 1:
                boundary.append(pq)
                out_adj[pq[0]].append(pq[1])
        used, rings = set(), []
        for p0, q0 in sorted(boundary):
            if (p0, q0) in used:
                continue
            ring = [p0]
            prev, cur = p0, q0
            used.add((p0, q0))
            while cur != p0:
                ring.append(cur)
                nxts = [x for x in out_adj[cur] if (cur, x) not in used]
                if not nxts:
                    break
                if len(nxts) == 1:
                    nxt = nxts[0]
                else:
                    dx, dy = cur[0] - prev[0], cur[1] - prev[1]
                    nxt = max(nxts, key=lambda x: math.atan2(
                        dx * (x[1] - cur[1]) - dy * (x[0] - cur[0]),
                        dx * (x[0] - cur[0]) + dy * (x[1] - cur[1])))
                used.add((cur, nxt))
                prev, cur = cur, nxt
            if len(ring) >= 4:
                rings.append(ring)
        keyed = []
        for ring in rings:
            arr = np.array(ring, dtype=np.float64)
            x = arr[:, 0]
            y = arr[:, 1]
            area = abs(0.5 * float(np.sum(x * np.roll(y, -1)
                                          - np.roll(x, -1) * y)))
            keyed.append((area, arr))
        keyed.sort(key=lambda t: -t[0])   # exterior first, holes after
        rows = []
        region = int(key[0])
        for ri, (_, arr) in enumerate(keyed):
            for i in range(len(arr)):
                rows.append((region, ri, i,
                             float(arr[i, 0] * cell_size + origin[0]),
                             float(arr[i, 1] * cell_size + origin[1])))
        return pd.DataFrame(rows, columns=["region", "ring", "seq",
                                           "x", "y"])

    return labeled.select("region", "px", "py").groupBy("region") \
        .applyInPandas(dissolve,
                       "region long, ring long, seq long, x double, y double")


def zonal_stats(raster: DataFrame, zone_verts: DataFrame, *,
                cell_size: float,
                origin: tuple[float, float] = (0.0, 0.0),
                value_col: str = "value") -> DataFrame:
    """Per-zone pixel aggregates (the classic raster↔vector reduction):
    pixel centers PIP-join zone polygons (``group_nodes`` plan), then one
    partial-aggregated groupBy.  Returns
    (zone_id, n, value_sum, value_min, value_max)."""
    from .polygons import _covered_points
    pts = raster_to_points(raster, cell_size=cell_size, origin=origin) \
        .withColumn("node_id", _pack_pixel(F.col("px"), F.col("py")))
    hits = _covered_points(zone_verts, pts.select("node_id", "x", "y"))
    vals = pts.select("node_id", F.col(value_col).alias("_v"))
    return (hits.join(vals, "node_id")
            .groupBy(F.col("poly_id").alias("zone_id"))
            .agg(F.count("*").alias("n"),
                 F.sum("_v").alias("value_sum"),
                 F.min("_v").alias("value_min"),
                 F.max("_v").alias("value_max")))


def focal_stats(raster: DataFrame, *, radius: int = 1,
                value_col: str = "value",
                include_center: bool = True) -> DataFrame:
    """Focal (moving-window) statistics — the raster convolution shape:
    for every pixel, aggregate ``value_col`` over its (2r+1)² Chebyshev
    neighborhood.  Implemented as an offset-explode equi-join (each pixel
    contributes itself to every neighbor's window — one shuffle keyed by
    pixel, volume (2r+1)²·|raster|), so it scales like every other cell
    join in the engine; no window functions, no per-row Python.

    Returns (px, py, n_nbrs, value_sum, value_min, value_max) for every
    pixel PRESENT in the input (missing neighbors simply don't
    contribute — GDAL's nodata-skipping semantics)."""
    offs = F.array(*[
        F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
        for dx in range(-radius, radius + 1)
        for dy in range(-radius, radius + 1)
        if include_center or (dx, dy) != (0, 0)])
    contrib = (raster
               .withColumn("_o", F.explode(offs))
               .select((F.col("px") + F.col("_o.dx")).alias("px"),
                       (F.col("py") + F.col("_o.dy")).alias("py"),
                       F.col(value_col).alias("_v")))
    wins = (contrib.groupBy("px", "py")
            .agg(F.count("*").alias("n_nbrs"),
                 F.sum("_v").alias("value_sum"),
                 F.min("_v").alias("value_min"),
                 F.max("_v").alias("value_max")))
    return raster.select("px", "py").join(wins, ["px", "py"])
