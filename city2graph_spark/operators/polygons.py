"""Polygon operators: P9 group_nodes (point-in-polygon join) and P10
queen/rook contiguity (SURVEY.md §2.1).

Reference semantics:
- group_nodes — /root/reference/city2graph/proximity.py:1830-1965: polygon→
  point containment edges via sjoin predicate (default ``covered_by``,
  boundary-inclusive); weight/geometry from the metric between the polygon
  position (centroid by default) and the point.
- contiguity_graph — proximity.py:1968-2108 via libpysal Queen/Rook:
  **vertex-sharing** adjacency (queen = ≥1 shared vertex, rook = a shared
  edge, i.e. 2 consecutive vertices); dedupe to sorted pairs; weights =
  centroid distance under the chosen metric.

Spark shapes: polygons live as an exploded vertex table
(poly_id, ring, seq, x, y).  Contiguity is a pure vertex/edge equi-join
(libpysal's semantics are relational already — no geometry predicates
needed); PIP is a cell-bucketed bbox join refined by the exact
boundary-inclusive ray-cast kernel in one vectorized pandas pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..index import explode_cells_in_box, with_cell

# max candidate points aggregated into ONE Arrow row by group_nodes — a
# domain-wrapping polygon's candidate list is hash-chunked to this bound,
# so no single row exceeds ~cap·24 B of point payload (+ its vertex rings).
_GROUP_NODES_CAND_CAP = 100_000


def polygons_from_wkt(df: DataFrame, id_col: str = "poly_id",
                      wkt_col: str = "wkt") -> DataFrame:
    """Parse POLYGON WKT into the exploded vertex table
    (poly_id, ring, seq, x, y) with the vectorized codec."""
    src = df.select(F.col(id_col).alias("poly_id"), F.col(wkt_col).alias("wkt"))

    def parse(it):
        import pandas as pd
        from ..geo.wkt import parse_vertices
        for pdf in it:
            if len(pdf) == 0:
                continue
            v = parse_vertices(pdf["wkt"])
            v["poly_id"] = pdf["poly_id"].to_numpy()[v["row"].to_numpy()]
            yield v[["poly_id", "ring", "seq", "x", "y"]]

    return src.mapInPandas(parse, "poly_id long, ring long, seq long, "
                                  "x double, y double")


def _poly_id_dtype(df: DataFrame) -> str:
    """Spark SQL dtype of the poly_id column (long for numeric tables,
    string for composite keys) — lets the pandas passes carry either."""
    return dict(df.dtypes).get("poly_id", "bigint")


def polygon_centroids(verts: DataFrame) -> DataFrame:
    """(poly_id, cx, cy): hole-aware shoelace area centroid with
    containment-classified ring signs (``geo.kernels.rings_area_centroid``)
    — nested holes subtract, disconnected extra parts (multipart cells out
    of hole subtraction) ADD, matching GEOS ``centroid`` of a
    (Multi)Polygon; degenerate net area falls back to the largest ring's
    vertex mean."""
    dt = _poly_id_dtype(verts)

    def cent(pdf):
        import numpy as np
        import pandas as pd
        from ..geo.kernels import rings_area_centroid
        rings = []
        for _, grp in pdf.sort_values(["ring", "seq"]).groupby("ring"):
            rings.append(np.column_stack([grp["x"].to_numpy(),
                                          grp["y"].to_numpy()]))
        _, cx, cy = rings_area_centroid(rings)
        return pd.DataFrame({"poly_id": [pdf["poly_id"].iloc[0]],
                             "cx": [cx], "cy": [cy]})

    return verts.groupBy("poly_id").applyInPandas(
        cent, f"poly_id {dt}, cx double, cy double")


def _dedup_vertices(verts: DataFrame) -> DataFrame:
    return verts.select("poly_id", "x", "y").dropDuplicates()


def contiguity_graph(verts: DataFrame, *, contiguity: str = "queen",
                     metric: str = "euclidean") -> DataFrame:
    """Queen/rook polygon adjacency by vertex/edge sharing (libpysal
    semantics, reference proximity.py:2654-2657), weight = centroid
    distance; canonical (src<dst) pairs."""
    if contiguity == "queen":
        inc = _dedup_vertices(verts)
        a = inc.select(F.col("poly_id").alias("src"), "x", "y")
        b = inc.select(F.col("poly_id").alias("dst"), "x", "y")
        pairs = (a.join(b, ["x", "y"])
                 .where(F.col("src") < F.col("dst"))
                 .select("src", "dst").dropDuplicates())
    elif contiguity == "rook":
        # consecutive vertex pairs per ring, canonicalised endpoint order
        from pyspark.sql import Window
        w = Window.partitionBy("poly_id", "ring").orderBy("seq")
        seg = (verts
               .withColumn("x2", F.lead("x").over(w))
               .withColumn("y2", F.lead("y").over(w))
               .where(F.col("x2").isNotNull())
               .where((F.col("x") != F.col("x2")) | (F.col("y") != F.col("y2"))))
        canon = seg.select(
            "poly_id",
            F.when((F.col("x") < F.col("x2"))
                   | ((F.col("x") == F.col("x2")) & (F.col("y") <= F.col("y2"))),
                   F.struct(F.col("x").alias("ax"), F.col("y").alias("ay"),
                            F.col("x2").alias("bx"), F.col("y2").alias("by")))
             .otherwise(F.struct(F.col("x2").alias("ax"), F.col("y2").alias("ay"),
                                 F.col("x").alias("bx"), F.col("y").alias("by")))
             .alias("edge")).dropDuplicates()
        a = canon.select(F.col("poly_id").alias("src"), "edge")
        b = canon.select(F.col("poly_id").alias("dst"), "edge")
        pairs = (a.join(b, "edge")
                 .where(F.col("src") < F.col("dst"))
                 .select("src", "dst").dropDuplicates())
    else:
        raise ValueError(f"unknown contiguity {contiguity!r}")

    cents = polygon_centroids(verts)
    ca = cents.select(F.col("poly_id").alias("src"), F.col("cx").alias("sx"),
                      F.col("cy").alias("sy"))
    cb = cents.select(F.col("poly_id").alias("dst"), F.col("cx").alias("dx_"),
                      F.col("cy").alias("dy_"))
    out = pairs.join(ca, "src").join(cb, "dst")
    if metric == "manhattan":
        w = F.abs(F.col("sx") - F.col("dx_")) + F.abs(F.col("sy") - F.col("dy_"))
    else:
        w = F.sqrt((F.col("sx") - F.col("dx_")) * (F.col("sx") - F.col("dx_"))
                   + (F.col("sy") - F.col("dy_")) * (F.col("sy") - F.col("dy_")))
    return out.select("src", "dst", w.alias("weight"))


def group_nodes(verts: DataFrame, points: DataFrame, *,
                predicate: str = "covered_by",
                cell_size: float | None = None,
                metric: str = "euclidean") -> DataFrame:
    """Polygon→point containment edges (reference proximity.py:1830-1965).

    Plan: :func:`_covered_points` (cell-cover join + exact PIP) → weight =
    metric(centroid, point).

    Returns (poly_id, node_id, weight).
    """
    hits = _covered_points(verts, points, predicate=predicate,
                           cell_size=cell_size)
    out = hits.join(polygon_centroids(verts), "poly_id")
    if metric == "manhattan":
        w = F.abs(F.col("cx") - F.col("x")) + F.abs(F.col("cy") - F.col("y"))
    else:
        w = F.sqrt((F.col("cx") - F.col("x")) * (F.col("cx") - F.col("x"))
                   + (F.col("cy") - F.col("y")) * (F.col("cy") - F.col("y")))
    return out.select("poly_id", "node_id", w.alias("weight"))


def _covered_points(verts: DataFrame, points: DataFrame, *,
                    predicate: str = "covered_by",
                    cell_size: float | None = None) -> DataFrame:
    """(poly_id, node_id, x, y) for every point the polygon covers:
    polygon bboxes → cell cover (variable per-row halo) → equi-join with
    cell-bucketed points (the STRtree sjoin analogue) → exact
    boundary-inclusive PIP refinement in one vectorized pandas pass.  No
    centroid pass: callers that need no weight call this directly."""
    from ..crs import ensure_same_crs
    ensure_same_crs(verts, points)
    dt = _poly_id_dtype(verts)
    # bbox over ALL rings: identical for nested holes (inside the
    # exterior), required for MULTIPART cells whose later rings are
    # disconnected parts outside ring 0's bbox
    ext = verts
    bbox = ext.groupBy("poly_id").agg(
        F.min("x").alias("xmin"), F.min("y").alias("ymin"),
        F.max("x").alias("xmax"), F.max("y").alias("ymax"))
    if cell_size is None:
        row = bbox.agg(F.avg(F.col("xmax") - F.col("xmin")).alias("w"),
                       F.avg(F.col("ymax") - F.col("ymin")).alias("h")).head()
        cell_size = max(float(max(row["w"] or 1.0, row["h"] or 1.0)), 1e-9)

    cover = explode_cells_in_box(bbox, F.col("xmin"), F.col("ymin"),
                                 F.col("xmax"), F.col("ymax"),
                                 cell_size=cell_size).select("poly_id", "qcell")
    pts = with_cell(points, cell_size=cell_size)
    cand = cover.join(pts, cover.qcell == pts.cell) \
                .select("poly_id", "node_id", "x", "y")

    # ALL rings ride along (ring, seq) sorted — holes are first-class:
    # a point in a courtyard hole is NOT covered (even-odd composition in
    # geo.kernels.points_in_polygon; reference sjoin uses full geometry).
    # Candidates aggregate to ONE row per polygon before the vertex join:
    # joining _verts onto every (point, polygon) row ships a big polygon's
    # ring array once PER CANDIDATE — at metro scale (enclosure frames
    # with ~10³ vertices × ~10² candidate points each) that made single
    # 64k-row Arrow batches multi-GB and OOMed the executor heap.  One
    # row per polygon bounds the payload by |verts| + |cands|.
    vlist = verts.groupBy("poly_id").agg(
        F.sort_array(F.collect_list(F.struct("ring", "seq", "x", "y")))
         .alias("_verts"))
    # ... bounded per row: the r6 one-row-per-polygon fix made the payload
    # |verts| + |cands|, but a domain-wrapping polygon's FULL candidate
    # list in one collect_list is itself an unbounded Arrow row (the
    # inverse problem, VERDICT r6).  Hash-chunk the candidates so no row
    # holds more than _GROUP_NODES_CAND_CAP points; each chunk re-ships
    # the polygon's rings (bounded duplication: ⌈n_cand/cap⌉ copies), and
    # chunks partition the candidate set so the unioned hits are identical
    # with no dedup needed.
    ccounts = cand.groupBy("poly_id").agg(F.count("*").alias("_nc"))
    cand = (cand.join(ccounts, "poly_id")
            .withColumn("_chunk", F.pmod(
                F.xxhash64("node_id"),
                F.ceil(F.col("_nc") / F.lit(_GROUP_NODES_CAND_CAP))
                 .cast("long")))
            .groupBy("poly_id", "_chunk")
            .agg(F.collect_list(F.struct("node_id", "x", "y")).alias("_pts"))
            .join(vlist, "poly_id"))

    # reference proximity.py:2579-2595 accepts any gpd.sjoin predicate; for
    # POINT-vs-polygon joins the DE-9IM predicates collapse onto two
    # kernels: boundary-inclusive (covered_by ≡ intersects ≡ touches∪within
    # for points) and boundary-exclusive (within ≡ contains_properly)
    pred = (predicate or "covered_by").lower()
    _ALIASES = {"covered_by": "covered_by", "intersects": "covered_by",
                "contains": "covered_by", "covers": "covered_by",
                "within": "within", "contains_properly": "within"}
    if pred not in _ALIASES:
        raise ValueError(f"unsupported sjoin predicate {predicate!r}; "
                         f"one of {sorted(_ALIASES)}")
    pred = _ALIASES[pred]

    def refine(it):
        import numpy as np
        import pandas as pd
        from ..geo.kernels import points_in_polygon
        for pdf in it:
            if len(pdf) == 0:
                continue
            out = []
            for _, row in pdf.iterrows():
                vs = row["_verts"]
                rid = np.array([v["ring"] for v in vs])
                vx = np.array([v["x"] for v in vs])
                vy = np.array([v["y"] for v in vs])
                rings = [(vx[rid == r], vy[rid == r])
                         for r in np.unique(rid)]
                pts_l = row["_pts"]
                px = np.array([p["x"] for p in pts_l])
                py = np.array([p["y"] for p in pts_l])
                nid = np.array([p["node_id"] for p in pts_l])
                m = points_in_polygon(px, py, rings, mode=pred)
                if m.any():
                    out.append(pd.DataFrame({
                        "poly_id": row["poly_id"], "node_id": nid[m],
                        "x": px[m], "y": py[m]}))
            if out:
                yield pd.concat(out)

    return cand.mapInPandas(refine, f"poly_id {dt}, node_id long, "
                                    "x double, y double")
