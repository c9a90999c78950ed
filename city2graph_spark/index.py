"""Grid-cell spatial index — the engine's core join strategy.

The reference uses in-process spatial indexes (``cKDTree``, STRtree sindex
queries — ``/root/reference/city2graph/proximity.py:877``,
``morphology.py:1299-1303``).  Distributed, the equivalent is a *cell
equi-join*: bucket every geometry into a square grid cell, join on the cell
id (expanded by a halo ring whose width covers the query radius), then refine
with the exact predicate.  All of it is plain column arithmetic — JVM-side,
whole-stage-codegen'd, no Python in the hot path.

Cell ids are ``(cx, cy)`` packed into one long (``pack_cell``), the
equi-join and partition key.

At 10^12 docs, skewed cells (urban cores) are handled by AQE skew-join plus
the explicit salting helpers here (``with_salt`` / ``explode_salt``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# 2^21 cells per axis is plenty for any bounded projected domain; keeps
# cx*SHIFT+cy inside a signed 64-bit long.
CELL_AXIS_BITS = 21
CELL_SHIFT = 1 << CELL_AXIS_BITS
# Offset so negative coordinates still produce non-negative cell indices.
CELL_OFFSET = 1 << (CELL_AXIS_BITS - 1)


def cell_coord(coord: Column, cell_size: float) -> Column:
    """Grid index of a coordinate: floor(coord / cell_size) + offset."""
    return (F.floor(coord / F.lit(float(cell_size))) + F.lit(CELL_OFFSET)).cast("long")


def pack_cell(cx: Column, cy: Column) -> Column:
    """Pack (cx, cy) into a single long equi-join key."""
    return (cx * F.lit(CELL_SHIFT) + cy).cast("long")


def with_cell(df: DataFrame, x: str = "x", y: str = "y", *,
              cell_size: float, out: str = "cell") -> DataFrame:
    """Add cx/cy/packed-cell columns for a point DataFrame."""
    cx = cell_coord(F.col(x), cell_size)
    cy = cell_coord(F.col(y), cell_size)
    return (df.withColumn(f"{out}_cx", cx)
              .withColumn(f"{out}_cy", cy)
              .withColumn(out, pack_cell(F.col(f"{out}_cx"), F.col(f"{out}_cy"))))


def explode_ring(df: DataFrame, *, ring: int = 1, cx: str = "cell_cx",
                 cy: str = "cell_cy", out: str = "qcell") -> DataFrame:
    """Explode each row to the packed ids of its (2·ring+1)² neighborhood.

    This is the halo side of a cell equi-join: ``probe.explode_ring() ⋈ build
    on (qcell = cell)`` yields every pair within ``ring`` cells — a superset
    of every pair within ``ring · cell_size`` distance, refined afterwards by
    the exact predicate.  Mirrors the reference's KD-tree ball queries
    (``/root/reference/city2graph/proximity.py:1425-1426``).
    """
    offsets = F.array(*[
        F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
        for dx in range(-ring, ring + 1) for dy in range(-ring, ring + 1)
    ])
    df = df.withColumn("_off", F.explode(offsets))
    return (df.withColumn(out, pack_cell(F.col(cx) + F.col("_off.dx"),
                                         F.col(cy) + F.col("_off.dy")))
              .drop("_off"))


def explode_cells_in_box(df: DataFrame, xmin: Column, ymin: Column,
                         xmax: Column, ymax: Column, *, cell_size: float,
                         out: str = "qcell") -> DataFrame:
    """Explode each row to every packed cell id intersecting [xmin,xmax]×
    [ymin,ymax].  Per-row variable-size halo — used for disc/lune witness
    joins (Gabriel/RNG) and polygon covers (point-in-polygon)."""
    cx0, cx1 = cell_coord(xmin, cell_size), cell_coord(xmax, cell_size)
    cy0, cy1 = cell_coord(ymin, cell_size), cell_coord(ymax, cell_size)
    df = (df.withColumn("_qcx", F.explode(F.sequence(cx0, cx1)))
            .withColumn("_qcy", F.explode(F.sequence(cy0, cy1))))
    return df.withColumn(out, pack_cell(F.col("_qcx"), F.col("_qcy"))) \
             .drop("_qcx", "_qcy")


def with_salt(df: DataFrame, key: str, *, buckets: int, out: str = "salt") -> DataFrame:
    """Deterministic salt (hash of the row's natural id) to split a hot key
    into ``buckets`` sub-keys.  Pair with :func:`explode_salt` on the other
    side of the join."""
    return df.withColumn(out, F.pmod(F.xxhash64(F.col(key)), F.lit(buckets)).cast("int"))


def explode_salt(df: DataFrame, *, buckets: int, out: str = "salt") -> DataFrame:
    """Replicate each row across all salt buckets (build side of a salted
    join against a :func:`with_salt`-ed probe side)."""
    return df.withColumn(out, F.explode(F.array(*[F.lit(i) for i in range(buckets)])))


def parent_cell(cell: Column, *, levels: int = 1) -> Column:
    """Parent id ``levels`` up the implicit quadtree over the packed cell
    grid (H3/S2-style hierarchy on the engine's flat index): each axis
    index halves per level.  Axis indices are offset-biased; unbias →
    arithmetic shift (floor semantics for negatives) → rebias, all JVM
    column arithmetic."""
    cx = F.floor(cell / F.lit(CELL_SHIFT)).cast("long")
    cy = (cell - cx * F.lit(CELL_SHIFT)).cast("long")
    pcx = F.shiftright(cx - F.lit(CELL_OFFSET), levels) + F.lit(CELL_OFFSET)
    pcy = F.shiftright(cy - F.lit(CELL_OFFSET), levels) + F.lit(CELL_OFFSET)
    return pack_cell(pcx, pcy)


def multires_rollup(points: DataFrame, *, base_cell_size: float,
                    levels: int, x: str = "x", y: str = "y",
                    agg_col: str | None = None) -> DataFrame:
    """Hierarchical multi-resolution aggregation (the hypertable-rollup
    shape): counts (+ optional sums) per cell at ``levels`` resolutions,
    each coarser level aggregated FROM the finer one — level r reads
    level r−1's partial results, so the raw table is scanned exactly once
    and every rollup shuffle shrinks 4× per level.

    Returns (res, cell, n[, value_sum]) with ``res`` = 0 for
    ``base_cell_size`` and r for ``base_cell_size·2^r``."""
    df = with_cell(points, x=x, y=y, cell_size=base_cell_size)
    aggs = [F.count("*").alias("n")]
    if agg_col is not None:
        aggs.append(F.sum(agg_col).alias("value_sum"))
    cur = df.groupBy("cell").agg(*aggs)
    out = cur.select(F.lit(0).alias("res"), "cell", "n",
                     *([F.col("value_sum")] if agg_col else []))
    for r in range(1, levels):
        re_aggs = [F.sum("n").alias("n")]
        if agg_col is not None:
            re_aggs.append(F.sum("value_sum").alias("value_sum"))
        cur = (cur.withColumn("cell", parent_cell(F.col("cell")))
               .groupBy("cell").agg(*re_aggs))
        out = out.unionByName(
            cur.select(F.lit(r).alias("res"), "cell", "n",
                       *([F.col("value_sum")] if agg_col else [])))
    return out
