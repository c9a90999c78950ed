"""Enclosed (barrier) tessellation — M5 full path + M12/M15 + enclosed DAG.

Fixture: a 3×3 street grid (lines at 0/100/200) → four 100×100 enclosures.
Buildings are 10m squares; the two-building enclosure is symmetric about
x=50, so the Voronoi split is exactly 5000/5000 m² — hand-computable.

Reference semantics: utils/spatial.py:2725-2830 (momepy.enclosed_tessellation
+ enclosures), morphology.py:2749-2831 (M12), morphology.py:2687-2741 (M15).
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from city2graph_spark.geo.arrangement import (
    node_segments,
    polygonize,
    sutherland_hodgman,
)
from city2graph_spark.geo.kernels import (
    points_covered_by_ring,
    shoelace_area_centroid,
)
from city2graph_spark.operators.morphology import (
    add_building_info,
    filter_adjacent_tessellation,
    morphological_graph,
    morphological_graphs,
)
from city2graph_spark.operators.tessellation import (
    build_enclosures,
    create_tessellation,
    enclosed_tessellation,
)


def _grid_mv(spark):
    # noded at intersections (one movement per 100m block edge) so the
    # street graph is connected — endpoint-noded input is the
    # segments_to_graph contract, same as real (OSM/Overture) street data
    rows, mid = [], 0
    for x in (0.0, 100.0, 200.0):
        for y0 in (0.0, 100.0):
            rows += [(mid, 0, x, y0), (mid, 1, x, y0 + 100.0)]
            mid += 1
    for y in (0.0, 100.0, 200.0):
        for x0 in (0.0, 100.0):
            rows += [(mid, 0, x0, y), (mid, 1, x0 + 100.0, y)]
            mid += 1
    return spark.createDataFrame(
        rows, "movement_id long, seq long, x double, y double")


def _square(pid, cx, cy, h=5.0):
    pts = [(cx - h, cy - h), (cx + h, cy - h), (cx + h, cy + h),
           (cx - h, cy + h), (cx - h, cy - h)]
    return [(pid, 0, s, x, y) for s, (x, y) in enumerate(pts)]


@pytest.fixture(scope="module")
def mv(spark):
    return _grid_mv(spark)


@pytest.fixture(scope="module")
def buildings(spark):
    # enclosure (0..100)²: symmetric pair → exact 50/50 Voronoi split
    b = _square(0, 25.0, 50.0) + _square(1, 75.0, 50.0)
    # enclosure (100..200)×(0..100): single building → whole enclosure
    b += _square(2, 150.0, 50.0)
    # enclosure (0..100)×(100..200): empty
    # enclosure (100..200)²: three buildings
    b += _square(3, 125.0, 125.0) + _square(4, 175.0, 125.0) \
        + _square(5, 150.0, 175.0)
    return spark.createDataFrame(
        b, "poly_id long, ring long, seq long, x double, y double")


def _cell_areas(cells_df):
    pdf = cells_df.toPandas()
    out = {}
    for (eid, pid), grp in pdf.groupby(["enclosure_index", "place_id"]):
        g = grp.sort_values("seq")
        a, cx, cy = shoelace_area_centroid(g["x"].to_numpy(), g["y"].to_numpy())
        out[(eid, pid)] = (abs(a), cx, cy)
    return out


def test_polygonize_grid_faces():
    segs = []
    for x in (0, 1, 2):
        segs.append((x, 0, x, 2))
    for y in (0, 1, 2):
        segs.append((0, y, 2, y))
    faces = polygonize(node_segments(np.array(segs, float)))
    areas = sorted(round(0.5 * abs(np.sum(
        f[:, 0] * np.roll(f[:, 1], -1) - np.roll(f[:, 0], -1) * f[:, 1])), 9)
        for f in faces)
    assert areas == [1.0, 1.0, 1.0, 1.0]
    # dangling spur must not create a face
    faces2 = polygonize(node_segments(np.array(segs + [(1, 1, 1.5, 1.5)], float)))
    assert len(faces2) == 4


def test_sutherland_hodgman_concave_subject():
    L = np.array([(0, 0), (3, 0), (3, 1), (1, 1), (1, 3), (0, 3)], float)
    clip = np.array([(0.5, 0.5), (2.5, 0.5), (2.5, 2.5), (0.5, 2.5)], float)
    out = sutherland_hodgman(L, clip)
    area = 0.5 * np.sum(out[:, 0] * np.roll(out[:, 1], -1)
                        - np.roll(out[:, 0], -1) * out[:, 1])
    assert abs(area - 1.75) < 1e-12


def test_build_enclosures_deterministic():
    segs = np.array([[0, 100, 200, 100], [100, 0, 100, 200]], float)
    encl = build_enclosures(segs, (0.0, 0.0, 200.0, 200.0))
    assert [eid for eid, _ in encl] == [0, 1, 2, 3]
    areas = []
    for _, ring in encl:
        a, _, _ = shoelace_area_centroid(ring[:, 0], ring[:, 1])
        areas.append(round(abs(a), 6))
    assert areas == [10000.0] * 4
    # deterministic order: (minx, miny)
    mins = [(round(r[:, 0].min(), 6), round(r[:, 1].min(), 6))
            for _, r in encl]
    assert mins == [(0.0, 0.0), (0.0, 100.0), (100.0, 0.0), (100.0, 100.0)]


def test_enclosed_tessellation_partition(mv, buildings):
    cells = enclosed_tessellation(buildings, mv, segment=2.0,
                                  limit=(0.0, 0.0, 200.0, 200.0))
    info = _cell_areas(cells)
    # symmetric pair: exact bisector split
    a0 = info[(0, 0)][0]
    a1 = info[(0, 1)][0]
    assert abs(a0 - 5000.0) < 1.0 and abs(a1 - 5000.0) < 1.0
    # single building: whole enclosure
    assert abs(info[(2, 2)][0] - 10000.0) < 1e-6
    # empty enclosure kept as place -1
    assert abs(info[(1, -1)][0] - 10000.0) < 1e-6
    # partition property: per-enclosure cell areas sum to enclosure area
    sums = {}
    for (eid, _), (a, _, _) in info.items():
        sums[eid] = sums.get(eid, 0.0) + a
    for eid, s in sums.items():
        assert abs(s - 10000.0) < 0.5, (eid, s)
    # every building owns exactly one cell in its enclosure
    owners = sorted(pid for (_, pid) in info if pid >= 0)
    assert owners == [0, 1, 2, 3, 4, 5]


def test_create_tessellation_dispatch(mv, buildings):
    cells = create_tessellation(buildings, mv, segment=2.0,
                                limit=(0.0, 0.0, 200.0, 200.0))
    assert "enclosure_index" in cells.columns
    assert cells.select("enclosure_index").dropDuplicates().count() == 4


def test_filter_adjacent_tessellation(mv, buildings):
    cells = enclosed_tessellation(buildings, mv, segment=2.0,
                                  limit=(0.0, 0.0, 200.0, 200.0))
    # centroid of every cell here is ≤ ~50m from a bounding street
    kept = filter_adjacent_tessellation(cells, mv, max_distance=60.0)
    assert kept.select("enclosure_index", "place_id").dropDuplicates().count() \
        == cells.select("enclosure_index", "place_id").dropDuplicates().count()
    # a 30m cap keeps only cells whose centroid is near a street: the
    # symmetric pair (centroids x=25/75, y=50 → 25m from the y-street) stays,
    # the single-building cell centroid (150,50) is 50m away → dropped
    kept30 = {(r.enclosure_index, r.place_id) for r in
              filter_adjacent_tessellation(cells, mv, max_distance=30.0)
              .select("enclosure_index", "place_id").dropDuplicates().collect()}
    assert (0, 0) in kept30 and (0, 1) in kept30
    assert (2, 2) not in kept30
    # inf = no-op
    assert filter_adjacent_tessellation(cells, mv).count() == cells.count()


def test_add_building_info(mv, buildings):
    cells = enclosed_tessellation(buildings, mv, segment=2.0,
                                  limit=(0.0, 0.0, 200.0, 200.0))
    out = add_building_info(cells, buildings)
    got = {(r.enclosure_index, r.place_id): r.building_id
           for r in out.select("enclosure_index", "place_id", "building_id")
           .dropDuplicates().collect()}
    for (eid, pid), bid in got.items():
        if pid >= 0:
            assert bid == pid, (eid, pid, bid)
        else:
            assert bid is None


def test_morphological_graph_enclosed(spark, mv, buildings):
    out = morphological_graph(buildings, mv, (50.0, 1.0), 500.0,
                              extent_buffer=80.0, tessellation="enclosed")
    places = {r.place_id for r in
              out["places"].select("place_id").dropDuplicates().collect()}
    # the symmetric pair's cells touch the whole west enclosure; the single
    # building's cell is the full SE enclosure — all within 80m of a street
    assert {0, 1, 2} <= places
    touched = {(r.src, r.dst) for r in out["touched_to"].collect()}
    assert (0, 1) in touched  # bisector-adjacent cells share an edge
    # enclosure group filter (reference morphology.py:2408-2422): cells 1
    # and 2 share street-corner vertices (100,0)/(100,100) across the
    # x=100 street, but touched_to must never cross enclosures
    cell_encl = {r.place_id: r.enclosure_index
                 for r in out["places"]
                 .select("place_id", "enclosure_index")
                 .dropDuplicates().collect()}
    for s, d in touched:
        assert cell_encl[s] == cell_encl[d], (s, d)
    assert (1, 2) not in touched and (2, 1) not in touched


def test_morphological_graphs_shared(spark, mv, buildings):
    outs = morphological_graphs(buildings, mv, (50.0, 1.0), [200.0, 500.0],
                                extent_buffer=80.0, tessellation="enclosed")
    assert set(outs) == {200.0, 500.0}
    p500 = {r.place_id for r in
            outs[500.0]["places"].select("place_id").dropDuplicates().collect()}
    p200 = {r.place_id for r in
            outs[200.0]["places"].select("place_id").dropDuplicates().collect()}
    assert p200 <= p500
    m200 = outs[200.0]["movements"].select("movement_id").dropDuplicates().count()
    m500 = outs[500.0]["movements"].select("movement_id").dropDuplicates().count()
    assert m200 <= m500


def test_courtyard_hole_preserved(spark):
    """Momepy cell-geometry parity: a courtyard building hosting another
    building inside its hole yields a HOLED host cell (ring=1 rows), and
    the cell areas still partition the enclosure exactly."""
    # building 0: 20x20 footprint with a 10x10 courtyard hole;
    # building 1: 4x4 inside the courtyard
    b0 = [(0, 0, s, x, y) for s, (x, y) in enumerate(
        [(0.0, 0.0), (20.0, 0.0), (20.0, 20.0), (0.0, 20.0), (0.0, 0.0)])]
    b0 += [(0, 1, s, x, y) for s, (x, y) in enumerate(
        [(5.0, 5.0), (5.0, 15.0), (15.0, 15.0), (15.0, 5.0), (5.0, 5.0)])]
    b1 = _square(1, 10.0, 10.0, h=2.0)
    bv = spark.createDataFrame(
        b0 + b1, "poly_id long, ring long, seq long, x double, y double")
    # one square street loop around the block (noded corners)
    segs = [(-10.0, -10.0, 30.0, -10.0), (30.0, -10.0, 30.0, 30.0),
            (30.0, 30.0, -10.0, 30.0), (-10.0, 30.0, -10.0, -10.0)]
    rows = []
    for mid, (ax, ay, bx, by) in enumerate(segs):
        rows += [(mid, 0, ax, ay), (mid, 1, bx, by)]
    mv = spark.createDataFrame(
        rows, "movement_id long, seq long, x double, y double")
    cells = enclosed_tessellation(bv, mv, segment=1.0,
                                  limit=(-10.0, -10.0, 30.0, 30.0),
                                  keep_empty=False).cache()
    pdf = cells.toPandas()
    assert set(pdf["place_id"]) == {0, 1}
    # host cell has a hole ring
    assert (pdf[pdf["place_id"] == 0]["ring"] >= 1).any()
    assert (pdf[pdf["place_id"] == 1]["ring"] == 0).all()

    def net_area(sub):
        total = 0.0
        for ri, grp in sub.groupby("ring"):
            g = grp.sort_values("seq")
            a = abs(shoelace_area_centroid(g["x"].to_numpy(),
                                           g["y"].to_numpy())[0])
            total += a if ri == 0 else -a
        return total

    a0 = net_area(pdf[pdf["place_id"] == 0])
    a1 = net_area(pdf[pdf["place_id"] == 1])
    # cells partition the 40x40 enclosure; without the hole a0 + a1 would
    # overcount by the area of cell 1
    assert abs(a0 + a1 - 1600.0) < 1e-3
    assert a1 > 16.0  # cell 1 at least covers its footprint
    # building 1's footprint is inside cell 1 (so inside the host's hole)
    ring1 = pdf[(pdf["place_id"] == 1) & (pdf["ring"] == 0)].sort_values("seq")
    vx, vy = ring1["x"].to_numpy(), ring1["y"].to_numpy()
    got = points_covered_by_ring(np.array([10.0]), np.array([10.0]), vx, vy)
    assert got[0]


def test_building_assignment_semantics(spark, mv):
    """Building→enclosure assignment: the building's area centroid picks
    the smallest boundary-inclusive covering face.  A NaN building is
    dropped, a centroid on the street two equal faces share goes to the
    smaller eid, and a zero-area footprint falls back to its vertex mean."""
    nan = float("nan")
    b = _square(0, 25.0, 50.0, h=2.0) + _square(1, 75.0, 50.0, h=2.0) \
        + _square(2, nan, 50.0, h=2.0) + _square(3, 100.0, 50.0, h=2.0) \
        + _square(4, 150.0, 150.0, h=0.0)
    bv = spark.createDataFrame(
        b, "poly_id long, ring long, seq long, x double, y double")
    cells = enclosed_tessellation(bv, mv, segment=2.0,
                                  limit=(0.0, 0.0, 200.0, 200.0))
    got = sorted((r.enclosure_index, r.place_id) for r in
                 cells.select("enclosure_index", "place_id")
                 .dropDuplicates().collect())
    assert got == [(0, 0), (0, 1), (0, 3), (1, -1), (2, -1), (3, 4)]


def test_building_assignment_island_string_ids(spark):
    """A building inside an island street loop belongs to the island, not
    to the face around it; string poly_ids are carried through."""
    loop = [(0.0, 0.0), (100.0, 0.0), (100.0, 100.0), (0.0, 100.0)]
    island = [(40.0, 40.0), (60.0, 40.0), (60.0, 60.0), (40.0, 60.0)]
    rows, mid = [], 0
    for ring in (loop, island):
        for i, (ax, ay) in enumerate(ring):
            bx, by = ring[(i + 1) % len(ring)]
            rows += [(mid, 0, ax, ay), (mid, 1, bx, by)]
            mid += 1
    mv = spark.createDataFrame(
        rows, "movement_id long, seq long, x double, y double")
    b = _square("7", 50.0, 50.0, h=2.0) + _square("8", 20.0, 20.0, h=2.0)
    bv = spark.createDataFrame(
        b, "poly_id string, ring long, seq long, x double, y double")
    cells = enclosed_tessellation(bv, mv, segment=2.0,
                                  limit=(0.0, 0.0, 100.0, 100.0)).toPandas()
    info = {}
    for pid, grp in cells[cells["ring"] == 0].groupby("place_id"):
        g = grp.sort_values("seq")
        info[pid] = abs(shoelace_area_centroid(g["x"].to_numpy(),
                                               g["y"].to_numpy())[0])
    assert sorted(info) == [7, 8]
    assert abs(info[7] - 400.0) < 1e-6          # the whole island


def test_enclosed_tessellation_is_lazy(spark, mv, buildings):
    """Building the enclosed tessellation plan gathers only the barriers:
    no building-side job runs until the caller acts on the result."""
    from city2graph_spark.operators.morphology import polyline_parts
    sc = spark.sparkContext
    sc.setJobGroup("barrier_gather", "barrier gather")
    polyline_parts(mv).select("ax", "ay", "bx", "by").collect()
    sc.setJobGroup("enclosed_plan", "enclosed tessellation plan")
    try:
        enclosed_tessellation(buildings, mv, segment=2.0,
                              limit=(0.0, 0.0, 200.0, 200.0),
                              keep_empty=True)
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(prop, None)
    tracker = sc.statusTracker()
    assert len(tracker.getJobIdsForGroup("enclosed_plan")) \
        == len(tracker.getJobIdsForGroup("barrier_gather"))
