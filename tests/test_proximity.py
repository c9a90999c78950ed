"""Brute-force oracle tests for the proximity generators.

Mirrors the reference's flagship property test
(/root/reference/tests/test_proximity.py:116-148): seeded random points,
recompute each graph by its O(n²)/O(n³) definition in numpy, assert exact
edge-set equality, and assert the containment hierarchy RNG ⊆ Gabriel.
"""

import numpy as np
import pytest

from city2graph_spark.operators.proximity import (
    fixed_radius_graph,
    gabriel_graph,
    knn_graph,
    relative_neighborhood_graph,
    waxman_graph,
)

N = 150
DOMAIN = 5000.0
EPS64 = np.finfo(np.float64).eps


@pytest.fixture(scope="module")
def pts_np():
    rng = np.random.default_rng(42)
    return rng.uniform(0, DOMAIN, (N, 2))


@pytest.fixture(scope="module")
def pts_df(spark, pts_np):
    rows = [(int(i), float(x), float(y)) for i, (x, y) in enumerate(pts_np)]
    return spark.createDataFrame(rows, "node_id long, x double, y double").cache()


def brute_knn(pts, k):
    d = np.sqrt(((pts[:, None, :] - pts[None, :, :]) ** 2).sum(-1))
    np.fill_diagonal(d, np.inf)
    edges = set()
    for i in range(len(pts)):
        order = np.lexsort((np.arange(len(pts)), d[i]))[:k]
        for j in order:
            edges.add((min(i, int(j)), max(i, int(j))))
    return edges


def brute_gabriel(pts):
    n = len(pts)
    edges = set()
    for i in range(n):
        for j in range(i + 1, n):
            dots = ((pts[i] - pts) * (pts[j] - pts)).sum(1)
            if not np.any(dots < 0.0):
                edges.add((i, j))
    return edges


def brute_rng(pts):
    n = len(pts)
    edges = set()
    for i in range(n):
        for j in range(i + 1, n):
            dots = ((pts[i] - pts) * (pts[j] - pts)).sum(1)
            if np.any(dots < 0.0):
                continue
            dij2 = float(((pts[i] - pts[j]) ** 2).sum())
            thr = dij2 - EPS64 * max(dij2, 1.0) * 64.0
            di2 = ((pts - pts[i]) ** 2).sum(1) < thr
            dj2 = ((pts - pts[j]) ** 2).sum(1) < thr
            if not np.any(di2 & dj2):
                edges.add((i, j))
    return edges


def edge_set(df):
    return {(r.src if "src" in df.columns else r.u,
             r.dst if "dst" in df.columns else r.v) for r in df.collect()}


def test_knn_exact(spark, pts_df, pts_np):
    got = edge_set(knn_graph(pts_df, 5, cell_size=400.0))
    assert got == brute_knn(pts_np, 5)
    # negative ids (shifting keeps the id order, so ties break alike); the
    # small cells send most probes through the uncertified-probe stats
    neg = spark.createDataFrame(
        [(int(i) - 100, float(x), float(y)) for i, (x, y) in enumerate(pts_np)],
        "node_id long, x double, y double")
    got = edge_set(knn_graph(neg, 5, cell_size=40.0))
    assert got == {(i - 100, j - 100) for i, j in brute_knn(pts_np, 5)}


def test_knn_exact_small_cells_forces_phase2(pts_df, pts_np):
    # cell ≪ kth distance ⇒ nearly every probe fails the phase-1 certificate
    got = edge_set(knn_graph(pts_df, 5, cell_size=40.0))
    assert got == brute_knn(pts_np, 5)


def test_knn_exact_huge_cells_sparse_path(pts_df, pts_np):
    got = edge_set(knn_graph(pts_df, 5, cell_size=6000.0))
    assert got == brute_knn(pts_np, 5)


def test_knn_directed(pts_df, pts_np):
    k = 3
    got = {(r.src, r.dst) for r in
           knn_graph(pts_df, k, cell_size=400.0, directed=True).collect()}
    d = np.sqrt(((pts_np[:, None, :] - pts_np[None, :, :]) ** 2).sum(-1))
    np.fill_diagonal(d, np.inf)
    want = {(i, int(j)) for i in range(N)
            for j in np.lexsort((np.arange(N), d[i]))[:k]}
    assert got == want


def test_fixed_radius(pts_df, pts_np):
    r = 400.0
    got = edge_set(fixed_radius_graph(pts_df, r))
    d = np.sqrt(((pts_np[:, None, :] - pts_np[None, :, :]) ** 2).sum(-1))
    want = {(i, j) for i in range(N) for j in range(i + 1, N) if d[i, j] <= r}
    assert got == want


def test_gabriel_exact_unbounded(pts_df, pts_np):
    # r_cand ≥ domain diameter ⇒ the bounded variant equals the full graph
    got = edge_set(gabriel_graph(pts_df, r_cand=2.0 * DOMAIN))
    assert got == brute_gabriel(pts_np)


def test_rng_exact_and_hierarchy(pts_df, pts_np):
    rng_edges = edge_set(relative_neighborhood_graph(pts_df, r_cand=2.0 * DOMAIN))
    assert rng_edges == brute_rng(pts_np)
    assert rng_edges <= brute_gabriel(pts_np)  # RNG ⊆ Gabriel


def oracle_empty_region(xy, r_cand, mode):
    """The gate oracles' predicates (gate._gabriel_oracle / _rng_oracle),
    term for term in float64: candidates d ≤ r_cand, killed by any witness
    with (ux−wx)(vx−wx)+(uy−wy)(vy−wy) < 0, or for RNG one inside the lune
    du² < thr ∧ dv² < thr."""
    x, y = xy[:, 0], xy[:, 1]
    edges = set()
    for u in range(len(xy)):
        for v in range(u + 1, len(xy)):
            d = np.sqrt((x[u] - x[v]) * (x[u] - x[v])
                        + (y[u] - y[v]) * (y[u] - y[v]))
            if not d <= r_cand:
                continue
            bad = (x[u] - x) * (x[v] - x) + (y[u] - y) * (y[v] - y) < 0
            if mode == "rng":
                thr = d * d - 1.4210854715202004e-14 * max(d * d, 1.0)
                bad |= (((x[u] - x) * (x[u] - x) + (y[u] - y) * (y[u] - y) < thr)
                        & ((x[v] - x) * (x[v] - x) + (y[v] - y) * (y[v] - y) < thr))
            if not bad.any():
                edges.add((u, v))
    return edges


@pytest.mark.parametrize("offset,spacing", [
    (0.0, 1.0), (1000.3, 1.0), (123456.7, 0.1), (5e5, 3.0)])
def test_empty_region_kernel_cocircular_lattice(offset, spacing):
    """An 8×8 lattice puts four points on every diagonal's diametral circle
    (the disc dot is exactly 0 there): the radius-bounded kernel must keep
    exactly the edges the gate oracle keeps, at large offsets too, where
    the float32 error band is widest.  Pure pandas — no Spark."""
    import pandas as pd

    from city2graph_spark.operators.proximity import _empty_graph_kernel
    g = np.arange(8) * spacing + offset
    xy = np.array([(gx, gy) for gx in g for gy in g])
    r_cand = 3 * spacing
    rows = pd.DataFrame({"node_id": np.arange(len(xy), dtype=np.int64),
                         "x": xy[:, 0], "y": xy[:, 1],
                         "cell": np.zeros(len(xy), dtype=np.int64),
                         "qcell": np.zeros(len(xy), dtype=np.int64)})
    for mode, n_edges in (("gabriel", 210), ("rng", 112)):
        out = _empty_graph_kernel(r_cand, mode)(rows)
        got = set(zip(out["u"].tolist(), out["v"].tolist()))
        want = oracle_empty_region(xy, r_cand, mode)
        assert got == want and len(got) == len(out)
        if offset == 0.0:
            assert len(got) == n_edges


def test_waxman_deterministic(pts_df):
    a = edge_set(waxman_graph(pts_df, 0.6, 300.0, seed=7))
    b = edge_set(waxman_graph(pts_df, 0.6, 300.0, seed=7))
    c = edge_set(waxman_graph(pts_df, 0.6, 300.0, seed=8))
    assert a == b
    assert a != c  # different seed ⇒ different draw
    assert len(a) > 0


def test_knn_k_exceeds_n(spark):
    # fewer than k candidates anywhere ⇒ residual broadcast fallback path
    rows = [(0, 0.0, 0.0), (1, 10.0, 0.0), (2, 0.0, 10.0)]
    df = spark.createDataFrame(rows, "node_id long, x double, y double")
    got = edge_set(knn_graph(df, 5, cell_size=100.0))
    assert got == {(0, 1), (0, 2), (1, 2)}


def test_delaunay_and_emst(spark, pts_df, pts_np):
    from city2graph_spark.operators.proximity import (
        delaunay_graph, euclidean_minimum_spanning_tree)
    dl = edge_set(delaunay_graph(pts_df))
    gabriel = brute_gabriel(pts_np)
    rng_e = brute_rng(pts_np)
    # containment hierarchy (reference tests/test_proximity.py:116-148):
    # MST ⊆ RNG ⊆ Gabriel ⊆ Delaunay
    assert gabriel <= dl
    mst = edge_set(euclidean_minimum_spanning_tree(pts_df))
    assert mst <= rng_e <= gabriel
    assert len(mst) == N - 1
    # exact MST weight vs dense Prim oracle
    d = np.sqrt(((pts_np[:, None, :] - pts_np[None, :, :]) ** 2).sum(-1))
    import heapq
    seen = {0}; heap = [(d[0, j], j) for j in range(1, N)]
    heapq.heapify(heap); total = 0.0
    while len(seen) < N:
        w, j = heapq.heappop(heap)
        if j in seen:
            continue
        seen.add(j); total += w
        for k2 in range(N):
            if k2 not in seen:
                heapq.heappush(heap, (d[j, k2], k2))
    got_total = sum(d[u, v] for u, v in mst)
    assert abs(got_total - total) < 1e-6


def test_knn_hot_block_salting(spark):
    """Urban-core skew guard: forcing multi-salt splits of a dense cluster
    must leave the exact edge set unchanged."""
    import numpy as np
    rng = np.random.default_rng(13)
    core = rng.random((400, 2)) * 50.0 + 2000.0      # dense hot block
    ring = rng.random((100, 2)) * 5000.0
    pts = np.vstack([core, ring])
    df = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(pts)],
        "node_id long, x double, y double")
    from city2graph_spark.operators.proximity import knn_graph
    base = {(r.src, r.dst) for r in
            knn_graph(df, 4, cell_size=500.0).collect()}
    salted = {(r.src, r.dst) for r in
              knn_graph(df, 4, cell_size=500.0, salt_target=50).collect()}
    assert salted == base and len(base) > 0


def test_duplicate_edges_option(spark):
    """Round-4 duplicate_edges surface (reference proximity.py:700-763):
    True appends the reverse row of every undirected edge; rejected for
    directed variants before any computation."""
    from city2graph_spark.operators.proximity import (
        fixed_radius_graph, gabriel_graph, knn_graph)
    pts = spark.createDataFrame(
        [(0, 0.0, 0.0), (1, 1.0, 0.0), (2, 0.0, 1.0)],
        "node_id long, x double, y double")
    base = fixed_radius_graph(pts, 1.5)
    dup = fixed_radius_graph(pts, 1.5, duplicate_edges=True)
    n = base.count()
    assert n > 0 and dup.count() == 2 * n
    got = {(r.src, r.dst) for r in dup.collect()}
    assert all((b, a) in got for a, b in got)
    gd = gabriel_graph(pts, duplicate_edges=True)
    gg = {(r.u, r.v) for r in gd.collect()}
    assert all((b, a) in gg for a, b in gg)
    with pytest.raises(ValueError, match="duplicate_edges"):
        knn_graph(pts, 1, cell_size=10.0, directed=True,
                  duplicate_edges=True)
    with pytest.raises(ValueError, match="duplicate_edges"):
        fixed_radius_graph(pts, 1.5, directed=True, duplicate_edges=True)


class _Count:
    """Stand-in for the Spark accumulator the kNN kernel adds to."""

    def __init__(self):
        self.value = 0

    def add(self, n):
        self.value += n


@pytest.mark.parametrize("self_join", [True, False])
def test_local_topk_kernel_rows(self_join):
    """The phase-1 kernel in plain pandas: k edge rows per certified probe,
    one stats row (found count in dst, kth distance in weight) per
    uncertified probe, and the uncertified probes counted."""
    import pandas as pd
    from city2graph_spark.operators.proximity import _local_topk_kernel
    k, B = 2, 10.0
    # the cluster certifies (kth ≪ margin ≥ B); (9.5, 9.5) finds its k
    # nearest ~11 away, past its 10.5 margin; (25, 25) is a halo row
    probe_xy = np.array([[1.0, 1.0], [1.5, 1.0], [1.0, 1.5], [2.0, 2.0],
                         [9.5, 9.5]])
    halo_xy = np.array([[25.0, 25.0]])
    if self_join:
        xy = np.vstack([probe_xy, halo_xy])
        ids = np.arange(6) - 3
        is_probe = np.arange(6) < 5
    else:   # candidates are a second layer sharing the probes' ids
        xy = np.vstack([probe_xy[:4], halo_xy, probe_xy])
        ids = np.tile(np.arange(5), 2) - 3
        is_probe = np.arange(10) >= 5
    group = pd.DataFrame({"node_id": ids, "x": xy[:, 0], "y": xy[:, 1],
                          "_probe": is_probe})
    # a lone probe: nothing else in its group
    lone = pd.DataFrame({"node_id": [99], "x": [3.0], "y": [3.0],
                         "_probe": [True]})
    count = _Count()
    kernel = _local_topk_kernel(k, "euclidean", B, self_join, count)
    out = pd.concat([kernel(group), kernel(lone)])

    cand = np.ones(len(xy), bool) if self_join else ~is_probe
    n_unc = 0
    for i in np.nonzero(is_probe)[0]:
        dx, dy = xy[i, 0] - xy[cand, 0], xy[i, 1] - xy[cand, 1]
        d, cid = np.sqrt(dx * dx + dy * dy), ids[cand]
        if self_join:
            d, cid = d[cid != ids[i]], cid[cid != ids[i]]
        top = np.lexsort((cid, d))[:k]
        bx, by = np.floor(xy[i] / B)
        margin = min(xy[i, 0] - (bx - 1) * B, (bx + 2) * B - xy[i, 0],
                     xy[i, 1] - (by - 1) * B, (by + 2) * B - xy[i, 1])
        got = out[out["src"] == ids[i]]
        if len(top) == k and d[top].max() < margin:
            assert got["cert"].all() and len(got) == k
            assert list(got["dst"]) == list(cid[top])
            assert np.array_equal(got["weight"].to_numpy(), d[top])
        else:
            n_unc += 1
            assert len(got) == 1 and not got["cert"].iloc[0]
            assert got["dst"].iloc[0] == len(top)
            assert got["weight"].iloc[0] == d[top].max()
            assert (got["px"].iloc[0], got["py"].iloc[0]) == tuple(xy[i])
    assert 0 < n_unc < len(probe_xy)
    stats = out[out["src"] == 99]
    assert len(stats) == 1 and stats["dst"].iloc[0] == 0
    assert stats["weight"].iloc[0] == np.inf and not stats["cert"].iloc[0]
    assert count.value == n_unc + 1 == int((~out["cert"]).sum())


def test_proximity_leaves_no_cached_plan(spark, pts_np):
    """Once its result is collected an operator leaves no cached plan:
    knn on the certified, phase-2 (cell 40) and residual (cell 6000)
    paths, bipartite kNN, bounded Gabriel and Waxman.  (The session is
    shared, so other tests' cached fixtures are counted out.)"""
    from city2graph_spark.operators.bipartite import knn_graph_bipartite
    cm = spark._jsparkSession.sharedState().cacheManager()

    def cached_plans():
        return 0 if cm.isEmpty() else cm.cachedData().size()

    pts = spark.createDataFrame(
        [(int(i), float(x), float(y)) for i, (x, y) in enumerate(pts_np)],
        "node_id long, x double, y double")
    before = cached_plans()
    for cell in (400.0, 40.0, 6000.0):
        knn_graph(pts, 5, cell_size=cell).collect()
    knn_graph_bipartite(pts.where("node_id < 50"), pts.where("node_id >= 50"),
                        3, cell_size=400.0).collect()
    gabriel_graph(pts, r_cand=800.0).collect()
    waxman_graph(pts, 0.6, 300.0, seed=7).collect()
    assert cached_plans() == before
