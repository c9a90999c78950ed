"""Proximity-graph generators (SURVEY.md §2.1) as distributed cell joins.

Reimplements the semantics of ``/root/reference/city2graph/proximity.py``
(knn_graph 771-887, fixed_radius_graph 1303-1437, gabriel_graph 985-1081,
relative_neighborhood_graph 1084-1184, waxman_graph 1440-1567) over
``(node_id, x, y)`` DataFrames.  Candidate generation is JVM column
arithmetic (cell equi-joins, window ranks, anti-joins); the CPU-bound
per-block work runs in numpy kernels behind grouped pandas UDFs:

- ``knn_graph`` and ``bipartite.knn_graph_bipartite`` phase 1 (both run
  ``_knn_edges``): ``applyInPandas`` per (superblock, salt), local top-k
  with an exactness certificate per probe;
- ``gabriel_graph`` / ``relative_neighborhood_graph`` with ``r_cand``:
  ``applyInPandas`` per superblock, the empty-region witness test;
- ``delaunay_graph``: Bowyer–Watson on the driver, or per tile in
  ``applyInPandas`` past ``driver_switch`` points.

Partitioning rule for the knn and gabriel/rng kernels: the exploded input
is hash-partitioned on the group keys into ``spark.sql.shuffle.partitions``
tasks (``_kernel_exchange``).  The input is small in bytes but costs much
kernel CPU per byte, so AQE's byte-based coalescing would fold it onto one
core.  ``fixed_radius_graph``, ``waxman_graph`` and the unbounded
(``r_cand=None``) witness filter stay entirely in the JVM.

Scale notes (10^12 rows):

- every join is an equi-join on a packed cell id ⇒ shuffle hash join on a
  well-distributed key; AQE skew-join plus ``index.with_salt`` handle hot
  urban-core cells;
- kNN is exact via two-phase local-search → boundary-exchange: phase 1
  scans only the 3×3 halo (O(n·density) candidate pairs) and its kernel
  certifies each probe itself, returning k edges per certified probe and
  one stats row (kth distance, found count, coordinates) per uncertified
  one; phase 2 re-probes only those (a per-row variable halo sized by the
  kth distance — still a cell equi-join);
- the residual fallback (fewer than k candidates in the phase-1 halo) is a
  broadcast of the handful of failing probes against one full scan — exact,
  and empty for any sane cell size;
- phase 1 runs once into an eager ``localCheckpoint``; phase 2 and the
  residual are planned only when an accumulator counted an uncertified
  probe, so a fully certified call pays no plan or job for them.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..index import explode_cells_in_box, explode_ring, with_cell

# float64 machine epsilon — the reference's RNG lune tolerance is
# dij² − eps·max(dij²,1)·64 (/root/reference/city2graph/proximity.py:1176).
_EPS64 = 2.220446049250313e-16


def _kernel_exchange(df: DataFrame, *keys: str) -> DataFrame:
    """Hash-partition a kernel stage's input on its group keys into
    ``spark.sql.shuffle.partitions`` tasks.  The grouped kernel reuses this
    exchange, and AQE never coalesces a repartition with an explicit count:
    left to AQE, a ~1 MB kernel input (5k points) ran 0.9 CPU-s of kernel
    in one task on one core."""
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return df.repartition(n, *keys)


def _dist(metric: str, dx, dy):
    if metric == "manhattan":
        return F.abs(dx) + F.abs(dy)
    return F.sqrt(dx * dx + dy * dy)


def estimate_knn_cell(n: int, k: int, domain: float = 5000.0,
                      target_per_block: float = 128.0) -> float:
    """Superblock size for the phase-1 local-kNN kernel: ~target_per_block
    points per block.  Phase-1 compute is n × 9·(points/block) distance
    evals, so smaller blocks are cheaper as long as (a) the certificate
    margin (≥ block size) stays above the kth-NN distance and (b) group
    count stays sane; 128/block keeps both with ~10× headroom for k ≤ 16.
    At 10^12 rows the same sizing rule keeps per-task memory bounded:
    blocks scale with density, not with total n."""
    n = max(n, 2)
    b = domain * math.sqrt(min(target_per_block / n, 1.0))
    return max(b, domain / (1 << 16))


def _local_topk_kernel(k: int, metric: str, block_size: float,
                       self_join: bool, uncertified):
    """Build the grouped-applyInPandas kernel: per superblock, exact top-k
    of every probe against the block's 3×3-halo candidate set.

    ``self_join``: probe rows are also candidates and a probe never matches
    its own id; otherwise only the non-probe rows are candidates and ids are
    not compared (they may repeat across two layers).

    A probe is certified when it found k candidates and its kth distance is
    strictly inside the exact margin to the scanned 3×3 region's boundary.
    A certified probe emits its k edges (``cert`` true, px/py null); an
    uncertified one emits ONE stats row — ``cert`` false, ``dst`` = number
    of candidates found (≤ k), ``weight`` = kth found distance (inf if
    none), px/py its coordinates — and adds 1 to ``uncertified`` (anything
    with ``add``: a Spark accumulator in ``_knn_edges``).

    All arithmetic is numpy float64 with the same expression tree as the
    column/oracle path (dx·dx + dy·dy → sqrt), so distances are bit-identical
    across the three execution strategies.  Tie-break is (distance, dst id) —
    implemented by pre-sorting candidates by id and using stable sorts.
    """
    import numpy as np
    import pandas as pd

    B = float(block_size)

    def kernel(rows: "pd.DataFrame") -> "pd.DataFrame":
        # One row per (point, covered block); ``_probe`` marks the rows that
        # probe in this group (a home copy probes in exactly ONE salt group).
        # (Single-sided grouping — Spark 4.1's cogroup prunes the right
        # side's columns under generator inputs, so cogroup is avoided.)
        home = rows["_probe"].to_numpy(bool)
        pid = rows["node_id"].to_numpy()[home]
        px = rows["x"].to_numpy()[home]
        py = rows["y"].to_numpy()[home]
        cand = rows if self_join else rows[~home]
        nc = len(cand)
        kk = min(k, nc - 1 if self_join else nc)
        if kk <= 0 or not len(pid):
            # no probe here, or lone probes for the residual fallback
            uncertified.add(len(pid))
            return pd.DataFrame({"src": pid, "dst": 0, "weight": np.inf,
                                 "cert": False, "px": px, "py": py})
        order = np.argsort(cand["node_id"].to_numpy(), kind="stable")
        cid = cand["node_id"].to_numpy()[order]
        cx = cand["x"].to_numpy()[order]
        cy = cand["y"].to_numpy()[order]
        tops_d, tops_i = [], []
        # chunk probes so chunk×candidates stays bounded (skewed blocks)
        chunk = max(1, int(4_000_000 / nc))
        m = min(kk + 8, nc)  # argpartition margin for boundary ties
        for s in range(0, len(pid), chunk):
            cpid, cpx, cpy = pid[s:s + chunk], px[s:s + chunk], py[s:s + chunk]
            dx = cpx[:, None] - cx[None, :]
            dy = cpy[:, None] - cy[None, :]
            if metric == "manhattan":
                dist = np.abs(dx) + np.abs(dy)
            else:
                # select on d² (monotone), sqrt only the m survivors per
                # probe — cuts the full-matrix sqrt from the hot loop.
                # Boundary ties at the argpartition cut behave exactly as
                # before (arbitrary there too); the (weight, id) tie order
                # below runs on the true sqrt weights either way.
                dist = dx * dx + dy * dy
            if self_join:
                dist[cpid[:, None] == cid[None, :]] = np.inf  # exclude self
            if m < nc:
                part = np.argpartition(dist, m - 1, axis=1)[:, :m]
            else:
                part = np.broadcast_to(np.arange(nc), (len(cpid), nc)).copy()
            sel_d = np.take_along_axis(dist, part, axis=1)
            if metric != "manhattan":
                sel_d = np.sqrt(sel_d)
            sel_i = cid[part]
            # row-wise lexicographic (dist, id): order by id, then stable by dist
            o1 = np.argsort(sel_i, axis=1, kind="stable")
            sel_d = np.take_along_axis(sel_d, o1, axis=1)
            sel_i = np.take_along_axis(sel_i, o1, axis=1)
            o2 = np.argsort(sel_d, axis=1, kind="stable")[:, :kk]
            tops_d.append(np.take_along_axis(sel_d, o2, axis=1))
            tops_i.append(np.take_along_axis(sel_i, o2, axis=1))
        top_d, top_i = np.concatenate(tops_d), np.concatenate(tops_i)
        bx = np.floor(px / B)
        by = np.floor(py / B)
        margin = np.minimum.reduce([px - (bx - 1) * B, (bx + 2) * B - px,
                                    py - (by - 1) * B, (by + 2) * B - py])
        found = np.isfinite(top_d)
        n_found = found.sum(axis=1)
        kth = np.where(n_found > 0, np.max(np.where(found, top_d, -np.inf),
                                           axis=1), np.inf)
        cert = (n_found == k) & (kth < margin)
        unc = ~cert
        n_unc, n_edge = int(unc.sum()), int(cert.sum()) * kk
        uncertified.add(n_unc)
        # one frame per group: its construction is a fixed per-group cost
        pad = np.full(n_edge, np.nan)
        return pd.DataFrame({
            "src": np.concatenate([np.repeat(pid[cert], kk), pid[unc]]),
            "dst": np.concatenate([top_i[cert].ravel(), n_found[unc]]),
            "weight": np.concatenate([top_d[cert].ravel(), kth[unc]]),
            "cert": np.arange(n_edge + n_unc) < n_edge,
            "px": np.concatenate([pad, px[unc]]),
            "py": np.concatenate([pad, py[unc]])})

    return kernel


def _apply_duplicate_edges(edges: DataFrame, duplicate_edges: bool, *,
                           directed: bool = False, src: str = "src",
                           dst: str = "dst") -> DataFrame:
    """``duplicate_edges`` option contract (reference proximity.py:700-763):
    True appends the reverse (v, u) row of every undirected edge; rejected
    up front for directed variants, whose edge set is not symmetrizable
    (the reference's ``target_gdf`` rejection).  The reference also rejects
    the option with ``as_nx=True``; here nx conversion is the separate
    ``operators.conversion`` surface, where reciprocal rows of an
    undirected graph would collapse back into one edge — so request plain
    (non-duplicated) edges when converting."""
    if not duplicate_edges:
        return edges
    if directed:
        raise ValueError(
            "duplicate_edges=True is not supported for directed graph "
            "variants: reciprocal rows only represent undirected edges "
            "(reference proximity.py:752-763)")
    from .topology import symmetrize_edges
    return symmetrize_edges(edges, src=src, dst=dst)


def _knn_edges(pts: DataFrame, dst_pts: DataFrame | None, k: int,
               metric: str, B: float, salt_target: int = 100_000
               ) -> DataFrame:
    """Exact directed kNN edges (src, dst, weight) with superblock size
    ``B``: each ``pts`` row → its k nearest ``dst_pts`` rows, or, with
    ``dst_pts=None``, its k nearest other ``pts`` rows (self excluded by
    id).  Ties break by (distance, dst).

    The phase-1 kernel runs once, into an eager ``localCheckpoint``: not
    matched by plan (a repeat call computes from scratch) and freed by
    Spark's ContextCleaner once the result is dropped.  The kernel counts
    its uncertified probes in a per-call accumulator, read after the
    checkpoint has run; when it is 0 the certified edges are the result
    and the phase-2/residual plan is never built.  (A retried kernel task
    can only over-count, which builds that exact plan needlessly.)"""
    self_join = dst_pts is None
    src = with_cell(pts, cell_size=B)
    dst = src if self_join else with_cell(dst_pts, cell_size=B)

    # ---- phase 1: per-superblock local kNN (grouped pandas kernel) -----
    # Every candidate is exploded to the 9 blocks it can serve; a probe is
    # the home-cell copy (self-join) or the src row itself (two layers).
    # The kernel certifies each probe (kth < margin-to-scanned-region) and
    # returns one stats row per uncertified probe in place of its edges, so
    # the plan never joins against the full point set.
    cands = explode_ring(dst, ring=1, cx="cell_cx", cy="cell_cy", out="qcell") \
        .select("node_id", "x", "y", "cell", "qcell")
    # urban-core skew guard: a superblock with more than ``salt_target``
    # home probes splits into ⌈count/salt_target⌉ salted sub-tasks — probes
    # hash-partitioned across salts, candidates replicated to every salt, a
    # per-row flag marks the one group where a home row probes.  Result
    # identical, task size bounded.  (AQE cannot split a single pandas
    # group; this does.)
    hot = (src.groupBy("cell").count()
           .where(F.col("count") > salt_target)
           .select(F.col("cell").alias("qcell"),
                   F.ceil(F.col("count") / salt_target).cast("int")
                   .alias("_nsalt")))

    def salted(rows: DataFrame) -> DataFrame:
        return (rows.join(F.broadcast(hot), "qcell", "left")
                .withColumn("_nsalt", F.coalesce("_nsalt", F.lit(1)))
                .withColumn("_psalt", F.pmod(F.xxhash64("node_id"),
                                             F.col("_nsalt"))))

    # (Two salting-bypass variants were measured this round and both
    # reverted: an isEmpty()-branch paid an extra blocking job per call
    # (knn 1.81 → 2.55 s whole-process medians), and a lazy anti-join/
    # union split measured 1.58 → 1.88 s on a quiet host — the per-row
    # hash+Generate below is cheaper than a second broadcast probe pass
    # in the regime the bench runs.  See OPTIMIZATION_r07.md.)
    cols = ["node_id", "x", "y", "cell", "qcell", "_salt", "_probe"]
    cands = salted(cands).withColumn("_salt", F.explode(F.sequence(
        F.lit(0), F.col("_nsalt") - 1)))
    if self_join:
        cands = cands.withColumn("_probe", (F.col("cell") == F.col("qcell"))
                                 & (F.col("_salt") == F.col("_psalt"))) \
            .select(*cols)
    else:
        probes = (salted(src.withColumn("qcell", F.col("cell")))
                  .withColumn("_salt", F.col("_psalt"))
                  .withColumn("_probe", F.lit(True)))
        cands = (cands.withColumn("_probe", F.lit(False)).select(*cols)
                 .unionByName(probes.select(*cols)))
    uncertified = pts.sparkSession.sparkContext.accumulator(0)
    top1 = (_kernel_exchange(cands, "qcell", "_salt")
            .groupBy("qcell", "_salt")
            .applyInPandas(
                _local_topk_kernel(k, metric, B, self_join, uncertified),
                "src long, dst long, weight double, cert boolean, "
                "px double, py double")
            .localCheckpoint())
    edges = top1.where(F.col("cert")).select("src", "dst", "weight")
    if not uncertified.value:
        return edges
    stats1 = top1.where(~F.col("cert")).select(
        "src", "px", "py", F.col("dst").alias("_cnt"),
        F.col("weight").alias("_kth"))
    build = dst.select(
        F.col("node_id").alias("dst"), F.col("x").alias("bx"),
        F.col("y").alias("by"), F.col("cell").alias("bcell"))

    def rank_topk(cand: DataFrame) -> DataFrame:
        if self_join:
            cand = cand.where(F.col("src") != F.col("dst"))
        w = Window.partitionBy("src").orderBy(F.col("weight").asc(), F.col("dst").asc())
        return (cand.withColumn("_rn", F.row_number().over(w))
                    .where(F.col("_rn") <= k).drop("_rn"))

    # ---- phase 2: boundary exchange for uncertified probes -----------
    # Probes that found k candidates but too far: every true neighbor lies
    # within the found kth distance ⇒ re-probe a per-row box of that radius.
    retry = stats1.where(F.col("_cnt") == k)
    retry = explode_cells_in_box(
        retry, F.col("px") - F.col("_kth"), F.col("py") - F.col("_kth"),
        F.col("px") + F.col("_kth"), F.col("py") + F.col("_kth"),
        cell_size=B)
    cand2 = (retry.join(build, retry.qcell == build.bcell)
             .withColumn("weight", _dist(metric, F.col("px") - F.col("bx"),
                                         F.col("py") - F.col("by"))))
    top2 = rank_topk(cand2.select("src", "dst", "weight"))

    # Residual: fewer than k candidates in the 3×3 halo (sparse outskirts).
    # Broadcast those few probes against one full scan — exact fallback.
    sparse = stats1.where(F.col("_cnt") < k).select("src", "px", "py")
    cand3 = (F.broadcast(sparse)
             .crossJoin(build.drop("bcell"))
             .withColumn("weight", _dist(metric, F.col("px") - F.col("bx"),
                                         F.col("py") - F.col("by"))))
    top3 = rank_topk(cand3.select("src", "dst", "weight"))

    return (edges.unionByName(top2.select("src", "dst", "weight"))
            .unionByName(top3.select("src", "dst", "weight")))


def knn_graph(points: DataFrame, k: int, *, cell_size: float,
              metric: str = "euclidean", directed: bool = False,
              salt_target: int = 100_000,
              duplicate_edges: bool = False) -> DataFrame:
    """Exact k-nearest-neighbor graph over (node_id, x, y).

    Reference semantics (proximity.py:875-884): per node, k nearest by the
    chosen metric, self excluded; undirected output canonicalises (u,v) to
    unordered pairs and dedupes.  Ties break by (distance, dst) — the same
    deterministic order the oracle SQL uses.

    Strategy: ``cell_size`` is the *superblock* size.  Phase 1 computes each
    block's probes against its 3×3-halo candidates with a vectorized numpy
    kernel inside a grouped ``applyInPandas`` (pairs never materialise in
    the shuffle — only k edges per certified probe, or one stats row per
    uncertified probe, come back), checkpointed once.  Only when some probe
    is uncertified does phase 2 re-probe those with a variable-radius cell
    join, and a residual broadcast fallback handle probes with fewer than k
    candidates anywhere in the halo.  Exact at every phase.

    Returns (src, dst, weight).
    """
    if duplicate_edges and directed:
        _apply_duplicate_edges(None, True, directed=True)  # raises
    edges = _knn_edges(points, None, k, metric, float(cell_size), salt_target)
    if directed:
        return edges
    # undirected: canonical unordered pair, dedupe (proximity.py:879-884 via
    # nx.Graph add_edges semantics — last write wins, weights are symmetric).
    und = (edges.select(F.least("src", "dst").alias("src"),
                        F.greatest("src", "dst").alias("dst"), "weight")
                .dropDuplicates(["src", "dst"]))
    return _apply_duplicate_edges(und, duplicate_edges)


def fixed_radius_graph(points: DataFrame, radius: float, *,
                       metric: str = "euclidean", cell_size: float | None = None,
                       directed: bool = False,
                       duplicate_edges: bool = False) -> DataFrame:
    """Gilbert graph: edge iff d(u,v) ≤ radius (proximity.py:1424-1432,
    keeps i<j).  Cell equi-join with ring ⌈radius/cell⌉ then exact filter."""
    if duplicate_edges and directed:
        _apply_duplicate_edges(None, True, directed=True)  # raises
    cell_size = cell_size or radius
    ring = max(1, math.ceil(radius / cell_size))
    pts = with_cell(points, cell_size=cell_size)
    build = pts.select(F.col("node_id").alias("dst"), F.col("x").alias("bx"),
                       F.col("y").alias("by"), F.col("cell").alias("bcell"))
    probe = explode_ring(pts, ring=ring).select(
        F.col("node_id").alias("src"), F.col("x").alias("px"),
        F.col("y").alias("py"), "qcell")
    pair_pred = (F.col("src") < F.col("dst")) if not directed else (F.col("src") != F.col("dst"))
    out = (probe.join(build, probe.qcell == build.bcell)
           .where(pair_pred)
           .withColumn("weight", _dist(metric, F.col("px") - F.col("bx"),
                                       F.col("py") - F.col("by")))
           .where(F.col("weight") <= F.lit(float(radius)))
           .select("src", "dst", "weight")
           .dropDuplicates(["src", "dst"]))
    return out if directed else _apply_duplicate_edges(out, duplicate_edges)


def _empty_graph_kernel(r_cand: float, mode: str):
    """Per-superblock kernel computing radius-bounded empty-region graphs
    (Gabriel: empty diametral disc; RNG: Gabriel test + empty lune — the
    reference's exact predicate chain, proximity.py:1071-1078 / 1171-1181).

    Exactness: with r_cand ≤ block size, every candidate edge's disc/lune
    lies inside the 3×3 halo of the home block, so the local witness set is
    complete — no phase 2 needed.  Candidate distances use the same
    dx·dx+dy·dy → sqrt expression tree as the oracle.  Witness tests run
    as float32 GEMMs that decide only outside a bounded error band; band
    edges re-run the oracle's own float64 expressions, so the edge set is
    the oracle's.  Endpoint self-hits are masked by id, never by the
    rounded dot.
    """
    import numpy as np
    import pandas as pd

    empty = {"u": pd.Series(dtype="int64"), "v": pd.Series(dtype="int64"),
             "weight": pd.Series(dtype="float64")}

    def kernel(rows: "pd.DataFrame") -> "pd.DataFrame":
        home = (rows["cell"] == rows["qcell"]).to_numpy()
        if not home.any() or len(rows) < 2:
            return pd.DataFrame(empty)
        order = np.argsort(rows["node_id"].to_numpy(), kind="stable")
        cid = rows["node_id"].to_numpy()[order]
        W = np.column_stack([rows["x"].to_numpy()[order],
                             rows["y"].to_numpy()[order]])
        pid = rows["node_id"].to_numpy()[home]
        P = np.column_stack([rows["x"].to_numpy()[home],
                             rows["y"].to_numpy()[home]])
        nc = len(cid)

        # ---- candidate pairs (exact distances, oracle expression tree) --
        # (A d²-prefilter-then-sqrt variant was measured SLOWER here — the
        # extra nonzero/fancy-indexing costs more than the full-matrix
        # sqrt it saves; see OPTIMIZATION_r07.md.)
        eu, ev, ew = [], [], []
        chunk = max(1, int(4_000_000 / nc))
        for s in range(0, len(pid), chunk):
            cpid, cP = pid[s:s + chunk], P[s:s + chunk]
            dx = cP[:, 0][:, None] - W[:, 0][None, :]
            dy = cP[:, 1][:, None] - W[:, 1][None, :]
            dist = np.sqrt(dx * dx + dy * dy)
            pair = (dist <= r_cand) & (cpid[:, None] < cid[None, :])
            ei, ej = np.nonzero(pair)
            if len(ei):
                eu.append(np.searchsorted(cid, cpid[ei]))
                ev.append(ej)
                ew.append(dist[ei, ej])
        if not eu:
            return pd.DataFrame(empty)
        iu = np.concatenate(eu)   # witness-array index of u
        iv = np.concatenate(ev)   # witness-array index of v
        d = np.concatenate(ew)

        # ---- witness pass, sub-cell localised -------------------------
        # Disc witnesses lie within d/2 ≤ r/2 of the edge midpoint; lune
        # witnesses within 1.5·r.  Bucket witnesses into r-sized sub-cells
        # and test each edge only against its midpoint's neighbor ring —
        # cuts the memory-bound dots matrix by ~|halo|/|ring| (~15×).
        ring = 2 if mode == "rng" else 1
        K = np.int64(1 << 32)
        wkey = (np.floor(W[:, 0] / r_cand).astype(np.int64) * K
                + np.floor(W[:, 1] / r_cand).astype(np.int64))
        worder = np.argsort(wkey, kind="stable")
        wkey_s = wkey[worder]
        Ws = W[worder]
        inv = np.empty(nc, dtype=np.int64)  # witness-array idx → sorted idx
        inv[worder] = np.arange(nc)

        mx = (W[iu, 0] + W[iv, 0]) / 2.0
        my = (W[iu, 1] + W[iv, 1]) / 2.0
        ekey = (np.floor(mx / r_cand).astype(np.int64) * K
                + np.floor(my / r_cand).astype(np.int64))
        eorder = np.argsort(ekey, kind="stable")
        ekey_s = ekey[eorder]
        iu_s, iv_s, d_s = iu[eorder], iv[eorder], d[eorder]
        ucell, ustart = np.unique(ekey_s, return_index=True)
        uend = np.append(ustart[1:], len(ekey_s))

        keep_s = np.ones(len(ekey_s), dtype=bool)
        thr_all = None
        if mode == "rng":
            dij2 = d_s * d_s
            thr_all = dij2 - _EPS64 * 64.0 * np.maximum(dij2, 1.0)

        def mask_endpoints(M, sel, widx, which, value=np.inf):
            """Set to ``value`` the columns holding each edge's own
            endpoints (by id position — never by the rounded dot value)."""
            epos = np.searchsorted(widx, inv[which[sel]])
            in_ring = epos < len(widx)
            epos_c = np.clip(epos, 0, max(len(widx) - 1, 0))
            hit = in_ring & (widx[epos_c] == inv[which[sel]])
            M[np.nonzero(hit)[0], epos_c[hit]] = value

        def exact(bsel, widx):
            """The gate oracle's predicates in float64, term for term:
            disc (ux−wx)(vx−wx)+(uy−wy)(vy−wy) < 0, and for RNG the lune
            du² < thr ∧ dv² < thr."""
            ux, uy = W[iu_s[bsel], 0][:, None], W[iu_s[bsel], 1][:, None]
            vx, vy = W[iv_s[bsel], 0][:, None], W[iv_s[bsel], 1][:, None]
            wx, wy = Ws[widx, 0][None, :], Ws[widx, 1][None, :]
            hit = (ux - wx) * (vx - wx) + (uy - wy) * (vy - wy) < 0
            if mode == "rng":
                thr = thr_all[bsel][:, None]
                hit |= (((ux - wx) * (ux - wx) + (uy - wy) * (uy - wy) < thr)
                        & ((vx - wx) * (vx - wx) + (vy - wy) * (vy - wy) < thr))
            mask_endpoints(hit, bsel, widx, iu_s, False)
            mask_endpoints(hit, bsel, widx, iv_s, False)
            return hit.any(axis=1)

        def violated(sel, widx):
            """Edges (indices into the sorted arrays) killed by any witness
            in widx.  The disc test is shift-invariant, so it runs as ONE
            fused FLOAT32 GEMM in witness-centroid-shifted coordinates
            (block-sized magnitudes, half the memory traffic of the
            bandwidth-bound hot loop): G = (−(U+V) | 1)·(Wᵀ ; |W|²) ⇒
            dot(e,w) = G[e,w] + c_e[e].  RNG adds the two lune distance
            matrices from the same shifted witnesses.  Each float32 result
            decides only outside a rigorously bounded error band; edges
            inside any band re-run :func:`exact`, so the output equals the
            oracle's — cocircular witnesses (dot exactly 0) included."""
            if len(sel) == 0 or len(widx) == 0:
                return np.zeros(len(sel), dtype=bool)
            c0 = Ws[widx].mean(axis=0)
            Ues = W[iu_s[sel]] - c0
            Ves = W[iv_s[sel]] - c0
            Wsx = Ws[widx] - c0
            Y32 = np.empty((3, len(widx)), dtype=np.float32)
            Y32[0] = Wsx[:, 0]
            Y32[1] = Wsx[:, 1]
            Y32[2] = Wsx[:, 0] * Wsx[:, 0] + Wsx[:, 1] * Wsx[:, 1]
            gy = float(np.abs(Y32).max())
            c_es = Ues[:, 0] * Ves[:, 0] + Ues[:, 1] * Ves[:, 1]
            X32 = np.empty((len(sel), 3), dtype=np.float32)
            X32[:, 0] = -(Ues[:, 0] + Ves[:, 0])
            X32[:, 1] = -(Ues[:, 1] + Ves[:, 1])
            X32[:, 2] = 1.0
            G32 = X32 @ Y32
            mask_endpoints(G32, sel, widx, iu_s)
            mask_endpoints(G32, sel, widx, iv_s)
            m32 = G32.min(axis=1).astype(np.float64)
            gamma = 32.0 * 5.96e-8 * float(np.abs(X32).max()) * gy
            bad = m32 < (-c_es - gamma)
            band = (~bad) & (m32 <= -c_es + gamma)
            if mode == "rng":
                thr = thr_all[sel]
                Xu32 = np.empty((len(sel), 3), dtype=np.float32)
                Xu32[:, 0] = -2.0 * Ues[:, 0]
                Xu32[:, 1] = -2.0 * Ues[:, 1]
                Xu32[:, 2] = 1.0
                gamma_u = 32.0 * 5.96e-8 * float(np.abs(Xu32).max()) * gy
                su = Ues[:, 0] * Ues[:, 0] + Ues[:, 1] * Ues[:, 1]
                du2 = (Xu32 @ Y32).astype(np.float64) + su[:, None]
                Xu32[:, 0] = -2.0 * Ves[:, 0]
                Xu32[:, 1] = -2.0 * Ves[:, 1]
                gamma_v = 32.0 * 5.96e-8 * float(np.abs(Xu32).max()) * gy
                sv = Ves[:, 0] * Ves[:, 0] + Ves[:, 1] * Ves[:, 1]
                dv2 = (Xu32 @ Y32).astype(np.float64) + sv[:, None]
                mask_endpoints(du2, sel, widx, iu_s)
                mask_endpoints(du2, sel, widx, iv_s)
                lune_kill = ((du2 < thr[:, None] - gamma_u)
                             & (dv2 < thr[:, None] - gamma_v)).any(axis=1)
                lune_loose = ((du2 < thr[:, None] + gamma_u)
                              & (dv2 < thr[:, None] + gamma_v)).any(axis=1)
                bad |= lune_kill
                band = (~bad) & (band | lune_loose)
            if band.any():
                bad[band] = exact(sel[band], widx)
            return bad

        offs = [dxo * K + dyo for dxo in range(-ring, ring + 1)
                for dyo in range(-ring, ring + 1) if not (dxo == 0 and dyo == 0)]
        for ci in range(len(ucell)):
            sel = np.arange(ustart[ci], uend[ci])
            # pass A: the midpoint's own sub-cell witnesses kill ~95% of
            # non-empty-region edges at ~1/9 the memory traffic
            l0 = np.searchsorted(wkey_s, ucell[ci], "left")
            h0 = np.searchsorted(wkey_s, ucell[ci] + 1, "left")
            bad0 = violated(sel, np.arange(l0, h0))
            keep_s[sel[bad0]] = False
            surv = sel[~bad0]
            if len(surv) == 0:
                continue
            # pass B: survivors vs the rest of the ring
            lo = np.searchsorted(wkey_s, [ucell[ci] + o for o in offs], "left")
            hi = np.searchsorted(wkey_s, [ucell[ci] + o + 1 for o in offs], "left")
            widx = np.concatenate([np.arange(l, h) for l, h in zip(lo, hi)])
            badr = violated(surv, widx)
            keep_s[surv[badr]] = False

        return pd.DataFrame({"u": cid[iu_s[keep_s]],
                             "v": cid[iv_s[keep_s]],
                             "weight": d_s[keep_s]})

    return kernel


def _empty_region_graph(points: DataFrame, r_cand: float,
                        cell_size: float | None, mode: str) -> DataFrame:
    if cell_size is None:
        # size blocks by density, but never below r_cand (locality proof).
        # Block-target sweeps (×1..×4 edge length, randomized interleaved)
        # were run twice this round: on a heavily-contended host ×1.5 won
        # ~1.7× (gabriel) / ~4× (rng), but on a normal host the SAME sweep
        # consistently favors the 128/block default in both warm-session
        # and fresh-session regimes (gabriel 2.5 vs 2.9 s, rng 3.2 vs
        # 4.4 s at 200k points) — the contended-host advantage did not
        # reproduce, so the default stays 128 (OPTIMIZATION_r07.md).
        cell_size = estimate_knn_cell(points.count(), 8)
    B = max(float(cell_size), float(r_cand))
    pts = with_cell(points, cell_size=B)
    cands = explode_ring(pts, ring=1, cx="cell_cx", cy="cell_cy", out="qcell") \
        .select("node_id", "x", "y", "cell", "qcell")
    # (An exactness-preserving pre-shuffle halo shrink — drop ring rows
    # farther than r_cand from the home cell's box — was measured ~0.3 s
    # SLOWER end-to-end at the bench shape despite shipping 2.25× fewer
    # rows; the interleaved A/B is recorded in OPTIMIZATION_r07.md.)
    return (_kernel_exchange(cands, "qcell").groupBy("qcell")
            .applyInPandas(_empty_graph_kernel(float(r_cand), mode),
                           "u long, v long, weight double"))


def _witness_filter_exact(points: DataFrame, cand: DataFrame, mode: str,
                          cell_size: float | None) -> DataFrame:
    """Kill candidate edges invaded by a witness in the open diametral disc
    (gabriel) or disc∪lune (rng) — exact, unbounded, all-JVM: per-candidate
    disc/lune bbox → cell cover explode → equi-join with bucketed points →
    column-expression predicate → anti-join.  A surviving (empty-region)
    edge's bbox holds ~no points, so even domain-spanning candidates from
    sparse gaps cost almost nothing."""
    if cell_size is None:
        cell_size = estimate_knn_cell(points.count(), 8)
    B = float(cell_size)
    pts = with_cell(points, cell_size=B).select(
        F.col("node_id").alias("w"), F.col("x").alias("wx"),
        F.col("y").alias("wy"), F.col("cell").alias("wcell"))
    if mode == "gabriel":
        x0 = (F.col("ux") + F.col("vx")) / 2 - F.col("dist") / 2
        x1 = (F.col("ux") + F.col("vx")) / 2 + F.col("dist") / 2
        y0 = (F.col("uy") + F.col("vy")) / 2 - F.col("dist") / 2
        y1 = (F.col("uy") + F.col("vy")) / 2 + F.col("dist") / 2
    else:   # lune ⊆ intersection of the two radius-d discs
        x0 = F.greatest("ux", "vx") - F.col("dist")
        x1 = F.least("ux", "vx") + F.col("dist")
        y0 = F.greatest("uy", "vy") - F.col("dist")
        y1 = F.least("uy", "vy") + F.col("dist")
    cover = explode_cells_in_box(cand, x0, y0, x1, y1, cell_size=B)
    wit = (cover.join(pts, cover.qcell == pts.wcell)
           .where((F.col("w") != F.col("u")) & (F.col("w") != F.col("v"))))
    disc = ((F.col("ux") - F.col("wx")) * (F.col("vx") - F.col("wx"))
            + (F.col("uy") - F.col("wy")) * (F.col("vy") - F.col("wy"))) < 0
    if mode == "rng":
        d2 = F.col("dist") * F.col("dist")
        thr = d2 - F.lit(_EPS64 * 64.0) * F.greatest(d2, F.lit(1.0))
        du2 = ((F.col("ux") - F.col("wx")) * (F.col("ux") - F.col("wx"))
               + (F.col("uy") - F.col("wy")) * (F.col("uy") - F.col("wy")))
        dv2 = ((F.col("vx") - F.col("wx")) * (F.col("vx") - F.col("wx"))
               + (F.col("vy") - F.col("wy")) * (F.col("vy") - F.col("wy")))
        pred = disc | ((du2 < thr) & (dv2 < thr))
    else:
        pred = disc
    invaded = wit.where(pred).select("u", "v").dropDuplicates()
    return (cand.join(invaded, ["u", "v"], "left_anti")
            .select("u", "v", F.col("dist").alias("weight")))


def _delaunay_with_coords(points: DataFrame, **kw) -> DataFrame:
    e = delaunay_graph(points, **kw)
    a = points.select(F.col("node_id").alias("u"), F.col("x").alias("ux"),
                      F.col("y").alias("uy"))
    b = points.select(F.col("node_id").alias("v"), F.col("x").alias("vx"),
                      F.col("y").alias("vy"))
    return e.join(a, "u").join(b, "v") \
        .select("u", "v", "ux", "uy", "vx", "vy",
                F.col("weight").alias("dist"))


def gabriel_graph(points: DataFrame, *, r_cand: float | None = None,
                  cell_size: float | None = None,
                  duplicate_edges: bool = False) -> DataFrame:
    """Gabriel graph: keep (u,v) iff no witness w has (u−w)·(v−w) < 0
    (open diametral disc empty — the reference's einsum test,
    proximity.py:1071-1078).

    ``r_cand=None`` (default) is the exact UNBOUNDED contract on any input:
    candidates come from the Delaunay triangulation (Gabriel ⊆ Delaunay —
    exactly the reference's own pruning, proximity.py:1061-1069; distributed
    past driver scale) and the witness test runs as a JVM cell-cover join.
    Passing ``r_cand`` selects the radius-bounded fast kernel: every Gabriel
    edge with length ≤ r_cand is found — equal to the unbounded set whenever
    the data has no empty disc of diameter > r_cand (any density-bounded
    corpus; the gate/bench path).
    """
    out = (_witness_filter_exact(points, _delaunay_with_coords(points),
                                 "gabriel", cell_size)
           if r_cand is None
           else _empty_region_graph(points, r_cand, cell_size, "gabriel"))
    return _apply_duplicate_edges(out, duplicate_edges, src="u", dst="v")


def relative_neighborhood_graph(points: DataFrame, *,
                                r_cand: float | None = None,
                                cell_size: float | None = None,
                                duplicate_edges: bool = False) -> DataFrame:
    """Relative-neighborhood graph.  Replicates the reference's exact
    predicate chain (proximity.py:1171-1181): a candidate dies if any
    witness has (u−w)·(v−w) < 0 (disc test) **or** lies in the lune —
    d(u,w)² < thr and d(v,w)² < thr with thr = d(u,v)² −
    eps·max(d(u,v)²,1)·64.

    ``r_cand=None`` (default) = exact unbounded via Delaunay candidates
    (RNG ⊆ Gabriel ⊆ Delaunay) + JVM witness join; explicit ``r_cand`` =
    radius-bounded fast kernel (see :func:`gabriel_graph`)."""
    out = (_witness_filter_exact(points, _delaunay_with_coords(points),
                                 "rng", cell_size)
           if r_cand is None
           else _empty_region_graph(points, r_cand, cell_size, "rng"))
    return _apply_duplicate_edges(out, duplicate_edges, src="u", dst="v")


def waxman_graph(points: DataFrame, beta: float, r0: float, seed: int, *,
                 p_min: float = 1e-6,
                 duplicate_edges: bool = False) -> DataFrame:
    """Waxman random graph, scalable variant: P(u,v) = β·exp(−d/r0)
    (proximity.py:1556-1563).  The reference draws a dense n×n uniform
    matrix from a seeded numpy Generator — inherently single-node; the
    distributed variant replaces the stream with a *per-pair deterministic
    draw* hashed from (seed,u,v) via md5, so the edge set is reproducible,
    order-independent, and shuffle-safe.  Pairs with P < p_min are pruned
    by a distance cutoff d_max = −r0·ln(p_min/β) before the draw — the
    documented deviation that makes the operator O(n·density) instead of
    O(n²).  The candidates are :func:`fixed_radius_graph` at d_max."""
    if p_min >= beta:
        raise ValueError("p_min must be < beta")
    d_max = -r0 * math.log(p_min / beta)
    cand = fixed_radius_graph(points, d_max).select(
        F.col("src").alias("u"), F.col("dst").alias("v"),
        F.col("weight").alias("dist"))
    # 60-bit md5-derived uniform in [0,1): portable across engines.
    draw = (F.conv(F.substring(F.md5(F.concat_ws("_", F.lit(seed), F.col("u"),
                                                 F.col("v"))), 1, 15), 16, 10)
            .cast("bigint").cast("double") / F.lit(float(1 << 60)))
    prob = F.lit(float(beta)) * F.exp(-F.col("dist") / F.lit(float(r0)))
    out = (cand.withColumn("_p", prob).withColumn("_r", draw)
               .where(F.col("_r") < F.col("_p"))
               .select("u", "v", F.col("dist").alias("weight")))
    return _apply_duplicate_edges(out, duplicate_edges, src="u", dst="v")


def delaunay_graph(points: DataFrame, *, driver_switch: int = 20_000,
                   tile_points: int = 2500,
                   duplicate_edges: bool = False) -> DataFrame:
    """Delaunay triangulation edges (reference proximity.py:890-982: all
    2-combinations of every simplex, deduped).

    Dispatch: up to ``driver_switch`` points the exact gathered Bowyer–Watson
    runs in one task (street-network/test scale, mirroring the reference's
    single-process scipy call); beyond it the per-tile certified distributed
    path (``delaunay_graph_distributed``) takes over — the round-1 hard cap
    is gone.

    Both paths stay: on a 4-core host (local[4], uniform points, 2 reps)
    the driver path took 5.2–5.6 s at 3k points and 17.6–18.7 s at 8k,
    the distributed path 27.6–46.4 s and 29.8–30.9 s, with identical edges.
    """
    n = points.count()
    out = (delaunay_graph_distributed(points, tile_points=tile_points)
           if n > driver_switch else _delaunay_driver(points))
    return _apply_duplicate_edges(out, duplicate_edges, src="u", dst="v")


def _delaunay_driver(points: DataFrame) -> DataFrame:
    import numpy as np

    from ..geo.delaunay import delaunay_edges

    rows = points.select("node_id", "x", "y").collect()
    ids = np.array([r["node_id"] for r in rows], dtype=np.int64)
    pts = np.array([[r["x"], r["y"]] for r in rows])
    order = np.argsort(ids, kind="stable")
    ids, pts = ids[order], pts[order]
    edges = delaunay_edges(pts)
    out = [(int(ids[i]), int(ids[j]),
            float(np.sqrt(((pts[i] - pts[j]) ** 2).sum())))
           for i, j in edges]
    spark = points.sparkSession
    df = spark.createDataFrame(out or [(None, None, None)],
                               "u long, v long, weight double")
    return df.where(F.col("u").isNotNull()) \
        .select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"),
                "weight")


def delaunay_graph_distributed(points: DataFrame, *, tile_points: int = 2500,
                               boundary_cap: int | None = None,
                               debug: bool = False) -> DataFrame:
    """Exact distributed Delaunay in ONE data pass + one boundary pass
    (SURVEY §7.3, redesigned after the round-2 escalation experiments).

    Per-point settling: tile T triangulates its 3×3-halo gather; an inT
    point p is SETTLED iff (a) p is strictly interior to the gather's local
    hull, and (b) every local triangle incident to p is globally empty —
    proven either by circumcircle ⊆ gathered region (local emptiness ⇒
    global) or by an explicit DISTRIBUTED in-circle invader join.  A settled
    point's local fan then equals its global Delaunay fan (a full-2π sector
    tiled by globally-valid triangles is unique), so every triangle incident
    to a settled point is global and every global triangle incident to it is
    present — tiles emit all triangles anchored at settled points.

    The unsettled remainder U (points on their gather's local hull — in
    practice only the ragged data boundary — plus vertices of refuted
    triangles) is tiny: a global triangle can be missed only if ALL THREE
    vertices are unsettled, and any such triangle has an empty circumcircle,
    hence appears in the Delaunay triangulation of the SUBSET U (empty
    circles restrict to subsets).  One driver-side Bowyer–Watson over U
    (O(boundary) ≈ O(√n) points) generates those candidates and the same
    distributed invader join verifies them exactly.

    Scale shape: one applyInPandas over tiles (~``tile_points`` gathered
    points each, 9× ring-explode shuffle), two cell-cover verify joins, no
    full gather anywhere; U and the per-tile hull chains are the only
    driver-side artifacts.
    """
    import math

    import numpy as np

    from ..index import CELL_OFFSET, CELL_SHIFT, explode_ring, with_cell

    spark = points.sparkSession
    pts = points.select("node_id", "x", "y").persist()
    n = pts.count()
    if n <= 3 or n <= tile_points:
        return _delaunay_driver(pts)
    bb = pts.agg(F.min("x"), F.min("y"), F.max("x"), F.max("y")).head()
    x0, y0, x1, y1 = [float(v) for v in bb]
    width, height = max(x1 - x0, 1e-9), max(y1 - y0, 1e-9)
    # size tiles so the 3×3 gather ≈ tile_points
    ts = max(math.sqrt(width * height * tile_points / n) / 3.0, 1e-9)
    bc = spark.sparkContext.broadcast(((x0, y0, x1, y1), ts))

    cells = with_cell(pts, cell_size=ts).persist()
    occupied = cells.select(F.col("cell").alias("tile")).dropDuplicates()

    # kind 0: anchored triangle (ta,tb,tc sorted; anchor = settled-so-far
    #         inT vertex); kind 1: unsettled point id (in ``ta``);
    # kind 2: unproven triangle for the distributed verify join
    out_schema = ("kind int, ta long, tb long, tc long, anchor long, "
                  "ccx double, ccy double, rad double, rad2 double")

    def tile_udf(key, pdf):
        import pandas as pd

        from ..geo.delaunay import _circum, _triangulate, hull_chain
        (bx0, by0, bx1, by1), ts_b = bc.value
        tile = int(key[0])
        tcx = tile // CELL_SHIFT - CELL_OFFSET
        tcy = tile % CELL_SHIFT - CELL_OFFSET
        tx0, ty0 = tcx * ts_b, tcy * ts_b
        tx1, ty1 = tx0 + ts_b, ty0 + ts_b
        halo = ts_b * (1 - 1e-12)
        cols = ["kind", "ta", "tb", "tc", "anchor",
                "ccx", "ccy", "rad", "rad2"]

        def frame(rows):
            return pd.DataFrame(rows, columns=cols)

        ids = pdf["node_id"].to_numpy(np.int64)
        P = pdf[["x", "y"]].to_numpy(np.float64)
        inT = pdf["_in_t"].to_numpy(bool)
        if not inT.any():
            return frame([])
        rows = []
        if len(P) < 3:
            for p in ids[inT]:
                rows.append((1, int(p), None, None, None,
                             None, None, None, None))
            return frame(rows)
        try:
            tris = np.array(_triangulate(P), dtype=np.int64)
        except RuntimeError:
            for p in ids[inT]:
                rows.append((1, int(p), None, None, None,
                             None, None, None, None))
            return frame(rows)
        if len(tris) == 0:
            for p in ids[inT]:
                rows.append((1, int(p), None, None, None,
                             None, None, None, None))
            return frame(rows)
        cc, rr2 = _circum(P, tris)
        rad = np.sqrt(np.maximum(rr2, 0.0))

        # unsettled: inT points on the gather's local hull
        lh = set(int(v) for v in hull_chain(P))
        settled = np.zeros(len(P), dtype=bool)
        for p in np.nonzero(inT)[0]:
            if int(p) in lh:
                rows.append((1, int(ids[p]), None, None, None,
                             None, None, None, None))
            else:
                settled[p] = True

        # circumcircle certification for triangles touching inT points;
        # the unproven remainder goes to the distributed verify join
        touch = inT[tris].any(axis=1)
        ex0, ey0 = tx0 - halo, ty0 - halo
        ex1, ey1 = tx1 + halo, ty1 + halo
        cx0 = np.maximum(cc[:, 0] - rad, bx0)
        cy0 = np.maximum(cc[:, 1] - rad, by0)
        cx1 = np.minimum(cc[:, 0] + rad, bx1)
        cy1 = np.minimum(cc[:, 1] + rad, by1)
        certified = ((cx0 >= ex0) & (cy0 >= ey0)
                     & (cx1 <= ex1) & (cy1 <= ey1)) \
            | (cx0 > cx1) | (cy0 > cy1)
        for t_idx in np.nonzero(touch & ~certified)[0]:
            a, b, c = sorted(int(ids[v]) for v in tris[t_idx])
            rows.append((2, a, b, c, None,
                         float(cc[t_idx, 0]), float(cc[t_idx, 1]),
                         float(rad[t_idx]), float(rr2[t_idx])))

        # anchored triangles: every triangle incident to a settled inT point
        anchored = settled[tris]
        for t_idx in np.nonzero(anchored.any(axis=1))[0]:
            t = tris[t_idx]
            a, b, c = sorted(int(ids[v]) for v in t)
            for v in t[anchored[t_idx]]:
                rows.append((0, a, b, c, int(ids[v]),
                             None, None, None, None))
        return frame(rows)

    gathered = explode_ring(cells, ring=1) \
        .withColumnRenamed("qcell", "tile") \
        .withColumn("_in_t", F.col("cell") == F.col("tile")) \
        .join(occupied, "tile", "left_semi")
    res = gathered.select("tile", "node_id", "x", "y", "_in_t") \
        .groupBy("tile").applyInPandas(tile_udf, out_schema).persist()

    def verify_invaded(tri_df):
        """Distributed in-circle invader join: triangles (ta,tb,tc,ccx,ccy,
        rad,rad2) → the refuted subset (any non-vertex point strictly
        inside the circumcircle)."""
        lo_x = F.greatest(F.col("ccx") - F.col("rad"), F.lit(x0))
        hi_x = F.least(F.col("ccx") + F.col("rad"), F.lit(x1))
        lo_y = F.greatest(F.col("ccy") - F.col("rad"), F.lit(y0))
        hi_y = F.least(F.col("ccy") + F.col("rad"), F.lit(y1))
        t = tri_df.where((lo_x <= hi_x) & (lo_y <= hi_y))
        cover = explode_cells_in_box(t, lo_x, lo_y, hi_x, hi_y, cell_size=ts)
        wpts = cells.select(F.col("node_id").alias("_w"),
                            F.col("x").alias("_wx"),
                            F.col("y").alias("_wy"),
                            F.col("cell").alias("_wcell"))
        d2 = ((F.col("_wx") - F.col("ccx")) * (F.col("_wx") - F.col("ccx"))
              + (F.col("_wy") - F.col("ccy")) * (F.col("_wy") - F.col("ccy")))
        return (cover.join(wpts, cover.qcell == wpts._wcell)
                .where((F.col("_w") != F.col("ta"))
                       & (F.col("_w") != F.col("tb"))
                       & (F.col("_w") != F.col("tc")))
                .where(d2 < F.col("rad2") * (1 - 1e-12))
                .select("ta", "tb", "tc").dropDuplicates())

    unproven = res.where(F.col("kind") == 2) \
        .select("ta", "tb", "tc", "ccx", "ccy", "rad", "rad2") \
        .dropDuplicates(["ta", "tb", "tc"]).persist()
    invaded = verify_invaded(unproven).persist()

    # U = locally-unsettled points ∪ vertices of refuted triangles
    u_pts = res.where(F.col("kind") == 1).select(F.col("ta").alias("pid"))
    u_ref = invaded.select(F.col("ta").alias("pid")) \
        .unionByName(invaded.select(F.col("tb").alias("pid"))) \
        .unionByName(invaded.select(F.col("tc").alias("pid")))
    U = u_pts.unionByName(u_ref).dropDuplicates().persist()
    n_u = U.count()
    # guard the driver-side DT(U): for realistic data |U| = O(√n) (measured
    # in ARCHITECTURE.md), but adversarial inputs (all points cocircular /
    # collinear) make |U| = n and would silently re-centralize the whole
    # problem — fail loudly instead of gathering n rows
    cap = boundary_cap if boundary_cap is not None \
        else max(50_000, 64 * int(math.isqrt(n)))
    if n_u > cap:
        raise ValueError(
            f"delaunay boundary set |U|={n_u} exceeds cap {cap} "
            f"(n={n}): input is adversarially degenerate (cocircular/"
            f"collinear); raise boundary_cap explicitly to force the "
            f"driver-side boundary pass")
    if debug:
        print(f"[delaunay] unproven={unproven.count()} "
              f"refuted={invaded.count()} unsettled={n_u}", flush=True)

    # anchored triangles whose anchor stayed settled
    anchored = (res.where(F.col("kind") == 0)
                .join(U.withColumnRenamed("pid", "anchor"),
                      "anchor", "left_anti")
                .select("ta", "tb", "tc").dropDuplicates())

    # boundary pass: DT(U) candidates at the driver, verified distributedly
    extra = None
    if n_u >= 2:
        urows = pts.join(U.withColumnRenamed("pid", "node_id"),
                         "node_id", "left_semi").collect()
        uids = np.array([r["node_id"] for r in urows], dtype=np.int64)
        uP = np.array([[r["x"], r["y"]] for r in urows])
        order = np.argsort(uids, kind="stable")
        uids, uP = uids[order], uP[order]
        from ..geo.delaunay import _circum, _triangulate
        if n_u == 2:
            cand_rows = []
            tris_u = []
        else:
            tris_u = np.array(_triangulate(uP), dtype=np.int64)
        if len(tris_u):
            ucc, urr2 = _circum(uP, tris_u)
            urad = np.sqrt(np.maximum(urr2, 0.0))
            cand_rows = []
            for i, t in enumerate(tris_u):
                a, b, c = sorted(int(uids[v]) for v in t)
                cand_rows.append((a, b, c, float(ucc[i, 0]), float(ucc[i, 1]),
                                  float(urad[i]), float(urr2[i])))
        if cand_rows:
            cand_df = spark.createDataFrame(
                cand_rows, "ta long, tb long, tc long, ccx double, "
                           "ccy double, rad double, rad2 double") \
                .dropDuplicates(["ta", "tb", "tc"])
            bad_u = verify_invaded(cand_df)
            extra = cand_df.join(bad_u, ["ta", "tb", "tc"], "left_anti") \
                .select("ta", "tb", "tc")
        # n_u == 2: the pair's edge is global iff it survives everywhere —
        # covered by the anchored fans of settled neighbors; skip

    tris_all = anchored if extra is None else \
        anchored.unionByName(extra).dropDuplicates(["ta", "tb", "tc"])
    e = (tris_all.select(F.col("ta").alias("u"), F.col("tb").alias("v"))
         .unionByName(tris_all.select(F.col("ta").alias("u"),
                                      F.col("tc").alias("v")))
         .unionByName(tris_all.select(F.col("tb").alias("u"),
                                      F.col("tc").alias("v")))
         .dropDuplicates())
    a = pts.select(F.col("node_id").alias("u"), F.col("x").alias("_ux"),
                   F.col("y").alias("_uy"))
    b2 = pts.select(F.col("node_id").alias("v"), F.col("x").alias("_vx"),
                    F.col("y").alias("_vy"))
    return (e.join(a, "u").join(b2, "v")
            .select("u", "v",
                    F.sqrt((F.col("_ux") - F.col("_vx"))
                           * (F.col("_ux") - F.col("_vx"))
                           + (F.col("_uy") - F.col("_vy"))
                           * (F.col("_uy") - F.col("_vy"))).alias("weight")))


def euclidean_minimum_spanning_tree(points: DataFrame, *,
                                    driver_switch: int = 20_000,
                                    tile_points: int = 2500,
                                    duplicate_edges: bool = False
                                    ) -> DataFrame:
    """EMST (reference proximity.py:1187-1300) over the Delaunay candidate
    set (EMST ⊆ Delaunay for the euclidean metric, proximity.py:1279-1285).

    Dispatch mirrors ``delaunay_graph``: up to ``driver_switch`` points the
    O(n α(n)) Kruskal union-find runs in one pass at the driver; beyond it
    both the Delaunay candidates and the spanning forest are fully
    distributed (per-tile certified Delaunay → DataFrame Borůvka,
    ``topology.minimum_spanning_forest``) — the round-1 cap is gone.

    Both paths stay: on a 4-core host (local[4], uniform points) Kruskal
    took 5.2–8.4 s at 3k points and 16.9 s at 8k; Borůvka took 39.5–49.7 s
    at 1k, and at 3k its driver ran out of heap (ROADMAP item 1)."""
    n = points.count()
    if n > driver_switch:
        from .topology import minimum_spanning_forest
        cand = delaunay_graph_distributed(points, tile_points=tile_points)
        return _apply_duplicate_edges(minimum_spanning_forest(cand),
                                      duplicate_edges, src="u", dst="v")
    cand = _delaunay_driver(points).collect()
    cand.sort(key=lambda r: (r["weight"], r["u"], r["v"]))
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    keep = []
    for r in cand:
        ru, rv = find(r["u"]), find(r["v"])
        if ru != rv:
            parent[ru] = rv
            keep.append((r["u"], r["v"], r["weight"]))
    spark = points.sparkSession
    df = spark.createDataFrame(keep or [(None, None, None)],
                               "u long, v long, weight double")
    return _apply_duplicate_edges(df.where(F.col("u").isNotNull()),
                                  duplicate_edges, src="u", dst="v")


def waxman_graph_exact(points: DataFrame, beta: float, r0: float,
                       seed: int | None = None, *,
                       metric: str = "euclidean",
                       driver_limit: int = 50_000) -> DataFrame:
    """Waxman graph with the reference's exact seeded RNG stream
    (proximity.py:1543-1565): dense n×n distances, ONE ``rng.random((n,n))``
    draw, mask = (rand <= probs) & triu(k=1).  Node order = ascending
    node_id (the reference uses GDF index order — sort inputs accordingly
    for row parity).  Deliberately single-node O(n²) like the reference;
    the distributed hashed-draw variant is :func:`waxman_graph`."""
    import numpy as np

    rows = points.select("node_id", "x", "y").collect()
    if len(rows) > driver_limit:
        raise ValueError("waxman_graph_exact is the O(n²) parity path; use "
                         "waxman_graph at scale")
    ids = np.array([r["node_id"] for r in rows], dtype=np.int64)
    order = np.argsort(ids, kind="stable")
    ids = ids[order]
    pts = np.array([[r["x"], r["y"]] for r in rows])[order]
    rng = np.random.default_rng(seed)
    if len(pts) < 2:
        return points.sparkSession.createDataFrame(
            [], "u long, v long, weight double")
    diff = pts[:, None, :] - pts[None, :, :]
    if metric == "manhattan":
        dm = np.abs(diff).sum(-1)
    else:
        dm = np.sqrt((diff * diff).sum(-1))
    with np.errstate(divide="ignore"):
        probs = beta * np.exp(-dm / r0)
    probs[dm == np.inf] = 0
    rand = rng.random(dm.shape)
    mask = (rand <= probs) & np.triu(np.ones_like(dm, dtype=bool), 1)
    ii, jj = np.where(mask)
    out = [(int(ids[i]), int(ids[j]), float(dm[i, j])) for i, j in zip(ii, jj)]
    spark = points.sparkSession
    return spark.createDataFrame(out or [(None, None, None)],
                                 "u long, v long, weight double") \
        .where(F.col("u").isNotNull())
