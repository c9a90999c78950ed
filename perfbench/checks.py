"""Output checks.  Each check takes the collected output (a ``pyarrow.Table``)
and returns ``None`` when it is correct, else a one-line reason.

- kNN: the full edge set against an exact numpy oracle (grid search with a
  brute-force fallback, ties broken by (distance, dst)).
- Gabriel: the full edge set against an exact empty-disc oracle over every
  pair within ``r_cand``, and every weight against its endpoints.
- Everything else: row count and an order-insensitive hash against a
  reference (pinned values, or the DuckDB oracle).
"""

from __future__ import annotations

import zlib

import numpy as np


def _mix(h: np.ndarray) -> np.ndarray:
    """SplitMix64 finaliser, vectorised over uint64."""
    with np.errstate(over="ignore"):
        h = h ^ (h >> np.uint64(30))
        h = h * np.uint64(0xBF58476D1CE4E5B9)
        h = h ^ (h >> np.uint64(27))
        h = h * np.uint64(0x94D049BB133111EB)
        return h ^ (h >> np.uint64(31))


def _as_int64(col) -> np.ndarray:
    """int column → int64; float column → round(x·1e6); string → crc32.
    Rounding, not flooring: a ratio such as 0.6 that lands one ulp below a
    1e-6 grid point must hash the same as one that lands on it."""
    arr = col.to_numpy(zero_copy_only=False)
    if arr.dtype.kind in "iu":
        return arr.astype(np.int64)
    if arr.dtype.kind == "f":
        return np.rint(arr * 1e6).astype(np.int64)
    codes = {s: zlib.crc32(str(s).encode()) for s in set(arr.tolist())}
    return np.array([codes[s] for s in arr.tolist()], dtype=np.int64)


def table_hash(table, columns: list[str]) -> tuple[int, str]:
    """(row count, order-insensitive hash) over ``columns`` of an Arrow
    table: rows hash independently and the hashes add modulo 2⁶⁴."""
    h = np.zeros(table.num_rows, dtype=np.uint64)
    with np.errstate(over="ignore"):
        for i, c in enumerate(columns):
            v = _as_int64(table.column(c)).view(np.uint64)
            h = _mix(h + v + np.uint64(0x9E3779B97F4A7C15) * np.uint64(i + 1))
        total = int(h.sum(dtype=np.uint64)) if len(h) else 0
    return table.num_rows, f"{total:016x}"


def _once(fn):
    """Call ``fn`` on first use only.  Each check exposes its oracle as
    ``check.prepare`` so the run can build it after the timed set-up and
    before the timed passes."""
    memo = []

    def get():
        if not memo:
            memo.append(fn())
        return memo[0]
    return get


def hash_check(expected, columns: list[str]):
    """``expected``: (rows, hash), or a zero-argument callable giving it."""
    want = _once(expected if callable(expected) else lambda: expected)

    def check(table):
        got = table_hash(table, columns)
        if got != tuple(want()):
            return f"rows/hash {got} != expected {tuple(want())}"
        return None
    check.prepare = want
    return check


# --------------------------------------------------------------------------
# proximity oracles
# --------------------------------------------------------------------------

def _canonical(table, a: str, b: str) -> tuple[np.ndarray, np.ndarray, str | None]:
    u = table.column(a).to_numpy().astype(np.int64)
    v = table.column(b).to_numpy().astype(np.int64)
    if np.any(u == v):
        return u, v, "self-loop in output"
    lo, hi = np.minimum(u, v), np.maximum(u, v)
    key = np.unique(lo * (1 << 32) + hi)
    if len(key) != len(lo):
        return lo, hi, f"{len(lo) - len(key)} duplicate edges in output"
    return lo, hi, None


def knn_oracle(xy: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    """Exact undirected kNN edge set over node ids 0..n-1: (sorted keys
    lo·2³²+hi, weight per key).  Grid search over the 3×3 cell block around
    each probe, certified by the block margin; probes that fail the
    certificate fall back to brute force."""
    n = len(xy)
    cell = max(float(np.sqrt(25e6 * 4 * k / n)), 1e-6)
    ci = np.floor(xy / cell).astype(np.int64)
    nc = int(ci.max()) + 3
    key = (ci[:, 0] + 1) * nc + (ci[:, 1] + 1)
    order = np.argsort(key, kind="stable")
    skey = key[order]
    ucells, starts = np.unique(skey, return_index=True)
    ends = np.append(starts[1:], len(skey))
    nbr = np.empty((n, k), dtype=np.int64)
    dist = np.empty((n, k))
    pending = []
    ring = [dx * nc + dy for dx in (-1, 0, 1) for dy in (-1, 0, 1)]
    for c, s, e in zip(ucells, starts, ends):
        probes = order[s:e]
        lo = np.searchsorted(skey, [c + o for o in ring], "left")
        hi = np.searchsorted(skey, [c + o for o in ring], "right")
        cand = np.concatenate([order[a:b] for a, b in zip(lo, hi)])
        if len(cand) <= k:
            pending.extend(probes.tolist())
            continue
        for b in range(0, len(probes), 256):       # bounded memory
            pb = probes[b:b + 256]
            sel, d = _topk(xy, pb, cand, k)
            # margin from the probe to the outside of its 3×3 block
            cx, cy = ci[pb, 0], ci[pb, 1]
            m = np.minimum.reduce([xy[pb, 0] - (cx - 1) * cell,
                                   (cx + 2) * cell - xy[pb, 0],
                                   xy[pb, 1] - (cy - 1) * cell,
                                   (cy + 2) * cell - xy[pb, 1]])
            ok = d[:, -1] < m
            nbr[pb[ok]], dist[pb[ok]] = sel[ok], d[ok]
            pending.extend(pb[~ok].tolist())
    allidx = np.arange(n)
    for p in pending:
        sel, d = _topk(xy, np.array([p]), allidx, k)
        nbr[p], dist[p] = sel[0], d[0]
    src = np.repeat(np.arange(n), k)
    dst = nbr.ravel()
    lo, hi = np.minimum(src, dst), np.maximum(src, dst)
    keys, first = np.unique(lo * (1 << 32) + hi, return_index=True)
    return keys, dist.ravel()[first]


def _topk(xy, probes, cand, k):
    """k nearest of ``cand`` per probe (self excluded), ties by id."""
    dx = xy[probes, 0][:, None] - xy[cand, 0][None, :]
    dy = xy[probes, 1][:, None] - xy[cand, 1][None, :]
    d = np.sqrt(dx * dx + dy * dy)
    d[probes[:, None] == cand[None, :]] = np.inf
    # sort by (distance, id): cand ids ascending first, then stable by d
    co = np.argsort(cand, kind="stable")
    d, cs = d[:, co], cand[co]
    idx = np.argsort(d, axis=1, kind="stable")[:, :k]
    return cs[idx], np.take_along_axis(d, idx, axis=1)


def knn_check(xy: np.ndarray, k: int):
    oracle = _once(lambda: knn_oracle(xy, k))

    def check(table):
        lo, hi, err = _canonical(table, "src", "dst")
        if err:
            return err
        keys, weights = oracle()
        got = lo * (1 << 32) + hi
        order = np.argsort(got)
        if len(got) != len(keys) or not np.array_equal(got[order], keys):
            return (f"kNN edge set differs: {len(got)} edges, oracle "
                    f"{len(keys)}, {len(np.setdiff1d(keys, got))} missing")
        w = table.column("weight").to_numpy()[order]
        if not np.allclose(w, weights, rtol=1e-9, atol=1e-9):
            return "kNN weights differ from the oracle"
        return None
    check.prepare = oracle
    return check


def gabriel_oracle(xy: np.ndarray, r_cand: float,
                   prefilter: int = 16) -> tuple[np.ndarray, np.ndarray]:
    """Every Gabriel edge of length ≤ ``r_cand``, by the definition: (u,v)
    survives iff no w has (u−w)·(v−w) < 0.  Returns (sorted keys lo·2³²+hi,
    length per key).  A witness of (u,v) lies strictly nearer to u than v
    does, so the r_cand ball around u (a 3×3 block of r_cand cells) holds
    every witness, and candidate v_j sorted by distance needs only the
    witnesses w_0..w_j.  The ``prefilter`` nearest witnesses reject most
    candidates first."""
    ci = np.floor(xy / r_cand).astype(np.int64)
    nc = int(ci.max()) + 3
    key = (ci[:, 0] + 1) * nc + (ci[:, 1] + 1)
    order = np.argsort(key, kind="stable")
    skey = key[order]
    ring = np.array([dx * nc + dy for dx in (-1, 0, 1) for dy in (-1, 0, 1)])
    lo_k, hi_k, length = [], [], []
    for c in np.unique(skey):
        a = np.searchsorted(skey, c + ring, "left")
        b = np.searchsorted(skey, c + ring, "right")
        block = np.concatenate([order[i:j] for i, j in zip(a, b)])
        for u in order[np.searchsorted(skey, c):np.searchsorted(skey, c, "right")]:
            d = np.sqrt(((xy[block] - xy[u]) ** 2).sum(1))
            near = block[(d <= r_cand) & (block != u)]
            dn = np.sqrt(((xy[near] - xy[u]) ** 2).sum(1))
            srt = np.argsort(dn, kind="stable")
            near, dn = near[srt], dn[srt]
            cand = np.flatnonzero(near > u)         # each edge once, from lo
            if not len(cand):
                continue
            a_w = xy[u] - xy[near]                  # u − w, per witness
            V = xy[near[cand]]

            def witnessed(cj, w):
                # dots[j, i] = (u − w_i)·(v_j − w_i), self pairs excluded
                dots = (a_w[None, w, 0] * (V[cj, None, 0] - xy[near[w]][None, :, 0])
                        + a_w[None, w, 1] * (V[cj, None, 1] - xy[near[w]][None, :, 1]))
                dots[cand[cj][:, None] == w[None, :]] = 0.0
                return (dots < 0.0).any(axis=1)

            first = np.arange(min(prefilter, len(near)))
            alive = np.flatnonzero(~witnessed(np.arange(len(cand)), first))
            keep = [j for j in alive.tolist() if cand[j] < len(first)
                    or not witnessed(np.array([j]), np.arange(cand[j]))[0]]
            v = near[cand[keep]]
            lo_k.append(np.full(len(v), u, dtype=np.int64))
            hi_k.append(v.astype(np.int64))
            length.append(dn[cand[keep]])
    if not lo_k:
        return np.zeros(0, np.int64), np.zeros(0)
    keys = np.concatenate(lo_k) * (1 << 32) + np.concatenate(hi_k)
    srt = np.argsort(keys)
    return keys[srt], np.concatenate(length)[srt]


def gabriel_check(xy: np.ndarray, r_cand: float):
    oracle = _once(lambda: gabriel_oracle(xy, r_cand))

    def check(table):
        lo, hi, err = _canonical(table, "u", "v")
        if err:
            return err
        keys, lengths = oracle()
        got = lo * (1 << 32) + hi
        order = np.argsort(got)
        if len(got) != len(keys) or not np.array_equal(got[order], keys):
            return (f"Gabriel edge set differs: {len(got)} edges, oracle "
                    f"{len(keys)}, {len(np.setdiff1d(keys, got))} missing, "
                    f"{len(np.setdiff1d(got, keys))} extra")
        w = table.column("weight").to_numpy()[order]
        if not np.allclose(w, lengths, rtol=1e-9, atol=1e-9):
            return "Gabriel weights differ from endpoint distances"
        return None
    check.prepare = oracle
    return check
