"""Similarity search over embedding columns.

Brute-force cosine top-k as the exact baseline (block matmul of Arrow
batches against a broadcast build matrix — the distributed pattern for
"small build side, huge probe side"), plus an LSH-bucketed approximate
variant for the scale path (build side too big to broadcast ⇒ bucket join).

Both return rank-only rows (qid, nid, rnk): float similarity stays internal
so results are hash-comparable across engines.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import _band_pairs


def _collect_matrix(df: DataFrame, id_col: str, vec_col: str):
    rows = df.select(id_col, vec_col).collect()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    order = np.argsort(ids, kind="stable")
    return ids[order], mat[order]


def _ids_vecs(pdf, id_col: str, vec_col: str):
    return (pdf[id_col].to_numpy().astype(np.int64),
            np.array(list(pdf[vec_col]), dtype=np.float64))


def _norms(mat: np.ndarray) -> np.ndarray:
    """Row L2 norms, with 1.0 for zero rows (their similarities are 0)."""
    n = np.sqrt((mat * mat).sum(axis=1))
    n[n == 0.0] = 1.0
    return n


def _cosine_block(qid: np.ndarray, Q: np.ndarray, bid: np.ndarray,
                  B: np.ndarray, bnorm: np.ndarray) -> np.ndarray:
    """Cosine similarity matrix of probe rows ``Q`` against build rows ``B``
    (one float64 GEMM); a probe against its own id is -inf."""
    sims = (Q @ B.T) / (_norms(Q)[:, None] * bnorm[None, :])
    sims[qid[:, None] == bid[None, :]] = -np.inf  # exclude self
    return sims


def _topk_rows(sims: np.ndarray, bid: np.ndarray, kk: int
               ) -> tuple[np.ndarray, np.ndarray]:
    """Per-row exact top-``kk`` under the documented (sim desc, nid asc)
    contract: argpartition with a +8 tie slack for the common case, and a
    full lexicographic re-sort for any row whose tie group at the k-th
    similarity extends past the slack (>8 build vectors exactly tied —
    realistic with duplicated embeddings in dedup corpora).  Returns
    (ids, sims) of shape (n_rows, kk)."""
    ncol = sims.shape[1]
    m = min(kk + 8, ncol)
    part = np.argpartition(-sims, m - 1, axis=1)[:, :m]
    sel_s = np.take_along_axis(sims, part, axis=1)
    sel_i = bid[part]
    o1 = np.argsort(sel_i, axis=1, kind="stable")
    sel_s = np.take_along_axis(sel_s, o1, axis=1)
    sel_i = np.take_along_axis(sel_i, o1, axis=1)
    o2 = np.argsort(-sel_s, axis=1, kind="stable")
    sel_s = np.take_along_axis(sel_s, o2, axis=1)
    sel_i = np.take_along_axis(sel_i, o2, axis=1)
    if m < ncol:
        # tie group at the cut still full at the slack boundary ⇒ smaller
        # nids tied at the k-th value may sit outside the partition — redo
        # those rows exactly (rare: >8-way exact ties)
        bad = np.where(sel_s[:, m - 1] >= sel_s[:, kk - 1])[0]
        for r in bad:
            row = sims[r]
            full = np.lexsort((bid, -row))[:kk]
            sel_i[r, :kk] = bid[full]
            sel_s[r, :kk] = row[full]
    return sel_i[:, :kk], sel_s[:, :kk]


def cosine_topk(probe: DataFrame, k: int, *, build: DataFrame | None = None,
                id_col: str = "vec_id", vec_col: str = "embedding",
                rows_per_chunk: int = 50_000) -> DataFrame:
    """Exact cosine top-k of every probe vector against the build set
    (default: self-join, self excluded) — fully distributed block-nested
    GEMM: both sides are hash-chunked, every (probe-chunk × build-chunk)
    block meets in one cogroup task that runs a float64 GEMM and keeps its
    local top-k, and a per-probe window merges block candidates into the
    final ranks.  Nothing is ever collected to the driver; per-task memory
    is bounded by ``rows_per_chunk`` on each side regardless of total size.

    Shuffle volume is C·|probe| + P·|build| (C,P = chunk counts) — the
    exact-search lower bound for a block matmul; for sublinear candidate
    generation at scale use ``ann_lsh_candidates`` + ``cosine_rerank``.

    Ranking ties break by neighbor id ascending.  Returns (qid, nid, rnk).
    Reference parity: city2graph has no embedding search — this is a
    pipeline-extension operator (brief §extensions).

    When the whole build side fits in one chunk (``n_build ≤
    rows_per_chunk``) the cogroup would shuffle both sides into a handful
    of tasks (one, when the probe side is also a single chunk) — so that
    regime instead broadcasts the build matrix and streams probes through
    ``mapInPandas``: zero shuffles, parallelism = probe partitions, same
    kernel (:func:`_topk_rows`) ⇒ identical rows.  Past the chunk bound the
    block-nested cogroup below is the scale path.
    """
    build = build if build is not None else probe
    n_build = build.count()
    n_probe = n_build if build is probe else probe.count()
    C = max(1, -(-n_build // rows_per_chunk))   # build chunks
    P = max(1, -(-n_probe // rows_per_chunk))   # probe chunks
    kk_cap = int(k)

    if C == 1:
        spark = probe.sparkSession
        if n_build == 0:
            return spark.createDataFrame([], "qid long, nid long, rnk long")
        bids, bmat = _collect_matrix(build, id_col, vec_col)
        bc = spark.sparkContext.broadcast((bids, bmat, _norms(bmat)))

        def topk_batches(it):
            import pandas as pd
            ids_b, mat_b, norm_b = bc.value
            kk = min(kk_cap, len(ids_b))
            for pdf in it:
                if len(pdf) == 0:
                    continue
                qid, Q = _ids_vecs(pdf, id_col, vec_col)
                sims = _cosine_block(qid, Q, ids_b, mat_b, norm_b)
                sel_i, sel_s = _topk_rows(sims, ids_b, kk)
                keep = np.isfinite(sel_s)
                rnk = np.broadcast_to(np.arange(1, kk + 1), sel_i.shape)
                qq = np.repeat(qid, kk).reshape(-1, kk)
                yield pd.DataFrame({"qid": qq[keep], "nid": sel_i[keep],
                                    "rnk": rnk[keep].astype(np.int64)})

        return probe.select(id_col, vec_col).mapInPandas(
            topk_batches, "qid long, nid long, rnk long")

    bt = (build.select(F.col(id_col).alias("bid"), F.col(vec_col).alias("bvec"))
          .withColumn("bchunk", F.pmod(F.xxhash64("bid"), F.lit(C)))
          .withColumn("pchunk", F.explode(F.sequence(F.lit(0), F.lit(P - 1)))))
    pt = (probe.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qvec"))
          .withColumn("pchunk", F.pmod(F.xxhash64("qid"), F.lit(P)))
          .withColumn("bchunk", F.explode(F.sequence(F.lit(0), F.lit(C - 1)))))

    def block_topk(ppdf, bpdf):
        import pandas as pd
        if len(ppdf) == 0 or len(bpdf) == 0:
            return pd.DataFrame({"qid": [], "nid": [], "sim": []}).astype(
                {"qid": "int64", "nid": "int64", "sim": "float64"})
        qid, Q = _ids_vecs(ppdf, "qid", "qvec")
        bid, B = _ids_vecs(bpdf, "bid", "bvec")
        sims = _cosine_block(qid, Q, bid, B, _norms(B))
        kk = min(kk_cap, sims.shape[1])
        sel_i, sel_s = _topk_rows(sims, bid, kk)
        keep = np.isfinite(sel_s)
        qq = np.repeat(qid, sel_s.shape[1]).reshape(sel_s.shape)
        return pd.DataFrame({"qid": qq[keep], "nid": sel_i[keep],
                             "sim": sel_s[keep]})

    from pyspark.sql import Window
    cand = (pt.groupBy("pchunk", "bchunk")
            .cogroup(bt.groupBy("pchunk", "bchunk"))
            .applyInPandas(block_topk, "qid long, nid long, sim double"))
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("nid"))
    return (cand.withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= kk_cap)
            .select("qid", "nid", F.col("rnk").cast("long")))


def embedding_neardup_pairs(df: DataFrame, threshold: float, *,
                            method: str = "exact",
                            id_col: str = "vec_id",
                            vec_col: str = "embedding",
                            rows_per_chunk: int = 50_000,
                            n_planes: int = 12, n_bands: int = 4,
                            seed: int = 42) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (the brief's dedup family):
    canonical (doc_a < doc_b) pairs with cosine similarity ≥ ``threshold``.

    ``method="exact"``: the same hash-chunked block-nested GEMM as
    :func:`cosine_topk`, emitting every above-threshold pair — each
    unordered pair meets in exactly one (probe-chunk, build-chunk) block
    and only the ``qid < bid`` orientation survives, so no dedup shuffle is
    needed; output volume is the matches themselves.  This is the
    gate-oracle path (DuckDB brute force agrees row-for-row).

    ``method="lsh"``: ``ann_lsh_candidates`` bucket equi-join + exact JVM
    rerank + threshold — the sublinear 100 TB path (recall < 1, tunable
    via n_planes/n_bands like every LSH near-dup)."""
    t = float(threshold)
    if method == "lsh":
        cand = ann_lsh_candidates(df, n_planes=n_planes, n_bands=n_bands,
                                  seed=seed, id_col=id_col, vec_col=vec_col)
        sims = cosine_rerank(cand, df, id_col=id_col, vec_col=vec_col)
        return (sims.where(F.col("sim") >= F.lit(t))
                .select(F.least("id_a", "id_b").alias("doc_a"),
                        F.greatest("id_a", "id_b").alias("doc_b")))
    if method != "exact":
        raise ValueError(f"unknown method {method!r}; 'exact' or 'lsh'")
    n = df.count()
    C = max(1, -(-n // rows_per_chunk))

    bt = (df.select(F.col(id_col).alias("bid"), F.col(vec_col).alias("bvec"))
          .withColumn("bchunk", F.pmod(F.xxhash64("bid"), F.lit(C)))
          .withColumn("pchunk", F.explode(F.sequence(F.lit(0), F.lit(C - 1)))))
    pt = (df.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qvec"))
          .withColumn("pchunk", F.pmod(F.xxhash64("qid"), F.lit(C)))
          .withColumn("bchunk", F.explode(F.sequence(F.lit(0), F.lit(C - 1)))))

    def block_pairs(ppdf, bpdf):
        import pandas as pd
        if len(ppdf) == 0 or len(bpdf) == 0:
            return pd.DataFrame({"doc_a": [], "doc_b": []}).astype(
                {"doc_a": "int64", "doc_b": "int64"})
        qid, Q = _ids_vecs(ppdf, "qid", "qvec")
        bid, B = _ids_vecs(bpdf, "bid", "bvec")
        sims = _cosine_block(qid, Q, bid, B, _norms(B))
        hit = (sims >= t) & (qid[:, None] < bid[None, :])
        qi, bi = np.nonzero(hit)
        return pd.DataFrame({"doc_a": qid[qi], "doc_b": bid[bi]})

    return (pt.groupBy("pchunk", "bchunk")
            .cogroup(bt.groupBy("pchunk", "bchunk"))
            .applyInPandas(block_pairs, "doc_a long, doc_b long"))


def ann_lsh_candidates(df: DataFrame, *, n_planes: int = 12, n_bands: int = 4,
                       seed: int = 42,
                       id_col: str = "vec_id", vec_col: str = "embedding",
                       dim: int | None = None) -> DataFrame:
    """Approximate-NN candidate pairs via OR-amplified sign-random-projection
    LSH: ``n_bands`` independent ``n_planes``-bit signatures; vectors sharing
    ANY band's full signature become a candidate pair (the
    ``dedup._band_pairs`` bucket self-join — never all-pairs).
    OR-amplification is what keeps recall high for moderately-similar
    vectors; a single band falls off a cliff (round-1 finding).
    Hyperplanes are seeded and deterministic.

    The kernel emits one (doc_id, sig array<long>) row per vector, one long
    per band.  Returns distinct (id_a, id_b) with id_a < id_b — each pair
    once, from its first shared band — verify with ``cosine_rerank`` /
    ``ann_topk``.
    """
    if dim is None:
        head = df.select(vec_col).head()
        dim = len(head[0]) if head else 1
    rng = np.random.RandomState(seed)
    planes = rng.standard_normal((n_bands, n_planes, dim))
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(planes)

    def signatures(it):
        import pandas as pd
        pl = bc.value
        nb, npl, _ = pl.shape
        for pdf in it:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy().astype(np.int64)
            M = np.array(list(pdf[vec_col]), dtype=np.float64)
            sig = np.zeros((len(ids), nb), dtype=np.int64)
            for b in range(nb):
                bits = (M @ pl[b].T) > 0.0
                for p in range(npl):
                    sig[:, b] |= bits[:, p].astype(np.int64) << p
            yield pd.DataFrame({"doc_id": ids, "sig": list(sig)})

    sigs = df.mapInPandas(signatures, "doc_id long, sig array<long>")
    return (_band_pairs(sigs, "sig", lambda sig, b: F.element_at(sig, b + 1),
                        n_bands)
            .select(F.col("doc_a").alias("id_a"), F.col("doc_b").alias("id_b")))


def cosine_rerank(pairs: DataFrame, emb: DataFrame, *,
                  id_col: str = "vec_id", vec_col: str = "embedding",
                  a_col: str = "id_a", b_col: str = "id_b") -> DataFrame:
    """Exact cosine similarity for candidate pairs — entirely JVM-side:
    two equi-joins to attach the vectors, then zip_with+aggregate dot
    products inside whole-stage codegen (no Python worker in the path).

    Returns (id_a, id_b, sim)."""
    vd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    nrm = emb.select(F.col(id_col).alias("_id"), vd.alias("_v")) \
        .withColumn("_n", F.sqrt(F.aggregate(
            F.zip_with("_v", "_v", lambda x, y: x * y),
            F.lit(0.0), lambda acc, x: acc + x)))
    va = nrm.select(F.col("_id").alias(a_col), F.col("_v").alias("_va"),
                    F.col("_n").alias("_na"))
    vb = nrm.select(F.col("_id").alias(b_col), F.col("_v").alias("_vb"),
                    F.col("_n").alias("_nb"))
    dot = F.aggregate(F.zip_with("_va", "_vb", lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    return (pairs.join(va, a_col).join(vb, b_col)
            .select(a_col, b_col,
                    (dot / (F.greatest(F.col("_na"), F.lit(1e-300))
                            * F.greatest(F.col("_nb"), F.lit(1e-300))))
                    .alias("sim")))


def ivf_centroids(df: DataFrame, *, n_centroids: int = 64, iters: int = 5,
                  seed: int = 42, id_col: str = "vec_id",
                  vec_col: str = "embedding") -> np.ndarray:
    """Distributed spherical k-means for the IVF coarse quantizer:
    deterministic init (the n_centroids smallest xxhash64(id) vectors),
    then ``iters`` rounds of broadcast-centroid assignment (one Arrow GEMM
    pass per batch) + groupBy mean.  Only the (n_centroids × dim) matrix
    ever reaches the driver."""
    init = (df.select(id_col, vec_col)
            .withColumn("_h", F.xxhash64(id_col))
            .orderBy("_h").limit(int(n_centroids)).collect())
    C = np.array([list(r[vec_col]) for r in init], dtype=np.float64)
    C /= np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
    spark = df.sparkSession
    for _ in range(int(iters)):
        bc = spark.sparkContext.broadcast(C)

        def assign(it):
            import pandas as pd
            Cb = bc.value
            for pdf in it:
                if len(pdf) == 0:
                    continue
                M = np.array(list(pdf[vec_col]), dtype=np.float64)
                Mn = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True),
                                    1e-12)
                b = np.argmax(Mn @ Cb.T, axis=1)
                out = pd.DataFrame(Mn, columns=[f"d{i}" for i in
                                                range(Mn.shape[1])])
                out.insert(0, "bucket", b.astype(np.int64))
                yield out

        dim = C.shape[1]
        schema = "bucket long, " + ", ".join(f"d{i} double"
                                             for i in range(dim))
        sums = (df.select(vec_col).mapInPandas(assign, schema)
                .groupBy("bucket")
                .agg(F.count("*").alias("_n"),
                     *[F.sum(f"d{i}").alias(f"d{i}") for i in range(dim)])
                .collect())
        C2 = C.copy()
        for r in sums:
            b = int(r["bucket"])
            v = np.array([r[f"d{i}"] for i in range(dim)]) / max(r["_n"], 1)
            n = np.linalg.norm(v)
            if n > 1e-12:
                C2[b] = v / n
        C = C2
    return C


def ivf_topk(df: DataFrame, k: int, *, n_centroids: int = 64,
             n_probe: int = 4, iters: int = 5, seed: int = 42,
             id_col: str = "vec_id", vec_col: str = "embedding",
             centroids: np.ndarray | None = None) -> DataFrame:
    """IVF approximate cosine top-k (the brief's IVF scale path): vectors
    shard into their nearest-centroid bucket; each probe searches only its
    ``n_probe`` nearest buckets — a bucket equi-join, never all-pairs —
    then the exact JVM rerank + per-probe window pick the top k.

    Recall is tunable via (n_centroids, n_probe); n_probe = n_centroids
    degenerates to exact search.  Returns (qid, nid, rnk)."""
    from pyspark.sql import Window
    C = centroids if centroids is not None else \
        ivf_centroids(df, n_centroids=n_centroids, iters=iters, seed=seed,
                      id_col=id_col, vec_col=vec_col)
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(C)
    npb = int(n_probe)

    def assign(it):
        import pandas as pd
        Cb = bc.value
        for pdf in it:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy(np.int64)
            M = np.array(list(pdf[vec_col]), dtype=np.float64)
            Mn = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True),
                                1e-12)
            sims = Mn @ Cb.T
            own = np.argmax(sims, axis=1)
            m = min(npb, sims.shape[1])
            probes = np.argpartition(-sims, m - 1, axis=1)[:, :m]
            yield pd.DataFrame({
                "vid": np.repeat(ids, m),
                "own": np.repeat(own, m).astype(np.int64),
                "probe": probes.reshape(-1).astype(np.int64)})

    am = df.mapInPandas(assign, "vid long, own long, probe long").persist()
    members = am.select(F.col("vid").alias("nid"),
                        F.col("own").alias("bucket")).dropDuplicates()
    probes = am.select(F.col("vid").alias("qid"),
                       F.col("probe").alias("bucket")).dropDuplicates()
    cand = (probes.join(members, "bucket")
            .where(F.col("qid") != F.col("nid"))
            .select("qid", "nid").dropDuplicates())
    sims = cosine_rerank(cand, df, id_col=id_col, vec_col=vec_col,
                         a_col="qid", b_col="nid")
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("nid"))
    return (sims.withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= int(k))
            .select("qid", "nid", F.col("rnk").cast("long")))


def ann_topk(df: DataFrame, k: int, *, n_planes: int = 8, n_bands: int = 6,
             seed: int = 42, id_col: str = "vec_id",
             vec_col: str = "embedding") -> DataFrame:
    """Approximate cosine top-k: OR-amplified LSH candidates → JVM cosine
    rerank → per-probe window top-k.  The sublinear scale path when even
    the block-nested ``cosine_topk`` shuffle is too big; recall is tunable
    via (n_planes, n_bands).  Returns (qid, nid, rnk)."""
    from pyspark.sql import Window
    cand = ann_lsh_candidates(df, n_planes=n_planes, n_bands=n_bands,
                              seed=seed, id_col=id_col, vec_col=vec_col)
    sims = cosine_rerank(cand, df, id_col=id_col, vec_col=vec_col)
    both = sims.select(F.col("id_a").alias("qid"), F.col("id_b").alias("nid"),
                       "sim") \
        .unionByName(sims.select(F.col("id_b").alias("qid"),
                                 F.col("id_a").alias("nid"), "sim"))
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("nid"))
    return (both.withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= int(k))
            .select("qid", "nid", F.col("rnk").cast("long")))
