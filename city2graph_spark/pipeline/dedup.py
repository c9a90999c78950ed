"""Deduplication operators for the training-data pipeline: exact,
MinHash+LSH, SimHash, n-gram Jaccard.

DataFrame-API twins of the dual-dialect SQL in ``gate.py`` (the gate proves
engine-equivalence against DuckDB; these are the library surface).  Hashing
is md5-derived so results are deterministic and engine-portable, except for
the MinHash signatures of ``minhash_lsh_pairs``: a fused SplitMix64 kernel.
Its md5 twin ``minhash_lsh_pairs_md5`` runs the same band join over md5
signatures, and is the one the gate SQL certifies.

One banded bucket self-join, :func:`_band_pairs`, serves MinHash, SimHash
and ``simsearch.ann_lsh_candidates`` (SRP-LSH).  It emits each pair once,
from its first shared band, so its pairs are distinct without a
dropDuplicates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _md5int(col):
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def exact_dedup(docs: DataFrame, *, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Hash-groupBy exact dedup: one keeper (min id) per content hash.
    Returns (content_hash, keeper_id, n_copies)."""
    return (docs.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
            .agg(F.min(id_col).alias("keeper_id"),
                 F.count("*").alias("n_copies")))


def shingles(docs: DataFrame, *, n: int = 4, id_col: str = "doc_id",
             text_col: str = "text") -> DataFrame:
    """Distinct character n-gram shingles per doc — JVM-side explode."""
    pos = F.explode(F.sequence(
        F.lit(1), F.greatest(F.length("_t") - (n - 1), F.lit(1))))
    return (docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_t"))
            .withColumn("_pos", pos)
            .select("doc_id", F.expr(f"substr(_t, _pos, {n})").alias("shingle"))
            .dropDuplicates())


def _mh_mix_constants(n_hashes: int) -> list[tuple[int, ...]]:
    """Per-seed mix constants from one SplitMix64 stream — all 5·n values
    distinct and odd (independent hash functions; a shared-constant table
    correlates minima across seeds and inflates band collisions ~1.5× —
    measured on sf0.1)."""
    M = (1 << 64) - 1
    x = 0x243F6A8885A308D3  # pi
    out = []
    for _ in range(n_hashes):
        row = []
        for _ in range(5):
            x = (x + 0x9E3779B97F4A7C15) & M
            z = x
            z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & M
            z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & M
            z ^= z >> 31
            row.append(z | 1)
        out.append(tuple(row))
    return out


_MH_MIX = _mh_mix_constants(8)


def minhash_signatures(docs: DataFrame, *, n_hashes: int = 8,
                       shingle_n: int = 4, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """(doc_id, sig array<long>): all ``n_hashes`` minima per doc in ONE
    fused mapInPandas pass — no shingle explode (the xxhash64 aggregate
    variant still shuffled nothing but paid len(text) JVM rows/doc into the
    hash aggregate; this kernel never materialises shingles at all).

    Per Arrow batch: code points of every doc concatenate into one array,
    4-gram windows become 4 strided uint64 lanes, each of ``n_hashes``
    seeds applies a linear mix + SplitMix64 finalizer (universal hash +
    strong mixer), and per-doc minima come from one
    ``np.minimum.reduceat`` — min over the window multiset equals min over
    the shingle SET, so deduplication is unnecessary.  Output rows = one
    per doc; the downstream band join is unchanged.  The md5 twin
    :func:`minhash_signatures_md5` is the one the gate oracle
    certifies; both feed the same band join."""
    if n_hashes > len(_MH_MIX):
        raise ValueError(f"n_hashes <= {len(_MH_MIX)}")
    n = int(shingle_n)
    mix = _MH_MIX[:n_hashes]

    def batches(it):
        import numpy as np
        import pandas as pd
        mask = np.uint64(0xFFFFFFFFFFFFFFFF)
        c30, c27, c31 = np.uint64(30), np.uint64(27), np.uint64(31)
        f1 = np.uint64(0xBF58476D1CE4E5B9)
        f2 = np.uint64(0x94D049BB133111EB)
        for pdf in it:
            if len(pdf) == 0:
                continue
            texts = pdf[text_col].astype(str).tolist()
            lens = np.array([len(t) for t in texts], dtype=np.int64)
            nwin = np.maximum(lens - (n - 1), 1)
            total = int(nwin.sum())
            buf = "".join(texts)
            cp = np.frombuffer(buf.encode("utf-32-le"), dtype=np.uint32) \
                .astype(np.uint64)
            doc_off = np.concatenate([[0], np.cumsum(lens)[:-1]])
            win_off = np.concatenate([[0], np.cumsum(nwin)[:-1]])
            # start index (into cp) of every window, all docs at once
            starts = np.repeat(doc_off, nwin) \
                + (np.arange(total) - np.repeat(win_off, nwin))
            lanes = []
            cap = len(cp)
            for k in range(n):
                idx = starts + k
                # short docs: window may run past the doc (and, for the
                # last doc, past the buffer) — clamp and zero the overrun,
                # mirroring substr()'s truncated final shingle
                over = idx >= np.repeat(doc_off + lens, nwin)
                lane = cp[np.minimum(idx, cap - 1)]
                lane[over] = 0
                lanes.append(lane)
            sig = np.empty((len(pdf), n_hashes), dtype=np.uint64)
            red = win_off  # reduceat segment starts
            for j, (a, b, c, d, e) in enumerate(mix):
                h = (np.uint64(a) * lanes[0] + np.uint64(b) * lanes[1]
                     + np.uint64(c) * lanes[2 % n] + np.uint64(d) * lanes[3 % n]
                     + np.uint64(e)) & mask
                h ^= h >> c30
                h = (h * f1) & mask
                h ^= h >> c27
                h = (h * f2) & mask
                h ^= h >> c31
                sig[:, j] = np.minimum.reduceat(h, red)
            out = pd.DataFrame({
                id_col: pdf[id_col].to_numpy(),
                "sig": [row.astype(np.int64).tolist() for row in sig]})
            yield out

    # NULL text has no shingles, so no signature (the SQL twin's shingle
    # hash is NULL and never joins); astype(str) would hash it as "None"
    return docs.select(id_col, text_col).where(F.col(text_col).isNotNull()) \
        .mapInPandas(batches, f"{id_col} long, sig array<long>")


def minhash_lsh_pairs(docs: DataFrame, *, n_hashes: int = 8, band_rows: int = 2,
                      shingle_n: int = 4) -> DataFrame:
    """LSH candidate pairs: distinct (doc_a < doc_b) pairs of docs sharing
    any full band of ``band_rows`` minhashes — the :func:`_band_pairs`
    bucket self-join, never all-pairs; each pair comes once, from its first
    shared band."""
    return _band_pairs(
        minhash_signatures(docs, n_hashes=n_hashes, shingle_n=shingle_n),
        "sig", lambda sig, b: F.slice(sig, b * band_rows + 1, band_rows),
        n_hashes // band_rows).select("doc_a", "doc_b")


def _band_pairs(df: DataFrame, key: str, band_key, n_bands: int) -> DataFrame:
    """Banded-bucket self-join of a ``(doc_id, key)`` frame: (doc_a, doc_b,
    _ka, _kb) for every doc_a < doc_b pair whose ``band_key(key, b)``
    agree on some band b in ``range(n_bands)``, each pair ONCE.

    Plan shape: both band sides shuffle on (band, bkey) — the forced
    sort-merge join makes the two exchange subtrees canonically identical,
    so the key's producer (a signature kernel, a hash aggregate) runs ONCE
    and the second side is a ReusedExchange (the planner's broadcast pick
    evaluated that subtree twice, and a broadcast build side can never be
    the right call for a self-join whose sides are by construction the
    same size).  Each pair is emitted exactly once, from its FIRST
    agreeing band — both full keys ride through the join and a codegen
    ``array_position`` filter keeps the band row only when every earlier
    band differs — which replaces an output-sized dropDuplicates
    exchange+aggregate with a filter.  SMJ on the band key also keeps
    AQE's skew-join split available for hot buckets (near-identical
    corpora).  The keys come back as _ka/_kb for a verify step."""
    bands = (df.select("doc_id", key, F.explode(F.array(*[
        F.struct(F.lit(b).alias("band"), band_key(F.col(key), b).alias("bkey"))
        for b in range(n_bands)])).alias("_b"))
        .select("doc_id", key, F.col("_b.band").alias("band"),
                F.col("_b.bkey").alias("bkey")))
    a = bands.select(F.col("doc_id").alias("doc_a"),
                     F.col(key).alias("_ka"), "band", "bkey").hint("merge")
    b = bands.select(F.col("doc_id").alias("doc_b"),
                     F.col(key).alias("_kb"), "band", "bkey")
    first_eq = F.array_position(F.array(*[
        (band_key(F.col("_ka"), bb) == band_key(F.col("_kb"), bb)).cast("int")
        for bb in range(n_bands)]), 1)
    return (a.join(b, ["band", "bkey"])
            .where(F.col("doc_a") < F.col("doc_b"))
            .where(first_eq == F.col("band") + 1)
            .select("doc_a", "doc_b", "_ka", "_kb"))


def minhash_signatures_md5(docs: DataFrame, *, n_hashes: int = 8,
                           shingle_n: int = 4) -> DataFrame:
    """(doc_id, sig array<long>): md5 twin of ``minhash_signatures`` —
    sig[j] = min over the doc's shingles of md5(j_shingle), the engine-
    portable hash of the gate oracle (gate.sql_minhash_lsh)."""
    # NULL text: one NULL shingle, whose SQL-twin hash is NULL and never
    # joins (concat_ws would hash it as md5(j))
    sh = shingles(docs, n=shingle_n).where(F.col("shingle").isNotNull())
    mins = [F.min(_md5int(F.concat_ws("_", F.lit(j), F.col("shingle"))))
            for j in range(n_hashes)]
    return sh.groupBy("doc_id").agg(F.array(*mins).alias("sig"))


def minhash_lsh_pairs_md5(docs: DataFrame, *, n_hashes: int = 8,
                          band_rows: int = 2, shingle_n: int = 4) -> DataFrame:
    """md5 twin of ``minhash_lsh_pairs``: the same band join over
    :func:`minhash_signatures_md5` (row-identical to the gate SQL)."""
    return _band_pairs(
        minhash_signatures_md5(docs, n_hashes=n_hashes, shingle_n=shingle_n),
        "sig", lambda sig, b: F.slice(sig, b * band_rows + 1, band_rows),
        n_hashes // band_rows).select("doc_a", "doc_b")


def simhash(docs: DataFrame, *, bits: int = 16, text_col: str = "text") -> DataFrame:
    """Per-doc SimHash over distinct-token md5 bits."""
    toks = (docs.select("doc_id", F.explode(F.split(F.col(text_col), " "))
                        .alias("tok"))
            .dropDuplicates()
            .withColumn("h", _md5int(F.col("tok"))))
    bidx = F.explode(F.sequence(F.lit(0), F.lit(bits - 1)))
    per_bit = (toks.withColumn("i", bidx)
               .withColumn("_v", F.when(
                   F.expr("shiftright(h, i) & 1") == 1,
                   F.lit(1)).otherwise(F.lit(-1)))
               .groupBy("doc_id", "i").agg(F.sum("_v").alias("s")))
    return (per_bit
            .withColumn("_bit", F.when(F.col("s") > 0,
                                       F.expr("shiftleft(CAST(1 AS BIGINT), i)"))
                        .otherwise(F.lit(0)))
            .groupBy("doc_id").agg(F.sum("_bit").cast("long").alias("simhash")))


def simhash_neardup_pairs(docs: DataFrame, *, bits: int = 16,
                          max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ ``max_hamming`` via
    pigeonhole banding: the hash splits into ``max_hamming+1`` bit bands, and
    any pair within the hamming budget must agree EXACTLY on ≥1 band — so
    candidates come from the :func:`_band_pairs` (band, band_bits) bucket
    self-join, verified by one exact bit_count.  Never an all-pairs join;
    at 100 TB the bucket join shuffles one row per (doc, band)."""
    nb = int(max_hamming) + 1
    w = -(-bits // nb)

    def band_bits(h, b):
        width = min(w, bits - b * w)
        return F.shiftright(h, b * w).bitwiseAND(F.lit((1 << width) - 1))

    cand = _band_pairs(simhash(docs, bits=bits), "simhash", band_bits,
                       min(nb, -(-bits // w)))
    return (cand
            .withColumn("hamming",
                        F.bit_count(F.col("_ka").bitwiseXOR(F.col("_kb"))))
            .where(F.col("hamming") <= max_hamming)
            .select("doc_a", "doc_b", "hamming"))


def ngram_jaccard_pairs(docs: DataFrame, *, n: int = 4,
                        threshold: float = 0.5,
                        max_shingle_df: int | None = 100) -> DataFrame:
    """Near-dup pairs by n-gram Jaccard ≥ threshold (shingle equi-join —
    never a cross join).

    ``max_shingle_df`` is the standard stopword-shingle skew guard: a
    shingle appearing in more than that many documents is dropped from the
    shingle sets entirely (both intersection and union) BEFORE the
    self-join, capping the worst hot-key fan-out at max_shingle_df² rows
    instead of n_docs².  Hot shingles carry no near-dup signal (they match
    everything), so at a corpus scale this is the difference between a
    bounded join and a quadratic one.  The default (100, matching the gate
    dialects) is the safe production posture; pass None for the exact
    uncapped join on small corpora."""
    sh = shingles(docs, n=n)
    if max_shingle_df is not None:
        rare = (sh.groupBy("shingle").agg(F.count("*").alias("_df"))
                .where(F.col("_df") <= int(max_shingle_df))
                .select("shingle"))
        sh = sh.join(rare, "shingle", "left_semi")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    inter = (sh.alias("a").join(sh.alias("b"),
                                (F.col("a.shingle") == F.col("b.shingle"))
                                & (F.col("a.doc_id") < F.col("b.doc_id")))
             .groupBy(F.col("a.doc_id").alias("doc_a"),
                      F.col("b.doc_id").alias("doc_b"))
             .agg(F.count("*").alias("ic")))
    out = (inter
           .join(sizes.select(F.col("doc_id").alias("doc_a"),
                              F.col("sz").alias("sa")), "doc_a")
           .join(sizes.select(F.col("doc_id").alias("doc_b"),
                              F.col("sz").alias("sb")), "doc_b")
           .withColumn("jaccard", F.col("ic")
                       / (F.col("sa") + F.col("sb") - F.col("ic"))))
    return out.where(F.col("jaccard") >= threshold) \
              .select("doc_a", "doc_b", "jaccard")
