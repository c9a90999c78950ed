"""Workload inputs and the operator calls one timed pass makes.

Inputs are generated with numpy from the run's seed and written as parquet
into the run's work directory; every call reads them back, so the scan is
part of the call.  ``build`` returns a ``Workload``: its ordered calls,
each with the output check that judges it."""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from checks import gabriel_check, hash_check, knn_check, table_hash

DOMAIN = 5000.0
KNN_K = 5
N_POINTS = 5_000
N_DOCS = 300
N_EMB = 300
MORPH_DOCS = 50          # smallest strip fixture the gate query accepts
TESS_DOCS = 50           # same fixture as morphology_dag
CORPUS_SEED = 20261016   # fixed: the seed only permutes document row order

# Documents outputs pinned from the commit that introduced this benchmark:
# (rows, order-insensitive hash) per call.
DOC_PINS = {"dedup.minhash_lsh_pairs": (9846, "a93dc53464846a3c"),
            "dedup.simhash_neardup_pairs": (19955, "5c3e8c2a8b8cf3c4"),
            "dedup.ngram_jaccard_pairs": (26, "baaf1d5aface785a"),
            "simsearch.cosine_topk": (900, "5308501e695f1ad8")}


@dataclass
class Call:
    name: str                                  # "<module>.<operator>"
    run: Callable                              # spark -> DataFrame (lazy)
    check: Callable                            # pyarrow.Table -> str | None


@dataclass
class Workload:
    name: str
    calls: list[Call]
    info: dict


def _write(df: pd.DataFrame, path: str, files: int) -> None:
    """Write ``df`` as ``files`` parquet files so the scan is parallel."""
    os.makedirs(path, exist_ok=True)
    for i, part in enumerate(np.array_split(np.arange(len(df)), files)):
        pq.write_table(pa.Table.from_pandas(df.iloc[part], preserve_index=False),
                       f"{path}/part-{i:03d}.parquet")


# --------------------------------------------------------------------------
# proximity
# --------------------------------------------------------------------------

# urban cores: fixed, well apart and 1 km inside the domain, so the seed
# changes the points but not how much work the skew makes
CORES_XY = np.array([[1250.0, 1250.0], [3750.0, 1750.0], [2250.0, 3750.0]])


def points(seed: int, n: int, urban: bool) -> np.ndarray:
    """n points in [0, DOMAIN)²: uniform, or with 30% of them in three
    Gaussian cores (σ = 150 m) around ``CORES_XY``."""
    rng = np.random.default_rng(seed)
    xy = rng.uniform(0.0, DOMAIN, (n, 2))
    if urban:
        m = int(0.3 * n)
        xy[:m] = CORES_XY[np.arange(m) % 3] + rng.normal(0.0, 150.0, (m, 2))
    return xy


def proximity(name: str, seed: int, workdir: str, files: int) -> Workload:
    from city2graph_spark.operators.proximity import (
        estimate_knn_cell, gabriel_graph, knn_graph)
    n = N_POINTS
    xy = points(seed, n, urban=name == "proximity_urban")
    path = f"{workdir}/points"
    _write(pd.DataFrame({"node_id": np.arange(n, dtype=np.int64),
                         "x": xy[:, 0], "y": xy[:, 1]}), path, files)
    cell = estimate_knn_cell(n, KNN_K)
    r_cand = 6.0 * DOMAIN / n ** 0.5
    calls = [
        Call("proximity.knn_graph",
             lambda spark: knn_graph(spark.read.parquet(path), KNN_K,
                                     cell_size=cell),
             knn_check(xy, KNN_K)),
        Call("proximity.gabriel_graph",
             lambda spark: gabriel_graph(spark.read.parquet(path),
                                         r_cand=r_cand),
             gabriel_check(xy, r_cand)),
    ]
    return Workload(name, calls, {"points": n, "r_cand": r_cand,
                                  "knn_cell": cell})


# --------------------------------------------------------------------------
# documents
# --------------------------------------------------------------------------

_VOCAB = ("the a fast slow key value order sort table scan merge part window "
          "small big hash join batch stream spark dup agg row line column "
          "filter group query data").split()
_LANGS = ["en", "fr", "es", "zh", "de"]


def corpus(n_docs: int, n_emb: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Fixed synthetic corpus shaped like the repo's ``documents`` and
    ``embeddings`` test tables: texts of 8–95 words from a 30-word
    vocabulary, a tenth of them near-copies (1–3 words replaced) of an
    earlier text; 64-dim embeddings around 10 class centres."""
    rng = np.random.default_rng(CORPUS_SEED)
    texts = []
    for i in range(n_docs):
        if i >= 10 and rng.random() < 0.1:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 4))):
                words[int(rng.integers(0, len(words)))] = \
                    _VOCAB[int(rng.integers(0, len(_VOCAB)))]
        else:
            words = [_VOCAB[j] for j in
                     rng.integers(0, len(_VOCAB), int(rng.integers(8, 96)))]
        texts.append(" ".join(words))
    docs = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": [_LANGS[j] for j in rng.integers(0, len(_LANGS), n_docs)],
        "source": [f"src{j}" for j in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    centres = rng.normal(0.0, 1.0, (10, 64))
    label = rng.integers(0, 10, n_emb)
    vec = (centres[label] + rng.normal(0.0, 0.6, (n_emb, 64))).astype(np.float32)
    emb = pd.DataFrame({"vec_id": np.arange(n_emb, dtype=np.int64),
                        "embedding": list(vec),
                        "label": label.astype(np.int32)})
    return docs, emb


def documents(seed: int, workdir: str, files: int) -> Workload:
    from city2graph_spark.pipeline.dedup import (
        minhash_lsh_pairs, ngram_jaccard_pairs, simhash_neardup_pairs)
    from city2graph_spark.pipeline.simsearch import cosine_topk
    docs, emb = corpus(N_DOCS, N_EMB)
    rng = np.random.default_rng(seed)
    dpath, epath = f"{workdir}/documents", f"{workdir}/embeddings"
    _write(docs.iloc[rng.permutation(len(docs))], dpath, files)
    _write(emb.iloc[rng.permutation(len(emb))], epath, files)

    specs = [
        ("dedup.minhash_lsh_pairs",
         lambda spark: minhash_lsh_pairs(spark.read.parquet(dpath)),
         ["doc_a", "doc_b"]),
        ("dedup.simhash_neardup_pairs",
         lambda spark: simhash_neardup_pairs(spark.read.parquet(dpath)),
         ["doc_a", "doc_b", "hamming"]),
        ("dedup.ngram_jaccard_pairs",
         lambda spark: ngram_jaccard_pairs(spark.read.parquet(dpath)),
         ["doc_a", "doc_b", "jaccard"]),
        ("simsearch.cosine_topk",
         lambda spark: cosine_topk(spark.read.parquet(epath), 3),
         ["qid", "nid", "rnk"]),
    ]
    calls = [Call(nm, fn, hash_check(DOC_PINS[nm], cols)) for nm, fn, cols in specs]
    return Workload("documents", calls, {"documents": len(docs),
                                         "embeddings": len(emb)})


# --------------------------------------------------------------------------
# gate fixtures: morphology, tessellation, network
# --------------------------------------------------------------------------

def _doc_ids(seed: int, n: int, workdir: str, files: int) -> pd.DataFrame:
    """The gate's ``documents`` table reduced to ``doc_id`` 0..n-1 (all the
    strip fixture reads), in seeded row order."""
    docs = pd.DataFrame({"doc_id": np.random.default_rng(seed).permutation(n)
                         .astype(np.int64)})
    _write(docs, f"{workdir}/documents.parquet", files)
    return docs


def gate_call(name: str, query: str, workdir: str, docs: pd.DataFrame,
              cols: list[str]) -> Call:
    """Gate query ``query`` timed as call ``name``, checked against the
    gate's DuckDB ``oracle_sql()[query]`` over the same ``documents``."""
    import duckdb

    from city2graph_spark import gate

    def oracle():
        con = duckdb.connect()
        try:
            con.register("documents", docs)
            want = con.execute(gate.oracle_sql()[query]).arrow()
        finally:
            con.close()
        if not isinstance(want, pa.Table):    # newer DuckDB: RecordBatchReader
            want = want.read_all()
        return table_hash(want, cols)

    return Call(name, lambda spark: getattr(gate, f"q_{query}")(spark, workdir),
                hash_check(oracle, cols))


def morphology(seed: int, workdir: str, files: int) -> Workload:
    """``morphological_graph`` on the gate's strip fixture (buildings and
    noded 6×6 street grid derived from ``documents.doc_id``)."""
    docs = _doc_ids(seed, MORPH_DOCS, workdir, files)
    call = gate_call("morphology.morphological_graph", "morphological_dag",
                     workdir, docs, ["layer", "a", "b"])
    return Workload("morphology_dag", [call], {"documents": MORPH_DOCS})


def tessellation(seed: int, workdir: str, files: int) -> Workload:
    """The driver-side tessellation layer of ``morphological_graph`` on its
    own: enclosed tessellation of the strip fixture (barrier collect,
    enclosure polygonisation, per-enclosure Voronoi)."""
    docs = _doc_ids(seed, TESS_DOCS, workdir, files)
    call = gate_call("tessellation.enclosed_tessellation",
                     "tessellation_enclosed", workdir, docs,
                     ["enclosure_index", "place_id", "area_q"])
    return Workload("tessellation", [call], {"documents": TESS_DOCS})


WORKLOADS = ("proximity_uniform", "proximity_urban", "documents",
             "tessellation", "morphology_dag")


def build(name: str, seed: int, workdir: str, files: int) -> Workload:
    os.makedirs(workdir, exist_ok=True)
    if name.startswith("proximity_"):
        return proximity(name, seed, workdir, files)
    if name == "documents":
        return documents(seed, workdir, files)
    if name == "tessellation":
        return tessellation(seed, workdir, files)
    if name == "morphology_dag":
        return morphology(seed, workdir, files)
    raise ValueError(f"unknown workload {name!r}; choose from {WORKLOADS}")
