"""Graph-topology utilities (SURVEY.md §2.4) + street-graph constructors
(M3 segments_to_graph, M4 dual_graph) as pure DataFrame transformations.

Reference semantics:
- canonicalize_edges — /root/reference/city2graph/utils/topology.py:328-471
- symmetrize_edges   — topology.py:474-568
- dual_graph         — topology.py:163-325 (pairs via shared-node adjacency)
- segments_to_graph  — /root/reference/city2graph/morphology.py:1545-1674
  (node ids sequential in first-appearance order of deduped endpoint coords:
  all start coords in row order, then all end coords; edge_key = per-pair
  cumcount in row order; undirected canonicalises to (min,max))
- remove_isolated_components / connected components — topology.py:775-825

Scale notes: everything here is equi-joins + window functions.  The one
global ordering (first-appearance node ids) is a deliberate determinism
cost paid only on street-network-sized inputs; connected components is the
classic iterative min-label propagation (label count halves per round,
O(log n) rounds), with each round a shuffle on node id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def canonicalize_edges(edges: DataFrame, src: str = "src", dst: str = "dst",
                       *, duplicates: str = "first",
                       order_col: str | None = None) -> DataFrame:
    """Reorder (src,dst) to the unordered canonical pair (topology.py:423-431).

    duplicates='first' keeps one row per pair; 'key' keeps all rows adding a
    per-pair ``edge_key`` (cumcount in ``order_col`` order — the reference's
    row-order cumcount; when None the pre-canonical (src,dst) pair is used so
    repeated runs assign identical keys); 'keep' keeps all rows unchanged.
    """
    out = edges.withColumn("_os", F.col(src)).withColumn("_od", F.col(dst)) \
               .withColumn("_s", F.least(src, dst)) \
               .withColumn("_d", F.greatest(src, dst)) \
               .drop(src, dst) \
               .withColumnRenamed("_s", src).withColumnRenamed("_d", dst)
    if duplicates == "first":
        return out.dropDuplicates([src, dst]).drop("_os", "_od")
    if duplicates == "key":
        order = [order_col] if order_col else ["_os", "_od"]
        w = Window.partitionBy(src, dst).orderBy(*order)
        return out.withColumn("edge_key", F.row_number().over(w) - 1) \
                  .drop("_os", "_od")
    return out.drop("_os", "_od")


def symmetrize_edges(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Append the reverse row (v,u) for every non-self-loop edge whose
    reverse is absent; idempotent (topology.py:547-568)."""
    fwd = edges
    rev = edges.where(F.col(src) != F.col(dst))
    swapped = rev.withColumn("_t", F.col(src)) \
                 .withColumn(src, F.col(dst)) \
                 .withColumn(dst, F.col("_t")).drop("_t")
    missing = swapped.join(fwd.select(F.col(src).alias("_a"), F.col(dst).alias("_b")),
                           (F.col(src) == F.col("_a")) & (F.col(dst) == F.col("_b")),
                           "left_anti")
    return fwd.unionByName(missing)


_ID_BUCKETS = 256

_NUMERIC_PREFIXES = ("int", "bigint", "smallint", "tinyint", "double",
                     "float", "decimal", "long")


def _first_appearance_ids(appearance: DataFrame, segments: DataFrame,
                          order_col: str) -> DataFrame:
    """Contiguous node ids in global ``_first``-order WITHOUT a single-task
    global sort: range-bucket on the order value (deterministic value-based
    boundaries — no sampled RangePartitioner), rank within each bucket, and
    add size-prefix offsets computed over the tiny per-bucket count table.
    Falls back to the global window only for non-numeric order columns
    (none in this repo's call sites)."""
    dtype = dict(segments.dtypes).get(order_col, "")
    if not dtype.startswith(_NUMERIC_PREFIXES):
        w = Window.orderBy(F.col("_first._part"), F.col("_first._ord"))
        return appearance.withColumn("node_id", F.row_number().over(w) - 1) \
                         .select("node_id", "x", "y")
    stats = appearance.agg(
        F.min(F.col("_first._ord")).alias("lo"),
        F.max(F.col("_first._ord")).alias("hi")).head()
    lo, hi = stats["lo"], stats["hi"]
    if lo is None or float(lo) == float(hi):
        sub = F.lit(1)
    else:
        sub = F.width_bucket(F.col("_first._ord").cast("double"),
                             F.lit(float(lo)), F.lit(float(hi)),
                             F.lit(_ID_BUCKETS))
    app = appearance.withColumn(
        "_bkt", F.col("_first._part") * (_ID_BUCKETS + 2) + sub)
    wb = Window.partitionBy("_bkt").orderBy(F.col("_first._part"),
                                            F.col("_first._ord"))
    ranked = app.withColumn("_r", F.row_number().over(wb))
    sizes = ranked.groupBy("_bkt").agg(F.count("*").alias("_c"))
    # prefix-sum over ≤ 2·(_ID_BUCKETS+2) rows — the only global window,
    # and it is over the bucket-count table, not the data
    wo = Window.orderBy("_bkt").rowsBetween(Window.unboundedPreceding, -1)
    offs = sizes.withColumn("_off",
                            F.coalesce(F.sum("_c").over(wo), F.lit(0)))
    return (ranked.join(F.broadcast(offs.select("_bkt", "_off")), "_bkt")
            .withColumn("node_id", F.col("_off") + F.col("_r") - 1)
            .select("node_id", "x", "y"))


def segments_to_graph(segments: DataFrame, *, seg_id: str = "seg_id",
                      order_col: str | None = None,
                      directed: bool = True,
                      multigraph: bool = True) -> tuple[DataFrame, DataFrame]:
    """LineString segments → (nodes, edges) with the reference's exact
    node-id contract (morphology.py:1741-1757): node ids are sequential in
    first-appearance order over the concatenation [all start coords in row
    order] + [all end coords in row order], deduplicated keeping first.

    ``segments`` needs columns (seg_id, ax, ay, bx, by); ``order_col``
    defines row order (defaults to seg_id).

    Returns (nodes(node_id, x, y), edges(from_node_id, to_node_id
    [, edge_key], <seg cols>)).
    """
    order_col = order_col or seg_id
    starts = segments.select(F.col("ax").alias("x"), F.col("ay").alias("y"),
                             F.lit(0).alias("_part"), F.col(order_col).alias("_ord"))
    ends = segments.select(F.col("bx").alias("x"), F.col("by").alias("y"),
                           F.lit(1).alias("_part"), F.col(order_col).alias("_ord"))
    appearance = starts.unionByName(ends) \
        .groupBy("x", "y") \
        .agg(F.min(F.struct("_part", "_ord")).alias("_first"))
    nodes = _first_appearance_ids(appearance, segments, order_col)

    e = segments \
        .join(nodes.select(F.col("node_id").alias("_from"),
                           F.col("x").alias("ax"), F.col("y").alias("ay")),
              ["ax", "ay"]) \
        .join(nodes.select(F.col("node_id").alias("_to"),
                           F.col("x").alias("bx"), F.col("y").alias("by")),
              ["bx", "by"])
    if not directed:
        e = e.withColumn("_f2", F.least("_from", "_to")) \
             .withColumn("_t2", F.greatest("_from", "_to")) \
             .drop("_from", "_to") \
             .withColumnRenamed("_f2", "_from").withColumnRenamed("_t2", "_to")
    e = e.withColumnRenamed("_from", "from_node_id") \
         .withColumnRenamed("_to", "to_node_id")
    if multigraph:
        wk = Window.partitionBy("from_node_id", "to_node_id").orderBy(order_col)
        e = e.withColumn("edge_key", F.row_number().over(wk) - 1)
    return nodes, e


def dual_graph(edges: DataFrame, edge_id: str = "edge_id",
               src: str = "from_node_id", dst: str = "to_node_id") -> DataFrame:
    """Primal edges → dual edge pairs: (e1,e2) iff the primal edges share a
    node; canonical (smaller id first), distinct (topology.py:117-132).
    The textbook shared-key self-join."""
    inc = edges.select(F.col(edge_id).alias("_e"), F.col(src).alias("_n")) \
        .unionByName(edges.select(F.col(edge_id).alias("_e"),
                                  F.col(dst).alias("_n"))) \
        .dropDuplicates()
    a = inc.select(F.col("_n"), F.col("_e").alias("from_edge"))
    b = inc.select(F.col("_n"), F.col("_e").alias("to_edge"))
    return (a.join(b, "_n")
            .where(F.col("from_edge") < F.col("to_edge"))
            .select("from_edge", "to_edge")
            .dropDuplicates())


def connected_components(edges: DataFrame, nodes: DataFrame | None = None,
                         src: str = "src", dst: str = "dst",
                         max_iter: int = 50) -> DataFrame:
    """Connected components by iterative min-label propagation: each round
    every node takes the min label among itself and its neighbors; converges
    in O(diameter) rounds (classic large-star/small-star simplification).

    Returns (node, component) where component = min node id in the component.
    """
    sym = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")) \
        .unionByName(edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))) \
        .where(F.col("a") != F.col("b")).dropDuplicates().persist()
    if nodes is not None:
        base = nodes.select(F.col(nodes.columns[0]).alias("node"))
    else:
        base = sym.select(F.col("a").alias("node")).dropDuplicates()
    # localCheckpoint every round: iterative plans otherwise grow an
    # exponentially deep lineage (plan-string OOM long before data does).
    # On a real cluster this is the Iceberg-snapshot checkpoint site.
    labels = base.withColumn("component", F.col("node")).localCheckpoint()
    for _ in range(max_iter):
        # neighbor-min step (small-star); the pre-step label rides along as
        # _old so convergence detection below needs no extra join pass
        nbr_min = (sym.join(labels, sym.b == labels.node)
                   .groupBy("a").agg(F.min("component").alias("_nb")))
        stepped = (labels.join(nbr_min, labels.node == nbr_min.a, "left")
                   .select("node", F.col("component").alias("_old"),
                           F.least("component",
                                   F.coalesce("_nb", F.col("component")))
                           .alias("component")))
        # pointer-jumping step (large-star): component ← component's component
        hop = stepped.select(F.col("node").alias("_n2"),
                             F.col("component").alias("_c2"))
        new_labels = (stepped.join(hop, stepped.component == hop._n2, "left")
                      .select("node", "_old",
                              F.coalesce("_c2", F.col("component"))
                              .alias("component"))).localCheckpoint()
        # one cheap scan of the just-materialised checkpoint — the old
        # re-join of new vs old labels was a full extra shuffle per round
        changed = new_labels.where(F.col("component") != F.col("_old")) \
            .limit(1).count()
        labels = new_labels.drop("_old")
        if changed == 0:
            break
    sym.unpersist()
    return labels


def minimum_spanning_forest(edges: DataFrame, *, src: str = "u",
                            dst: str = "v", weight: str = "weight",
                            max_rounds: int = 40) -> DataFrame:
    """Distributed Borůvka: each round every component picks its minimum
    (weight, u, v)-lexicographic outgoing edge (deterministic tie-break ⇒
    a well-defined forest even with duplicate weights), picked edges join
    the forest, and components re-label via ``connected_components`` over
    the forest so far.  Component count at least halves per round ⇒
    ≤ log₂(n) rounds, each a pair of joins + one aggregate — no driver
    union-find (the round-1 scale bound).

    Returns the forest edges (u, v, weight) — the MST when connected.
    """
    # of parallel edges only the lightest can be in a minimum forest
    e0 = edges.select(F.least(src, dst).alias("u"),
                      F.greatest(src, dst).alias("v"),
                      F.col(weight).alias("weight")) \
        .groupBy("u", "v").agg(F.min("weight").alias("weight")).persist()
    e = e0
    nodes = e.select(F.col("u").alias("node")) \
        .unionByName(e.select(F.col("v").alias("node"))).dropDuplicates()
    spark = edges.sparkSession
    picked = spark.createDataFrame([], "u long, v long, weight double")
    comp = nodes.withColumn("component", F.col("node")).localCheckpoint()
    prev_inter = None
    for _ in range(max_rounds):
        cu = comp.select(F.col("node").alias("u"),
                         F.col("component").alias("_cu"))
        cv = comp.select(F.col("node").alias("v"),
                         F.col("component").alias("_cv"))
        inter = (e.join(cu, "u").join(cv, "v")
                 .where(F.col("_cu") != F.col("_cv")).persist())
        if inter.limit(1).count() == 0:
            inter.unpersist()
            break
        both = inter.select(F.col("_cu").alias("_c"), "weight", "u", "v",
                            F.col("_cv").alias("_o")) \
            .unionByName(inter.select(F.col("_cv").alias("_c"),
                                      "weight", "u", "v",
                                      F.col("_cu").alias("_o")))
        mins = both.groupBy("_c").agg(
            F.min(F.struct("weight", "u", "v", "_o")).alias("_m")).persist()
        new = mins.select(F.col("_m.u").alias("u"), F.col("_m.v").alias("v"),
                          F.col("_m.weight").alias("weight")) \
            .dropDuplicates(["u", "v"])
        picked = picked.unionByName(new).localCheckpoint()
        # star contraction on the COMPONENT table (no full CC rebuild):
        # parent = min-edge's other component; mutual-min 2-cycles root at
        # the smaller id; then pointer-jump until fixpoint.  Tables are
        # component-sized and halve every round.
        par = mins.select(F.col("_c").alias("c"), F.col("_m._o").alias("p"))
        q = par.select(F.col("c").alias("_qc"), F.col("p").alias("_qp"))
        par = (par.join(q, par.p == q._qc, "left")
               .select("c", F.when((F.col("_qp") == F.col("c"))
                                   & (F.col("c") < F.col("p")), F.col("c"))
                       .otherwise(F.col("p")).alias("p"))).localCheckpoint()
        for _ in range(60):
            hop = par.select(F.col("c").alias("_hc"), F.col("p").alias("_hp"))
            jumped = (par.join(hop, par.p == hop._hc, "left")
                      .select("c", F.col("p").alias("_old"),
                              F.coalesce("_hp", F.col("p")).alias("p"))
                      ).localCheckpoint()
            # convergence read off the fresh checkpoint — no re-join pass
            changed = jumped.where(F.col("p") != F.col("_old")) \
                .limit(1).count()
            par = jumped.drop("_old")
            if changed == 0:
                break
        comp = (comp.join(par.withColumnRenamed("c", "component"),
                          "component", "left")
                .select("node", F.coalesce("p", F.col("component"))
                        .alias("component"))).localCheckpoint()
        mins.unpersist()
        # contract: an edge inside one component can never cross components
        # later (components only grow), so the next round joins only the
        # still-crossing edges — the joined/shuffled edge set shrinks
        # geometrically instead of re-scanning all of e each round.  The
        # current inter's cache is fully populated by the mins/picked
        # materialisation above, so releasing the previous round's cache
        # here cannot force a recompute of live data.
        e = inter.select("u", "v", "weight")
        if prev_inter is not None:
            prev_inter.unpersist()
        prev_inter = inter
    e0.unpersist()
    if prev_inter is not None:
        prev_inter.unpersist()
    return picked


def remove_isolated_components(edges: DataFrame, src: str = "src",
                               dst: str = "dst") -> DataFrame:
    """Keep only edges of the largest (weakly) connected component
    (topology.py:810-821); ties break to the smallest component label."""
    cc = connected_components(edges, src=src, dst=dst)
    top = (cc.groupBy("component").count()
           .orderBy(F.col("count").desc(), F.col("component").asc()).limit(1))
    keep = cc.join(top.select("component"), "component", "left_semi") \
             .select(F.col("node"))
    return edges.join(keep.withColumnRenamed("node", src), src, "left_semi")
