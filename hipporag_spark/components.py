"""Connected components — iterative min-label propagation.

North_rule algorithm #2.  The reference holds its component structure
implicitly inside the pickled igraph object (``/root/reference/src/
hipporag/HippoRAG.py:164-195, 1600``); the engine computes it explicitly
over the edge table and labels every node with the **minimum node id in
its component** — a canonical labeling that igraph's ``components()``
membership is compared against as a partition (same groups ⇒ exact
match; tested against a union-find oracle in
``tests/reference_impl.py``).

Physical plan per superstep: ``labels ⋈ edges → min(label) per node``
(SURVEY.md §4.3.3) — propagate each node's current label to its
neighbors, take the min of (own, incoming).  Hash-join on ``src``
against the persisted pre-partitioned edge table; ``groupBy(node).min``
does map-side partial aggregation so hub nodes never concentrate a
shuffle partition.  Converges in O(component diameter) supersteps;
local union-find fast path for small graphs (same result, one collect).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .graph import undirected_pairs


@dataclass
class CCResult:
    components: DataFrame  # (node_id string, component string)
    iterations: int
    converged: bool
    metrics: list[dict] = field(default_factory=list)


def connected_components(
    spark: SparkSession,
    edges: DataFrame,
    extra_nodes: DataFrame | None = None,  # (node_id) — isolated vertices
    max_iter: int = 200,
    mode: str = "auto",
    local_edge_limit: int = 2_000_000,
) -> CCResult:
    if mode not in ("auto", "local", "star", "dataframe"):
        raise ValueError(f"unknown connected-components mode {mode!r}")
    und = undirected_pairs(edges).persist()
    n_edges = und.count()
    nodes = und.select(F.col("src").alias("node_id")).distinct()
    if extra_nodes is not None:
        nodes = nodes.unionByName(extra_nodes.select("node_id")).distinct()

    if mode == "auto":
        mode = "local" if n_edges <= local_edge_limit else "star"

    if mode == "local":
        res = _cc_local(spark, und, nodes)
    elif mode == "star":
        res = _cc_star(spark, und, nodes, max_iter)
    else:
        res = _cc_dataframe(spark, und, nodes, max_iter)
    und.unpersist()
    return res


def _cc_local(spark, und, nodes) -> CCResult:
    """Union-find on the driver (small graphs)."""
    pairs = und.toPandas()
    node_list = nodes.toPandas()["node_id"].tolist()
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for u, v in zip(pairs["src"], pairs["dst"]):
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
    for x in node_list:
        find(x)
    groups: dict = {}
    for x in parent:
        groups.setdefault(find(x), []).append(x)
    rows = []
    for members in groups.values():
        lab = min(members)
        rows.extend((m, lab) for m in members)
    out = spark.createDataFrame(pd.DataFrame(rows, columns=["node_id", "component"]))
    return CCResult(out, 1, True, [{"mode": "local", "edges": len(pairs)}])


def _cc_star(spark, und, nodes, max_iter) -> CCResult:
    """Large-star / small-star alternation (Kiveris et al., "Connected
    Components in MapReduce and Beyond") — O(log² n) rounds instead of the
    min-label loop's O(component diameter), which is the difference
    between ~20 and ~10⁴ supersteps on a path-shaped 10¹²-edge web graph.
    This is the SURVEY §4.3.3 cluster-scale refinement (VERDICT.md
    round-1 "What's missing" #5).

    Each round is two hash-join + min-aggregate steps over the current
    edge multiset; at fixpoint the edges form stars whose centers are the
    component minima — the same canonical labeling as the other modes.

    - large-star(u): for m = min(Γ(u) ∪ {u}), link every neighbor v > u
      to m;
    - small-star(u): link every neighbor v ≤ u (and u itself) to m.
    """
    def _with_min(e):
        # m(u) = min over Γ(u) ∪ {u}
        m = e.groupBy("src").agg(F.min("dst").alias("mn"))
        return e.join(m, "src").select(
            "src", "dst", F.least(F.col("mn"), F.col("src")).alias("m"))

    def _canon(e):
        return e.where(F.col("src") != F.col("dst")).select(
            F.greatest("src", "dst").alias("src"),
            F.least("src", "dst").alias("dst"),
        ).distinct()

    edges = _canon(und).localCheckpoint(eager=True)
    metrics: list[dict] = []
    converged = False
    it = 0
    for it in range(max_iter):
        t0 = time.time()
        # large-star: neighbors larger than u attach to u's min
        sym = edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        ls = _with_min(sym)
        large = (
            ls.where(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        )
        after_large = _canon(large)
        # small-star: neighbors ≤ u (star leaves) re-attach to the min
        sym2 = after_large.unionByName(
            after_large.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        ss = _with_min(sym2)
        small = (
            ss.where(F.col("dst") <= F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .unionByName(ss.select("src", F.col("m").alias("dst")))
        )
        new_edges = _canon(small).localCheckpoint(eager=True)
        changed = (
            new_edges.exceptAll(edges).count() + edges.exceptAll(new_edges).count()
        )
        edges = new_edges
        metrics.append({"superstep": it, "edges_changed": int(changed),
                        "wall_ms": (time.time() - t0) * 1000, "mode": "star"})
        if changed == 0:
            converged = True
            break

    # fixpoint edges are stars rooted at component minima: every non-root
    # node appears as src exactly once with dst = its component min.  If
    # max_iter was hit first a node can still appear as src several times
    # with inconsistent partial labels, so take min(component) per node —
    # a no-op at fixpoint, and at worst a coarser-but-consistent label
    # otherwise (ADVICE r2, components.py:169).
    child = (
        edges.groupBy(F.col("src").alias("node_id"))
        .agg(F.min("dst").alias("component"))
    )
    out = (
        nodes.join(child, "node_id", "left")
        .select("node_id", F.coalesce(F.col("component"), F.col("node_id")).alias("component"))
    )
    return CCResult(out, it + 1, converged, metrics)


def _cc_dataframe(spark, und, nodes, max_iter) -> CCResult:
    labels = nodes.select("node_id", F.col("node_id").alias("component"))
    labels = labels.localCheckpoint(eager=True)
    metrics: list[dict] = []
    converged = False
    it = 0
    for it in range(max_iter):
        t0 = time.time()
        msgs = (
            und.join(labels.withColumnRenamed("node_id", "src"), "src")
            .select(F.col("dst").alias("node_id"), "component")
        )
        new = (
            msgs.unionByName(labels)
            .groupBy("node_id")
            .agg(F.min("component").alias("component"))
        )
        new = new.localCheckpoint(eager=True)
        changed = (
            new.alias("n")
            .join(labels.alias("o"), "node_id")
            .where(F.col("n.component") != F.col("o.component"))
            .count()
        )
        labels = new
        metrics.append({"superstep": it, "labels_changed": int(changed),
                        "wall_ms": (time.time() - t0) * 1000, "mode": "dataframe"})
        if changed == 0:
            converged = True
            break
    return CCResult(labels, it + 1, converged, metrics)
