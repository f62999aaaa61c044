"""k-core decomposition and multi-source BFS distances — the remaining
standard link-graph diagnostics next to PageRank / components / LPA /
triangles (north_rule family; SURVEY.md §2 "graph stats" row).

The reference computes graph-density diagnostics through igraph
(``/root/reference/src/hipporag/HippoRAG.py:1226-1239`` exposes the
graph for exactly this kind of analysis); coreness and hop distance are
the two igraph calls a graph-memory user reaches for first when asking
"which entities sit in the dense nucleus" and "how far is everything
from my query seeds".

Algorithms (both deterministic — no tie-breaks, integer state):

- :func:`core_decomposition` — the h-index fixpoint of Lü et al. 2016
  ("The H-index of a network node and its relation to degree and
  coreness", Nature Comms 7:10168): start every node at its degree,
  then synchronously replace each node's estimate with the h-index of
  its neighbors' estimates; the fixpoint is exactly the coreness.  This
  is THE distributed formulation — each superstep is one hash join
  (estimates onto edge endpoints) and one per-node top-k reduction, no
  global peeling order, and estimates only ever decrease so convergence
  is monotone.  Contrast the classical sequential peel (remove min-
  degree nodes one at a time), which is inherently serial.
- :func:`bfs_distances` — multi-source frontier BFS over the simple
  undirected graph: ``dist(v) = min hops from any seed``, bounded by
  ``max_hops``.  Each hop expands the frontier through one join and
  anti-joins the visited set; rows carry integer distances only.

Scale design (100 TB / 10^9-node graphs):

- Both operators run on the *simple* graph (``distinct (src, dst)``
  pairs, self-loops dropped) — weights don't enter either definition,
  so the edge payload per row is 2 ids.
- Coreness superstep: join estimates (|V| rows — tiny next to |E|, and
  broadcastable while they fit) onto the persisted edge table, then a
  ``groupBy(src)`` h-index reduction.  The h-index of a degree-d node
  needs only its neighbors' values; hub skew is bounded because the
  per-node reduction is a sort-free running aggregate under AQE skew
  split (the window variant Spark plans is a partial sort of that
  node's neighbor values only, never a global sort).
- BFS: the frontier is the only moving set; per hop it is joined
  against the static (persisted, pre-partitioned on ``src``) edge
  table and shrunk by an anti-join against visited.  Frontiers of a
  few million rows broadcast; the visited set stays partitioned.
- Iteration state is ``localCheckpoint``-ed each superstep, the same
  lineage-cutting discipline as :mod:`.components` / :mod:`.lpa`.

Driver gates: ``kcore`` and ``bfs_dist`` in ``__spark_entry__.py`` with
exact recursive-CTE DuckDB oracles (same device as the ``lpa`` /
``components`` gates); pytest checks both against independent
reference implementations (peeling coreness / dict BFS) in
``tests/reference_impl.py``.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .graph import undirected_pairs

__all__ = ["CoreResult", "core_decomposition", "bfs_distances"]


@dataclass
class CoreResult:
    coreness: DataFrame  # (node_id string, coreness long)
    iterations: int
    converged: bool
    metrics: list[dict] = field(default_factory=list)


def core_decomposition(
    spark: SparkSession,
    edges: DataFrame,
    max_iter: int = 100,
    mode: str = "auto",
    local_edge_limit: int = 2_000_000,
) -> CoreResult:
    """Per-node coreness via the synchronous h-index fixpoint.

    ``coreness(v)`` = the largest k such that v belongs to a maximal
    subgraph where every node has degree ≥ k.  Estimates start at the
    degree and are monotonically driven down to the fixpoint; a
    superstep that changes nothing proves convergence (Lü et al. 2016,
    Theorem 1).  ``max_iter`` is a lineage guard — real graphs converge
    in O(10) supersteps because estimates fall geometrically.
    """
    if mode not in ("auto", "local", "dataframe"):
        raise ValueError(f"unknown core-decomposition mode {mode!r}")
    und = undirected_pairs(edges).persist()
    n_und = und.count()
    if mode == "auto":
        mode = "local" if n_und <= local_edge_limit else "dataframe"
    if mode == "local":
        res = _core_local(spark, und, max_iter)
        und.unpersist()
        return res

    est = (
        und.groupBy(F.col("src").alias("node_id"))
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )
    w = Window.partitionBy("node_id").orderBy(F.desc("c"), F.asc("nb"))
    metrics: list[dict] = []
    converged = False
    it = 0
    for it in range(max_iter):
        t0 = time.time()
        # gather neighbor estimates; h-index = max over the desc-sorted
        # neighbor values of min(value, rank).  nb in the sort key only
        # pins Spark's row order — the h value is order-independent.
        gathered = und.join(
            est.select(F.col("node_id").alias("dst"), "c"), "dst"
        ).select(F.col("src").alias("node_id"), F.col("dst").alias("nb"), "c")
        new = (
            gathered.withColumn(
                "hc", F.least(F.col("c"), F.row_number().over(w).cast("long"))
            )
            .groupBy("node_id")
            .agg(F.max("hc").alias("c"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new.alias("n")
            .join(est.alias("o"), "node_id")
            .where(F.col("n.c") != F.col("o.c"))
            .count()
        )
        est = new
        metrics.append({"superstep": it, "estimates_changed": int(changed),
                        "wall_ms": (time.time() - t0) * 1000})
        if changed == 0:
            converged = True
            break
    und.unpersist()
    out = est.select("node_id", F.col("c").cast("long").alias("coreness"))
    return CoreResult(out, it + 1, converged, metrics)


def _core_local(spark, und, max_iter) -> CoreResult:
    """Driver-local fast path: exact O(V+E) bucket peeling (Batagelj &
    Zaveršnik 2003) — an INDEPENDENT algorithm from the distributed
    h-index loop, so agreement in tests is evidence, not tautology.

    This is the REAL bucket peel (vertices kept sorted by current degree
    in one array, a per-degree bucket-start pointer, O(1) swap per
    degree decrement), replacing round-3's min()-scan variant that was
    O(V^2) and would have stalled the driver for hours on the ~10^5-node
    graphs ``local_edge_limit`` admits (ADVICE r3 item 1).  The only
    Python-level loop is one pass over the E directed edge endpoints.
    """
    import numpy as np

    pdf = und.toPandas()
    # und is the symmetric simple graph, so src's distinct set == node set
    src = pdf["src"].to_numpy()
    dst = pdf["dst"].to_numpy()
    nodes, s = np.unique(src, return_inverse=True)
    d = np.searchsorted(nodes, dst)
    n = len(nodes)
    deg = np.bincount(s, minlength=n)
    order = np.argsort(s, kind="stable")
    adj = d[order]  # CSR neighbor array
    ptr = np.zeros(n + 1, dtype=np.int64)
    ptr[1:] = np.cumsum(deg)
    core = deg.astype(np.int64)
    # vert = vertices sorted by current degree; pos = inverse; bin_ptr[k]
    # = first slot in vert whose vertex currently has degree k
    vert = np.argsort(deg, kind="stable")
    pos = np.empty(n, dtype=np.int64)
    pos[vert] = np.arange(n)
    max_deg = int(deg.max()) if n else 0
    bin_ptr = np.zeros(max_deg + 2, dtype=np.int64)
    bin_ptr[1:] = np.cumsum(np.bincount(deg, minlength=max_deg + 1))
    bin_ptr = bin_ptr[:-1]  # bin_ptr[k] = start of degree-k bucket
    for i in range(n):
        v = vert[i]
        cv = core[v]
        for j in range(ptr[v], ptr[v + 1]):
            u = adj[j]
            cu = core[u]
            if cu > cv:
                # swap u with the first vertex of its bucket, shrink it
                pu, pw = pos[u], bin_ptr[cu]
                w = vert[pw]
                if u != w:
                    vert[pu], vert[pw] = w, u
                    pos[u], pos[w] = pw, pu
                bin_ptr[cu] += 1
                core[u] = cu - 1
    out = spark.createDataFrame(
        [(str(nodes[u]), int(core[u])) for u in range(n)],
        "node_id string, coreness long",
    )
    return CoreResult(out, 1, True, [{"mode": "local_peel"}])


def bfs_distances(
    spark: SparkSession,
    edges: DataFrame,
    seeds,
    max_hops: int = 4,
) -> DataFrame:
    """``(node_id, dist)`` — minimum hop count from any seed, breadth-
    first, bounded by ``max_hops``.  ``seeds`` is a list of node ids or
    a DataFrame with a ``node_id`` column.  Nodes out of range are
    absent from the result (not NULL-padded), so the output size is the
    reached ball, not |V|.
    """
    und = undirected_pairs(edges).persist()
    und.count()
    if not isinstance(seeds, DataFrame):
        seeds_df = spark.createDataFrame(
            [(str(s),) for s in set(seeds)], "node_id string")
    else:
        seeds_df = seeds.select("node_id").distinct()
    # seeds outside the graph's node set still get dist 0 rows only if
    # they exist as graph nodes — matching the oracle's node-set semantics
    nodes = und.select(F.col("src").alias("node_id")).distinct()
    frontier = (
        nodes.join(seeds_df, "node_id").select("node_id")
        .localCheckpoint(eager=True)
    )
    dist = frontier.select("node_id", F.lit(0).cast("long").alias("dist"))
    dist = dist.localCheckpoint(eager=True)
    for hop in range(1, max_hops + 1):
        nxt = (
            und.join(frontier.select(F.col("node_id").alias("src")), "src")
            .select(F.col("dst").alias("node_id"))
            .distinct()
            .join(dist.select("node_id"), "node_id", "left_anti")
            .select("node_id", F.lit(hop).cast("long").alias("dist"))
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            break
        dist = dist.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt
    und.unpersist()
    return dist
