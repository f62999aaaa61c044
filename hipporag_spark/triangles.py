"""Triangle counting — graph-density diagnostic (north_rule algorithm #4).

The reference's only density-ish output is ``get_graph_info``
(``/root/reference/src/hipporag/HippoRAG.py:1086-1139``); the engine adds
the standard oriented two-join DataFrame formulation (SURVEY.md §4.3.5):

    E' = distinct undirected pairs oriented src < dst
    triangles(a,b,c) = E'(a,b) ⋈ E'(b,c) ⋈ E'(a,c),  a < b < c

Orienting by id bounds each join's fan-out by the *oriented* degree
(every triangle counted exactly once, no post-hoc /6), and the degree
of a vertex in E' under id-ordering is ≤ its true degree — the classic
mitigation that keeps hub vertices from exploding the first join.

``ordering="degree"`` is the cluster-scale refinement (SURVEY §4.3.5,
VERDICT.md round-1 "What's missing" #5): orient every edge from the
lower-(degree, id) endpoint to the higher one.  Each vertex's
out-degree is then bounded by O(√m) on any graph, so a 10⁸-degree web
hub contributes O(√m) — not deg² — candidate wedges to the first join.
The count is orientation-invariant (asserted against id-ordering in
``tests/test_triangles.py``); id-ordering stays the default because the
DuckDB SQL oracle mirrors it bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .graph import undirected_pairs


def oriented_edges(edges: DataFrame, ordering: str = "id") -> DataFrame:
    """Distinct undirected pairs oriented low→high (self-loops and
    multiplicities dropped).  ``ordering="id"``: lexicographic node id.
    ``ordering="degree"``: (degree, id) rank — hub-proof wedge bound."""
    und = undirected_pairs(edges)
    if ordering == "id":
        return und.where(F.col("src") < F.col("dst"))
    deg = und.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    d_src = deg.withColumnRenamed("src", "u").withColumnRenamed("deg", "du")
    d_dst = deg.withColumnRenamed("src", "v").withColumnRenamed("deg", "dv")
    return (
        und.join(d_src, und["src"] == d_src["u"])
        .join(d_dst, und["dst"] == d_dst["v"])
        .where(
            (F.col("du") < F.col("dv"))
            | ((F.col("du") == F.col("dv")) & (F.col("src") < F.col("dst")))
        )
        .select("src", "dst")
    )


def triangle_list(edges: DataFrame, ordering: str = "id") -> DataFrame:
    """All triangles as ``(a, b, c)`` ordered by the chosen orientation
    rank (a < b < c under it)."""
    e = oriented_edges(edges, ordering)
    e1 = e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    e2 = e.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    e3 = e.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    return e1.join(e2, "b").join(e3, ["a", "c"]).select("a", "b", "c")


def triangle_count(edges: DataFrame, ordering: str = "id") -> int:
    """Global triangle count (identical for every orientation)."""
    return triangle_list(edges, ordering).count()


def clustering_coefficient(edges: DataFrame) -> DataFrame:
    """Global clustering coefficient — the north_star's "graph-density
    diagnostics" companion to the raw triangle count:

        C = 3·triangles / wedges,   wedges = Σ_v d(v)·(d(v)−1)/2

    over the simple undirected graph.  One aggregate over the degree
    table plus the oriented two-join count; returns a single row
    ``(n_triangles, n_wedges, global_cc)``."""
    und = undirected_pairs(edges)
    deg = und.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    wedges_row = deg.agg(
        F.sum(F.col("deg") * (F.col("deg") - 1) / 2).cast("long").alias("w")
    ).collect()[0]
    n_wedges = int(wedges_row["w"] or 0)
    n_tri = triangle_count(edges)
    cc = (3.0 * n_tri / n_wedges) if n_wedges else 0.0
    spark = edges.sparkSession
    return spark.createDataFrame(
        [(n_tri, n_wedges, cc)],
        "n_triangles long, n_wedges long, global_cc double",
    )


def triangles_per_vertex(edges: DataFrame) -> DataFrame:
    """``(node_id, triangles)`` — per-vertex participation count."""
    tl = triangle_list(edges)
    v = (
        tl.select(F.col("a").alias("node_id"))
        .unionByName(tl.select(F.col("b").alias("node_id")))
        .unionByName(tl.select(F.col("c").alias("node_id")))
    )
    return v.groupBy("node_id").agg(F.count(F.lit(1)).alias("triangles"))
