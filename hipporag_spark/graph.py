"""Edge-table construction with HippoRAG's exact weight semantics.

The engine's central table is ``edges (src, dst, weight, relation)``
(north_rule shape) plus ``nodes (node_id, node_type, content)``.  The
reference builds a ``node_to_node_stats: Dict[(src,dst) -> float]`` during
indexing and bulk-loads it into an undirected igraph
(``/root/reference/src/hipporag/HippoRAG.py:264, 726-879, 1043-1077``).
Bit-for-bit semantics reproduced here (SURVEY.md §1.4):

1. **fact** edges accumulate: ``stats[(a,b)] += 1`` per (new chunk, triple),
   inserted in BOTH directions (``HippoRAG.py:757-766``) → here a
   ``groupBy(subject, object).count()`` unioned with its swap.
2. **passage** edges: chunk → entity, constant 1.0, single direction
   (``HippoRAG.py:806-814``).
3. **synonym** edges: entity → entity, cosine ≥ threshold
   (``HippoRAG.py:856-877``); the dict assignment at ``876`` is ``=`` not
   ``+=`` so a synonym edge **overwrites** a fact count for the same
   ordered pair; passage assignment (``812``) likewise overwrites.  The
   merge is therefore an ordered last-writer-wins: fact, then passage,
   then synonym — implemented as a max-priority window per (src,dst).
4. Self-loops dropped at materialization (``HippoRAG.py:1055``).
5. Edges whose endpoints are missing from the node set are dropped
   (``HippoRAG.py:1066-1073``) — two semi-joins.
6. Because fact pairs exist in both directions and igraph is undirected,
   each entity pair carries two parallel edges whose weights PPR sums
   (effective conductance 2×count).  The edge table keeps both directed
   rows; :func:`symmetrize` folds orientations at algorithm time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# last-writer-wins priority (higher wins): fact < passage < synonym
_REL_PRIORITY = {"fact": 1, "passage": 2, "synonym": 3}


def fact_edges(facts: DataFrame) -> DataFrame:
    """Entity↔entity co-occurrence edges, weight = triple count, both
    directions (``HippoRAG.py:757-766``)."""
    counts = facts.groupBy("subject", "object").agg(
        F.count(F.lit(1)).cast("double").alias("weight")
    )
    eid = lambda c: F.concat(F.lit("entity-"), F.sha2(c, 256))
    fwd = counts.select(
        eid(F.col("subject")).alias("src"), eid(F.col("object")).alias("dst"), "weight"
    )
    rev = counts.select(
        eid(F.col("object")).alias("src"), eid(F.col("subject")).alias("dst"), "weight"
    )
    return fwd.unionByName(rev).withColumn("relation", F.lit("fact"))


def fact_edges_from_counts(pairs: DataFrame) -> DataFrame:
    """Like :func:`fact_edges` but over a pre-aggregated pair-count table
    ``(subject, object, cnt)`` — the incremental indexer maintains the
    counts additively per batch (new chunks only produce deltas, the
    ``HippoRAG.py:756`` guard), so edge weights never require a re-scan of
    the facts table."""
    eid = lambda c: F.concat(F.lit("entity-"), F.sha2(c, 256))
    base = pairs.select("subject", "object", F.col("cnt").cast("double").alias("weight"))
    fwd = base.select(
        eid(F.col("subject")).alias("src"), eid(F.col("object")).alias("dst"), "weight"
    )
    rev = base.select(
        eid(F.col("object")).alias("src"), eid(F.col("subject")).alias("dst"), "weight"
    )
    return fwd.unionByName(rev).withColumn("relation", F.lit("fact"))


def passage_edges(membership: DataFrame) -> DataFrame:
    """Chunk → entity mention edges, weight 1.0 (``HippoRAG.py:806-814``)."""
    return membership.select(
        F.col("chunk_id").alias("src"),
        F.col("entity_id").alias("dst"),
        F.lit(1.0).alias("weight"),
        F.lit("passage").alias("relation"),
    )


def merge_edges(*edge_frames: DataFrame) -> DataFrame:
    """Ordered last-writer-wins merge on (src, dst) (SURVEY.md §1.4 item 1).

    The reference's single dict means a later synonym assignment replaces a
    fact count for the same ordered pair; fact counts themselves accumulate
    (already aggregated in :func:`fact_edges`).  Window max-priority keeps
    one row per ordered pair, deterministically.
    """
    all_edges = None
    for df in edge_frames:
        all_edges = df if all_edges is None else all_edges.unionByName(df)
    prio = F.when(F.col("relation") == "synonym", _REL_PRIORITY["synonym"]).when(
        F.col("relation") == "passage", _REL_PRIORITY["passage"]
    ).otherwise(_REL_PRIORITY["fact"])
    w = Window.partitionBy("src", "dst").orderBy(F.desc("prio"), F.desc("weight"))
    return (
        all_edges.withColumn("prio", prio)
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("prio", "_rn")
    )


def make_nodes(entities: DataFrame, chunks: DataFrame) -> DataFrame:
    """Node table ``(node_id, node_type, content)`` (reference vertex attrs
    ``name``/``content``, ``HippoRAG.py:1013-1041``)."""
    ent = entities.select(
        F.col("entity_id").alias("node_id"),
        F.lit("entity").alias("node_type"),
        F.col("phrase").alias("content"),
    )
    chk = chunks.select(
        F.col("chunk_id").alias("node_id"),
        F.lit("chunk").alias("node_type"),
        F.col("content"),
    )
    return ent.unionByName(chk).dropDuplicates(["node_id"])


def validate_edges(edges: DataFrame, nodes: DataFrame) -> DataFrame:
    """Drop self-loops (``HippoRAG.py:1055``) and edges with endpoints
    outside the node set (``HippoRAG.py:1066-1073``)."""
    node_ids = nodes.select("node_id")
    return (
        edges.where(F.col("src") != F.col("dst"))
        .join(node_ids.withColumnRenamed("node_id", "src"), "src", "left_semi")
        .join(node_ids.withColumnRenamed("node_id", "dst"), "dst", "left_semi")
        .select("src", "dst", "weight", "relation")
    )


def build_graph(
    tables: dict[str, DataFrame], synonym_edges: DataFrame | None = None
) -> tuple[DataFrame, DataFrame]:
    """extraction tables → (nodes, edges) with full §1.4 semantics."""
    nodes = make_nodes(tables["entities"], tables["chunks"])
    frames = [fact_edges(tables["facts"]), passage_edges(tables["membership"])]
    if synonym_edges is not None:
        frames.append(synonym_edges)
    edges = validate_edges(merge_edges(*frames), nodes)
    return nodes, edges


def undirected_pairs(edges: DataFrame) -> DataFrame:
    """Distinct undirected neighbor pairs ``(src, dst)``, both orientations,
    self-loops dropped — the simple graph that components, triangles,
    coreness and hop distance are defined on."""
    fwd = edges.select("src", "dst")
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    return fwd.unionByName(rev).where(F.col("src") != F.col("dst")).distinct()


def symmetrize(edges: DataFrame) -> DataFrame:
    """Directed edge rows → symmetric weight table ``(src, dst, weight)``
    with parallel edges and both orientations summed — the undirected
    conductance igraph's PPR sees (SURVEY.md §1.4 item 4, §4.3.1)."""
    fwd = edges.select("src", "dst", "weight")
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "weight")
    return fwd.unionByName(rev).groupBy("src", "dst").agg(F.sum("weight").alias("weight"))
