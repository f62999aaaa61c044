"""Exact blocked top-k cosine similarity + synonym-edge construction.

Reproduces the reference's ``retrieve_knn``
(``/root/reference/src/hipporag/utils/embed_utils.py:6-94``): batched
dense matmul over query tiles × key blocks with two-level top-k (partial
top-k per block, final top-k over the concatenation).  Spark-first shape
(SURVEY.md §2.3 J7 / §2.5 T5):

- **both sides stay distributed**: queries are hash-assigned to tiles,
  keys to blocks, and every (tile × block) cell is one cogrouped
  ``applyInPandas`` task computing ``K_block @ Q_tileᵀ`` in numpy and
  emitting only its local top-k rows per query (map-side pruning: a
  block of B keys emits k rows per query, plus any ties at the k-th
  score, never B).  These functions never materialize either matrix on
  the driver — the round-1 ``toPandas()`` query tiling was the repo's
  KNN scale-killer (VERDICT.md "What's wrong" #1).  The cell itself is
  :func:`topk_cell`; the retriever's local plan (:mod:`.retrieve`) runs
  that same kernel over a driver-local store small enough to collect
  (``LOCAL_INDEX_LIMIT`` rows), as one cell;
- per-pair scores are independent of the blocking (one float64 dot
  product per (query, key) regardless of which cell computes it) up to
  the BLAS kernel's summation order, which can move the last bit
  (~1e-16) with the shape of the matmul — e.g. between a blocked cell
  and the local plan's single cell;
- final top-k via ``row_number`` window per query, ties pinned by
  ``key_id`` ascending for determinism (torch.topk tie order in the
  reference is unpinned; SURVEY.md §4.3.7).

Replication cost is the usual block-nested-loop bound: queries shuffle
``n_blocks`` copies, keys shuffle ``n_tiles`` copies — each cell needs
one tile and one block resident, which is what bounds executor memory at
``tile_size·dim + block·dim`` floats regardless of either table's size.

:func:`synonym_edges` applies HippoRAG's acceptance rules on top
(``HippoRAG.py:856-877``): query eligibility >2 alphanumeric chars
(``861``), score ≥ threshold (0.8, ``config_utils.py:160-163``),
neighbor ≠ self and non-empty (``871``), topk=2047 candidates
(``config_utils.py:148-151``), and the accepted-neighbor cap — the
reference breaks when ``num_nns > 100`` *after* incrementing per accept,
so at most **101** neighbors are accepted per node.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .extract import normalize_text


def _normalized(mat: np.ndarray) -> np.ndarray:
    nrm = np.linalg.norm(mat, axis=1, keepdims=True)
    nrm[nrm == 0] = 1.0
    return mat / nrm


def topk_cell(q_mat: np.ndarray, k_mat: np.ndarray, k: int):
    """One (query tile × key block) cell of the exact top-k: cosine scores
    of L2-normalized float64 rows, ``K @ Qᵀ``.  Returns ``(q_pos, k_pos,
    score, smin, smax)``: every (query, key) pair scoring at least the
    query's ``k``-th best in this block — ties at that score included, so
    a (score desc, key id asc) ranking over the cells' union is exact —
    and each query's min and max over ALL the block's keys.  Both plans
    of the retriever run this one kernel: the distributed one per
    cogrouped cell, the local one over the whole store."""
    sims = k_mat @ q_mat.T  # (block_keys, tile_queries)
    kb = min(k, sims.shape[0])
    kth = np.partition(sims, sims.shape[0] - kb, axis=0)[sims.shape[0] - kb]
    k_pos, q_pos = np.nonzero(sims >= kth)
    return q_pos, k_pos, sims[k_pos, q_pos], sims.min(axis=0), sims.max(axis=0)


def _blocked_scores(
    spark: SparkSession,
    queries: DataFrame,
    keys: DataFrame,
    k: int,
    tile_size: int,
    n_blocks: int | None,
    id_col: str,
    vec_col: str,
    emit_stats: bool,
) -> DataFrame:
    """(tile × block)-cogrouped partial top-k rows, plus (if
    ``emit_stats``) one per-(query, block) stats row carrying the block's
    min/max score — everything stays distributed."""
    sc = spark.sparkContext
    n_blocks = n_blocks or max(sc.defaultParallelism, 8)
    n_queries = queries.count()
    n_tiles = max(1, -(-n_queries // max(tile_size, 1)))

    q_rep = (
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"))
        .withColumn("tile", F.pmod(F.xxhash64("query_id"), F.lit(n_tiles)).cast("int"))
        .withColumn("block", F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))))
    )
    k_rep = (
        keys.select(F.col(id_col).alias("key_id"), F.col(vec_col).alias("kvec"))
        .withColumn("block", F.pmod(F.xxhash64("key_id"), F.lit(n_blocks)).cast("int"))
        .withColumn("tile", F.explode(F.sequence(F.lit(0), F.lit(n_tiles - 1))))
    )

    def cell_fn(qpdf: pd.DataFrame, kpdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({
            "query_id": pd.Series(dtype=object), "key_id": pd.Series(dtype=object),
            "score": pd.Series(dtype=np.float64), "is_stat": pd.Series(dtype=bool),
            "smin": pd.Series(dtype=np.float64), "smax": pd.Series(dtype=np.float64),
        })
        if not len(qpdf) or not len(kpdf):
            return empty
        q_ids = qpdf["query_id"].to_numpy()
        k_ids = kpdf["key_id"].to_numpy()
        q_pos, k_pos, score, smin, smax = topk_cell(
            _normalized(np.stack(qpdf["qvec"].to_numpy()).astype(np.float64)),
            _normalized(np.stack(kpdf["kvec"].to_numpy()).astype(np.float64)),
            k,
        )
        out = pd.DataFrame({
            "query_id": q_ids[q_pos],
            "key_id": k_ids[k_pos],
            "score": score,
            "is_stat": False,
            "smin": 0.0,
            "smax": 0.0,
        })
        if emit_stats:
            stats = pd.DataFrame({
                "query_id": q_ids,
                "key_id": "",
                "score": 0.0,
                "is_stat": True,
                "smin": smin,
                "smax": smax,
            })
            out = pd.concat([out, stats], ignore_index=True)
        return out

    return (
        q_rep.groupBy("tile", "block")
        .cogroup(k_rep.groupBy("tile", "block"))
        .applyInPandas(
            cell_fn,
            schema="query_id string, key_id string, score double, "
                   "is_stat boolean, smin double, smax double",
        )
    )


def cosine_topk(
    spark: SparkSession,
    queries: DataFrame,  # (id string, embedding array<float>)
    keys: DataFrame,     # (id string, embedding array<float>)
    k: int,
    tile_size: int = 8192,
    n_blocks: int | None = None,
    id_col: str = "id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for every query: returns
    ``(query_id, key_id, score, rank)`` with rank 1..k per query."""
    parts = _blocked_scores(spark, queries, keys, k, tile_size, n_blocks,
                            id_col, vec_col, emit_stats=False)
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("key_id"))
    return (
        parts.select("query_id", "key_id", "score")
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def cosine_topk_with_stats(
    spark: SparkSession,
    queries: DataFrame,
    keys: DataFrame,
    k: int,
    tile_size: int = 8192,
    n_blocks: int | None = None,
    id_col: str = "id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """Like :func:`cosine_topk` but additionally returns per-query global
    ``(min, max)`` over ALL key scores — needed by the reference's
    ``min_max_normalize`` (``misc_utils.py:106-115``) which normalizes over
    the full score vector, not just the survivors.  Single pass: each
    (tile × block) cell emits its local top-k rows plus one stats row per
    query; global stats are a tiny agg, so the full q×K score matrix never
    materializes anywhere.
    """
    # materialized once without a CacheManager entry, which a per-call
    # persist would leave behind
    out = _blocked_scores(spark, queries, keys, k, tile_size, n_blocks,
                          id_col, vec_col, emit_stats=True).localCheckpoint()
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("key_id"))
    topk = (
        out.where(~F.col("is_stat")).select("query_id", "key_id", "score")
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )
    gstats = (
        out.where(F.col("is_stat"))
        .groupBy("query_id")
        .agg(F.min("smin").alias("score_min"), F.max("smax").alias("score_max"))
    )
    return topk, gstats


def minmax_normalize(df: DataFrame, stats: DataFrame, score_col: str = "score") -> DataFrame:
    """Reference ``min_max_normalize`` (``misc_utils.py:106-115``): scale by
    the per-query global (min, max); all-equal vectors → 1.0."""
    return df.join(stats, "query_id").withColumn(
        score_col + "_norm",
        F.when(
            F.col("score_max") == F.col("score_min"), F.lit(1.0)
        ).otherwise(
            (F.col(score_col) - F.col("score_min"))
            / (F.col("score_max") - F.col("score_min"))
        ),
    ).drop("score_min", "score_max")


def synonym_edges(
    spark: SparkSession,
    entities: DataFrame,  # (entity_id, phrase, embedding)
    topk: int = 2047,
    threshold: float = 0.8,
    max_neighbors: int = 101,
    queries: DataFrame | None = None,
) -> DataFrame:
    """Entity→entity synonym edges ``(src, dst, weight, relation)`` per
    HippoRAG's acceptance semantics (see module docstring).

    ``queries``: optional subset of ``entities`` to use as the query side
    — the incremental-indexing path passes only the batch's *new*
    entities (the reference extends synonymy from newly inserted nodes,
    ``HippoRAG.py:818-879``), so per-batch KNN work is
    O(new × corpus), not O(corpus²)."""
    qside = entities if queries is None else queries
    eligible = qside.where(
        F.length(F.regexp_replace(F.col("phrase"), "[^A-Za-z0-9]", "")) > 2
    )
    knn = cosine_topk(
        spark,
        eligible.select(F.col("entity_id").alias("id"), "embedding"),
        entities.select(F.col("entity_id").alias("id"), "embedding"),
        k=topk,
    )
    phrases = entities.select(F.col("entity_id").alias("key_id"), F.col("phrase").alias("nn_phrase"))
    accepted = (
        knn.where(F.col("score") >= threshold)
        .where(F.col("key_id") != F.col("query_id"))
        .join(phrases, "key_id")
        .where(normalize_text(F.col("nn_phrase")) != "")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("key_id"))
    return (
        accepted.withColumn("nn_rank", F.row_number().over(w))
        .where(F.col("nn_rank") <= max_neighbors)
        .select(
            F.col("query_id").alias("src"),
            F.col("key_id").alias("dst"),
            F.col("score").alias("weight"),
            F.lit("synonym").alias("relation"),
        )
    )
