"""Lifecycle semantics: incremental index, idempotency, cascading delete
with orphan detection — mirroring HippoRAG.index/delete
(/root/reference/src/hipporag/HippoRAG.py:215-358)."""

import pytest
from pyspark.sql import functions as F

from hipporag_spark.engine import HippoIndex
from tests.conftest import cached_relations

BATCH1 = [
    ("o/r1", "a.py", "c1", "py", "alpha beta gamma"),
    ("o/r1", "b.py", "c2", "py", "beta gamma delta"),
    ("o/r2", "c.py", "c3", "py", "epsilon zeta"),
]
BATCH2 = [
    ("o/r2", "d.py", "c4", "py", "delta epsilon"),
    ("o/r3", "e.py", "c5", "py", "solo unique tokens"),
]
SCHEMA = "repo string, path string, commit string, lang string, content string"


@pytest.fixture()
def engine(spark, tmp_path):
    return HippoIndex(spark, str(tmp_path / "cat"))


def test_index_and_reindex_idempotent(spark, engine):
    c1 = engine.index(spark.createDataFrame(BATCH1, SCHEMA))
    assert c1["chunks"] == 3
    # alpha beta gamma delta epsilon zeta = 6 entities
    assert c1["entities"] == 6
    again = engine.index(spark.createDataFrame(BATCH1, SCHEMA))
    assert all(v == 0 for v in again.values()), again
    s = engine.stats()
    assert s["num_passage_nodes"] == 3 and s["num_phrase_nodes"] == 6
    # fact pairs: {ab,ag,bg} ∪ {bd,bg,dg} ∪ {ez} → 6 distinct triples
    assert s["num_extracted_triples"] == 6
    # fact edge rows = distinct ordered pairs × 2 directions
    assert s["num_fact_edges"] == 12


def test_incremental_index_accumulates(spark, engine):
    cached = cached_relations(spark)
    engine.index(spark.createDataFrame(BATCH1, SCHEMA))
    c2 = engine.index(spark.createDataFrame(BATCH2, SCHEMA))
    # index() releases what it cached (extract_all's persisted tokens)
    assert cached_relations(spark) == cached
    assert c2["chunks"] == 2
    # new entities: solo, unique, tokens (delta/epsilon already present)
    assert c2["entities"] == 3
    s = engine.stats()
    assert s["num_passage_nodes"] == 5 and s["num_phrase_nodes"] == 9


def test_delete_cascades_orphans(spark, engine):
    engine.index(spark.createDataFrame(BATCH1 + BATCH2, SCHEMA))
    # delete the only doc containing zeta (and epsilon appears elsewhere)
    dels = engine.delete(
        spark.createDataFrame([BATCH1[2]], SCHEMA)
    )
    assert dels["chunks"] == 1
    ents = {r["phrase"] for r in engine.cat.read("entities").collect()}
    assert "zeta" not in ents          # orphan entity removed
    assert "epsilon" in ents           # still owned by d.py
    # orphan triple (epsilon, zeta) removed from the fact store
    triples = {(r["subject"], r["object"]) for r in engine.cat.read("fact_store").collect()}
    assert ("epsilon", "zeta") not in triples
    s = engine.stats()
    assert s["num_passage_nodes"] == 4
    # graph edges no longer reference the deleted chunk
    edges = engine.cat.read("edges")
    doomed_chunk = edges.where(F.col("src").contains("zeta")).count()
    assert doomed_chunk == 0


def test_sha_invariant_through_engine(spark, engine):
    """input_hint per-row invariant: sha256(content) preserved row-for-row
    into the chunk table (chunk_id = 'chunk-' + sha256(content))."""
    import hashlib

    engine.index(spark.createDataFrame(BATCH1, SCHEMA))
    rows = engine.cat.read("chunks").select("chunk_id", "content").collect()
    assert len(rows) == 3
    for r in rows:
        assert r["chunk_id"] == "chunk-" + hashlib.sha256(r["content"].encode()).hexdigest()


def test_retriever_over_catalog(spark, engine):
    engine.index(spark.createDataFrame(BATCH1 + BATCH2, SCHEMA))
    from hipporag_spark.retrieve import RetrievalConfig

    r = engine.retriever(RetrievalConfig(retrieval_top_k=3))
    q = spark.createDataFrame([("q0", "beta gamma")], "query_id string, question string")
    out = r.retrieve(q).toPandas()
    assert len(out) == 3
    # the two docs containing both beta and gamma should rank highest
    top2 = set(out[out["rank"] <= 2]["doc_id"])
    import hashlib

    expect = {
        "chunk-" + hashlib.sha256(b"alpha beta gamma").hexdigest(),
        "chunk-" + hashlib.sha256(b"beta gamma delta").hexdigest(),
    }
    assert top2 == expect


# -------------------------------------------------------------------------
# Round-2 lifecycle: synonym edges in the product flow, persisted embedding
# stores, O(batch) incremental physicals (VERDICT.md round-1 items 1 & 5)
# -------------------------------------------------------------------------

SYN_BATCH1 = [("o/r1", "a.py", "c1", "py", "tokenizer parse")]
SYN_BATCH2 = [("o/r1", "b.py", "c2", "py", "tokenizers lex")]


def test_engine_graph_contains_synonym_edges(spark, engine):
    """The indexed graph carries all three reference edge relations —
    synonym edges come from the entity_vdb KNN (HippoRAG.py:272, 818-879);
    cosine(tokenizer, tokenizers) = 0.843 >= 0.8 under the featurizer."""
    engine.index(spark.createDataFrame(SYN_BATCH1, SCHEMA))
    c2 = engine.index(spark.createDataFrame(SYN_BATCH2, SCHEMA))
    assert c2["synonym_edges"] >= 1
    s = engine.stats()
    assert s["num_synonym_edges"] >= 1
    edges = engine.cat.read("edges")
    syn = edges.where(F.col("relation") == "synonym").collect()
    ids = {(r["src"], r["dst"]) for r in syn}
    from hipporag_spark.extract import make_entities

    tok_ids = {
        r["phrase"]: r["entity_id"]
        for r in make_entities(
            spark.createDataFrame([("x", p) for p in ("tokenizer", "tokenizers")],
                                  "chunk_id string, token string")
        ).collect()
    }
    # batch-2's new entity 'tokenizers' queried the store and accepted
    # 'tokenizer' (score 0.843 >= 0.8 threshold)
    assert (tok_ids["tokenizers"], tok_ids["tokenizer"]) in ids


def test_embedding_stores_persisted_and_incremental(spark, engine):
    engine.index(spark.createDataFrame(BATCH1, SCHEMA))
    f1 = {t: engine.cat.file_count(t) for t in ("entity_vdb", "chunk_vdb", "fact_vdb")}
    assert engine.cat.read("entity_vdb").count() == 6
    assert set(engine.cat.read("entity_vdb").columns) == {"entity_id", "phrase", "embedding"}
    engine.index(spark.createDataFrame(BATCH2, SCHEMA))
    # second batch appended exactly one data file per store (only new
    # hashes were encoded); prior files untouched
    for t in ("entity_vdb", "chunk_vdb", "fact_vdb"):
        assert engine.cat.file_count(t) == f1[t] + 1
    # re-index inserts nothing anywhere
    again = engine.index(spark.createDataFrame(BATCH1 + BATCH2, SCHEMA))
    assert all(v == 0 for v in again.values()), again


def test_upsert_cost_is_o_batch(spark, engine, tmp_path):
    """Fast-append physicals: each batch adds one data file; earlier data
    files carry over by reference (same paths, never rewritten)."""
    import json, os

    engine.index(spark.createDataFrame(BATCH1, SCHEMA))
    cat = engine.cat

    def files(name):
        return list(cat._files(name))

    before = files("chunks")
    engine.index(spark.createDataFrame(BATCH2, SCHEMA))
    after = files("chunks")
    assert after[: len(before)] == before  # prior files untouched, by reference
    assert len(after) == len(before) + 1


def test_retriever_uses_persisted_stores(spark, engine):
    engine.index(spark.createDataFrame(BATCH1 + BATCH2, SCHEMA))
    r = engine.retriever()
    queries = spark.createDataFrame([("q1", "alpha beta")], "query_id string, question string")
    out = r.retrieve(queries).collect()
    assert len(out) > 0
    # scores identical to a retriever that re-encodes from scratch
    from hipporag_spark.retrieve import GraphRetriever

    r2 = GraphRetriever(
        spark,
        engine.cat.read("nodes"),
        engine.cat.read("edges").select("src", "dst", "weight", "relation"),
        engine.cat.read("chunks"),
        engine.cat.read("entities"),
        engine.cat.read("facts").select("chunk_id", "subject", "predicate", "object"),
        engine.cat.read("membership").select("entity_id", "chunk_id"),
    )
    out2 = r2.retrieve(queries).collect()
    a = sorted((r_["doc_id"], r_["rank"], round(r_["score"], 12)) for r_ in out)
    b = sorted((r_["doc_id"], r_["rank"], round(r_["score"], 12)) for r_ in out2)
    assert a == b


def test_rerank_hook_changes_kept_facts(spark, engine):
    """RetrievalConfig.rerank_fn is the pluggable rerank stage (reference
    rerank.py:105-131): a custom filter changes the kept fact set and the
    final ranking; None keeps the deterministic default."""
    from hipporag_spark.retrieve import RetrievalConfig

    engine.index(spark.createDataFrame(BATCH1 + BATCH2, SCHEMA))
    queries = spark.createDataFrame([("q1", "alpha beta")], "query_id string, question string")
    base = engine.retriever().retrieve(queries).collect()

    def drop_all(top_norm):
        return top_norm.where(F.lit(False))

    cfg = RetrievalConfig(rerank_fn=drop_all)
    rer = engine.retriever(config=cfg).retrieve(queries).collect()
    # with every fact dropped the query falls back to pure DPR
    # (HippoRAG.py:414-416): same API, different scoring regime
    assert len(rer) > 0
    b_scores = [(r_["doc_id"], r_["rank"], round(r_["score"], 9)) for r_ in base]
    r_scores = [(r_["doc_id"], r_["rank"], round(r_["score"], 9)) for r_ in rer]
    assert b_scores != r_scores


def test_catalog_vacuum_removes_expired_data(spark, engine, tmp_path):
    """vacuum (expire_snapshots analog) deletes data dirs referenced only
    by expired manifests; the live table is untouched."""
    import os

    engine.index(spark.createDataFrame(BATCH1, SCHEMA))
    engine.index(spark.createDataFrame(BATCH2, SCHEMA))
    cat = engine.cat
    before_rows = sorted(r["chunk_id"] for r in cat.read("chunks").collect())
    tdir = cat._tdir("chunks")
    n_dirs_before = sum(1 for e in os.listdir(tdir)
                        if e.startswith("d") and os.path.isdir(os.path.join(tdir, e)))
    cat.compact("chunks")  # old files now referenced only by old manifests
    removed = cat.vacuum("chunks")
    assert removed >= 1
    n_dirs_after = sum(1 for e in os.listdir(tdir)
                       if e.startswith("d") and os.path.isdir(os.path.join(tdir, e)))
    assert n_dirs_after < n_dirs_before + 1  # compacted file is the survivor
    after_rows = sorted(r["chunk_id"] for r in cat.read("chunks").collect())
    assert before_rows == after_rows


def test_replace_keys_is_one_snapshot(spark, tmp_path):
    """replace_keys publishes the delete and the insert in a SINGLE
    manifest commit (ADVICE r2): the version count advances by exactly one
    and the result equals delete_keys + append."""
    import os

    from hipporag_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "c"))
    cat.write("t", spark.createDataFrame(
        [("a", 1), ("b", 2), ("c", 3)], "key string, v int"))
    cat.append("t", spark.createDataFrame([("d", 4)], "key string, v int"))

    def n_versions():
        return sum(1 for f in os.listdir(cat._tdir("t"))
                   if f.startswith("v") and f.endswith(".json"))

    before = n_versions()
    removed = cat.replace_keys(
        "t",
        spark.createDataFrame([("b",), ("d",)], "key string"),
        spark.createDataFrame([("b", 20), ("d", 40)], "key string, v int"),
        key="key")
    assert removed == 2
    assert n_versions() == before + 1
    rows = {r["key"]: r["v"] for r in cat.read("t").collect()}
    assert rows == {"a": 1, "b": 20, "c": 3, "d": 40}


def test_replace_keys_cost_does_not_track_file_count(spark, tmp_path, count_jobs):
    """The copy-on-write merge finds the data dirs a key touches in one
    aggregate job: a one-key replace_keys runs as many jobs on an 8-file
    table as on a 1-file table holding the same rows, with equal results."""
    from hipporag_spark.catalog import Catalog

    schema = "key string, v int"
    rows = [(f"k{i}", i) for i in range(16)]
    one = Catalog(spark, str(tmp_path / "one"))
    one.write("t", spark.createDataFrame(rows, schema))
    eight = Catalog(spark, str(tmp_path / "eight"))
    eight.write("t", spark.createDataFrame(rows[:2], schema))
    for i in range(2, 16, 2):
        eight.append("t", spark.createDataFrame(rows[i:i + 2], schema))
    assert (one.file_count("t"), eight.file_count("t")) == (1, 8)

    results = []
    for cat in (one, eight):
        removed, jobs = count_jobs(lambda: cat.replace_keys(
            "t", spark.createDataFrame([("k5",)], "key string"),
            spark.createDataFrame([("k5", 50)], schema), key="key"))
        results.append((removed, jobs, sorted(cat.read("t").collect())))
    (removed1, jobs1, rows1), (removed8, jobs8, rows8) = results
    assert removed1 == removed8 == 1
    assert jobs8 == jobs1
    assert rows8 == rows1 == sorted(
        spark.createDataFrame(rows[:5] + [("k5", 50)] + rows[6:], schema).collect())


def test_delete_keys_selects_key_by_name(spark, tmp_path):
    """delete_keys must match on the column NAMED `key`, not positionally
    (ADVICE r2): a multi-column keys frame with `key` not first still
    deletes the right rows; a multi-column frame lacking it raises."""
    import pytest as _pytest

    from hipporag_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "c"))
    cat.write("t", spark.createDataFrame(
        [("a", 1), ("b", 2), ("c", 3)], "key string, v int"))
    keys = spark.createDataFrame(
        [("zzz", "b")], "other string, key string")  # `key` is column 2
    assert cat.delete_keys("t", keys, key="key") == 1
    assert sorted(r["key"] for r in cat.read("t").collect()) == ["a", "c"]
    with _pytest.raises(ValueError):
        cat.delete_keys(
            "t", spark.createDataFrame([("a", "b")], "x string, y string"), key="key")


def test_index_crash_between_fact_delta_steps_is_impossible(spark, engine):
    """The fact_pairs merge is now a single replace_keys snapshot; verify
    counts survive a re-run and the merged counts are right after two
    overlapping batches (regression for the ADVICE r2 crash-window item)."""
    engine.index(spark.createDataFrame(BATCH1, SCHEMA))
    engine.index(spark.createDataFrame(BATCH2, SCHEMA))
    fp = {(r["subject"], r["object"]): r["cnt"]
          for r in engine.cat.read("fact_pairs").collect()}
    # beta-delta: chunk b.py contributes (beta,delta)+(delta,beta)? — pairs
    # are per ordered co-occurrence; just assert all counts positive and
    # the table is consistent with a from-scratch recompute
    from pyspark.sql import functions as F2
    recomputed = {(r["subject"], r["object"]): r["cnt"]
                  for r in engine.cat.read("facts")
                  .groupBy("subject", "object")
                  .agg(F2.count(F2.lit(1)).cast("long").alias("cnt")).collect()}
    assert fp == recomputed
