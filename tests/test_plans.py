"""Physical-plan regression tests — lock in the plan properties the
engine's 100 TB story depends on (SURVEY §4, BENCH/BASELINE.md "Plan
quality").  These assert on `explain("formatted")` output, so a future
refactor that silently reintroduces a full-column scan, drops a
broadcast, or loses the PPR superstep's map-side combine fails loudly.
"""

from __future__ import annotations

import contextlib
import io
import re

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")


def test_textstats_scan_prunes_columns(spark, docs):
    """token_counts projects (doc_id, text): the parquet scan must not
    read lang/url/etc — column pruning reaches the source."""
    from hipporag_spark.textstats import token_counts

    plan = _plan(token_counts(docs))
    scan = plan[plan.index("Scan parquet"):]
    read_schema = scan[scan.index("ReadSchema"):].splitlines()[0]
    assert "doc_id" in read_schema and "text" in read_schema
    assert "lang" not in read_schema, read_schema


def test_ann_filter_pushed_to_scan(spark, emb):
    """The query-side vec_id < 5 predicate must appear in PushedFilters
    of the parquet scan, not as a post-scan Filter only."""
    from hipporag_spark.similarity import brute_force_topk

    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")
    out = brute_force_topk(q, emb.select("vec_id", "embedding"), k=5)
    plan = _plan(out)
    assert "PushedFilters" in plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("LessThan(vec_id,5)" in ln for ln in pushed), pushed


def test_ann_scan_prunes_label_column(spark, emb):
    from hipporag_spark.similarity import brute_force_topk

    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")
    plan = _plan(brute_force_topk(q, emb.select("vec_id", "embedding"), k=5))
    for ln in plan.splitlines():
        if "ReadSchema" in ln:
            assert "label" not in ln, ln


def _ppr_superstep_plan(spark) -> str:
    """The plan of one dataframe-mode PPR superstep
    (``ppr._contributions``) over persisted normalized edges and a
    persisted rank table, as ``_batch_dataframe`` runs it."""
    from hipporag_spark.ppr import _contributions, _normalized_edges

    edges = spark.createDataFrame(
        [(f"n{i}", f"n{(i * 7 + 1) % 50}", 1.0) for i in range(200)],
        "src string, dst string, weight double",
    )
    norm = _normalized_edges(edges).repartition(F.col("src")).persist()
    norm.count()
    ranks = spark.createDataFrame(
        [("q", f"n{i}", 1.0 / 50) for i in range(50)],
        "query_id string, node_id string, rank double").persist()
    ranks.count()
    try:
        return _plan(_contributions(norm, ranks))
    finally:
        norm.unpersist()
        ranks.unpersist()


def test_dataframe_ppr_superstep_broadcasts_rank_side(spark):
    """The dataframe-mode contribution join must broadcast the (small)
    rank side against the persisted edge relation — edges are never
    re-shuffled per superstep."""
    plan = _ppr_superstep_plan(spark)
    assert "BroadcastHashJoin" in plan, plan
    broadcast_inputs = re.findall(
        r"\(\d+\) BroadcastExchange\nInput \[\d+\]: \[([^\]]*)\]", plan)
    assert any("rank#" in cols for cols in broadcast_inputs), broadcast_inputs


def test_ppr_superstep_agg_has_mapside_combine(spark):
    """The superstep's ``groupBy(query_id, dst).sum`` is combined map-side:
    a ``partial_sum`` aggregate feeds the ONE exchange on (query_id, dst),
    so a hub destination reaches its reducer as at most one row per map
    partition, with no second aggregation stage."""
    plan = _ppr_superstep_plan(spark)
    exchanges = re.findall(
        r"\((\d+)\) Exchange\nInput [^\n]*\nArguments: hashpartitioning"
        r"\(query_id#\d+, dst#\d+", plan)
    partials = re.findall(
        r"\((\d+)\) HashAggregate\nInput [^\n]*\nKeys \[2\]: "
        r"\[query_id#\d+, dst#\d+\]\nFunctions \[1\]: \[partial_sum", plan)
    assert len(exchanges) == 1, plan
    assert len(partials) == 1, plan
    # formatted-plan node ids grow from the leaves: the partial aggregate
    # runs before the exchange
    assert int(partials[0]) < int(exchanges[0])


def test_persisted_ivf_probe_prunes_partitions(spark, emb, tmp_path):
    """The persisted IVF probe must restrict the key scan to probed
    centroid_id partitions (dynamic partition pruning from the broadcast
    probe side) — the plan property that makes IVF read nprobe/n_centroids
    of a 100 TB table."""
    from hipporag_spark.similarity import build_ivf_index, ivf_topk_from_index

    d = str(tmp_path / "ivfplan")
    build_ivf_index(spark, emb.select("vec_id", "embedding"), d, n_centroids=8)
    q = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding")
    plan = _plan(ivf_topk_from_index(spark, d, q, k=5, nprobe=2))
    assert "PartitionFilters" in plan
    assert "dynamicpruning" in plan, [
        ln for ln in plan.splitlines() if "PartitionFilters" in ln]


def test_sparse_batch_ppr_plan_has_no_cross_join(spark):
    """personalized_pagerank_batch(output_nodes=...) must produce a plan
    with NO cartesian/cross join: the dense |V|x|Q| crossJoin contract is
    replaced by a semi-join of the final rank state onto the node filter
    (VERDICT r3 "What's wrong" #2).  The dense default keeps its
    crossJoin — also asserted, so the contract split stays visible."""
    from hipporag_spark.ppr import personalized_pagerank_batch

    edges = spark.createDataFrame(
        [(f"n{i}", f"n{(i * 3 + 1) % 20}", 1.0) for i in range(40)],
        "src string, dst string, weight double")
    resets = spark.createDataFrame(
        [("q0", "n1", 1.0), ("q1", "n2", 1.0)],
        "query_id string, node_id string, reset_weight double")
    flt = spark.createDataFrame([(f"n{i}",) for i in range(5)],
                                "node_id string")
    sparse = personalized_pagerank_batch(
        spark, edges, resets, max_iter=3, mode="dataframe",
        output_nodes=flt)
    p = _plan(sparse)
    assert "CartesianProduct" not in p and "Cross" not in p, p
    dense = personalized_pagerank_batch(
        spark, edges, resets, max_iter=3, mode="dataframe")
    pd_ = _plan(dense)
    assert "CartesianProduct" in pd_ or "Cross" in pd_ or \
        "BroadcastNestedLoopJoin" in pd_, pd_
