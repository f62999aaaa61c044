"""Multi-reset CSR-blocks batch PPR (VERDICT r4 next-round #5): the
`mode='blocks'` rank-matrix kernel must agree with `_batch_dataframe`
at 1e-12 on dense AND sparse output, including reset-only nodes that
are not edge endpoints (isolated dangling vertices), and `mode='auto'`
must route to it above `blocks_edge_limit` symmetrized edges."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from hipporag_spark.ppr import personalized_pagerank_batch

EDGES = [
    ("a", "b", 1.0), ("b", "c", 2.0), ("c", "a", 1.5),
    ("c", "d", 0.5), ("d", "e", 1.0), ("e", "a", 2.5),
    ("b", "d", 1.0), ("a", "a", 0.25),  # self-loop
    ("a", "b", 0.75),                   # parallel edge
]
# q2 seeds "z": never an edge endpoint → isolated dangling vertex
RESETS = [
    ("q1", "a", 1.0),
    ("q2", "b", 0.5), ("q2", "z", 0.5),
    ("q3", "c", 0.2), ("q3", "e", 0.8),
]


@pytest.fixture(scope="module")
def frames(spark):
    edges = spark.createDataFrame(EDGES, "src string, dst string, weight double")
    resets = spark.createDataFrame(
        RESETS, "query_id string, node_id string, reset_weight double")
    return edges, resets


def _scores(df):
    return {(r["query_id"], r["node_id"]): r["score"] for r in df.collect()}


def _assert_match(a, b, atol=1e-12):
    assert set(a) == set(b), (sorted(set(a) ^ set(b)))
    for k in a:
        assert abs(a[k] - b[k]) < atol, (k, a[k], b[k])


def test_blocks_matches_dataframe_dense(spark, frames, tmp_path):
    edges, resets = frames
    kw = dict(damping=0.5, tol=1e-13)
    want = _scores(personalized_pagerank_batch(
        spark, edges, resets, mode="dataframe", **kw))
    got = _scores(personalized_pagerank_batch(
        spark, edges, resets, mode="blocks", n_blocks=4,
        blocks_dir=str(tmp_path / "b1"), query_chunk=2, **kw))
    # dataframe dense output carries explicit zero rows for untouched
    # (query, node) pairs; blocks dense does too — same row set
    _assert_match(got, want)


def test_blocks_matches_dataframe_sparse(spark, frames, tmp_path):
    edges, resets = frames
    out_nodes = spark.createDataFrame(
        [("a",), ("c",), ("e",), ("z",)], "node_id string")
    kw = dict(damping=0.5, tol=1e-13, output_nodes=out_nodes)
    want = _scores(personalized_pagerank_batch(
        spark, edges, resets, mode="dataframe", **kw))
    got = _scores(personalized_pagerank_batch(
        spark, edges, resets, mode="blocks", n_blocks=4,
        blocks_dir=str(tmp_path / "b2"), query_chunk=2, **kw))
    _assert_match(got, want)
    # sparse contract: only filter nodes appear
    assert all(node in {"a", "c", "e", "z"} for _q, node in got)


def test_auto_routes_to_blocks_above_edge_limit(spark, frames, tmp_path):
    """auto with local_edge_limit=0 and a 1-edge blocks threshold must
    take the blocks path (and still be correct) — the routing VERDICT r4
    next-round #5 asks for, exercised by shrinking the documented
    thresholds instead of building a 10^8-edge graph."""
    edges, resets = frames
    kw = dict(damping=0.5, tol=1e-13)
    want = _scores(personalized_pagerank_batch(
        spark, edges, resets, mode="dataframe", **kw))
    got = _scores(personalized_pagerank_batch(
        spark, edges, resets, mode="auto", local_edge_limit=0,
        blocks_edge_limit=1, n_blocks=4,
        blocks_dir=str(tmp_path / "b3"), query_chunk=2, **kw))
    _assert_match(got, want)


def test_blocks_rejects_zero_reset_query(spark, frames, tmp_path):
    edges, _ = frames
    resets = spark.createDataFrame(
        [("q1", "a", 1.0), ("q2", "b", 0.0)],
        "query_id string, node_id string, reset_weight double")
    with pytest.raises(ValueError, match="q2"):
        personalized_pagerank_batch(
            spark, edges, resets, mode="blocks", n_blocks=4,
            blocks_dir=str(tmp_path / "b4"))


def test_blocks_resume_skips_converged_chunks(spark, frames, tmp_path, checkpoint_writes):
    """Blocks-mode batch checkpoints each query chunk in the caller's node
    numbering: a resume on a rebuilt layout (``blocks_dir=None``) reads
    every chunk back, runs no superstep for a chunk that had converged,
    and returns the same scores."""
    edges, resets = frames
    ckpt = str(tmp_path / "ckpt")
    kw = dict(damping=0.5, tol=1e-13, mode="blocks", n_blocks=4, query_chunk=2,
              checkpoint_dir=ckpt)
    first = _scores(personalized_pagerank_batch(spark, edges, resets, **kw))
    assert sorted(os.listdir(ckpt)) == ["chunk=0", "chunk=1"]
    assert checkpoint_writes

    checkpoint_writes.clear()
    again = _scores(personalized_pagerank_batch(spark, edges, resets, resume=True, **kw))
    assert checkpoint_writes == []
    assert again == first
