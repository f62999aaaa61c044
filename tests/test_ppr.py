"""PPR oracle tests (FIXTURES.md §4/§6): every physical mode vs the exact
dense-solve oracle, on graphs covering parallel edges, dangling vertices,
disconnected components, NaN/negative reset weights, zero-weight rows and
hub skew — allclose(atol=1e-6), the north_rule criterion.

The local mode (identical math, driver numpy) runs the full matrix at two
dampings; the distributed blocks/dataframe paths run one damping
(Spark job-launch overhead per superstep) plus a cross-mode equivalence
test on a larger seeded graph."""

import numpy as np
import pytest

from hipporag_spark.ppr import personalized_pagerank
from tests.reference_impl import ppr_exact

# (name, directed edge rows (src,dst,weight), reset dict)
GRAPHS = [
    (
        "parallel_and_reverse",  # fact-style both-direction rows → 2× conductance
        [("a", "b", 3.0), ("b", "a", 3.0), ("b", "c", 1.0), ("c", "d", 2.0)],
        {"a": 1.0},
    ),
    (
        "dangling_and_disconnected",
        [("a", "b", 1.0), ("c", "d", 5.0)],
        {"a": 0.7, "e": 0.3},  # e is isolated (dangling), seeded
    ),
    (
        "nan_negative_reset",
        [("a", "b", 1.0), ("b", "c", 1.0), ("c", "a", 1.0)],
        {"a": float("nan"), "b": -2.0, "c": 4.0},
    ),
    (
        "zero_weight_row",
        [("a", "b", 0.0), ("b", "c", 1.0), ("a", "d", 2.0)],
        {"b": 1.0, "d": 1.0},
    ),
    (
        "hub",
        [(f"leaf{i}", "hub", 1.0) for i in range(40)]
        + [("hub", "leaf0", 2.0), ("x", "y", 1.0)],
        {"hub": 1.0, "x": 1.0},
    ),
]
_IDS = [g[0] for g in GRAPHS]

# Spark jobs of one three-superstep dataframe-mode batch on _batch_inputs
# (local[4], AQE on)
DATAFRAME_BATCH_JOBS_3_STEPS = 63


def _result(spark, rows, reset, damping, mode, tol=1e-10):
    edges = spark.createDataFrame(
        [(u, v, float(w), "fact") for u, v, w in rows],
        "src string, dst string, weight double, relation string",
    )
    rdf = spark.createDataFrame(
        [(k, float(v)) for k, v in reset.items()], "node_id string, reset_weight double"
    )
    res = personalized_pagerank(
        spark, edges, rdf, damping=damping, tol=tol, mode=mode, n_blocks=4
    )
    assert res.converged
    return res


def _run(spark, rows, reset, damping, mode, tol=1e-10):
    res = _result(spark, rows, reset, damping, mode, tol)
    return {r["node_id"]: r["score"] for r in res.ranks.collect()}


def _check(got, rows, reset, damping, atol=1e-6):
    want = ppr_exact(rows, reset, damping)
    assert set(got) == set(want)
    g = np.array([got[k] for k in sorted(got)])
    w = np.array([want[k] for k in sorted(want)])
    assert np.allclose(g, w, atol=atol), np.abs(g - w).max()
    assert abs(g.sum() - 1.0) < 1e-9


@pytest.mark.parametrize("name,rows,reset", GRAPHS, ids=_IDS)
@pytest.mark.parametrize("damping", [0.5, 0.85])
def test_local_mode_matches_exact_solve(spark, name, rows, reset, damping):
    got = _run(spark, rows, reset, damping, "local")
    _check(got, rows, reset, damping)


@pytest.mark.parametrize("name,rows,reset", GRAPHS, ids=_IDS)
def test_csr_mode_matches_exact_solve(spark, name, rows, reset):
    """mode='blocks' — the CSR-block kernel, which replaced mode='csr' —
    on every graph, NaN resets, zero-weight rows and hubs included."""
    got = _run(spark, rows, reset, 0.5, "blocks")
    _check(got, rows, reset, 0.5)


@pytest.mark.parametrize("name,rows,reset", GRAPHS[:2], ids=_IDS[:2])
def test_dataframe_mode_matches_exact_solve(spark, name, rows, reset):
    got = _run(spark, rows, reset, 0.5, "dataframe")
    _check(got, rows, reset, 0.5)


def _random_graph(n_nodes=120, n_edges=600, seed=7):
    rng = np.random.default_rng(seed)
    rows = []
    for _ in range(n_edges):
        u, v = rng.integers(0, n_nodes, 2)
        rows.append((f"n{u:03d}", f"n{v:03d}", float(rng.integers(1, 5))))
    rows = [(u, v, w) for u, v, w in rows if u != v]
    reset = {f"n{i:03d}": 1.0 for i in range(0, n_nodes, 17)}
    return rows, reset


@pytest.mark.parametrize("mode", ["local", "dataframe", "blocks"])
def test_modes_agree_on_random_graph(spark, mode):
    rows, reset = _random_graph()
    got = _run(spark, rows, reset, 0.85, mode, tol=1e-9)
    _check(got, rows, reset, 0.85)


def test_single_query_modes_report_same_supersteps(spark):
    """A single query is a batch of one in every mode: local and
    dataframe run the same number of supersteps and report one metrics
    dict per superstep."""
    rows, reset = _random_graph()
    local = _result(spark, rows, reset, 0.85, "local", tol=1e-9)
    frame = _result(spark, rows, reset, 0.85, "dataframe", tol=1e-9)
    assert local.iterations == frame.iterations
    for res in (local, frame):
        assert len(res.metrics) == res.iterations
        assert [m["superstep"] for m in res.metrics] == list(range(res.iterations))
        assert res.metrics[-1]["l1_delta"] < 1e-9


def test_reset_all_zero_raises(spark):
    """A single query whose reset is empty, or sums to 0 after clamping,
    raises in every mode."""
    edges = spark.createDataFrame(
        [("a", "b", 1.0, "fact")], "src string, dst string, weight double, relation string"
    )
    rdf = spark.createDataFrame(
        [("a", float("nan"))], "node_id string, reset_weight double"
    )
    for mode in ("local", "dataframe", "blocks"):
        with pytest.raises(ValueError):
            personalized_pagerank(spark, edges, rdf, mode=mode)
        with pytest.raises(ValueError):
            personalized_pagerank(spark, edges, rdf.limit(0), mode=mode)


# -------------------------------------------------------------------------
# Batch (multi-query) PPR: distributed dataframe mode vs driver-local
# matrix mode vs per-query single runs (VERDICT.md round-1 item 2)
# -------------------------------------------------------------------------

def _batch_inputs(spark):
    rows, _ = _random_graph(n_nodes=60, n_edges=260, seed=13)
    edges = spark.createDataFrame(
        [(u, v, float(w), "fact") for u, v, w in rows],
        "src string, dst string, weight double, relation string",
    )
    resets = {
        "q1": {"n000": 1.0, "n017": 2.0},
        "q2": {"n034": 1.0},
        "q3": {"n005": 0.5, "n051": 0.5, "n020": 1.0},
    }
    rrows = [(q, n, w) for q, d in resets.items() for n, w in d.items()]
    rdf = spark.createDataFrame(rrows, "query_id string, node_id string, reset_weight double")
    return rows, edges, resets, rdf


def test_batch_dataframe_matches_local_1e12(spark, count_jobs):
    """Batch PPR on a prepared LocalGraph, the edge-DataFrame mode='local'
    path and mode='dataframe' agree at 1e-12, including a reset node that
    is not an edge endpoint (q2) and a query seeded only there (q4)."""
    from pyspark.sql import functions as F

    from hipporag_spark.ppr import personalized_pagerank_batch, prepare_local_graph

    _, edges, _, rdf = _batch_inputs(spark)
    extra = spark.createDataFrame(
        [("q2", "zz-isolated", 0.7), ("q4", "zz-only", 1.0)],
        "query_id string, node_id string, reset_weight double")
    rdf = rdf.unionByName(extra)
    graph = prepare_local_graph(edges)
    assert "zz-isolated" not in graph.nodes

    def scores(df):
        return {(r["query_id"], r["node_id"]): r["score"] for r in df.collect()}

    prep = scores(personalized_pagerank_batch(spark, graph, rdf, damping=0.5, tol=1e-12))
    for mode in ("local", "dataframe"):
        other = scores(personalized_pagerank_batch(
            spark, edges, rdf, damping=0.5, tol=1e-12, mode=mode))
        assert set(prep) == set(other), mode
        assert max(abs(prep[k] - other[k]) for k in prep) < 1e-12, mode
    assert prep[("q4", "zz-only")] > 0.0

    # an empty reset batch: an empty frame, and the call runs no job beyond
    # the one collect of the reset vector (no separate emptiness pre-pass)
    def empty():
        return rdf.repartition(2).where(F.col("reset_weight") > 1e9)

    _, collect_jobs = count_jobs(lambda: empty().toPandas())
    assert collect_jobs > 0
    out, jobs = count_jobs(lambda: personalized_pagerank_batch(
        spark, graph, empty(), damping=0.5, tol=1e-12))
    assert jobs == collect_jobs
    assert out.collect() == []

    with pytest.raises(ValueError):
        personalized_pagerank_batch(spark, graph, rdf, mode="dataframe")


def test_batch_matches_single_query_runs(spark):
    from hipporag_spark.ppr import personalized_pagerank_batch

    rows, edges, resets, rdf = _batch_inputs(spark)
    batch = personalized_pagerank_batch(spark, edges, rdf, damping=0.85, tol=1e-12, mode="dataframe")
    bp = {(r["query_id"], r["node_id"]): r["score"] for r in batch.collect()}
    for q, reset in resets.items():
        single = _run(spark, rows, reset, 0.85, "local", tol=1e-12)
        for node, score in single.items():
            assert abs(bp[(q, node)] - score) < 1e-9, (q, node)


def test_batch_dataframe_checkpoint_resume(spark, tmp_path):
    from hipporag_spark.checkpoint import CheckpointStore
    from hipporag_spark.ppr import personalized_pagerank_batch

    _, edges, _, rdf = _batch_inputs(spark)
    ckpt = str(tmp_path / "batch_ckpt")
    # truncated run leaves a checkpoint behind, at its last superstep
    personalized_pagerank_batch(spark, edges, rdf, damping=0.5, tol=1e-12,
                                mode="dataframe", max_iter=6,
                                checkpoint_dir=ckpt, checkpoint_every=2)
    assert CheckpointStore(ckpt).latest_step() == 5
    resumed = personalized_pagerank_batch(spark, edges, rdf, damping=0.5, tol=1e-12,
                                          mode="dataframe",
                                          checkpoint_dir=ckpt, resume=True)
    full = personalized_pagerank_batch(spark, edges, rdf, damping=0.5, tol=1e-12, mode="local")
    rp = {(r["query_id"], r["node_id"]): r["score"] for r in resumed.collect()}
    fp = {(r["query_id"], r["node_id"]): r["score"] for r in full.collect()}
    for kk in fp:
        assert abs(rp[kk] - fp[kk]) < 1e-10, kk


def test_global_pagerank_uniform_reset(spark):
    """pagerank() == personalized_pagerank with a uniform reset over all
    endpoints — the north_rule's first named algorithm as a convenience."""
    from hipporag_spark.ppr import pagerank

    rows, _ = _random_graph(n_nodes=40, n_edges=200, seed=11)
    edges = spark.createDataFrame(
        [(u, v, float(w), "fact") for u, v, w in rows],
        "src string, dst string, weight double, relation string",
    )
    res = pagerank(spark, edges, damping=0.85, tol=1e-10, mode="local")
    assert res.converged
    got = {r["node_id"]: r["score"] for r in res.ranks.collect()}
    nodes = sorted(got)
    want = ppr_exact(rows, {n: 1.0 for n in nodes}, 0.85)
    for n in nodes:
        assert abs(got[n] - want[n]) < 1e-6, n


def test_batch_sparse_output_matches_dense_on_filter(spark):
    """output_nodes sparse contract: the sparse result equals the dense
    result restricted to the filter, minus exact-zero rows (absent row
    == score 0.0) — in BOTH physical modes, so the retriever's top-k is
    identical whichever path serves it."""
    from hipporag_spark.ppr import personalized_pagerank_batch

    _, edges, _, rdf = _batch_inputs(spark)
    flt_ids = [f"n{i:03d}" for i in range(0, 40)]
    flt = spark.createDataFrame([(x,) for x in flt_ids], "node_id string")
    for mode in ("local", "dataframe"):
        dense = personalized_pagerank_batch(
            spark, edges, rdf, damping=0.5, tol=1e-12, mode=mode)
        sparse = personalized_pagerank_batch(
            spark, edges, rdf, damping=0.5, tol=1e-12, mode=mode,
            output_nodes=flt)
        dp = {(r["query_id"], r["node_id"]): r["score"]
              for r in dense.collect()
              if r["node_id"] in set(flt_ids) and r["score"] != 0.0}
        sp = {(r["query_id"], r["node_id"]): r["score"]
              for r in sparse.collect()}
        assert set(sp) == set(dp), (mode, len(sp), len(dp))
        assert all(abs(sp[k] - dp[k]) < 1e-15 for k in sp), mode
        assert sp, "filter unexpectedly empty"


def test_dataframe_batch_job_budget(spark, count_jobs):
    """Spark jobs of one mode='dataframe' batch run of three supersteps: an
    extra per-superstep action (e.g. a count for metrics) fails this pin.
    The returned dense frame is lazy, so no output job is counted."""
    from hipporag_spark.ppr import personalized_pagerank_batch

    _, edges, _, rdf = _batch_inputs(spark)
    _, jobs = count_jobs(lambda: personalized_pagerank_batch(
        spark, edges, rdf, damping=0.85, tol=0.0, max_iter=3, mode="dataframe"))
    assert jobs <= DATAFRAME_BATCH_JOBS_3_STEPS, jobs


def test_resume_rejects_checkpoint_of_another_format(spark, tmp_path):
    """A resume reads a checkpoint only when its manifest carries the
    loop's state-format tag: an untagged single-query ``(idx, rank)``
    checkpoint, and a rank-matrix checkpoint offered to the dataframe
    loop, both raise naming the two tags instead of being misread."""
    from hipporag_spark.checkpoint import CheckpointStore
    from hipporag_spark.ppr import personalized_pagerank_batch

    _, edges, _, rdf = _batch_inputs(spark)
    old = str(tmp_path / "old_single_query")
    CheckpointStore(old).write(
        3, spark.createDataFrame([(0, 1.0)], "idx long, rank double"),
        {"superstep": 3, "l1_delta": 0.5, "mode": "local"})
    single = spark.createDataFrame([("n000", 1.0)], "node_id string, reset_weight double")
    with pytest.raises(ValueError, match=r"None.*ppr-rank-matrix"):
        personalized_pagerank(spark, edges, single, mode="local",
                              checkpoint_dir=old, resume=True)

    matrix = str(tmp_path / "matrix")
    personalized_pagerank_batch(spark, edges, rdf, mode="local", max_iter=2,
                                checkpoint_dir=matrix, checkpoint_every=1)
    with pytest.raises(ValueError, match=r"ppr-rank-matrix.*ppr-rank-table"):
        personalized_pagerank_batch(spark, edges, rdf, mode="dataframe",
                                    checkpoint_dir=matrix, resume=True)


def test_local_checkpoint_resume(spark, tmp_path):
    """The driver loop resumes a truncated local-mode batch from its last
    checkpoint to the uninterrupted scores, and a resume of a converged
    run runs no superstep."""
    from hipporag_spark.checkpoint import CheckpointStore
    from hipporag_spark.ppr import _run as run_engine

    _, edges, _, rdf = _batch_inputs(spark)
    ckpt = str(tmp_path / "local_ckpt")
    kw = dict(damping=0.5, tol=1e-12, mode="local")
    full = run_engine(spark, edges, rdf, max_iter=500, **kw)
    run_engine(spark, edges, rdf, max_iter=7, checkpoint_dir=ckpt, checkpoint_every=3, **kw)
    assert CheckpointStore(ckpt).latest_step() == 6
    resumed = run_engine(spark, edges, rdf, max_iter=500, checkpoint_dir=ckpt, resume=True, **kw)
    assert resumed.metrics[0]["superstep"] == 7
    assert resumed.converged and resumed.iterations == full.iterations
    want = {(r["query_id"], r["node_id"]): r["score"] for r in full.ranks.collect()}
    got = {(r["query_id"], r["node_id"]): r["score"] for r in resumed.ranks.collect()}
    assert got == want  # bitwise: the same float ops from the same state

    again = run_engine(spark, edges, rdf, max_iter=500, checkpoint_dir=ckpt, resume=True, **kw)
    assert again.metrics == [] and again.converged
