"""CSR-block superstep path (prepare_csr_blocks + ppr_from_blocks) vs the
exact in-memory reference path, including unit/non-unit weights, dangling
nodes, and checkpoint resume."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from hipporag_spark import ppr
from hipporag_spark.checkpoint import CheckpointStore
from hipporag_spark.ppr import (
    personalized_pagerank,
    ppr_from_blocks,
    prepare_csr_blocks,
)

N = 500


def _random_edges(spark, seed=0, n_edges=3000, weighted=False):
    rng = np.random.default_rng(seed)
    src = rng.integers(0, N, n_edges)
    # leave nodes [N-20, N) without any incident edge half the time → some
    # may appear only via reset (dangling)
    dst = rng.integers(0, N - 20, n_edges)
    w = rng.uniform(0.5, 3.0, n_edges) if weighted else np.ones(n_edges)
    pdf = pd.DataFrame({"src": src, "dst": dst, "weight": w})
    return spark.createDataFrame(pdf)


def _reference_scores(spark, edges, reset, damping):
    es = edges.select(
        F.col("src").cast("string").alias("src"),
        F.col("dst").cast("string").alias("dst"),
        "weight",
    )
    rdf = spark.createDataFrame(
        pd.DataFrame(
            {"node_id": [str(i) for i in np.flatnonzero(reset)],
             "reset_weight": reset[reset > 0]}
        )
    )
    res = personalized_pagerank(
        spark, es, rdf, damping=damping, tol=1e-12, max_iter=300,
        mode="local", local_edge_limit=10**9,
    )
    pdf = res.ranks.toPandas()
    pdf["idx"] = pdf["node_id"].astype(int)
    out = np.zeros(N)
    out[pdf["idx"].to_numpy()] = pdf["score"].to_numpy()
    return out


@pytest.mark.parametrize("unit", [True, False])
def test_blocks_match_reference(spark, tmp_path, unit):
    edges = _random_edges(spark, seed=1, weighted=not unit)
    out = str(tmp_path / f"blocks_{unit}")
    prepare_csr_blocks(spark, edges, out, n_blocks=4, int_ids=N, unit_weights=unit)
    reset = np.zeros(N)
    reset[[3, 77, 123]] = [0.2, 0.5, 0.3]
    got = ppr_from_blocks(spark, out, reset, damping=0.85, tol=1e-12, max_iter=300)
    gp = got.ranks.toPandas()
    gp["idx"] = gp["node_id"].astype(int)
    gv = np.zeros(N)
    gv[gp["idx"].to_numpy()] = gp["score"].to_numpy()
    ref = _reference_scores(spark, edges, reset, 0.85)
    # reference universe = edge endpoints ∪ reset nodes; blocks universe =
    # [0, N) — compare on the reference's support
    mask = ref > 0
    assert np.allclose(gv[mask], ref[mask], atol=1e-9)
    assert got.converged


def test_blocks_resume_matches_uninterrupted(spark, tmp_path):
    edges = _random_edges(spark, seed=2)
    out = str(tmp_path / "blocks_resume")
    prepare_csr_blocks(spark, edges, out, n_blocks=4, int_ids=N, unit_weights=True)
    reset = np.zeros(N)
    reset[:4] = 1.0

    full = ppr_from_blocks(spark, out, reset, damping=0.85, tol=1e-11, max_iter=200)
    fv = full.ranks.toPandas().sort_values("node_id")

    store = CheckpointStore(str(tmp_path / "ckpt"))
    ppr_from_blocks(spark, out, reset, damping=0.85, tol=1e-11, max_iter=5,
                    store=store, checkpoint_every=1)
    assert store.latest_step() == 4
    resumed = ppr_from_blocks(spark, out, reset, damping=0.85, tol=1e-11,
                              max_iter=200, store=store, resume=True)
    rv = resumed.ranks.toPandas().sort_values("node_id")
    assert np.allclose(fv["score"].to_numpy(), rv["score"].to_numpy(), atol=1e-9)
    assert resumed.metrics[0]["superstep"] == 5  # picked up mid-iteration


def test_blocks_reject_zero_reset(spark, tmp_path):
    edges = _random_edges(spark, seed=3)
    out = str(tmp_path / "blocks_zero")
    prepare_csr_blocks(spark, edges, out, n_blocks=2, int_ids=N, unit_weights=True)
    with pytest.raises(ValueError):
        ppr_from_blocks(spark, out, np.zeros(N))


@pytest.mark.parametrize("unit", [True, False])
def test_batched_matches_per_job(spark, tmp_path, unit, monkeypatch):
    """K supersteps per barrier job ≡ one superstep per job, bitwise (the
    same kernel and blend order; the rank matrix crosses job boundaries
    unchanged)."""
    edges = _random_edges(spark, seed=4, weighted=not unit)
    out = str(tmp_path / f"blocks_batched_{unit}")
    prepare_csr_blocks(spark, edges, out, n_blocks=4, int_ids=N, unit_weights=unit)
    reset = np.zeros(N)
    reset[[1, 200, 499]] = [0.25, 0.5, 0.25]

    monkeypatch.setattr(ppr, "STEPS_PER_JOB", 1)
    base = ppr_from_blocks(spark, out, reset, damping=0.85, tol=1e-11, max_iter=200)
    monkeypatch.setattr(ppr, "STEPS_PER_JOB", 7)
    got = ppr_from_blocks(spark, out, reset, damping=0.85, tol=1e-11, max_iter=200)
    bv = base.ranks.toPandas().sort_values("node_id")["score"].to_numpy()
    gv = got.ranks.toPandas().sort_values("node_id")["score"].to_numpy()
    assert np.array_equal(bv, gv)  # bitwise: identical float ops in order
    assert got.converged and got.iterations == base.iterations
    assert all(m["mode"] == "blocks" for m in got.metrics)


def test_batched_checkpoint_resume(spark, tmp_path):
    edges = _random_edges(spark, seed=5)
    out = str(tmp_path / "blocks_batched_resume")
    prepare_csr_blocks(spark, edges, out, n_blocks=4, int_ids=N, unit_weights=True)
    reset = np.zeros(N)
    reset[:3] = 1.0

    full = ppr_from_blocks(spark, out, reset, damping=0.85, tol=1e-11, max_iter=200)
    store = CheckpointStore(str(tmp_path / "ckpt_b"))
    ppr_from_blocks(spark, out, reset, damping=0.85, tol=1e-11, max_iter=8,
                    store=store, checkpoint_every=8)
    latest = store.latest_step()
    assert latest == 7
    # per-partition lineage recorded with the batch checkpoint
    manifest = store.lineage()[-1]
    assert manifest["partitions"] and all("wall_ms" in p for p in manifest["partitions"])
    resumed = ppr_from_blocks(spark, out, reset, damping=0.85, tol=1e-11,
                              max_iter=200, store=store, checkpoint_every=8,
                              resume=True)
    fv = full.ranks.toPandas().sort_values("node_id")["score"].to_numpy()
    rv = resumed.ranks.toPandas().sort_values("node_id")["score"].to_numpy()
    assert np.allclose(fv, rv, atol=1e-9)
    assert resumed.metrics[0]["superstep"] == 8


def test_string_id_layout_matches_local(spark, tmp_path):
    """String ids densified by ``_dense_ids`` (range-partition +
    per-partition offsets — no single-partition global window, VERDICT.md
    round-1 item 8), then laid out by prepare_csr_blocks: scores equal
    the local mode after translating through the persisted id map."""
    from hipporag_spark.ppr import _dense_ids

    rng = np.random.default_rng(5)
    rows = []
    for _ in range(400):
        u, v = rng.integers(0, 50, 2)
        if u != v:
            rows.append((f"node{u:02d}", f"node{v:02d}", float(rng.integers(1, 4))))
    edges = spark.createDataFrame(rows, "src string, dst string, weight double")
    out = str(tmp_path / "strblocks")
    universe = edges.select(F.col("src").alias("node_id")).unionByName(
        edges.select(F.col("dst").alias("node_id"))).distinct()
    idx, n = _dense_ids(spark, universe, str(tmp_path / "id_map"))
    edges_int = (
        edges.join(idx.withColumnRenamed("node_id", "src")
                      .withColumnRenamed("idx", "src_i"), "src")
        .join(idx.withColumnRenamed("node_id", "dst")
                 .withColumnRenamed("idx", "dst_i"), "dst")
        .select(F.col("src_i").alias("src"), F.col("dst_i").alias("dst"), "weight")
    )
    prepare_csr_blocks(spark, edges_int, out, n_blocks=4, int_ids=n)
    id_map = {r["node_id"]: r["idx"] for r in idx.collect()}
    # dense ids are the global sorted rank, 0..n-1, regardless of
    # partitioning
    assert sorted(id_map.values()) == list(range(len(id_map)))
    assert [k for k, _ in sorted(id_map.items(), key=lambda kv: kv[1])] == sorted(id_map)

    seed = "node00" if "node00" in id_map else sorted(id_map)[0]
    reset = np.zeros(len(id_map))
    reset[id_map[seed]] = 1.0
    res = ppr_from_blocks(spark, out, reset, damping=0.85, tol=1e-12)
    got = {r["node_id"]: r["score"] for r in res.ranks.collect()}

    rdf = spark.createDataFrame([(seed, 1.0)], "node_id string, reset_weight double")
    want = personalized_pagerank(
        spark, edges.withColumn("relation", F.lit("fact")), rdf,
        damping=0.85, tol=1e-12, mode="local").ranks.collect()
    for r in want:
        assert abs(got[str(id_map[r["node_id"]])] - r["score"]) < 1e-9, r["node_id"]


def test_batched_isolated_ids_blend(spark, tmp_path, monkeypatch):
    """Node ids declared via int_ids but absent from every edge sit past
    the last block span in the relabeled layout (no block owns them).
    The barrier job must still blend them from the reset each superstep —
    bitwise equal across job lengths — instead of leaving uninitialized
    memory in the rank vector."""
    n = 64
    pdf = pd.DataFrame({
        "src": [0, 1, 2, 3, 4, 5, 6, 7],
        "dst": [1, 2, 3, 0, 5, 6, 7, 4],
        "weight": np.ones(8),
    })
    edges = spark.createDataFrame(pdf)  # ids 8..63 appear in no edge
    out = str(tmp_path / "blocks_isolated")
    prepare_csr_blocks(spark, edges, out, n_blocks=4, int_ids=n,
                       unit_weights=True)
    reset = np.zeros(n)
    reset[[0, 30, 63]] = [0.5, 0.25, 0.25]  # seeds include isolated ids

    monkeypatch.setattr(ppr, "STEPS_PER_JOB", 1)
    base = ppr_from_blocks(spark, out, reset, damping=0.85, tol=1e-9,
                           max_iter=300)
    monkeypatch.setattr(ppr, "STEPS_PER_JOB", 5)
    got = ppr_from_blocks(spark, out, reset, damping=0.85, tol=1e-9,
                          max_iter=300)
    bv = base.ranks.toPandas().sort_values("node_id")["score"].to_numpy()
    gv = got.ranks.toPandas().sort_values("node_id")["score"].to_numpy()
    assert np.array_equal(bv, gv)
    assert got.converged and got.iterations == base.iterations
    # isolated seeds hold reset mass; isolated non-seeds converge to 0
    pdf_scores = got.ranks.toPandas()
    s = {int(r["node_id"]): r["score"] for _, r in pdf_scores.iterrows()}
    assert s[30] > 0 and s[63] > 0
    assert s[10] == 0.0


@pytest.mark.parametrize("unit", [True, False])
def test_blocks_distributed_assignment_matches_reference(spark, tmp_path, unit,
                                                         monkeypatch):
    """The block assignment (hub-LPT + cumulative-degree range split,
    VERDICT r3 item 2) must (a) never collect a per-node relation to the
    driver — toPandas is poisoned for the whole prepare call — and (b)
    produce a layout whose PPR scores match the exact reference."""
    import pyspark.sql as pssql

    edges = _random_edges(spark, seed=5, weighted=not unit)
    out = str(tmp_path / f"blocks_dist_{unit}")

    def _boom(self):
        raise AssertionError("toPandas called inside distributed prepare")

    monkeypatch.setattr(pssql.DataFrame, "toPandas", _boom)
    try:
        meta = prepare_csr_blocks(spark, edges, out, n_blocks=4, int_ids=N,
                                  unit_weights=unit)
    finally:
        monkeypatch.undo()
    assert meta["layout"] == "relabeled"
    assert sum(meta["block_sizes"]) <= N
    reset = np.zeros(N)
    reset[[3, 77, 123]] = [0.2, 0.5, 0.3]
    got = ppr_from_blocks(spark, out, reset, damping=0.85, tol=1e-12,
                          max_iter=300)
    gp = got.ranks.toPandas()
    gp["idx"] = gp["node_id"].astype(int)
    gv = np.zeros(N)
    gv[gp["idx"].to_numpy()] = gp["score"].to_numpy()
    ref = _reference_scores(spark, edges, reset, 0.85)
    mask = ref > 0
    assert np.allclose(gv[mask], ref[mask], atol=1e-9)
    assert got.converged


def test_blocks_distributed_assignment_is_balanced(spark, tmp_path):
    """Per-block edge counts under the distributed assignment stay within
    the documented bound of perfect balance even with Zipf-skewed hubs
    (the top hub here holds ~8% of all edges)."""
    rng = np.random.default_rng(9)
    n_edges = 20000
    src = rng.integers(0, N, n_edges)
    u = rng.uniform(size=n_edges)
    dst = np.minimum((N * u**3).astype(int), N - 1)  # hub-heavy
    pdf = pd.DataFrame({"src": src, "dst": dst, "weight": np.ones(n_edges)})
    edges = spark.createDataFrame(pdf)
    out = str(tmp_path / "blocks_skew")
    prepare_csr_blocks(spark, edges, out, n_blocks=8, int_ids=N,
                       unit_weights=True)
    per_block = {
        r["block"]: r["cnt"]
        for r in spark.read.parquet(f"{out}/blocks")
        .groupBy("block").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    counts = np.array([per_block.get(b, 0) for b in range(8)])
    mean = counts.mean()
    assert counts.max() <= 1.25 * mean, (counts.tolist(), mean)


def test_unknown_block_layout_raises(spark, tmp_path):
    """A layout prepare_csr_blocks does not write (here the retired
    'balanced' one) is rejected instead of being read as another."""
    import json

    from hipporag_spark.ppr import _load_blocks_ctx

    out = str(tmp_path / "blocks_layout")
    prepare_csr_blocks(spark, _random_edges(spark, seed=6, n_edges=200), out,
                       n_blocks=2, int_ids=N, unit_weights=True)
    with open(f"{out}/meta.json") as f:
        meta = json.load(f)
    meta["layout"] = "balanced"
    with open(f"{out}/meta.json", "w") as f:
        json.dump(meta, f)
    with pytest.raises(ValueError, match="balanced"):
        _load_blocks_ctx(spark, out)
