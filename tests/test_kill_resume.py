"""North_rule resumability, demonstrated with a real kill: a separate
driver process runs block-superstep PPR — single-reset and blocks-mode
batch — with per-superstep checkpoints, is SIGKILLed mid-iteration, and a
fresh run with ``resume=True`` continues from the last durable checkpoint
to the same converged scores as an uninterrupted run."""

import os
import signal
import subprocess
import sys
import time

import numpy as np
import pytest

from hipporag_spark.checkpoint import CheckpointStore
from hipporag_spark.ppr import (
    personalized_pagerank_batch,
    ppr_from_blocks,
    prepare_csr_blocks,
)

N = 400

RUNNER = """
import sys
import numpy as np
from hipporag_spark.session import get_spark
from hipporag_spark.checkpoint import CheckpointStore
from hipporag_spark.ppr import ppr_from_blocks

blocks, ckpt = sys.argv[1], sys.argv[2]
spark = get_spark("kill-victim", cores=2, shuffle_partitions=4)
reset = np.zeros({n})
reset[:5] = 1.0
# tol=0: runs until max_iter or the kill, checkpointing every superstep
ppr_from_blocks(spark, blocks, reset, damping=0.85, tol=0.0, max_iter=500,
                store=CheckpointStore(ckpt), checkpoint_every=1)
"""


def _wait_then_kill(proc, store, min_step):
    """SIGKILLs ``proc`` once ``store`` holds a durable step ≥ ``min_step``."""
    deadline = time.time() + 300
    try:
        while time.time() < deadline:
            latest = store.latest_step()
            if latest is not None and latest >= min_step:
                break
            if proc.poll() is not None:
                raise AssertionError(f"victim exited before reaching step {min_step}")
            time.sleep(0.1)
        else:
            raise AssertionError(f"victim never reached superstep {min_step}")
        proc.send_signal(signal.SIGKILL)  # hard kill mid-iteration
    finally:
        proc.wait(timeout=60)


def test_sigkill_mid_iteration_then_resume(spark, tmp_path):
    rng = np.random.default_rng(7)
    import pandas as pd

    pdf = pd.DataFrame({
        "src": rng.integers(0, N, 2500),
        "dst": rng.integers(0, N, 2500),
        "weight": np.ones(2500),
    })
    edges = spark.createDataFrame(pdf)
    blocks = str(tmp_path / "blocks_kill")
    prepare_csr_blocks(spark, edges, blocks, n_blocks=4, int_ids=N,
                       unit_weights=True)
    reset = np.zeros(N)
    reset[:5] = 1.0

    # uninterrupted ground truth (same tol/damping as the resumed run)
    full = ppr_from_blocks(spark, blocks, reset, damping=0.85, tol=1e-11,
                           max_iter=300)
    fv = full.ranks.toPandas().sort_values("node_id")["score"].to_numpy()

    # victim process: checkpoints every superstep until killed
    ckpt = str(tmp_path / "ckpt_kill")
    env = dict(os.environ, PYTHONPATH=os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    proc = subprocess.Popen(
        [sys.executable, "-c", RUNNER.format(n=N), blocks, ckpt],
        env=env, cwd=str(tmp_path),
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
    )
    store = CheckpointStore(ckpt)
    _wait_then_kill(proc, store, 3)

    killed_at = store.latest_step()
    assert killed_at is not None and killed_at >= 3

    # resume in THIS process from the durable checkpoint
    resumed = ppr_from_blocks(spark, blocks, reset, damping=0.85, tol=1e-11,
                              max_iter=300, store=store, resume=True)
    assert resumed.metrics[0]["superstep"] == killed_at + 1
    rv = resumed.ranks.toPandas().sort_values("node_id")["score"].to_numpy()
    assert np.allclose(fv, rv, atol=1e-9)


BATCH_RUNNER = """
import sys
from hipporag_spark.session import get_spark
from hipporag_spark.ppr import personalized_pagerank_batch

edges, resets, ckpt = sys.argv[1], sys.argv[2], sys.argv[3]
spark = get_spark("kill-victim-batch", cores=2, shuffle_partitions=4)
personalized_pagerank_batch(
    spark, spark.read.parquet(edges), spark.read.parquet(resets),
    damping=0.5, tol={tol}, max_iter=500, mode="blocks", n_blocks=4,
    query_chunk=2, checkpoint_dir=ckpt, checkpoint_every=1)
"""


def test_sigkill_blocks_batch_then_resume(spark, tmp_path, checkpoint_writes):
    """Blocks-mode batch PPR with two query chunks is killed inside the
    second chunk, after the first converged.  The resume rebuilds the
    layout (``blocks_dir=None``), runs no superstep of the first chunk,
    continues the second from ``killed_at + 1`` and matches an
    uninterrupted run at 1e-12."""
    import pandas as pd

    tol = 1e-13
    rng = np.random.default_rng(11)
    n_edges = 2500
    edges_pdf = pd.DataFrame({
        "src": [f"n{i:03d}" for i in rng.integers(0, N, n_edges)],
        "dst": [f"n{i:03d}" for i in rng.integers(0, N, n_edges)],
        "weight": rng.uniform(0.5, 2.0, n_edges),
    })
    resets_pdf = pd.DataFrame({
        "query_id": ["q0", "q0", "q1", "q2", "q3", "q3"],
        "node_id": ["n000", "n001", "n002", "n003", "n004", "zz-isolated"],
        "reset_weight": [1.0, 2.0, 1.0, 1.0, 1.0, 0.5],
    })
    edges_path, resets_path = str(tmp_path / "edges"), str(tmp_path / "resets")
    spark.createDataFrame(edges_pdf).write.parquet(edges_path)
    spark.createDataFrame(resets_pdf).write.parquet(resets_path)
    edges, resets = spark.read.parquet(edges_path), spark.read.parquet(resets_path)
    kw = dict(damping=0.5, tol=tol, max_iter=500, mode="blocks", n_blocks=4,
              query_chunk=2)

    def scores(df):
        return {(r["query_id"], r["node_id"]): r["score"] for r in df.collect()}

    full = scores(personalized_pagerank_batch(spark, edges, resets, **kw))

    ckpt = str(tmp_path / "ckpt_batch")
    env = dict(os.environ, TMPDIR=str(tmp_path), PYTHONPATH=os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))))
    proc = subprocess.Popen(
        [sys.executable, "-c", BATCH_RUNNER.format(tol=tol), edges_path,
         resets_path, ckpt],
        env=env, cwd=str(tmp_path),
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
    )
    second = CheckpointStore(os.path.join(ckpt, "chunk=1"))
    _wait_then_kill(proc, second, 3)
    killed_at = second.latest_step()
    assert killed_at is not None and killed_at >= 3
    first = CheckpointStore(os.path.join(ckpt, "chunk=0"))
    assert first.lineage()[-1]["metrics"]["l1_delta"] < tol

    resumed = scores(personalized_pagerank_batch(
        spark, edges, resets, checkpoint_dir=ckpt, checkpoint_every=1,
        resume=True, **kw))
    # the converged first chunk runs no superstep; the second resumes
    assert {root for root, _ in checkpoint_writes} == {second.root}
    assert checkpoint_writes[0][1] == killed_at + 1
    assert set(resumed) == set(full)
    assert max(abs(resumed[k] - full[k]) for k in full) < 1e-12
