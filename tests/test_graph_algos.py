"""Connected components / LPA / triangles vs exact oracles (FIXTURES.md §6)."""

import pytest

from hipporag_spark.components import connected_components
from hipporag_spark.lpa import label_propagation
from hipporag_spark.triangles import triangle_count, triangles_per_vertex
from tests.reference_impl import components_exact, lpa_exact, triangles_exact

GRAPHS = [
    ("two_components", [("a", "b", 1.0), ("b", "c", 2.0), ("x", "y", 1.0)]),
    ("triangle_plus_tail", [("a", "b", 1.0), ("b", "c", 1.0), ("a", "c", 1.0), ("c", "d", 1.0)]),
    (
        "hub_with_ring",
        [(f"l{i:02d}", "hub", 1.0) for i in range(12)]
        + [(f"l{i:02d}", f"l{(i + 1) % 12:02d}", 1.0) for i in range(12)],
    ),
    ("parallel_edges", [("a", "b", 1.0), ("b", "a", 3.0), ("b", "c", 1.0), ("c", "a", 1.0)]),
]
_IDS = [g[0] for g in GRAPHS]


def _edges_df(spark, rows):
    return spark.createDataFrame(
        [(u, v, float(w), "fact") for u, v, w in rows],
        "src string, dst string, weight double, relation string",
    )


@pytest.mark.parametrize("name,rows", GRAPHS, ids=_IDS)
@pytest.mark.parametrize("mode", ["local", "dataframe"])
def test_connected_components(spark, name, rows, mode):
    res = connected_components(spark, _edges_df(spark, rows), mode=mode)
    assert res.converged
    got = {r["node_id"]: r["component"] for r in res.components.collect()}
    assert got == components_exact(rows)


def test_connected_components_isolated_nodes(spark):
    rows = [("a", "b", 1.0)]
    extra = spark.createDataFrame([("z",)], "node_id string")
    res = connected_components(spark, _edges_df(spark, rows), extra_nodes=extra, mode="local")
    got = {r["node_id"]: r["component"] for r in res.components.collect()}
    assert got == {"a": "a", "b": "a", "z": "z"}


@pytest.mark.parametrize("name,rows", GRAPHS, ids=_IDS)
def test_label_propagation_local_matches_reference(spark, name, rows):
    res = label_propagation(spark, _edges_df(spark, rows), max_iter=20, mode="local")
    got = {r["node_id"]: r["label"] for r in res.labels.collect()}
    assert got == lpa_exact(rows, max_iter=20)


@pytest.mark.parametrize("name,rows", GRAPHS[1:3], ids=_IDS[1:3])
def test_label_propagation_dataframe_matches_reference(spark, name, rows):
    res = label_propagation(spark, _edges_df(spark, rows), max_iter=8, mode="dataframe")
    got = {r["node_id"]: r["label"] for r in res.labels.collect()}
    assert got == lpa_exact(rows, max_iter=8)


@pytest.mark.parametrize("name,rows", GRAPHS, ids=_IDS)
def test_triangle_count(spark, name, rows):
    assert triangle_count(_edges_df(spark, rows)) == triangles_exact(rows)


def test_triangles_per_vertex(spark):
    rows = [("a", "b", 1.0), ("b", "c", 1.0), ("a", "c", 1.0), ("c", "d", 1.0)]
    got = {r["node_id"]: r["triangles"] for r in triangles_per_vertex(_edges_df(spark, rows)).collect()}
    assert got == {"a": 1, "b": 1, "c": 1}


# -------------------------------------------------------------------------
# Round-2 cluster-scale refinements (VERDICT.md "What's missing" #5)
# -------------------------------------------------------------------------

@pytest.mark.parametrize("name,rows", GRAPHS, ids=_IDS)
def test_connected_components_star_mode(spark, name, rows):
    """Large-star/small-star alternation — same canonical min-labeling as
    the local union-find oracle."""
    res = connected_components(spark, _edges_df(spark, rows), mode="star")
    assert res.converged
    got = {r["node_id"]: r["component"] for r in res.components.collect()}
    assert got == components_exact(rows)


def test_star_mode_beats_diameter_on_path_graph(spark):
    """A 40-node path has diameter 39: min-label needs ~39 supersteps,
    star converges in O(log^2 n) — the reason it is the 10^12-edge mode."""
    rows = [(f"n{i:02d}", f"n{i + 1:02d}", 1.0) for i in range(39)]
    star = connected_components(spark, _edges_df(spark, rows), mode="star")
    assert star.converged
    got = {r["node_id"]: r["component"] for r in star.components.collect()}
    assert got == components_exact(rows)
    assert star.iterations <= 8, star.iterations  # log-ish, not 39


def test_star_mode_isolated_nodes(spark):
    rows = [("a", "b", 1.0)]
    extra = spark.createDataFrame([("z",)], "node_id string")
    res = connected_components(spark, _edges_df(spark, rows), extra_nodes=extra, mode="star")
    got = {r["node_id"]: r["component"] for r in res.components.collect()}
    assert got == {"a": "a", "b": "a", "z": "z"}


@pytest.mark.parametrize("name,rows", GRAPHS, ids=_IDS)
def test_triangle_degree_ordering_same_count(spark, name, rows):
    """Degree-ordering (hub-proof orientation) counts the same triangles."""
    e = _edges_df(spark, rows)
    assert triangle_count(e, ordering="degree") == triangles_exact(rows)


def test_triangle_degree_ordering_random(spark):
    import numpy as np

    rng = np.random.default_rng(3)
    rows = []
    for _ in range(300):
        u, v = rng.integers(0, 40, 2)
        if u != v:
            rows.append((f"n{u:02d}", f"n{v:02d}", 1.0))
    e = _edges_df(spark, rows)
    assert triangle_count(e, ordering="degree") == triangle_count(e, ordering="id")


def test_clustering_coefficient(spark):
    """Triangle+tail graph: 1 triangle; degrees a=2,b=2,c=3,d=1 →
    wedges = 1+1+3+0 = 5 → C = 3/5."""
    from hipporag_spark.triangles import clustering_coefficient

    rows = [("a", "b", 1.0), ("b", "c", 1.0), ("a", "c", 1.0), ("c", "d", 1.0)]
    row = clustering_coefficient(_edges_df(spark, rows)).collect()[0]
    assert row["n_triangles"] == 1 and row["n_wedges"] == 5
    assert abs(row["global_cc"] - 0.6) < 1e-12


def test_cc_star_nonconverged_emits_one_label_per_node(spark):
    """If max_iter halts star-contraction early, labels must still be one
    row per node (min-aggregated), never duplicated (ADVICE r2)."""
    from hipporag_spark.components import _cc_star
    from pyspark.sql import functions as F

    # long path graph: needs several star rounds to converge
    n = 64
    edges = spark.createDataFrame(
        [(f"n{i:03d}", f"n{i+1:03d}") for i in range(n - 1)], "src string, dst string")
    und = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    nodes = spark.createDataFrame([(f"n{i:03d}",) for i in range(n)], "node_id string")
    res = _cc_star(spark, und, nodes, max_iter=1)
    assert not res.converged
    out = res.components.collect()
    assert len(out) == n
    assert len({r["node_id"] for r in out}) == n


# ---------------------------------------------------------------------------
# k-core decomposition + BFS distances (hipporag_spark.kcore)
# ---------------------------------------------------------------------------

from hipporag_spark.kcore import bfs_distances, core_decomposition  # noqa: E402
from tests.reference_impl import bfs_exact, coreness_exact  # noqa: E402


@pytest.mark.parametrize("name,rows", GRAPHS, ids=_IDS)
@pytest.mark.parametrize("mode", ["local", "dataframe"])
def test_core_decomposition(spark, name, rows, mode):
    res = core_decomposition(spark, _edges_df(spark, rows), mode=mode)
    assert res.converged
    got = {r["node_id"]: r["coreness"] for r in res.coreness.collect()}
    assert got == coreness_exact(rows)


def test_core_decomposition_known_values(spark):
    # 4-clique (core 3) bridged to a path (core 1)
    clique = [(a, b, 1.0) for a in "abcd" for b in "abcd" if a < b]
    rows = clique + [("d", "e", 1.0), ("e", "f", 1.0)]
    res = core_decomposition(spark, _edges_df(spark, rows), mode="dataframe")
    got = {r["node_id"]: r["coreness"] for r in res.coreness.collect()}
    assert got == {"a": 3, "b": 3, "c": 3, "d": 3, "e": 1, "f": 1}
    # monotone-decreasing estimates converge: last superstep changed nothing
    assert res.metrics[-1]["estimates_changed"] == 0


@pytest.mark.parametrize("name,rows", GRAPHS, ids=_IDS)
def test_bfs_distances(spark, name, rows):
    seeds = [rows[0][0]]
    got = {
        r["node_id"]: r["dist"]
        for r in bfs_distances(spark, _edges_df(spark, rows), seeds, max_hops=3).collect()
    }
    assert got == bfs_exact(rows, seeds, max_hops=3)


def test_bfs_distances_multi_seed_and_bound(spark):
    rows = [(f"n{i}", f"n{i+1}", 1.0) for i in range(8)]  # path n0..n8
    df = _edges_df(spark, rows)
    got = {r["node_id"]: r["dist"]
           for r in bfs_distances(spark, df, ["n0", "n8"], max_hops=2).collect()}
    assert got == {"n0": 0, "n8": 0, "n1": 1, "n7": 1, "n2": 2, "n6": 2}
    # seeds not present in the graph contribute nothing
    got2 = {r["node_id"]: r["dist"]
            for r in bfs_distances(spark, df, ["zz"], max_hops=2).collect()}
    assert got2 == {}


@pytest.mark.parametrize("seed", [11, 23, 47])
def test_frontier_lpa_matches_reference_on_random_graphs(spark, seed):
    """Randomized sweep targeted at the r4 frontier half-steps (gather
    only nodes adjacent to changed labels; skip empty frontiers): the
    dataframe mode must equal the exact non-frontier reference on
    weighted random graphs with skewed degrees, where per-color
    convergence times diverge and the skip logic actually engages."""
    import numpy as np

    rng = np.random.default_rng(seed)
    n = 36
    rows = []
    for _ in range(110):
        u = int(rng.integers(0, n))
        v = int(rng.integers(0, n)) if rng.random() > 0.3 else 0  # hub pull
        if u == v:
            continue
        rows.append((f"n{u:02d}", f"n{v:02d}", float(rng.integers(1, 4))))
    res = label_propagation(spark, _edges_df(spark, rows), max_iter=30,
                            mode="dataframe")
    assert res.converged
    got = {r["node_id"]: r["label"] for r in res.labels.collect()}
    assert got == lpa_exact(rows, max_iter=30)


@pytest.mark.parametrize("op", [connected_components, label_propagation, core_decomposition])
def test_unknown_mode_raises(spark, op):
    """A mode string no operator knows fails loudly, naming the mode,
    instead of silently running the distributed loop."""
    with pytest.raises(ValueError, match="'starr'"):
        op(spark, _edges_df(spark, GRAPHS[0][1]), mode="starr")
