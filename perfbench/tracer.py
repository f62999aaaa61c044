"""Per-layer spans recorded from outside the package.

``Tracer.install()`` replaces the public entry points listed in
``ENTRY_POINTS`` with wrappers, in their defining module and in every
``hipporag_spark`` module that imported them by name, so calls between
modules are traced too.  Each call becomes a span: it sets a Spark job
group of its own for its duration, so every job Spark runs is attributed
to the innermost open span, and at exit it records wall time plus the
jobs, stages and tasks of its group.  ``uninstall()`` restores the
originals.

Spark is lazy: a span around a call that only builds a plan holds no
jobs; the jobs land in the span of whichever call runs the action.  The
benchmark therefore opens a root span (layer ``pass``) around each timed
operation, action included.

Only driver-side entry points are wrapped.  Functions that run inside
pandas UDFs are left alone, because a UDF closure would otherwise pickle
the wrapper, and with it the tracer, to the Python workers.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

ENTRY_POINTS = {
    "retrieve": ["GraphRetriever.__init__", "GraphRetriever.retrieve",
                 "GraphRetriever.phrase_weights", "GraphRetriever.dpr_scores",
                 "pad_to_dense_topk"],
    "ppr": ["personalized_pagerank_batch", "personalized_pagerank"],
    "knn": ["cosine_topk_with_stats", "cosine_topk", "synonym_edges"],
    "embed": ["with_embeddings"],
    "extract": ["extract_all"],
    "graph": ["build_graph", "symmetrize"],
    "components": ["connected_components"],
    "lpa": ["label_propagation"],
    "triangles": ["triangle_count"],
    "engine": ["HippoIndex.index", "HippoIndex.retriever"],
    "catalog": ["Catalog.write", "Catalog.append", "Catalog.upsert_delta",
                "Catalog.replace_keys", "Catalog.delete_keys"],
    "api": ["HippoService.index_docs", "HippoService.retrieve_docs"],
    "tenants": ["MultiTenantManager.get"],
}

_GROUP = "spark.jobGroup.id"
_DESC = "spark.job.description"


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    wall: float = 0.0
    overhead: float = 0.0  # the tracer's own time for this span, outside ``wall``
    jobs: int = 0      # jobs run while this span was the innermost one
    stages: int = 0
    tasks: int = 0


@dataclass
class Recording:
    spans: list[Span] = field(default_factory=list)

    @property
    def overhead_s(self) -> float:
        """Time the tracer itself spent setting groups and counting."""
        return sum(s.overhead for s in self.spans)

    def layer_totals(self, key=lambda s: s.layer) -> dict[str, dict[str, float]]:
        """Per layer (or other ``key`` of a span): ``wall_s``, ``jobs``,
        ``stages`` and ``tasks`` over its outermost spans, children
        included; and ``self_s``, the wall of its spans minus their
        direct children.  The tracer's own time inside a span, spent on
        its descendants, is left out of both walls."""
        by_id = {s.id: s for s in self.spans}
        incl = {s.id: [s.jobs, s.stages, s.tasks] for s in self.spans}
        child_wall = {s.id: 0.0 for s in self.spans}
        inner_overhead = {s.id: 0.0 for s in self.spans}
        for s in self.spans:
            if s.parent in by_id:
                child_wall[s.parent] += s.wall + s.overhead
            p = s.parent
            while p in by_id:
                for i, v in enumerate((s.jobs, s.stages, s.tasks)):
                    incl[p][i] += v
                inner_overhead[p] += s.overhead
                p = by_id[p].parent
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            t = out.setdefault(key(s), dict(wall_s=0.0, self_s=0.0, jobs=0, stages=0, tasks=0))
            t["self_s"] += s.wall - child_wall[s.id]
            p, nested = s.parent, False
            while p in by_id:
                if key(by_id[p]) == key(s):
                    nested = True
                    break
                p = by_id[p].parent
            if not nested:
                t["wall_s"] += s.wall - inner_overhead[s.id]
                for k, v in zip(("jobs", "stages", "tasks"), incl[s.id]):
                    t[k] += v
        return out

    def counts(self) -> dict[str, tuple[int, int]]:
        """(jobs, stages) per layer — the determinism self-check's key."""
        return {k: (int(v["jobs"]), int(v["stages"]))
                for k, v in self.layer_totals().items()}


class Tracer:
    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._status = self._sc.statusTracker()
        self._bus = self._sc._jsc.sc().listenerBus()
        self._ids = itertools.count()
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        self.recording = Recording()

    # -- recording -------------------------------------------------------
    def start(self) -> Recording:
        """Begin a fresh recording; later spans go to it."""
        self.recording = Recording()
        return self.recording

    @contextmanager
    def span(self, layer: str, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        s = Span(sid, name, layer, stack[-1] if stack else None)
        group = f"perfbench-{sid}"
        b0 = time.perf_counter()
        prev = (self._sc.getLocalProperty(_GROUP), self._sc.getLocalProperty(_DESC))
        self._sc.setLocalProperty(_GROUP, group)
        self._sc.setLocalProperty(_DESC, name)
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield s
        finally:
            t1 = time.perf_counter()
            s.wall = t1 - t0
            stack.pop()
            self._sc.setLocalProperty(_GROUP, prev[0])
            self._sc.setLocalProperty(_DESC, prev[1])
            s.jobs, s.stages, s.tasks = self._group_counts(group)
            s.overhead = (t0 - b0) + (time.perf_counter() - t1)
            with self._lock:
                self.recording.spans.append(s)

    def _group_counts(self, group: str) -> tuple[int, int, int]:
        # job-start events reach the status store through the async
        # listener bus; drain it so the last job of the span is counted
        self._bus.waitUntilEmpty()
        job_ids = self._status.getJobIdsForGroup(group)
        stages = tasks = 0
        for j in job_ids:
            info = self._status.getJobInfo(j)
            for sid in (info.stageIds if info else ()):
                st = self._status.getStageInfo(sid)
                if st is not None and st.numCompletedTasks > 0:  # skipped stages ran nothing
                    stages += 1
                    tasks += st.numCompletedTasks
        return len(job_ids), stages, tasks

    # -- patching --------------------------------------------------------
    def install(self) -> None:
        for layer, names in ENTRY_POINTS.items():
            mod = importlib.import_module(f"hipporag_spark.{layer}")
            for dotted in names:
                owner_name, _, attr = dotted.rpartition(".")
                owner = getattr(mod, owner_name) if owner_name else mod
                orig = owner.__dict__[attr]
                wrapped = self._wrap(layer, f"{layer}.{dotted}", orig)
                self._set(owner, attr, wrapped)
                if owner_name:
                    continue
                # modules that did ``from .layer import name`` hold their own binding
                for mname, other in list(sys.modules.items()):
                    if (mname.startswith("hipporag_spark") and other is not mod
                            and getattr(other, attr, None) is orig):
                        self._set(other, attr, wrapped)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def _set(self, owner, attr, value) -> None:
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def _wrap(self, layer: str, name: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(layer, name):
                return fn(*args, **kwargs)
        return wrapper
