"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload retrieve_warm --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  Spark runs in this process on
``local[nproc]`` with ``nproc`` shuffle partitions and a 2 GB driver.
With ``--trace 0`` it prints the end-to-end metrics of BENCHMARK.json;
with ``--trace 1`` it runs two traced passes and prints the per-layer
metrics, the tracer's own overhead, and any layer whose job or stage
count differs between the two passes.  The last stdout line is the
result JSON; the line before it holds the environment stamp, the sample
counts and the input statistics.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from collections import defaultdict
from contextlib import nullcontext

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_MEMORY = "2g"
# per-layer metrics taken from the second traced pass, for every layer a pass enters
PASS_LAYERS = ("pass", "retrieve", "ppr", "knn", "embed", "graph",
               "components", "lpa", "triangles")
PASS_FIELDS = ("wall_s", "self_s", "jobs", "stages", "tasks")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def git_commit() -> str | None:
    try:
        # the ceiling keeps git from reporting an enclosing repository
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=30,
                             env={**os.environ, "GIT_CEILING_DIRECTORIES": os.path.dirname(ROOT)})
    except OSError:
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def source_digest() -> str:
    """sha256 over the package sources, which identifies the code where
    the checkout carries no git metadata."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "hipporag_spark")
    for name in sorted(os.listdir(pkg)):
        if name.endswith(".py"):
            h.update(name.encode())
            with open(os.path.join(pkg, name), "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def start_spark(workdir: str):
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    # Spark's Python workers import hipporag_spark too, from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark")
    os.environ["HIPPORAG_DRIVER_MEM"] = DRIVER_MEMORY
    from hipporag_spark.session import get_spark

    n = nproc()
    spark = get_spark("perfbench", cores=n, shuffle_partitions=n, extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark and wait for its JVM, which exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def environment(spark) -> dict:
    import pyspark

    conf = spark.sparkContext.getConf()
    return {
        "nproc": nproc(),
        "pyspark": pyspark.__version__,
        "master": spark.sparkContext.master,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "driver_memory": conf.get("spark.driver.memory"),
        "git_commit": git_commit(),
        "source_sha256": source_digest(),
    }


def cached_relations(spark) -> int:
    """Entries in Spark's CacheManager (cached query plans), read by
    reflection; the persisted-RDD count misses plans whose cache was
    never materialized."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    return int(field.get(cm).size())


class Tally:
    def __init__(self):
        self.walls: dict[str, list[float]] = defaultdict(list)
        self.attempted = 0
        self.failed = 0

    def run_pass(self, workload, pass_no: int, label: str, tracer=None) -> None:
        """One pass of the workload on the inputs of ``pass_no``, its query
        ids prefixed with ``label``.  Checks run after the timer stops."""
        for op in workload.ops(pass_no, label):
            self.attempted += 1
            try:
                with tracer.span("pass", f"pass.{op.name}") if tracer else nullcontext():
                    t0 = time.perf_counter()
                    out = op.call()
                    wall = time.perf_counter() - t0
                ok = op.check(out)
            except Exception:
                traceback.print_exc()
                self.failed += 1
                continue
            self.walls[op.name].append(wall)
            if not ok:
                print(f"perfbench: wrong result from {op.name} in pass {pass_no}", file=sys.stderr)
                self.failed += 1

    def pass_s(self) -> float:
        """Wall of one pass of the operation mix: the sum of the per-operation medians."""
        return sum(statistics.median(v) for v in self.walls.values())


def measure(workload, seconds: float, tally: Tally) -> None:
    """Closed loop: passes back to back until ``seconds`` have elapsed (at least one)."""
    end = time.perf_counter() + seconds
    pass_no = 0
    while True:
        tally.run_pass(workload, pass_no, f"p{pass_no}-")
        pass_no += 1
        if time.perf_counter() >= end:
            return


def traced_metrics(spark, workload, tally: Tally) -> tuple[dict, list[str]]:
    """Two traced passes, then the workload's traced extras.  Layer
    metrics come from the second pass, after the first has paid the
    process's warm-up; ``trace.overhead_s`` is the time the tracer itself
    spent in that pass."""
    from perfbench.tracer import Tracer

    tracer = Tracer(spark)
    tracer.install()
    try:
        recs = []
        # Both passes get the same inputs, so their counts may differ only
        # by chance.  The query ids differ: Spark's CacheManager matches
        # identical plans, and would otherwise hand the second pass the
        # relations the first one left persisted.
        for label in ("t0-", "t1-"):
            recs.append(tracer.start())
            tally.run_pass(workload, 0, label, tracer)
        extras, attempted, failed = workload.trace_extras(tracer)
    finally:
        tracer.uninstall()
    tally.attempted += attempted
    tally.failed += failed

    first, second = recs[0].counts(), recs[1].counts()
    mismatches = [f"{layer}: jobs/stages {first.get(layer)} vs {second.get(layer)}"
                  for layer in sorted(set(first) | set(second))
                  if first.get(layer) != second.get(layer)]
    totals = recs[1].layer_totals()
    m = {f"{layer}.{f}": totals[layer][f]
         for layer in PASS_LAYERS if layer in totals for f in PASS_FIELDS}
    for name, t in recs[1].layer_totals(key=lambda s: s.name).items():
        if name.startswith("pass."):
            m[f"op.{name[5:]}_s"] = t["wall_s"]
    m.update(extras)
    m["trace.overhead_s"] = recs[1].overhead_s
    m["trace.count_mismatches"] = len(mismatches)
    return m, mismatches


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "hipporag_spark", "__init__.py")):
        print(f"perfbench: no hipporag_spark package under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    workdir = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    os.makedirs(workdir)
    try:
        spark = start_spark(workdir)
        try:
            env = environment(spark)
            workload = WORKLOADS[args.workload](spark, args.seed, workdir)
            setup_s = workload.setup()
            tally = Tally()
            mismatches: list[str] = []
            if args.trace:
                values, mismatches = traced_metrics(spark, workload, tally)
                values["spark.cached_relations_end"] = cached_relations(spark)
            else:
                measure(workload, args.seconds, tally)
                values = {"setup_s": setup_s, "pass_s": tally.pass_s()}
        finally:
            stop_spark(spark)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(workdir))
        except OSError:  # another run still uses it
            pass

    names = {m["name"] for m in wanted}
    if set(values) - names or (not args.trace and names - set(values)):
        raise RuntimeError(f"metrics differ from BENCHMARK.json: "
                           f"{sorted(set(values) ^ names)}")
    if args.trace:  # a layer this workload never enters reads 0
        values = {name: values.get(name, 0) for name in names}
    for line in mismatches:
        print(f"perfbench: job count differs between traced passes, {line}", file=sys.stderr)
    questions = getattr(workload, "questions", None)
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "env": env,
        "setup_s": setup_s,
        "samples": {k: {"n": len(v), "median_s": statistics.median(v)}
                    for k, v in tally.walls.items()},
        "repeated_question_share": questions.repeat_share() if questions else None,
    }))
    print(json.dumps({
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
