"""Cluster entry point: build the knowledge graph from a corpus table and
run converged PPR, via spark-submit.

    ./scripts/build_zip.sh
    spark-submit --py-files dist/hipporag_spark.zip \
        [--master yarn --num-executors N ...] \
        scripts/submit_ppr.py \
        --corpus <path-or-table> --seeds key,row,table \
        --damping 0.85 --out /path/ppr_scores \
        [--checkpoint-dir /path/ckpt] [--resume]

On a cluster the session comes from spark-submit (get_spark is a no-op
passthrough); locally it builds local[N].  The corpus argument is a
parquet path or a catalog table with columns
(repo, path, commit, lang, content) — BASELINE.json input_hint shape.
"""

from __future__ import annotations

import argparse

from pyspark.sql import functions as F

from hipporag_spark.session import get_spark
from hipporag_spark.extract import extract_all
from hipporag_spark.graph import build_graph
from hipporag_spark.ppr import personalized_pagerank


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--corpus", required=True)
    ap.add_argument("--seeds", required=True, help="comma-separated seed phrases")
    ap.add_argument("--damping", type=float, default=0.85)
    ap.add_argument("--tol", type=float, default=1e-9)
    ap.add_argument("--out", required=True)
    ap.add_argument("--checkpoint-dir", default=None)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--mode", default="auto",
                    choices=["auto", "local", "dataframe", "blocks"])
    args = ap.parse_args()

    spark = get_spark("hipporag-ppr")
    corpus = (
        spark.read.parquet(args.corpus)
        if "/" in args.corpus
        else spark.table(args.corpus)
    )
    tables = extract_all(corpus)
    nodes, edges = build_graph(tables)
    seeds = (
        tables["entities"]
        .where(F.col("phrase").isin(*args.seeds.split(",")))
        .select(F.col("entity_id").alias("node_id"), F.lit(1.0).alias("reset_weight"))
    )
    res = personalized_pagerank(
        spark, edges, seeds,
        damping=args.damping, tol=args.tol, mode=args.mode,
        checkpoint_dir=args.checkpoint_dir, resume=args.resume,
    )
    res.ranks.write.mode("overwrite").parquet(args.out)
    print({"iterations": res.iterations, "converged": res.converged,
           "last": res.metrics[-1] if res.metrics else None})


if __name__ == "__main__":
    main()
