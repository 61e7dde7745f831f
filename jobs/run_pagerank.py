"""spark-submit entrypoint: transcripts → edges → Cuttana partition →
PageRank, with warehouse checkpoints and resumability.

Cluster launch (north rule):

    zip -r cuttana_spark.zip cuttana_spark
    spark-submit --master <cluster> --py-files cuttana_spark.zip \\
        jobs/run_pagerank.py --transcripts <parquet> --k 64 --iters 20 \\
        --warehouse s3://bucket/wh --output s3://bucket/pr

Sandbox smoke: spark-submit --master local[8] --py-files cuttana_spark.zip
jobs/run_pagerank.py --transcripts fixtures/transcripts_2000.parquet ...

Resumable: re-running with the same --warehouse/--job continues from the
last committed superstep (kill -9 safe — snapshots commit atomically).

``--engine csr`` packs its block store at ``<--output>_blocks``, and every
executor's Python workers read that store with POSIX file calls: with the
csr engine, ``--output`` must be a plain path on storage shared by the
driver and every executor (not an ``s3://`` or ``hdfs://`` URI, which
raises).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

# direct `python jobs/run_pagerank.py` runs; spark-submit --py-files ships
# the package instead
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--transcripts", required=True)
    ap.add_argument("--k", type=int, default=16)
    ap.add_argument("--iters", type=int, default=10)
    ap.add_argument("--tol", type=float, default=0.0)
    ap.add_argument("--warehouse", default=None, help="checkpoint warehouse root")
    ap.add_argument("--job", default="pagerank")
    ap.add_argument("--checkpoint-interval", type=int, default=5)
    ap.add_argument("--output", required=True)
    ap.add_argument("--engine", choices=["df", "csr"], default="df")
    ap.add_argument("--id-mode", choices=["hash", "sort"], default="hash")
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from cuttana_spark import session

    spark = (
        SparkSession.builder.appName(f"cuttana-{args.job}")
        .config("spark.sql.codegen.cache.maxEntries", str(session.CODEGEN_CACHE_ENTRIES))
        .getOrCreate()
    )

    from cuttana_spark.analytics.pagerank import pagerank, pagerank_csr
    from cuttana_spark.operators import edges as E

    runner = None
    if args.warehouse:
        from cuttana_spark.analytics.supersteps import SuperstepRunner
        from cuttana_spark.plans.warehouse import Warehouse

        runner = SuperstepRunner(
            spark,
            Warehouse(args.warehouse),
            args.job,
            interval=args.checkpoint_interval,
        )

    t0 = time.monotonic()
    tdf = spark.read.parquet(args.transcripts)
    nodes, eids = E.transcript_edges(tdf, mode=args.id_mode)
    if args.id_mode == "hash" and E.check_hash_collisions(nodes) != 0:
        print(json.dumps({"error": "hash id collision — rerun with --id-mode sort"}))
        sys.exit(2)
    eids = eids.cache()
    n_edges = eids.count()
    sym = E.symmetrize(eids)

    if args.engine == "csr":
        from cuttana_spark.partition.batched import cuttana_partition_df_batched

        adj = E.adjacency(eids)
        res = cuttana_partition_df_batched(adj, args.k)
        vp = res.to_spark_df(spark).select("vertex", "partition_id")
        # a killed job that resumes reuses the store, fingerprint-checked
        block_store = args.output.rstrip("/") + "_blocks"
        pr = pagerank_csr(
            spark, sym, vp, max_iter=args.iters, tol=args.tol, runner=runner,
            block_store=block_store,
        )
    else:
        pr = pagerank(spark, sym, max_iter=args.iters, tol=args.tol, runner=runner)

    pr.write.mode("overwrite").parquet(args.output)
    if args.engine == "csr":
        from cuttana_spark.analytics.blockstore import drop_block_store

        drop_block_store(block_store)
    dt = time.monotonic() - t0
    print(
        json.dumps(
            {
                "job": args.job,
                "engine": args.engine,
                "edges": n_edges,
                "iters": args.iters,
                "wall_sec": round(dt, 2),
                "edges_per_sec": round(args.iters * 2 * n_edges / dt, 1),
                "output": args.output,
            }
        )
    )


if __name__ == "__main__":
    main()
