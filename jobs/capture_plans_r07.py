"""Capture .explain("formatted") for the bench query paths into plans/r07/.

Usage: python jobs/capture_plans_r07.py before|after
Plan-only (no execution) except where noted; uses a tiny local session so it
can run alongside other work.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TAG = sys.argv[1] if len(sys.argv) > 1 else "before"
OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r07")
os.makedirs(OUT, exist_ok=True)


def dump(name: str, df) -> None:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    with open(os.path.join(OUT, f"{name}_{TAG}.txt"), "w") as fh:
        fh.write(buf.getvalue())
    print("wrote", name)


def main() -> None:
    from pyspark.sql import functions as F

    from cuttana_spark.session import get_spark

    spark = get_spark(app="plan-capture-r07", master="local[2]", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")

    from cuttana_spark.operators import edges as E

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tdf = spark.read.parquet(os.path.join(repo, "fixtures", "bench_transcripts_50k.parquet"))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    nodes, eids = E.transcript_edges(tdf, mode="hash")
    dump("edge_derivation_eids", eids)
    dump("edge_derivation_nodes", nodes)
    dump("adjacency_build", E.adjacency(eids))

    sym = E.symmetrize(eids).repartition(32, "src")

    # pagerank and triangles: capture the LAZY plans (checkpoint and keep
    # monkeypatched to identity — the real calls eagerly checkpoint their
    # result, whose plan is then just a LogicalRDD scan and shows nothing)
    from cuttana_spark.analytics.pagerank import pagerank as pagerank_df
    from cuttana_spark.analytics.triangles import triangle_count
    from cuttana_spark.plans.checkpoints import Scope

    orig = Scope.checkpoint, Scope.keep
    Scope.checkpoint = Scope.keep = lambda self, df: df
    try:
        dump("pagerank_df_5it", pagerank_df(spark, sym, max_iter=5, tol=0.0))
        dump("triangles", triangle_count(spark, eids.select("src", "dst")))
    finally:
        Scope.checkpoint, Scope.keep = orig

    # one CC round body (the loop is driver-side; the round plan is the unit)
    from cuttana_spark.analytics.components import _large_star, _small_star

    e = eids.select(F.col("src").alias("a"), F.col("dst").alias("b")).filter(
        F.col("a") != F.col("b")
    )
    dump("cc_round", _small_star(_large_star(e)))

    from cuttana_spark.operators.dedup import minhash_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    dump("minhash_dedup", minhash_pairs(docs, num_hashes=16, bands=4, threshold=0.5))

    import __spark_entry__ as se

    q = se.queries()
    for name in ("pricing_summary", "sessionize", "region_revenue", "type_user_stats"):
        dump(name, q[name](spark, sf_dir))

    from cuttana_spark.operators.similarity import brute_force_topk_gemm

    emb = spark.read.parquet(
        os.path.join(repo, "fixtures", "bench_embeddings_100k.parquet")
    )
    qset = emb.filter("vec_id % 97 = 0")
    dump("ann_brute_force", brute_force_topk_gemm(qset, emb, k=10))

    spark.stop()


if __name__ == "__main__":
    main()
