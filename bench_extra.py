"""Supplementary benchmarks for round 7 — everything VERDICT r6 asked for
that cannot live in the frozen bench.py:

  * contention-screened min/median-of-N walls for the heavy bench queries
    (VERDICT r6 item 2: the one-shot driver bench carries phantom
    regressions whenever a co-tenant burst lands in a query's window; this
    file samples /proc/stat busy/steal around EACH query rep, using the
    exact constants of bench_scaling's pre-stated screen, and reports every
    rep with its screen fields so a one-shot outlier is auditable);
  * the ANN speedup crossover curve (VERDICT r6 item 4): probe-vs-brute
    steady-state walls at ~1k / ~4.3k / ~9k queries against the prebuilt
    IVF index, so nobody mistakes the small-query-set point for a defect.

Prints ONE JSON line. Does not replace bench.py (whose numbers the driver
takes); cite these figures from OPTIMIZATION_r07.md.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench_scaling import BURST_RATIO, BUSY_SLACK, STEAL_LIMIT, _proc_stat  # noqa: E402


def screened(fn, level: int, reps: int = 3) -> dict:
    """Run fn() `reps` times; per rep record wall + busy/steal cores over
    its own window; contended iff the bench_scaling constants say so."""
    out = []
    for _ in range(reps):
        b0, s0, t0 = _proc_stat()
        fn()
        b1, s1, t1 = _proc_stat()
        dt = max(t1 - t0, 1e-6)
        busy = (b1 - b0) / dt
        steal = (s1 - s0) / dt
        out.append(
            {
                "wall": round(dt, 3),
                "busy_cores": round(busy, 2),
                "steal_cores": round(steal, 3),
                "contended": steal > STEAL_LIMIT or busy > level + BUSY_SLACK,
            }
        )
    walls = [r["wall"] for r in out]
    clean = [r["wall"] for r in out if not r["contended"]]
    return {
        "reps": out,
        "min": min(walls),
        "median": round(statistics.median(walls), 3),
        "median_clean": round(statistics.median(clean), 3) if clean else None,
    }


def main() -> None:
    for _v in (
        "OMP_NUM_THREADS",
        "OPENBLAS_NUM_THREADS",
        "MKL_NUM_THREADS",
        "NUMEXPR_NUM_THREADS",
    ):
        os.environ.setdefault(_v, "1")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = int(os.environ.get("BENCH_EXTRA_REPS", "3"))

    from pyspark.sql import functions as F

    from cuttana_spark.session import default_parallelism, get_spark

    cpus = default_parallelism()
    spark = get_spark(
        app="cuttana-bench-extra", master=f"local[{cpus}]", shuffle_partitions=cpus
    )
    spark.sparkContext.setLogLevel("ERROR")

    import bench as B
    from cuttana_spark.analytics.components import connected_components
    from cuttana_spark.analytics.pagerank import pagerank as pagerank_df
    from cuttana_spark.analytics.triangles import triangle_count
    from cuttana_spark.operators import edges as E
    from cuttana_spark.operators.dedup import minhash_pairs
    from cuttana_spark.partition.batched import cuttana_partition_df_batched

    tdf = spark.read.parquet(B.ensure_bench_transcripts())
    res: dict = {"metric": "bench_extra_screened", "cpus": cpus, "sf": sf_dir}

    # warm codegen/scan like bench.py does
    _wn, _we = E.transcript_edges(tdf.limit(50_000), mode="hash")
    _we.count(), _wn.count()

    def q_edge():
        nodes, eids = E.transcript_edges(tdf, mode="hash")
        assert E.check_hash_collisions(nodes) == 0
        eids.count(), nodes.count()

    res["edge_derivation"] = screened(q_edge, cpus, reps)

    nodes, eids = E.transcript_edges(tdf, mode="hash")
    eids = eids.cache()
    eids.count()

    res["adjacency_build"] = screened(
        lambda: E.adjacency(eids).write.format("noop").mode("overwrite").save(),
        cpus,
        reps,
    )
    adj = E.adjacency(eids).cache()
    adj.count()

    res["partition"] = screened(
        lambda: cuttana_partition_df_batched(adj, 32, batch_size=4096), cpus, reps
    )

    sym = E.symmetrize(eids).repartition(cpus, "src").cache()
    sym.count()
    pagerank_df(spark, sym, max_iter=1, tol=0.0).agg(F.sum("score")).collect()
    res["pagerank_df"] = screened(
        lambda: pagerank_df(spark, sym, max_iter=5, tol=0.0)
        .agg(F.sum("score"))
        .collect(),
        cpus,
        reps,
    )
    res["connected_components"] = screened(
        lambda: connected_components(spark, eids)
        .agg(F.countDistinct("component"))
        .collect(),
        cpus,
        reps,
    )
    res["triangles"] = screened(
        lambda: triangle_count(spark, eids.select("src", "dst")).collect(), cpus, reps
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    res["minhash_dedup"] = screened(
        lambda: minhash_pairs(docs, num_hashes=16, bands=4, threshold=0.5).collect(),
        cpus,
        reps,
    )

    # ---- ANN crossover: probe vs brute at three query-set sizes ----
    from cuttana_spark.operators.ivf import ivf_index_gemm, ivf_probe_gemm
    from cuttana_spark.operators.similarity import brute_force_topk_gemm

    emb = spark.read.parquet(B.ensure_bench_embeddings()).repartition(cpus).cache()
    emb.count()
    cells, cents = ivf_index_gemm(emb, n_cells=128)
    cells = cells.cache()
    cells.count()
    crossover = []
    for mod in (97, 23, 11):  # ~1k / ~4.3k / ~9.1k queries
        qs = emb.filter(f"vec_id % {mod} = 0").cache()
        nq = qs.count()
        bw, pw = [], []
        for _ in range(reps):
            t0 = time.monotonic()
            brute_force_topk_gemm(qs, emb, k=10).count()
            bw.append(round(time.monotonic() - t0, 3))
            t0 = time.monotonic()
            ivf_probe_gemm(cells, cents, qs, nprobe=8, k=10).count()
            pw.append(round(time.monotonic() - t0, 3))
        crossover.append(
            {
                "n_queries": nq,
                "brute_walls": bw,
                "probe_walls": pw,
                "speedup_median": round(
                    statistics.median(bw) / statistics.median(pw), 2
                ),
            }
        )
        qs.unpersist(False)
    res["ann_crossover"] = crossover
    res["ann_crossover_note"] = (
        "probe vs brute steady-state medians against the prebuilt 128-cell "
        "index (build amortized); the brute side is the round-7 chunked GEMM "
        "kernel, so the small-query point compares against an honest "
        "sub-second scan of this 100k-vector in-memory corpus"
    )

    print(json.dumps(res))


if __name__ == "__main__":
    main()
