"""Spill-partitioner scale-up datapoint (VERDICT r4 item 5).

The O(V)-residency claim for the out-of-core partitioner is cheap to
evidence off the bench graph: generate a ~10x transcripts fixture
(N_CONV=500k -> ~10.5M vertices), run the full production pipeline ONCE —
spill partition (bounded driver residency, multiple drain segments) ->
vertex->partition map -> resident-store CSR PageRank — and report wall,
vertices/sec, max_resident_edges, n_segments from the engine's own stats
hook (partition/batched.py). One honest datapoint, not a suite.

Usage: python jobs/bench_spill_scale.py [nconv] [cpus]
Prints one JSON line.
"""

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    nconv = int(sys.argv[1]) if len(sys.argv) > 1 else 500_000
    cpus = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    fix = os.path.join(repo, "fixtures", f"scale_transcripts_{nconv}.parquet")
    if not os.path.exists(fix):
        from cuttana_spark import transcripts as T

        T.write_parquet(fix, n_conv=nconv)

    from pyspark.sql import functions as F

    from cuttana_spark.analytics.blockstore import drop_block_store
    from cuttana_spark.analytics.pagerank import pagerank_csr
    from cuttana_spark.operators import edges as E
    from cuttana_spark.partition.batched import cuttana_partition_df_spill
    from cuttana_spark.session import get_spark

    spark = get_spark(
        app="spill-scale", master=f"local[{cpus}]", shuffle_partitions=2 * cpus
    )
    spark.sparkContext.setLogLevel("ERROR")
    tdf = spark.read.parquet(fix)
    nodes, eids = E.transcript_edges(tdf, mode="hash")
    eids = eids.cache()
    n_edges = eids.count()
    adj = E.adjacency(eids)

    def proc_stat():
        with open("/proc/stat") as fh:
            p = fh.readline().split()
        return (int(p[1]) + int(p[2]) + int(p[3])) / 100.0, int(p[8]) / 100.0

    stats: dict = {}
    busy0, steal0 = proc_stat()
    t0 = time.monotonic()
    res = cuttana_partition_df_spill(adj, 32, batch_size=4096, stats=stats)
    t_part = time.monotonic() - t0
    busy1, steal1 = proc_stat()
    # window-contention evidence (round 6): the partition stage is a mostly
    # sequential driver loop, so box busy far above ~2-4 cores or nonzero
    # hypervisor steal marks an interference window (same signals as
    # bench_scaling.py's screen)
    busy_cores = round((busy1 - busy0) / t_part, 2)
    steal_cores = round((steal1 - steal0) / t_part, 3)

    vp = res.to_spark_df(spark).select("vertex", "partition_id")
    sym = E.symmetrize(eids)
    store = "/dev/shm/spill_scale_store"
    drop_block_store(store)
    t0 = time.monotonic()
    pagerank_csr(
        spark, sym, vp, max_iter=5, tol=0.0, block_store=store
    ).agg(F.sum("score")).collect()
    t_pr = time.monotonic() - t0
    drop_block_store(store)

    print(
        json.dumps(
            {
                "metric": "spill_partition_scaleup",
                "value": round(t_part, 3),
                "unit": "sec",
                "nconv": nconv,
                "cpus": cpus,
                "graph_vertices": int(res.vertex_count),
                "graph_edges_undirected": n_edges,
                "partition_wall_sec": round(t_part, 3),
                "partition_vertices_per_sec": round(res.vertex_count / t_part, 1),
                "partition_edge_cut_ratio": round(res.edge_cut_ratio, 4),
                "partition_balance": round(res.balance, 4),
                "max_resident_edges": int(stats["max_resident_edges"]),
                "n_segments": int(stats["n_segments"]),
                "n_vertices_state": int(stats["n_vertices_state"]),
                "pagerank_csr_5_supersteps_sec": round(t_pr, 3),
                "partition_window_busy_cores": busy_cores,
                "partition_window_steal_cores": steal_cores,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
