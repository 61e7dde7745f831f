"""Shared-block-store CC benchmark (VERDICT r5 item 6).

Scenario: a pipeline has already packed the canonical sym-unit block store
for a graph (pagerank → k-core → CC over the same edges; graphstore.py) and
CC's contraction pre-pass can therefore run against a PRE-EXISTING store —
its marginal cost is accel_rounds frontier-only gathers + one relabel
shuffle, with no pack. This job measures, on a dense synthetic graph
(E/V = 5, the regime the pre-pass is built for):

  * pack      — one-time store build (the cost the pipeline amortizes),
  * cc_star   — pure small/large-star loop (shuffles O(E) twice per round),
  * cc_accel  — contraction pre-pass against the existing store
                (fingerprint-matched, no repack — asserted) + star tail.

Graph: V ring edges (one giant component, guarantees label mixing) + 4V
deterministic-hash random edges → E = 5V undirected. Both engines run on
the same cached edge DataFrame; equality of the resulting labelings is
asserted before the walls are reported.

Usage: python jobs/bench_shared_store.py [--verts 1000000] [--rounds 4]
       [--cpus 32] [--reps 2]
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    argv = sys.argv
    verts = int(argv[argv.index("--verts") + 1]) if "--verts" in argv else 1_000_000
    rounds = int(argv[argv.index("--rounds") + 1]) if "--rounds" in argv else 4
    cpus = int(argv[argv.index("--cpus") + 1]) if "--cpus" in argv else 32
    reps = int(argv[argv.index("--reps") + 1]) if "--reps" in argv else 2

    from pyspark.sql import functions as F

    from cuttana_spark.session import get_spark

    spark = get_spark(
        app="shared-store-bench", master=f"local[{cpus}]", shuffle_partitions=cpus
    )
    spark.sparkContext.setLogLevel("ERROR")

    import cuttana_spark.analytics.blockstore as B
    from cuttana_spark.analytics.components import connected_components
    from cuttana_spark.analytics.graphstore import open_graph

    # ring + 4 deterministic-hash random edges per vertex -> E = 5V
    ring = spark.range(verts).select(
        F.col("id").alias("src"), ((F.col("id") + 1) % verts).alias("dst")
    )
    rand = spark.range(4 * verts).select(
        F.pmod(F.xxhash64(F.col("id"), F.lit(1)), F.lit(verts)).alias("src"),
        F.pmod(F.xxhash64(F.col("id"), F.lit(2)), F.lit(verts)).alias("dst"),
    )
    edges = ring.unionAll(rand).filter(F.col("src") != F.col("dst")).cache()
    n_edges = edges.count()

    store = os.path.join(
        tempfile.mkdtemp(prefix="cuttana-shared-store-"), "blocks"
    )
    g = open_graph(edges, "sym-unit", hash_partitions=cpus)

    t0 = time.monotonic()
    B.ensure_block_store(g, store)
    pack_wall = round(time.monotonic() - t0, 3)
    key_after_pack = B._store_key(store)

    # ---- round 7 (VERDICT r6 item 6): 4-algorithm pipeline, exactly 2 packs.
    # PageRank packs the transition payload ("trans") into its own store;
    # k-core, LPA and CC share the sym-unit store above. A SECOND pagerank
    # run over the same edges must reuse the trans pack fingerprint-checked
    # (no repack), exactly like the sym-unit consumers.
    from cuttana_spark.analytics.kcore import k_core_csr
    from cuttana_spark.analytics.labelprop import label_propagation_csr
    from cuttana_spark.analytics.pagerank import pagerank_csr

    wedges = edges.withColumn("weight", F.lit(1).cast("long"))
    sym_w = wedges.unionAll(
        wedges.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "weight")
    )
    pr_store = os.path.join(os.path.dirname(store), "pr_blocks")
    t0 = time.monotonic()
    pagerank_csr(
        spark, sym_w, None, max_iter=3, tol=0.0,
        block_store=pr_store, hash_partitions=cpus,
    ).agg(F.sum("score")).collect()
    pr_wall_first = round(time.monotonic() - t0, 3)
    pr_key = B._store_key(pr_store)
    t0 = time.monotonic()
    pagerank_csr(
        spark, sym_w, None, max_iter=3, tol=0.0,
        block_store=pr_store, hash_partitions=cpus,
    ).agg(F.sum("score")).collect()
    pr_wall_reuse = round(time.monotonic() - t0, 3)
    assert B._store_key(pr_store) == pr_key, "trans store was re-packed!"
    t0 = time.monotonic()
    k_core_csr(
        spark, edges, None, k=2, block_store=store, hash_partitions=cpus
    ).count()
    kcore_wall = round(time.monotonic() - t0, 3)
    t0 = time.monotonic()
    label_propagation_csr(
        spark, edges, None, max_iter=3, block_store=store, hash_partitions=cpus
    ).count()
    lpa_wall = round(time.monotonic() - t0, 3)
    assert B._store_key(store) == key_after_pack, "sym-unit store re-packed!"
    pipeline = {
        "pr_pack_plus_3_supersteps": pr_wall_first,
        "pr_reuse_3_supersteps": pr_wall_reuse,
        "kcore_wall_shared_store": kcore_wall,
        "lpa_wall_shared_store": lpa_wall,
        "packs_total": 2,
    }

    star_walls, accel_walls = [], []
    star_rounds = accel_rounds_ran = None
    base = None
    for _ in range(reps):
        rw: list = []
        t0 = time.monotonic()
        cc_star = connected_components(spark, edges, round_walls=rw)
        n_comp = cc_star.groupBy("component").count().count()
        star_walls.append(round(time.monotonic() - t0, 3))
        star_rounds = len(rw)

        rw2: list = []
        t0 = time.monotonic()
        cc_accel = connected_components(
            spark,
            edges,
            accel_rounds=rounds,
            accel_min_edges=0,
            accel_partitions=cpus,
            block_store=store,
            round_walls=rw2,
        )
        n_comp_accel = cc_accel.groupBy("component").count().count()
        accel_walls.append(round(time.monotonic() - t0, 3))
        accel_rounds_ran = len(rw2)

        assert B._store_key(store) == key_after_pack, "store was re-packed!"
        mism = (
            cc_star.withColumnRenamed("component", "a")
            .join(cc_accel.withColumnRenamed("component", "b"), "vertex", "full")
            .filter("a IS NULL OR b IS NULL OR a <> b")
            .count()
        )
        assert mism == 0 and n_comp == n_comp_accel, "labelings diverged"
        base = n_comp

    print(
        json.dumps(
            {
                "metric": "cc_shared_store",
                "unit": "sec",
                "n_vertices": verts,
                "n_edges_undirected": n_edges,
                "e_over_v": round(n_edges / verts, 2),
                "cpus": cpus,
                "pack_wall": pack_wall,
                "cc_star_walls": star_walls,
                "cc_star_rounds": star_rounds,
                "cc_accel_walls": accel_walls,
                "cc_accel_rounds_total": accel_rounds_ran,
                "accel_pre_rounds": rounds,
                "n_components": base,
                "speedup_star_over_accel": round(
                    min(star_walls) / min(accel_walls), 2
                ),
                "store_reused_without_repack": True,
                "pipeline_two_packs": pipeline,
            }
        )
    )
    B.drop_block_store(store)
    B.drop_block_store(pr_store)
    spark.stop()


if __name__ == "__main__":
    main()
