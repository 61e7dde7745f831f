"""Density × partition-quality A/B: df-join PageRank vs CSR gather-scatter.

What the CSR path structurally exploits is DST LOCALITY UNDER THE PARTITION
MAP: each block pre-aggregates contributions per distinct dst it touches,
so with a good partition (most edges intra-partition — what the Cuttana
stage buys, bench cut 0.10) the per-superstep partial set collapses to
≈O(V); with an adversarial map the same kernel emits ≈O(E) partials and
the advantage inverts. The df join is insensitive to the map (its map-side
combine keys on dst alone). This job measures all three on deterministic
band digraphs (v → (v+1+j) mod V, j < d — every neighbor within v±d, so a
RANGE map has near-zero cut while a PMOD map scatters every block):

  * df            — DataFrame-join engine
  * res_range     — resident CSR blocks over partition_id = v·k//V (the
                    good map)
  * res_pmod      — resident CSR blocks over partition_id = v mod k (the
                    bad map)

at avg degree d ∈ {4, 32}, V fixed, steady sec/superstep at local[32],
AQE-off per-superstep jobs (scaling-bench methodology). Expected: res_range
≤ df ≤ res_pmod at d=32 (round 5 measured the same order with bucketed
CSR blocks, BENCH_DENSITY_r5.json) — i.e. partition quality is
not cosmetic, it is the term that decides whether the frontier-only
engine wins; this is the engine's own thesis made falsifiable.

Usage: python jobs/bench_density.py [V] [iters]
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

WORKER = r"""
import json, sys, time
sys.path.insert(0, "{repo}")
V = int(sys.argv[1]); d = int(sys.argv[2]); iters = int(sys.argv[3]); subj = sys.argv[4]
from pyspark.sql import functions as F
from cuttana_spark.session import get_spark
from cuttana_spark.analytics.pagerank import pagerank, pagerank_csr

spark = get_spark(app=f"density-{{subj}}-{{d}}", master="local[32]", shuffle_partitions=64,
                  extra={{"spark.local.dir": "/dev/shm/spark-scale",
                         "spark.sql.adaptive.enabled": "false"}})
spark.sparkContext.setLogLevel("ERROR")
# band digraph: v -> (v+1+j) % V, j in [0, d) — neighbors within v±d+1, so
# a contiguous range partition has near-zero cut; deterministic, in-plan,
# no dangling vertices
verts = spark.range(V).select(F.col("id").alias("src"))
edges = verts.select(
    "src",
    F.explode(F.sequence(F.lit(1), F.lit(d))).alias("j"),
).select(
    "src",
    ((F.col("src") + F.col("j")) % V).alias("dst"),
    F.lit(1.0).alias("weight"),
)
walls = []
if subj == "df":
    sym = edges.repartition(64, "src").cache(); sym.count()
    pagerank(spark, sym, max_iter=iters, tol=0.0, checkpoint_interval=1,
             iter_walls=walls, stable_layout=True)
else:
    if subj.endswith("range"):
        pid = (F.col("src") * 64 / V).cast("int")
    else:  # res_pmod — the adversarial map
        pid = F.pmod(F.col("src"), F.lit(64)).cast("int")
    vp = verts.select(F.col("src").alias("vertex"), pid.alias("partition_id")).cache()
    vp.count()
    from cuttana_spark.analytics.blockstore import drop_block_store
    store = f"/dev/shm/density_store_{{subj}}_{{d}}"
    drop_block_store(store)
    pagerank_csr(spark, edges, vp, max_iter=iters, tol=0.0,
                 checkpoint_interval=1, iter_walls=walls, block_store=store)
    drop_block_store(store)
print("RESULT " + json.dumps({{"walls": [round(w, 3) for w in walls]}}))
"""


def run(repo: str, V: int, d: int, iters: int, subj: str) -> list[float]:
    out = subprocess.run(
        [sys.executable, "-c", WORKER.format(repo=repo),
         str(V), str(d), str(iters), subj],
        capture_output=True, text=True, timeout=2400, cwd=repo,
    )
    for line in out.stdout.replace("\r", "\n").splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])["walls"]
    raise RuntimeError(out.stderr[-3000:])


def main() -> None:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    V = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    iters = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    res = {}
    for d in (4, 32):
        for subj in ("df", "res_range", "res_pmod"):
            walls = run(repo, V, d, iters, subj)
            steady = walls[4:]
            res[f"{subj}_d{d}"] = {
                "sec_per_superstep_median": round(statistics.median(steady), 3),
                "sec_per_superstep_min": round(min(steady), 3),
                "walls": walls,
            }
            print(f"{subj} d={d}: med {res[f'{subj}_d{d}']['sec_per_superstep_median']}s "
                  f"walls {walls}", file=sys.stderr)
    print(
        json.dumps(
            {
                "metric": "pagerank_density_partition_ab",
                "value": res["res_range_d32"]["sec_per_superstep_median"],
                "unit": "sec",
                "V": V,
                "degrees": [4, 32],
                "cpus": 32,
                **res,
                "note": "band digraph v->(v+1+j)%V; steady sec/superstep "
                "(warmup-4 dropped, per-superstep min also reported for "
                "one-sided co-tenant noise), AQE-off per-superstep jobs, "
                "local[32]; res_range = contiguous range map (near-zero "
                "cut, per-block partials collapse to ~O(V)); res_pmod = "
                "adversarial mod-64 map (no dst locality, partials ~O(E)); "
                "both via the executor-resident block store "
                "(blockstore.py): only the O(V) frontier crosses Arrow per "
                "superstep. df is insensitive to the map. The "
                "range-vs-pmod spread is the measured value of partition "
                "quality to the frontier-only engine - the Cuttana "
                "stage's thesis.",
            }
        )
    )


if __name__ == "__main__":
    main()
