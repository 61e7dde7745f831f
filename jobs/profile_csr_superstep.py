"""Per-stage breakdown of the pagerank_csr superstep at two parallelism
levels (round 5) — evidence for WHY the CSR path's one-box 2->8 proxy sits
below the df path's despite shuffling ~7x less per superstep.

Runs the exact scaling-bench CSR loop (resident block store over the
Cuttana map, AQE off, checkpoint_interval=1) with the Spark event log
enabled at --cpus, then accounts every steady superstep's wall into
per-stage walls + executor task CPU-seconds (the gather stage is where the
Arrow frontier serialization + numpy kernel live). Run it at 2 and at 8 and
compare: if task CPU-seconds stay ~flat while wall divides by ~cores, the
base level was compute/overhead-bound (scales); if CPU-seconds inflate,
it's contention.

Usage: python jobs/profile_csr_superstep.py [--cpus 2] [--iters 10]
       [--nconv 200000]      (prints one JSON line; table to stderr)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

WORKER = r"""
import json, sys
sys.path.insert(0, "{repo}")
cpus = int(sys.argv[1]); iters = int(sys.argv[2]); nconv = int(sys.argv[3]); shuf = int(sys.argv[4])
evdir = sys.argv[5]
from pyspark.sql import functions as F
from cuttana_spark.session import get_spark
from cuttana_spark.operators import edges as E
from cuttana_spark.analytics.pagerank import pagerank_csr

spark = get_spark(app=f"profile-csr-{{cpus}}", master=f"local[{{cpus}}]", shuffle_partitions=shuf,
                  extra={{"spark.local.dir": "/dev/shm/spark-scale",
                         "spark.sql.adaptive.enabled": "false",
                         "spark.eventLog.enabled": "true",
                         "spark.eventLog.compress": "false",
                         "spark.eventLog.rolling.enabled": "false",
                         "spark.eventLog.dir": "file://" + evdir}})
spark.sparkContext.setLogLevel("ERROR")
tdf = spark.read.parquet("{repo}/fixtures/scale_transcripts_{{}}.parquet".format(nconv))
nodes, eids = E.transcript_edges(tdf, mode="hash")
sym = E.symmetrize(eids)
n_edges = sym.count()
vp = spark.read.parquet("{repo}/fixtures/scale_partition_{{}}_k{{}}.parquet".format(nconv, shuf)).cache()
vp.count()
walls = []
from cuttana_spark.analytics.blockstore import drop_block_store
store = "/dev/shm/profile_res_store"
drop_block_store(store)
pagerank_csr(spark, sym, vp, max_iter=iters, tol=0.0, checkpoint_interval=1,
             iter_walls=walls, block_store=store)
drop_block_store(store)
spark.stop()
print("RESULT " + json.dumps({{"cpus": cpus, "edges": n_edges,
                              "walls": [round(w, 3) for w in walls]}}))
"""


def main() -> None:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    cpus, iters, nconv, shuf = 2, 10, 200_000, 64
    argv = sys.argv
    if "--cpus" in argv:
        cpus = int(argv[argv.index("--cpus") + 1])
    if "--iters" in argv:
        iters = int(argv[argv.index("--iters") + 1])
    if "--nconv" in argv:
        nconv = int(argv[argv.index("--nconv") + 1])
    sys.path.insert(0, repo)
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from bench_scaling import _ensure_fixture, _ensure_partition_fixture
    from profile_superstep import parse_eventlog

    _ensure_fixture(nconv)
    _ensure_partition_fixture(nconv, shuf)
    evdir = tempfile.mkdtemp(prefix="csr_eventlog_")
    out = subprocess.run(
        [sys.executable, "-c", WORKER.format(repo=repo),
         str(cpus), str(iters), str(nconv), str(shuf), evdir],
        capture_output=True, text=True, timeout=2400, cwd=repo,
    )
    res = None
    for line in out.stdout.replace("\r", "\n").splitlines():
        if line.startswith("RESULT "):
            res = json.loads(line[len("RESULT "):])
    assert res, out.stderr[-3000:]
    ev = parse_eventlog(evdir)

    jobs = [j for j in ev["jobs"] if "t1" in j]
    stages = ev["stages"]

    def is_ckpt_job(j):
        return any(
            stages.get(s, {}).get("name") == "localCheckpoint" for s in j["stages"]
        )

    groups, cur = [], []
    for j in jobs:
        cur.append(j)
        if is_ckpt_job(j):
            groups.append(cur)
            cur = []
    steady = groups[-iters:][4:]  # same warmup convention as bench_scaling

    steps = []
    for js in steady:
        wall_ms = js[-1]["t1"] - js[0]["t0"]
        by_stage: dict[str, dict] = {}
        for j in js:
            ran = [
                dict(stages[s], stage_id=s)
                for s in j["stages"]
                if s in stages and stages[s].get("submit_ms")
            ]
            ran.sort(key=lambda s: s["submit_ms"])
            for s in ran:
                key = s["name"]
                e = by_stage.setdefault(
                    key, {"wall_ms": 0, "task_ms": 0, "shuffle_w": 0, "shuffle_r": 0}
                )
                e["wall_ms"] += (s.get("complete_ms") or 0) - (s.get("submit_ms") or 0)
                e["task_ms"] += s.get("task_time_ms", 0)
                e["shuffle_w"] += s.get("shuffle_write_b", 0)
                e["shuffle_r"] += s.get("shuffle_read_b", 0)
        steps.append(
            {
                "wall_s": round(wall_ms / 1000, 3),
                "task_cpu_s": round(sum(e["task_ms"] for e in by_stage.values()) / 1000, 3),
                "stages": {
                    k: {
                        "wall_s": round(e["wall_ms"] / 1000, 3),
                        "task_cpu_s": round(e["task_ms"] / 1000, 3),
                        "shuffle_w_mb": round(e["shuffle_w"] / 1e6, 1),
                        "shuffle_r_mb": round(e["shuffle_r"] / 1e6, 1),
                    }
                    for k, e in by_stage.items()
                },
            }
        )

    import statistics

    med_wall = statistics.median(s["wall_s"] for s in steps)
    med_cpu = statistics.median(s["task_cpu_s"] for s in steps)
    stage_names = sorted({k for s in steps for k in s["stages"]})
    stage_meds = {
        k: {
            f: round(
                statistics.median(
                    s["stages"].get(k, {}).get(f, 0.0) for s in steps
                ),
                3,
            )
            for f in ("wall_s", "task_cpu_s", "shuffle_w_mb", "shuffle_r_mb")
        }
        for k in stage_names
    }
    for k, v in stage_meds.items():
        print(f"{k:32s} wall {v['wall_s']:7.3f}  cpu {v['task_cpu_s']:7.3f}  "
              f"shW {v['shuffle_w_mb']:7.1f}MB shR {v['shuffle_r_mb']:7.1f}MB",
              file=sys.stderr)
    print(
        json.dumps(
            {
                "metric": "csr_superstep_profile",
                "value": med_wall,
                "unit": "sec",
                "cpus": cpus,
                "edges": res["edges"],
                "iter_walls": res["walls"],
                "superstep_wall_median": med_wall,
                "task_cpu_s_median": med_cpu,
                "stage_medians": stage_meds,
                "n_steady": len(steps),
            }
        )
    )


if __name__ == "__main__":
    main()
