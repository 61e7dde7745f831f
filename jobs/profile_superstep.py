"""Per-stage breakdown of the PageRank superstep floor (VERDICT r3 item 2).

The round-3 scaling bench showed sec/superstep hitting a floor that extra
cores barely move (3.02 s at local[8] -> 2.74 s at local[32] on the
10.5M-edge fixture) while the compute-bound kernel kept scaling (0.875 at
8->32) — so the shortfall is NOT a memory-bus cap; it is fixed per-superstep
cost the fixture cannot amortize. This job names that cost: it runs the
exact scaling-bench superstep loop with the Spark event log enabled, then
accounts every steady-state superstep's wall into

  * per-stage executor task time (parallel work, scales with cores),
  * per-stage wall (critical path through the stage DAG),
  * scheduler/driver gaps (wall not covered by any running stage: job
    submission, DAG planning, localCheckpoint bookkeeping, py4j round-trips).

Usage: python jobs/profile_superstep.py [--cpus 32] [--iters 10]
       [--nconv 200000]   (prints one JSON line; human table to stderr)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

WORKER = r"""
import glob, json, sys, time
sys.path.insert(0, "{repo}")
cpus = int(sys.argv[1]); iters = int(sys.argv[2]); nconv = int(sys.argv[3]); shuf = int(sys.argv[4])
evdir = sys.argv[5]
from pyspark.sql import functions as F
from cuttana_spark.session import get_spark
from cuttana_spark.operators import edges as E
from cuttana_spark.analytics.pagerank import pagerank

spark = get_spark(app=f"profile-pr-{{cpus}}", master=f"local[{{cpus}}]", shuffle_partitions=shuf,
                  extra={{"spark.local.dir": "/dev/shm/spark-scale",
                         "spark.eventLog.enabled": "true",
                         "spark.eventLog.compress": "false",
                         "spark.eventLog.rolling.enabled": "false",
                         "spark.eventLog.dir": "file://" + evdir}})
spark.sparkContext.setLogLevel("ERROR")
tdf = spark.read.parquet("{repo}/fixtures/scale_transcripts_{{}}.parquet".format(nconv))
nodes, eids = E.transcript_edges(tdf, mode="hash")
sym = E.symmetrize(eids).repartition(shuf, "src").cache()
n_edges = sym.count()
walls = []
pagerank(spark, sym, max_iter=iters, tol=0.0, checkpoint_interval=1,
         iter_walls=walls, stable_layout=True)
spark.stop()
print("RESULT " + json.dumps({{"cpus": cpus, "edges": n_edges,
                              "walls": [round(w, 3) for w in walls]}}))
"""


def parse_eventlog(evdir: str) -> dict:
    """Aggregate stages + jobs from the single app event log in evdir."""
    import glob

    files = [f for f in glob.glob(os.path.join(evdir, "*")) if not f.endswith(".inprogress")]
    files = files or glob.glob(os.path.join(evdir, "*"))
    assert files, f"no event log in {evdir}"
    if os.path.isdir(files[0]):  # Spark 4 rolling layout: eventlog_v2_<app>/events_*
        inner = sorted(glob.glob(os.path.join(files[0], "events*")))
        assert inner, f"no events file in {files[0]}"
        files = inner
    stages = {}
    jobs = []
    lines = []
    for fp in files:
        with open(fp) as f:
            lines.extend(f)
    if True:
        for line in lines:
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            et = ev.get("Event")
            if et == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                sid = si["Stage ID"]
                # TaskEnd events for this stage arrived first — merge, don't
                # replace, or the task-metric accumulations are lost
                stages.setdefault(sid, {}).update(
                    {
                        "name": si["Stage Name"].split(" at ")[0],
                        "submit_ms": si.get("Submission Time"),
                        "complete_ms": si.get("Completion Time"),
                        "n_tasks": si.get("Number of Tasks"),
                    }
                )
            elif et == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                m = ev.get("Task Metrics") or {}
                st = stages.setdefault(sid, {})
                st["task_time_ms"] = st.get("task_time_ms", 0) + m.get("Executor Run Time", 0)
                st["deser_ms"] = st.get("deser_ms", 0) + m.get("Executor Deserialize Time", 0)
                st["gc_ms"] = st.get("gc_ms", 0) + m.get("JVM GC Time", 0)
                sw = (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                sr = (m.get("Shuffle Read Metrics") or {}).get("Remote Bytes Read", 0) + (
                    m.get("Shuffle Read Metrics") or {}
                ).get("Local Bytes Read", 0)
                st["shuffle_write_b"] = st.get("shuffle_write_b", 0) + sw
                st["shuffle_read_b"] = st.get("shuffle_read_b", 0) + sr
                st["fetch_wait_ms"] = st.get("fetch_wait_ms", 0) + (
                    m.get("Shuffle Read Metrics") or {}
                ).get("Fetch Wait Time", 0)
                st["write_time_ms"] = st.get("write_time_ms", 0) + (
                    m.get("Shuffle Write Metrics") or {}
                ).get("Shuffle Write Time", 0) // 1_000_000
            elif et == "SparkListenerJobStart":
                jobs.append(
                    {
                        "job": ev["Job ID"],
                        "t0": ev["Submission Time"],
                        "stages": [s["Stage ID"] for s in ev["Stage Infos"]],
                    }
                )
            elif et == "SparkListenerJobEnd":
                for j in jobs:
                    if j["job"] == ev["Job ID"]:
                        j["t1"] = ev["Completion Time"]
    return {"stages": stages, "jobs": jobs}


def main() -> None:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    cpus, iters, nconv, shuf = 32, 10, 200_000, 64
    argv = sys.argv
    if "--cpus" in argv:
        cpus = int(argv[argv.index("--cpus") + 1])
    if "--iters" in argv:
        iters = int(argv[argv.index("--iters") + 1])
    if "--nconv" in argv:
        nconv = int(argv[argv.index("--nconv") + 1])
    sys.path.insert(0, repo)
    from bench_scaling import _ensure_fixture

    _ensure_fixture(nconv)
    evdir = tempfile.mkdtemp(prefix="pr_eventlog_")
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

    # One superstep at checkpoint_interval=1 executes as one or more driver
    # jobs ENDING with the localCheckpoint job that materializes the new
    # state (with AQE enabled each query stage is its own sub-job — observed
    # 3 jobs/superstep; with AQE disabled, the loop's default now, the whole
    # superstep is the single localCheckpoint job). Group jobs into
    # supersteps at localCheckpoint boundaries, keep the last `iters` groups,
    # drop the first 4 (JIT/codegen warmup, same convention as
    # bench_scaling).
    jobs = [j for j in ev["jobs"] if "t1" in j]
    stages = ev["stages"]

    def is_ckpt_job(j):
        return any(
            stages.get(s, {}).get("name") == "localCheckpoint" for s in j["stages"]
        )

    groups = []
    cur = []
    for j in jobs:
        cur.append(j)
        if is_ckpt_job(j):
            groups.append(cur)
            cur = []
    triplets = groups[-iters:][4:]

    def ms(x):
        return round(x / 1000.0, 3)

    steps = []
    for js in triplets:
        wall = js[-1]["t1"] - js[0]["t0"]
        inter_gap = sum(max(0, b["t0"] - a["t1"]) for a, b in zip(js, js[1:]))
        sts = []
        for ji, j in enumerate(js):
            ran = [
                dict(stages[s], stage_id=s, job_pos=ji)
                for s in j["stages"]
                if s in stages and stages[s].get("submit_ms")
            ]
            ran.sort(key=lambda s: s["submit_ms"])
            for si, s in enumerate(ran):
                s["label"] = f"j{ji}.s{si}"
            sts.extend(ran)
        # union of executed-stage intervals -> driver gap = wall not inside
        # any running stage (job submission, AQE re-planning, py4j,
        # checkpoint bookkeeping, blocking unpersists)
        covered = 0
        cur_a = cur_b = None
        for s in sorted(sts, key=lambda s: s["submit_ms"]):
            a, b = s["submit_ms"], s["complete_ms"]
            if cur_a is None:
                cur_a, cur_b = a, b
            elif a <= cur_b:
                cur_b = max(cur_b, b)
            else:
                covered += cur_b - cur_a
                cur_a, cur_b = a, b
        if cur_a is not None:
            covered += cur_b - cur_a
        steps.append(
            {
                "wall_sec": ms(wall),
                "n_jobs": len(js),
                "n_stages": len(sts),
                "stage_wall_sec": ms(covered),
                "driver_gap_sec": ms(wall - covered),
                "inter_job_gap_sec": ms(inter_gap),
                "stages": [
                    {
                        "label": s["label"],
                        "name": s.get("name"),
                        "wall_sec": ms(s["complete_ms"] - s["submit_ms"]),
                        "n_tasks": s.get("n_tasks"),
                        "task_time_sec": ms(s.get("task_time_ms", 0)),
                        "ideal_parallel_sec": ms(s.get("task_time_ms", 0) / cpus),
                        "gc_sec": ms(s.get("gc_ms", 0)),
                        "fetch_wait_sec": ms(s.get("fetch_wait_ms", 0)),
                        "shuffle_write_mb": round(s.get("shuffle_write_b", 0) / 1e6, 1),
                        "shuffle_read_mb": round(s.get("shuffle_read_b", 0) / 1e6, 1),
                    }
                    for s in sts
                ],
            }
        )

    import statistics
    from collections import defaultdict

    med_wall = statistics.median(s["wall_sec"] for s in steps)
    med_gap = statistics.median(s["driver_gap_sec"] for s in steps)
    med_stage = statistics.median(s["stage_wall_sec"] for s in steps)
    # median per-stage breakdown keyed by (job position, stage position) —
    # the superstep's stage shape repeats every iteration
    by_label = defaultdict(list)
    for s in steps:
        for st in s["stages"]:
            by_label[st["label"]].append(st)
    by_pos = []
    for label in sorted(by_label):
        rows = by_label[label]
        by_pos.append(
            {
                "label": label,
                "name": rows[0]["name"],
                "seen_in": len(rows),
                "wall_sec": round(statistics.median(r["wall_sec"] for r in rows), 3),
                "n_tasks": rows[0]["n_tasks"],
                "task_time_sec": round(statistics.median(r["task_time_sec"] for r in rows), 3),
                "ideal_parallel_sec": round(
                    statistics.median(r["ideal_parallel_sec"] for r in rows), 3
                ),
                "sched_and_straggler_sec": round(
                    statistics.median(r["wall_sec"] - r["ideal_parallel_sec"] for r in rows), 3
                ),
                "gc_sec": round(statistics.median(r["gc_sec"] for r in rows), 3),
                "fetch_wait_sec": round(statistics.median(r["fetch_wait_sec"] for r in rows), 3),
                "shuffle_write_mb": round(statistics.median(r["shuffle_write_mb"] for r in rows), 1),
                "shuffle_read_mb": round(statistics.median(r["shuffle_read_mb"] for r in rows), 1),
            }
        )
    result = {
        "metric": "pagerank_superstep_breakdown",
        "cpus": cpus,
        "edges": res["edges"],
        "walls": res["walls"],
        "jobs_per_superstep": round(
            statistics.median(s["n_jobs"] for s in steps)
        ),
        "median_superstep_wall_sec": med_wall,
        "median_stage_wall_sec": med_stage,
        "median_driver_gap_sec": med_gap,
        "median_inter_job_gap_sec": round(
            statistics.median(s["inter_job_gap_sec"] for s in steps), 3
        ),
        "stage_breakdown_median": by_pos,
        "accounting": {
            "floor_sec": med_wall,
            "inside_stages_sec": med_stage,
            "outside_stages_sec": med_gap,
            "parallel_work_sec": round(sum(s["ideal_parallel_sec"] for s in by_pos), 3),
            "fixed_cost_sec": round(
                med_gap + sum(s["sched_and_straggler_sec"] for s in by_pos), 3
            ),
        },
        "per_superstep": [
            {k: v for k, v in s.items() if k != "stages"} for s in steps
        ],
    }
    for s in by_pos:
        print(
            f"  {s['label']} {s['name'][:24]:<24} wall {s['wall_sec']:6.3f}s "
            f"tasks {s['n_tasks']:>3} ideal {s['ideal_parallel_sec']:6.3f}s "
            f"fixed {s['sched_and_straggler_sec']:6.3f}s "
            f"shW {s['shuffle_write_mb']:7.1f}MB shR {s['shuffle_read_mb']:7.1f}MB",
            file=sys.stderr,
        )
    print(
        f"  superstep wall {med_wall:.3f}s = stages {med_stage:.3f}s "
        f"+ driver gap {med_gap:.3f}s",
        file=sys.stderr,
    )
    print(json.dumps(result))
    if "--keep" in argv:
        print(f"  event log kept: {evdir}", file=sys.stderr)
    else:
        import shutil

        shutil.rmtree(evdir, ignore_errors=True)


if __name__ == "__main__":
    main()
