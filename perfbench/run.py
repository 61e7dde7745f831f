"""Benchmark driver: one workload, one seed, one Spark session per process.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Paths are resolved from this file, so any working directory works. It pins
the environment, starts one ``local[nproc]`` session, builds the seeded
inputs (timed as ``setup_s``), runs the workload's untimed warm-up passes,
then times a fixed number of passes, ``--seconds`` over the workload's
nominal pass wall, so every run times the same pass indices. It prints one
JSON object as the last line of stdout:

- ``--trace 0``: the end-to-end metrics ``setup_s``, ``op_wall_s`` (median
  over the timed passes) and ``op_cpu_s`` (likewise). Both walls are net of
  hypervisor steal: each is scaled by one minus the share of the CPU time
  the host wanted that went to other guests (``proctree.stolen_share``);
- ``--trace 1``: the per-layer table. Every call runs under its own Spark
  job group with ``/proc`` snapshots around it, and an event log is
  written for traced passes only (see eventlog.py). ``trace.overhead_pct``
  is the tracer's own cost per pass: seconds in its driver-side code plus
  the CPU seconds of the JVM thread that writes the event log, over the
  pass wall.

Every pass checks its outputs (workloads.py); a call whose output fails a
check counts as a failed operation. README.md records the workloads, the
pinned environment and the measurements behind these choices.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

DRIVER_HEAP = "2g"
GC_SETTLE_S = 0.2
# a traced run times this many times the passes of a plain run, so every
# per-layer median has at least two samples
TRACED_PASSES = 2
THREAD_VARS = ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS", "NUMEXPR_NUM_THREADS")
CALL_METRICS = (
    "wall_s",
    "driver_cpu_s",
    "jvm_cpu_s",
    "pyworker_cpu_s",
    "stages",
    "shuffle_write_mb",
    "shuffle_records",
    "spill_mb",
    "driver_gap_s",
)
PROC_METRICS = (
    "proc.first_pass_s",
    "proc.peak_rss_mb",
    "proc.leaked_cached_mb",
    "trace.overhead_pct",
)
MB = float(1 << 20)


def layer_metric_names() -> list[str]:
    """Every per-layer metric a traced run prints, in BENCHMARK.json order."""
    from workloads import ALL_CALLS, EXTRA_METRICS

    calls = [f"{c}.{m}" for c in ALL_CALLS for m in CALL_METRICS]
    return calls + list(EXTRA_METRICS) + list(PROC_METRICS)


def pin_environment(work: str) -> int:
    """Everything the JVM and the Python workers inherit, set before the
    session starts: one BLAS thread per worker, the checkout on the workers'
    import path, and every scratch directory inside ``work``."""
    nproc = len(os.sched_getaffinity(0))
    for var in THREAD_VARS:
        os.environ[var] = "1"
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    for var, sub in (
        ("SPARK_LOCAL_DIRS", "spark-local"),
        ("TMPDIR", "tmp"),
        ("CUTTANA_BLOCK_ARENA", "arena"),
    ):
        os.environ[var] = os.path.join(work, sub)
        os.makedirs(os.environ[var], exist_ok=True)
    tempfile.tempdir = None  # re-read TMPDIR
    return nproc


def start_session(work: str, nproc: int, java_options: str = ""):
    from cuttana_spark.session import get_spark

    spark = get_spark(
        app="perfbench",
        master=f"local[{nproc}]",
        shuffle_partitions=nproc,
        extra={
            "spark.driver.memory": DRIVER_HEAP,
            # no hsperfdata file in the system /tmp; JVM temp files in work
            "spark.driver.extraJavaOptions": f"-XX:-UsePerfData {java_options} "
            f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM, then wait for every process they started."""
    import proctree
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=60)
    deadline = time.monotonic() + 60
    while proctree.descendants() and time.monotonic() < deadline:
        time.sleep(0.2)


def cached_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / MB


def clear_state(spark) -> None:
    """Drop every cache, then collect garbage in the driver and the JVM so
    that no pass pays for the previous pass's garbage. Without the full GC,
    process-tree CPU per ingest pass fell steeply for 10+ passes; with it,
    the fall is much shallower (README.md, "Warm-up")."""
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    time.sleep(GC_SETTLE_S)  # let the context cleaner drop shuffle files


class Recorder:
    """Times passes and, on traced passes, each call inside them."""

    def __init__(self, spark, workload, events=None):
        self.spark, self.workload, self.events = spark, workload, events
        self.passes: list[dict] = []
        self.calls: list[dict] = []  # one entry per traced call

    def run(self, traced: bool, phase: str) -> dict:
        import proctree

        spark, wl = self.spark, self.workload
        clear_state(spark)
        wl.reset()
        base_mb = cached_mb(spark)
        n = len(self.passes)
        sc = spark.sparkContext

        # seconds the pass spends in the tracer's own driver-side code
        instrument = [0.0]

        def call(name, fn):
            if not traced:
                return fn()
            i0 = time.perf_counter()
            sc.setJobGroup(f"{name}#{n}", name)
            s0, t0 = proctree.sample(), time.time()
            i1 = time.perf_counter()
            try:
                return fn()
            finally:
                i2 = time.perf_counter()
                t1, d = time.time(), proctree.sample() - s0
                sc.setLocalProperty("spark.jobGroup.id", None)
                self.calls.append({"call": name, "pass": n, "phase": phase,
                                   "t0": t0, "t1": t1, "cpu": d})
                instrument[0] += (i1 - i0) + (time.perf_counter() - i2)

        if traced:
            self.events.attach()
        s0, h0, t0 = proctree.sample(), proctree.host_cpu(), time.perf_counter()
        try:
            failed = wl.run_pass(call)
        except Exception:
            traceback.print_exc()
            failed = list(wl.calls)
        wall = time.perf_counter() - t0
        cpu = (proctree.sample() - s0).total_cpu_s
        stolen = proctree.stolen_share(h0, proctree.host_cpu())
        rec = {"phase": phase, "traced": traced, "wall": wall, "stolen": stolen,
               "net_wall": wall * (1.0 - stolen), "cpu": cpu, "failed": failed}
        if traced:
            rec["trace_s"] = instrument[0] + self.events.detach()
        rec["leaked_mb"] = cached_mb(spark) - base_mb
        self.passes.append(rec)
        return rec


def timed_passes(workload, seconds: float) -> int:
    return max(1, round(seconds / workload.pass_s))


def measure(spark, workload, seconds: float, trace: bool, events) -> Recorder:
    rec = Recorder(spark, workload, events)
    for _ in range(workload.warmup):
        rec.run(traced=trace, phase="warmup")
    for _ in range(timed_passes(workload, seconds) * (TRACED_PASSES if trace else 1)):
        rec.run(traced=trace, phase="timed")
    return rec


def layer_table(rec: Recorder, workload, stats) -> tuple[dict, int]:
    """Per-layer metrics (medians over timed traced passes) and the number of
    calls whose stage count or shuffle records changed between traced passes."""
    import proctree

    med = statistics.median
    # a call or metric this workload does not have reads 0
    out: dict[str, float] = dict.fromkeys(layer_metric_names(), 0.0)
    unsteady = 0
    for name in workload.calls:
        rows = [r for r in rec.calls if r["call"] == name]
        shapes = set()
        for r in rows:
            g = stats.get(f"{name}#{r['pass']}")
            r["g"] = g
            shapes.add((g.stages, g.shuffle_records) if g else (0, 0))
        unsteady += len(shapes) > 1
        timed = [r for r in rows if r["phase"] == "timed"]

        def m(f):
            return med([f(r) for r in timed])

        gv = lambda r, attr: getattr(r["g"], attr) if r["g"] else 0
        out.update({
            f"{name}.wall_s": m(lambda r: r["t1"] - r["t0"]),
            f"{name}.driver_cpu_s": m(lambda r: r["cpu"].driver_cpu_s),
            f"{name}.jvm_cpu_s": m(lambda r: r["cpu"].jvm_cpu_s),
            f"{name}.pyworker_cpu_s": m(lambda r: r["cpu"].pyworker_cpu_s),
            f"{name}.stages": m(lambda r: gv(r, "stages")),
            f"{name}.shuffle_write_mb": m(lambda r: gv(r, "shuffle_write_bytes") / MB),
            f"{name}.shuffle_records": m(lambda r: gv(r, "shuffle_records")),
            f"{name}.spill_mb": m(lambda r: gv(r, "spill_bytes") / MB),
            f"{name}.driver_gap_s": m(
                lambda r: r["g"].driver_gap_s(r["t0"], r["t1"]) if r["g"] else r["t1"] - r["t0"]
            ),
        })

    passes = rec.passes
    timed = [p for p in passes if p["phase"] == "timed"]
    out.update(workload.extra_metrics({c: out[f"{c}.wall_s"] for c in workload.calls}))
    out.update({
        "proc.first_pass_s": passes[0]["wall"],
        "proc.peak_rss_mb": proctree.sample().peak_rss_mb,
        "proc.leaked_cached_mb": med([p["leaked_mb"] for p in passes]),
        "trace.overhead_pct": 100.0 * med([p["trace_s"] / p["wall"] for p in timed]),
    })
    return out, unsteady


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "cuttana_spark", "__init__.py")):
        print(f"perfbench: no cuttana_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import proctree
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench-work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    spark = None
    try:
        nproc = pin_environment(work)
        cls = WORKLOADS[args.workload]
        h0, t0 = proctree.host_cpu(), time.perf_counter()
        spark = start_session(work, nproc, cls.java_options)
        t1 = time.perf_counter()
        wl = cls(spark, args.seed, os.path.join(work, "inputs"), nproc)
        wl.load()
        t2 = time.perf_counter()
        wl.build()
        t3 = time.perf_counter()
        setup = {"session_s": t1 - t0, "load_s": t2 - t1, "build_s": t3 - t2,
                 "stolen": proctree.stolen_share(h0, proctree.host_cpu())}
        wl.oracle()
        print(json.dumps({**setup, "oracle_s": time.perf_counter() - t3}), file=sys.stderr)

        events = None
        if args.trace:
            from eventlog import EventLog

            events = EventLog(spark, work)
        rec = measure(spark, wl, args.seconds, bool(args.trace), events)
        attempted = len(rec.passes) * len(wl.calls)
        failed = sum(len(p["failed"]) for p in rec.passes)
        timed = [p for p in rec.passes if p["phase"] == "timed"]
        if args.trace:
            metrics, unsteady = layer_table(rec, wl, events.close())
            failed += unsteady
        else:
            metrics = {
                "setup_s": (t3 - t0) * (1.0 - setup["stolen"]),
                "op_wall_s": statistics.median(p["net_wall"] for p in timed),
                "op_cpu_s": statistics.median(p["cpu"] for p in timed),
            }
        for p in rec.passes:
            print(json.dumps(p), file=sys.stderr)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        if os.path.isdir(base) and not os.listdir(base):
            os.rmdir(base)

    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": min(failed, attempted),
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
    }))
    return 0


def unit_of(metric: str) -> str:
    leaf = metric.rsplit(".", 1)[-1]
    for suffix, unit in (("_per_s", "1/s"), ("_s", "s"), ("_mb", "MB"), ("_pct", "%")):
        if leaf.endswith(suffix):
            return unit
    return "count" if leaf in ("stages", "shuffle_records", "rounds") else "ratio"


if __name__ == "__main__":
    sys.exit(main())
