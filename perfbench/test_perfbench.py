"""Tests of the benchmark's own measuring code.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import resource
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import eventlog  # noqa: E402
import proctree  # noqa: E402


def _children_cpu_s() -> float:
    ru = resource.getrusage(resource.RUSAGE_CHILDREN)
    return ru.ru_utime + ru.ru_stime


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[2]")
        .appName("proctree-test")
        .config("spark.driver.memory", "1g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    yield s
    s.stop()


def test_spark_action_cpu_is_seen_only_through_proc(spark):
    def square(batches):
        for pdf in batches:
            yield pdf.assign(id=pdf["id"] * pdf["id"])

    before, ru_before = proctree.sample(), _children_cpu_s()
    spark.range(5_000_000).selectExpr("sum(id * id % 7)").collect()
    spark.range(200_000).repartition(2).mapInPandas(square, "id long").count()
    after, ru_after = proctree.sample(), _children_cpu_s()

    used = after - before
    assert used.jvm_cpu_s > 0.0
    assert used.pyworker_cpu_s > 0.0
    # the JVM and the Python workers are alive, so nothing was reaped
    assert ru_after - ru_before == 0.0


def test_sample_splits_roles_of_this_process_tree(spark):
    s = proctree.sample()
    assert s.driver_cpu_s > 0.0
    assert s.jvm_cpu_s > 0.0
    assert s.total_cpu_s == pytest.approx(s.driver_cpu_s + s.jvm_cpu_s + s.pyworker_cpu_s)
    assert s.peak_rss_mb > 0.0
    assert os.getpid() not in proctree.descendants()


def test_event_log_covers_only_attached_jobs_and_costs_listener_cpu(spark, tmp_path):
    sc = spark.sparkContext
    log = eventlog.EventLog(spark, str(tmp_path))
    for group, attached in (("seen#0", True), ("unseen#1", False)):
        if attached:
            log.attach()
        sc.setJobGroup(group, group)
        spark.range(1000).repartition(2).count()
        sc.setLocalProperty("spark.jobGroup.id", None)
        used = log.detach()
        assert (used > 0.0) == attached
    stats = log.close()
    assert set(stats) == {"seen#0"}
    assert stats["seen#0"].shuffle_records >= 1000  # the repartition alone writes 1000


def test_benchmark_json_lists_exactly_what_a_traced_run_prints():
    import run
    from workloads import WORKLOADS

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = run.layer_metric_names()
    assert [m["name"] for m in spec["per_layer"]] == names
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == {n: run.unit_of(n) for n in names}
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)


def test_event_log_groups_stages_and_finds_the_driver_gap(tmp_path):
    def stage(kind, sid, group=None, t=None, acc=()):
        ev = {"Event": kind, "Stage Info": {"Stage ID": sid, "Stage Attempt ID": 0}}
        if group is not None:
            ev["Properties"] = {"spark.jobGroup.id": group}
        if t is not None:
            ev["Stage Info"].update({
                "Submission Time": t[0] * 1000,
                "Completion Time": t[1] * 1000,
                "Accumulables": [{"Name": n, "Value": v} for n, v in acc],
            })
        return json.dumps(ev)

    log = tmp_path / "trace"
    log.write_text("\n".join([
        stage("SparkListenerStageSubmitted", 1, "a#0"),
        stage("SparkListenerStageSubmitted", 2, "a#0"),
        stage("SparkListenerStageSubmitted", 3),  # outside any call
        stage("SparkListenerStageCompleted", 1, t=(10.0, 12.0), acc=[
            ("internal.metrics.shuffle.write.bytesWritten", 2048),
            ("internal.metrics.shuffle.write.recordsWritten", 7),
        ]),
        stage("SparkListenerStageCompleted", 2, t=(11.0, 13.0), acc=[
            ("internal.metrics.diskBytesSpilled", 5),
        ]),
        stage("SparkListenerStageCompleted", 3, t=(14.0, 15.0)),
    ]) + "\n")
    stats = eventlog.parse(str(log))
    assert set(stats) == {"a#0"}
    a = stats["a#0"]
    assert (a.stages, a.shuffle_write_bytes, a.shuffle_records, a.spill_bytes) == (2, 2048, 7, 5)
    # call [9, 16]: stages cover [10, 13], so 4 of its 7 seconds are gap
    assert a.driver_gap_s(9.0, 16.0) == pytest.approx(4.0)
