"""Spark event log for traced passes, and its parser.

Tracing attaches Spark's own ``EventLoggingListener`` to the live session for
the passes it traces and detaches it afterwards. ``spark.eventLog`` stays
off in the session conf: no untraced pass and no untraced run writes an
event log. The listener runs on the thread of Spark's shared listener
queue; ``detach`` returns that thread's CPU time since ``attach``, so the
runner can report what writing the log costs.

Every call the benchmark times runs under its own job group,
``<call>#<pass>``. ``parse`` groups stage attempts by the job group in the
``StageSubmitted`` properties and sums their task metrics.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

_SHUFFLE_BYTES = "internal.metrics.shuffle.write.bytesWritten"
_SHUFFLE_RECORDS = "internal.metrics.shuffle.write.recordsWritten"
_SPILL_BYTES = "internal.metrics.diskBytesSpilled"
# ``SparkContext.addSparkListener`` puts a listener on the shared queue
_QUEUE_THREAD = "spark-listener-group-shared"


class EventLog:
    """One event-log file under ``directory``, written only while attached."""

    def __init__(self, spark, directory: str, name: str = "trace"):
        self._sc = spark.sparkContext
        self.path = os.path.join(directory, name)
        jsc = self._sc._jsc.sc()
        conf = (
            jsc.conf()
            .clone()
            .set("spark.eventLog.rolling.enabled", "false")
            .set("spark.eventLog.compress", "false")
        )
        jvm = self._sc._jvm
        self._listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            name,
            jvm.scala.Option.empty(),
            jvm.java.net.URI("file://" + os.path.abspath(directory)),
            conf,
            jsc.hadoopConfiguration(),
        )
        self._listener.start()
        self._attached = False

    def attach(self) -> None:
        if not self._attached:
            self._sc._jsc.sc().addSparkListener(self._listener)
            self._attached = True
            self._cpu0 = self._queue_cpu_s()

    def detach(self) -> float:
        """Stop logging once every event already posted has been written.
        Returns the CPU seconds the queue's thread used while attached."""
        if not self._attached:
            return 0.0
        jsc = self._sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        # read before removing: a queue left empty stops its thread
        used = self._queue_cpu_s() - self._cpu0
        jsc.removeSparkListener(self._listener)
        self._attached = False
        return used

    def _queue_cpu_s(self) -> float:
        mx = self._sc._jvm.java.lang.management.ManagementFactory.getThreadMXBean()
        for info in mx.dumpAllThreads(False, False):
            if info.getThreadName() == _QUEUE_THREAD:
                return mx.getThreadCpuTime(info.getThreadId()) / 1e9
        raise RuntimeError(f"no JVM thread named {_QUEUE_THREAD}")

    def close(self) -> dict[str, "GroupStats"]:
        """Detach, finish the file and parse it."""
        self.detach()
        self._listener.stop()
        return parse(self.path)


@dataclass
class GroupStats:
    stages: int = 0
    shuffle_write_bytes: int = 0
    shuffle_records: int = 0
    spill_bytes: int = 0
    intervals: list[tuple[float, float]] = field(default_factory=list)

    def driver_gap_s(self, t0: float, t1: float) -> float:
        """Seconds of [t0, t1] (epoch s) covered by no running stage."""
        spans = sorted(
            (max(a, t0), min(b, t1)) for a, b in self.intervals if b > t0 and a < t1
        )
        covered, end = 0.0, t0
        for a, b in spans:
            if b > end:
                covered += b - max(a, end)
                end = b
        return (t1 - t0) - covered


def parse(path: str) -> dict[str, GroupStats]:
    """Per job group: completed stage attempts, their shuffle and spill
    totals, and their [submission, completion] intervals in epoch seconds."""
    group_of: dict[tuple[int, int], str] = {}
    stats: dict[str, GroupStats] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group is not None:
                    group_of[(info["Stage ID"], info["Stage Attempt ID"])] = group
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                group = group_of.get((info["Stage ID"], info["Stage Attempt ID"]))
                if group is None:
                    continue
                acc = {a["Name"]: a.get("Value") for a in info.get("Accumulables", [])}
                s = stats.setdefault(group, GroupStats())
                s.stages += 1
                s.shuffle_write_bytes += int(acc.get(_SHUFFLE_BYTES) or 0)
                s.shuffle_records += int(acc.get(_SHUFFLE_RECORDS) or 0)
                s.spill_bytes += int(acc.get(_SPILL_BYTES) or 0)
                s.intervals.append(
                    (info["Submission Time"] / 1000.0, info["Completion Time"] / 1000.0)
                )
    return stats
