"""Checkpointed superstep runner: resume-from-snapshot + per-partition lineage.

Every iterative algorithm (PageRank, CC, LPA) threads its per-superstep state
through this runner. State snapshots are committed atomically to the
warehouse (Iceberg-shaped, plans/warehouse.py) every `interval` supersteps;
a lineage table records (superstep, partition_id, rows, wall_ms) per commit.
Resume = read the max committed superstep and continue — killed mid-run, the
job restarts bit-identically from the last commit (tested in
tests/test_analytics.py::test_pagerank_resume).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cuttana_spark.plans.warehouse import Warehouse


class SuperstepRunner:
    def __init__(
        self,
        spark: SparkSession,
        warehouse: Warehouse,
        job: str,
        interval: int = 1,
        fail_after: int | None = None,  # test hook: die after N checkpoints
    ):
        if interval < 1:
            raise ValueError(f"interval must be >= 1, got {interval}")
        self.spark = spark
        self.wh = warehouse
        self.job = job
        self.interval = interval
        self.fail_after = fail_after
        self._commits = 0
        self._t0 = time.monotonic()

    @property
    def state_table(self) -> str:
        return f"{self.job}_state"

    @property
    def lineage_table(self) -> str:
        return f"{self.job}_lineage"

    def resume(self) -> tuple[int, DataFrame] | None:
        """(next_superstep, state) from the latest committed snapshot."""
        snap = self.wh.latest(self.state_table)
        if snap is None:
            return None
        state = self.wh.read(self.spark, self.state_table)
        return int(snap.meta["superstep"]), state

    def checkpoint(self, superstep: int, state: DataFrame, meta: dict) -> None:
        if superstep % self.interval != 0:
            return
        wall_ms = int((time.monotonic() - self._t0) * 1000)
        self.wh.commit(
            self.spark,
            self.state_table,
            state,
            {"superstep": superstep, **meta},
        )
        lineage = state.groupBy(F.spark_partition_id().alias("partition_id")).agg(
            F.count(F.lit(1)).alias("rows")
        ).select(
            F.lit(superstep).alias("superstep"),
            "partition_id",
            "rows",
            F.lit(wall_ms).alias("wall_ms"),
        )
        self.wh.commit(self.spark, self.lineage_table, lineage, {"superstep": superstep})
        self._commits += 1
        if self.fail_after is not None and self._commits >= self.fail_after:
            raise RuntimeError(f"injected failure after {self._commits} checkpoints")
