"""SparkSession factory for every session the engine starts itself.

``bench.py``, ``perfbench/run.py``, the test suite's ``spark`` fixture and
the ``jobs/`` benchmark and profiling scripts build their session here, so
these settings hold for every plan they run. (The two spark-submit entry
points, ``jobs/run_pagerank.py`` and ``jobs/run_corpus_pipeline.py``, take
their master and the rest of their conf from spark-submit; the one setting
they take from here is ``CODEGEN_CACHE_ENTRIES``, which they pass to their
session builder because it must be set before the JVM's first plan.)

- **Defaults fit the host.** The master is ``local[N]`` with N the CPUs this
  process may run on (``default_parallelism``), and the driver heap is half
  of the host's memory, capped at 16g (``default_driver_memory``).
  ``SPARK_GRAFT_CPUS`` and ``SPARK_GRAFT_DRIVER_MEM`` override them. A
  caller's ``master=``, ``shuffle_partitions=`` or ``extra=`` win over both.
- **Knobs a cluster would set too:** AQE on (coalesce + skew-join), Arrow
  transfer on, shuffle partitions sized to the parallelism level rather
  than Spark's static 200.
- **The generated-code cache holds the engine's working set**
  (``CODEGEN_CACHE_ENTRIES``). It is a static conf, read once per JVM when
  Spark's code generator first loads. It applies only if the JVM's first
  session comes from ``get_spark``; a session built any other way keeps
  Spark's 100 entries for the life of the JVM.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Size of Spark's generated-code cache (spark.sql.codegen.cache.maxEntries,
# an LRU keyed by generated source; Spark's default is 100). One analytics
# pass (PageRank under two maps, LPA, CC, triangles, MinHash, GEMM/IVF
# top-k) compiles about 330-360 distinct units, so at 100 entries every
# pass evicted each class before its reuse and compiled all of them again
# with Janino, and the JIT then compiled the new classes again. 1024 holds
# that working set with about 3x headroom.
CODEGEN_CACHE_ENTRIES = 1024

# the former fixed driver heap, now the cap on the host-derived one
MAX_DRIVER_HEAP_MB = 16 * 1024


def default_parallelism() -> int:
    """``$SPARK_GRAFT_CPUS``, else the number of CPUs this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def default_driver_memory() -> str:
    """``$SPARK_GRAFT_DRIVER_MEM``, else half the host's memory (MemTotal),
    capped at ``MAX_DRIVER_HEAP_MB``, as a JVM size string."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    total_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    return f"{min(total_mb // 2, MAX_DRIVER_HEAP_MB)}m"


def get_spark(
    app: str = "cuttana-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    cpus = default_parallelism()
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.appName(app)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", default_driver_memory())
    )
    for k, v in (extra or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
