"""Session defaults: host-fitted parallelism and heap, and a generated-code
cache that holds a whole analytics sequence."""

from __future__ import annotations

import os

from cuttana_spark import session as S


def test_default_parallelism_is_the_process_cpu_set(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert S.default_parallelism() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert S.default_parallelism() == 3


def test_default_driver_memory_is_half_the_host_capped(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    with open("/proc/meminfo") as f:
        total_mb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:")) >> 10
    assert S.default_driver_memory() == f"{min(total_mb // 2, S.MAX_DRIVER_HEAP_MB)}m"

    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": (64 << 30) // 4096}  # a 64 GiB host
    monkeypatch.setattr(S.os, "sysconf", pages.__getitem__)
    assert S.default_driver_memory() == "16384m"

    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert S.default_driver_memory() == "3g"


def test_warm_analytics_sequence_reuses_generated_code(spark):
    """A warm run of an analytics sequence must find its generated classes
    in the codegen cache. The sequence compiles about 260 units when cold,
    so at Spark's default 100-entry LRU every class was evicted before its
    reuse and each run compiled about 220 of them again. The second run
    still compiles about 20 classes for plans that AQE's run-time
    re-optimization shapes differently from the cold run, so it is a
    warm-up; the third run is the measured one."""
    from cuttana_spark.analytics.components import connected_components
    from cuttana_spark.analytics.labelprop import label_propagation_csr
    from cuttana_spark.analytics.pagerank import pagerank_csr
    from cuttana_spark.analytics.triangles import triangle_count
    from cuttana_spark.operators.dedup import minhash_pairs

    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    # a 30-cycle with chords that close triangles
    pairs = [(i, (i + 1) % 30) for i in range(30)] + [(i, i + 2) for i in range(0, 28, 4)]
    edges = spark.createDataFrame(
        [(u, v, 1.0) for u, v in pairs] + [(v, u, 1.0) for u, v in pairs],
        "src long, dst long, weight double",
    )
    base = "the quick brown fox jumps over the lazy dog again and again every day"
    docs = spark.createDataFrame(
        [(1, base), (2, base.replace("lazy", "sleepy")), (3, "an unrelated short text")],
        "doc_id long, text string",
    )

    def run() -> int:
        c0 = compiles().getCount()
        pagerank_csr(spark, edges, None, max_iter=2, tol=0.0, hash_partitions=2).collect()
        label_propagation_csr(spark, edges, None, max_iter=2, hash_partitions=2).collect()
        connected_components(spark, edges).collect()
        triangle_count(spark, edges).collect()
        minhash_pairs(docs, num_hashes=16, bands=8, threshold=0.3).collect()
        return compiles().getCount() - c0

    cold, warm_up, warm = run(), run(), run()
    assert warm <= 20, (cold, warm_up, warm)
