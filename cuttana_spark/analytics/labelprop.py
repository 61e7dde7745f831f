"""Synchronous label propagation with deterministic tie-breaking.

Each superstep every vertex adopts the most frequent label among its
neighbors (ties → smallest label; vertices keep their label if isolated).
Deterministic by construction — (count DESC, label ASC) row_number window —
so the run is exactly reproducible and checkable against a pure-Python
oracle. Fixed max_iter (LPA need not converge; synchronous LPA can
oscillate on bipartite structures).

Self-loops are NOT neighbors (round 6): both entry points drop src == dst,
the same simple-graph convention as kcore.py, so the join and CSR paths
cannot diverge on inputs containing self-loops (a self-loop-only vertex is
"isolated" and keeps its label — which is also what counting its own label
would have produced, but tie-breaks against other neighbors differed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cuttana_spark.analytics.graphstore import open_graph, vertices
from cuttana_spark.plans.checkpoints import scope


def label_propagation(
    spark: SparkSession,
    edges: DataFrame,
    max_iter: int = 10,
    runner=None,
) -> DataFrame:
    """edges: undirected (src, dst[, weight]) → DataFrame[vertex, label]."""
    sym = (
        edges.select("src", "dst")
        .unionAll(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .filter(F.col("src") != F.col("dst"))
    )
    labels = vertices(edges).withColumn("label", F.col("vertex"))

    start = 0
    if runner is not None:
        resumed = runner.resume()
        if resumed is not None:
            start, labels = resumed
    w = Window.partitionBy("dst").orderBy(F.desc("cnt"), F.asc("label"))
    with scope() as s:
        labels = s.checkpoint(labels)
        for it in range(start, max_iter):
            freq = (
                sym.join(labels, sym.src == labels.vertex)
                .groupBy("dst", "label")
                .agg(F.count(F.lit(1)).alias("cnt"))
            )
            best = (
                freq.withColumn("rn", F.row_number().over(w))
                .filter("rn = 1")
                .select(F.col("dst").alias("vertex"), F.col("label").alias("new_label"))
            )
            labels = s.checkpoint(
                labels.join(best, "vertex", "left").select(
                    "vertex", F.coalesce("new_label", "label").alias("label")
                )
            )
            if runner is not None:
                runner.checkpoint(it + 1, labels, {})
        return s.keep(labels)


def label_propagation_csr(
    spark: SparkSession,
    edges: DataFrame,
    vertex_partitions: DataFrame | None,
    max_iter: int = 10,
    block_store: str | None = None,
    hash_partitions: int | None = None,
) -> DataFrame:
    """LPA on the CSR gather-scatter skeleton (round 5) — identical
    semantics to label_propagation() (most frequent neighbor label, ties →
    smallest, isolated keep theirs), but each superstep shuffles only the
    O(V) label frontier against executor-resident CSR blocks; the per-block
    Arrow kernel pre-counts (dst, label) runs so the global aggregation
    receives ≤ one row per (block, dst, label) instead of one per edge. The
    argmax is a single min(struct(-cnt, label)) aggregation — no window
    sort. vertex_partitions must map every edge source (see k_core_csr);
    any total map is correct, partition quality only affects locality.
    block_store: executor-resident store dir (see pagerank_csr and
    blockstore.resident_store; None packs a call-scoped store).
    hash_partitions: pass an int INSTEAD of vertex_partitions to route by
    the expression map (graphstore.open_graph) — with block_store, the
    "sym-unit" store is shared with k-core and CC over the same edges."""
    from cuttana_spark.analytics.blockstore import gather, resident_store
    from cuttana_spark.analytics.csr import LPA

    g = open_graph(edges, "sym-unit", vertex_partitions, hash_partitions)
    with scope() as s:
        frontier = s.checkpoint(
            g.with_pid(vertices(edges)).withColumn("label", F.col("vertex"))
        )
        with resident_store(spark, g, block_store) as store:
            for _ in range(max_iter):
                partials = gather(store, frontier, LPA)
                counts = partials.groupBy("dst", "label").agg(F.sum("cnt").alias("cnt"))
                best = (
                    counts.groupBy("dst")
                    .agg(
                        F.min(
                            F.struct(
                                (-F.col("cnt")).alias("nc"), F.col("label").alias("lb")
                            )
                        ).alias("s")
                    )
                    .select(F.col("dst").alias("vertex"), F.col("s.lb").alias("new_label"))
                )
                frontier = s.checkpoint(
                    frontier.join(best, "vertex", "left").select(
                        "vertex",
                        "partition_id",
                        F.coalesce("new_label", "label").alias("label"),
                    )
                )
        return s.keep(frontier).select("vertex", "label")


def label_propagation_oracle(adj: dict[int, list[int]], max_iter: int = 10) -> dict[int, int]:
    """Pure-Python oracle with identical semantics (exact-match tests)."""
    labels = {v: v for v in adj}
    for _ in range(max_iter):
        new = {}
        for v, nbrs in adj.items():
            if not nbrs:
                new[v] = labels[v]
                continue
            counts: dict[int, int] = {}
            for nb in nbrs:
                lb = labels[nb]
                counts[lb] = counts.get(lb, 0) + 1
            best = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
            new[v] = best
        labels = new
    return labels
