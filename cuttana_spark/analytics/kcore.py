"""k-core decomposition by iterative peeling.

The k-core is the maximal subgraph where every vertex has degree >= k.
Peeling: repeatedly drop vertices whose degree among the *surviving* set is
below k, to fixpoint. Each round is two hash joins (edges x alive set, both
sides) and one aggregate — fully declarative, shrinking working set,
localCheckpoint truncates lineage per round. Round count is bounded by the
longest peeling chain (18 on the transcripts fixture at k=2); at 10^12-edge
scale each round's joins shuffle only the surviving O(V) vertex set against
the edge table, which stays cached/bucketed.

Oracle: pure-Python/networkx `core_number` in tests; the driver oracle
unrolls the same peeling as materialized DuckDB CTEs (__spark_entry__).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cuttana_spark.plans.checkpoints import scope


def k_core_csr(
    spark: SparkSession,
    edges: DataFrame,
    vertex_partitions: DataFrame | None,
    k: int,
    max_rounds: int = 200,
    round_walls: list | None = None,
    block_store: str | None = None,
    hash_partitions: int | None = None,
) -> DataFrame:
    """k-core peeling on the CSR gather-scatter skeleton (round 5).

    The peeling recurrence is a {0,1}-valued PageRank superstep: with the
    frontier carrying alive(v) ∈ {0.0, 1.0} and every packed edge weighted
    p = 1.0, the gathered per-dst sum is exactly |N(v) ∩ alive| (float sums
    of 1.0 are exact integers far beyond any degree), and the peel is
    new_alive(v) = alive(v) ∧ (count ≥ k). So each round shuffles only the
    O(V) frontier against the executor-resident CSR blocks — the join-based
    k_core() below re-exchanges the O(E) symmetric edge set twice per round
    once the alive set is too big to broadcast. Dead vertices stay in the
    frontier with score 0.0 (the kernel resolves block srcs positionally, so
    every src must be present); the frontier is O(V) rows regardless.

    vertex_partitions must map every edge source: the pack routes edges by
    a left join on the source's partition and raises on an unmapped source
    rather than drop its edges. The Cuttana partitioner over the same
    graph's adjacency satisfies this; any total vertex→partition map is
    CORRECT (partition quality only affects locality, never the result).
    hash_partitions: pass an int INSTEAD of vertex_partitions to route by
    the expression map (graphstore.open_graph) — with block_store, the
    "sym-unit" store is shared with LPA and CC over the same edges.

    block_store: executor-resident store dir (see pagerank_csr and
    blockstore.resident_store; None packs a call-scoped store).
    """
    import time as _time

    from cuttana_spark.analytics.blockstore import gather, resident_store
    from cuttana_spark.analytics.csr import PR
    from cuttana_spark.analytics.graphstore import open_graph, vertices

    g = open_graph(edges, "sym-unit", vertex_partitions, hash_partitions)
    with scope() as s:
        frontier = s.checkpoint(
            g.with_pid(vertices(edges)).withColumn("score", F.lit(1.0))
        )
        n_prev = frontier.count()  # everyone starts alive
        with resident_store(spark, g, block_store) as store:
            for _ in range(max_rounds):
                t0 = _time.monotonic()
                contribs = (
                    gather(store, frontier, PR)
                    .groupBy("dst")
                    .agg(F.sum("contrib").alias("contrib"))
                )
                nf = frontier.join(contribs, frontier.vertex == contribs.dst, "left").select(
                    frontier.vertex,
                    frontier.partition_id,
                    F.when(
                        (frontier.score > 0)
                        & (F.coalesce(contribs.contrib, F.lit(0.0)) >= k),
                        1.0,
                    )
                    .otherwise(0.0)
                    .alias("score"),
                )
                nf = s.checkpoint(nf)
                n_alive = nf.filter(F.col("score") > 0).count()
                frontier = nf
                if round_walls is not None:
                    round_walls.append(round(_time.monotonic() - t0, 3))
                if n_alive == n_prev or n_alive == 0:
                    break
                n_prev = n_alive
        return s.keep(frontier).filter(F.col("score") > 0).select("vertex")


def k_core(spark: SparkSession, edges: DataFrame, k: int, max_rounds: int = 200) -> DataFrame:
    """edges: undirected canonical (src, dst[, weight]) → DataFrame[vertex]
    containing exactly the k-core vertices (empty if none).

    Self-loops are dropped (src != dst) exactly as in k_core_csr, so the two
    entry points are interchangeable on ANY input: the k-core is defined on
    the simple graph, and a self-loop never contributes to the degree that
    peeling counts. (Isolated self-loop-only vertices therefore peel out at
    k >= 1, matching networkx's core_number on the graph minus self-loops.)"""
    with scope() as s:
        sym = s.cache(
            edges.select("src", "dst")
            .unionAll(
                edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            )
            .filter(F.col("src") != F.col("dst"))
        )
        alive = s.checkpoint(sym.select(F.col("src").alias("vertex")).distinct())
        n_prev = alive.count()
        for _ in range(max_rounds):
            deg = (
                sym.join(alive.withColumnRenamed("vertex", "src"), "src")
                .join(alive.withColumnRenamed("vertex", "dst"), "dst")
                .groupBy("src")
                .agg(F.count(F.lit(1)).alias("deg"))
            )
            new_alive = s.checkpoint(
                deg.filter(F.col("deg") >= k).select(F.col("src").alias("vertex"))
            )
            n_new = new_alive.count()
            alive = new_alive
            if n_new == n_prev or n_new == 0:
                break
            n_prev = n_new
        return s.keep(alive)
