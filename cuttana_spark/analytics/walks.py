"""Deterministic random walks — the DeepWalk/node2vec corpus generator.

Each walk step is a pure function of (walk_id, step): the next neighbor is
the idx-th element, idx = H(walk_id || '|' || step) mod degree, of the
vertex's neighbor list under a fixed deterministic order, with H the
portable md5-prefix hash. Determinism buys three things: walks are
reproducible across runs and engines (the DuckDB oracle replays the
identical recurrence), resumable mid-walk, and shardable without
coordination — at 10^12-edge scale every step is one hash join of the
frontier (walk_id, vertex) against the adjacency table, shuffling only the
O(#walks) frontier.

Hub safety: the adjacency is built as HASH-OF-DST CHUNK rows of at most
~`max_nbrs_per_row` neighbors each (one row for every vertex below the cap),
so a degree-10^8 hub never materializes as a single giant array cell. Each
chunk row carries (start, len, total degree) computed by a window over the
per-vertex CHUNK list (<= ceil(degree/cap) rows — never a per-neighbor
window), and a step resolves idx to the unique chunk with
start <= idx < start+len. The deterministic neighbor order is therefore
(chunk_id, dst-sorted-within-chunk); for every vertex below the cap there is
exactly one chunk and the order degenerates to the plain dst-sorted order —
bit-identical to the unchunked implementation (and to the SQL oracle, whose
fixtures sit far below the default cap).

Dead ends (isolated vertices) terminate their walk; emitted rows carry
(walk_id, step, vertex) so downstream can window into context pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cuttana_spark.operators.text import portable_hash64
from cuttana_spark.plans.checkpoints import scope


def walk_adjacency(edges: DataFrame, max_nbrs_per_row: int = 65536) -> DataFrame:
    """(vertex, nbrs, _start, _clen, _dtot) chunked adjacency for walks.

    Neighbors are DISTINCT (multi-edges collapse, as collect_set did); a dst
    lands in exactly one hash chunk, so chunk sizes are ~degree/n_chunks in
    expectation and the global (chunk, dst) order is a total order over the
    neighbor set."""
    sym = edges.select("src", "dst").unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = sym.groupBy("src").agg(F.countDistinct("dst").alias("_deg"))
    n_chunks = F.ceil(F.col("_deg") / F.lit(float(max_nbrs_per_row))).cast("long")
    chunk_rows = (
        sym.join(deg, "src")
        .withColumn("_ck", F.pmod(F.xxhash64("dst"), F.greatest(n_chunks, F.lit(1))))
        .groupBy("src", "_ck")
        .agg(F.array_sort(F.collect_set("dst")).alias("nbrs"))
        .withColumn("_clen", F.size("nbrs").cast("long"))
    )
    w_prev = (
        Window.partitionBy("src")
        .orderBy("_ck")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_all = Window.partitionBy("src")
    return (
        chunk_rows.withColumn("_start", F.coalesce(F.sum("_clen").over(w_prev), F.lit(0)))
        .withColumn("_dtot", F.sum("_clen").over(w_all))
        .select(F.col("src").alias("vertex"), "nbrs", "_start", "_clen", "_dtot")
    )


def random_walks(
    spark: SparkSession,
    edges: DataFrame,
    starts: DataFrame,
    walk_length: int = 4,
    max_nbrs_per_row: int = 65536,
) -> DataFrame:
    """edges: undirected (src, dst[, weight]); starts: DataFrame[walk_id,
    vertex] (walk_id unique). Returns (walk_id, step, vertex) for steps
    0..walk_length (step 0 = the start vertex)."""
    with scope() as s:
        adj = s.cache(walk_adjacency(edges, max_nbrs_per_row=max_nbrs_per_row))

        frontier = starts.select("walk_id", "vertex")
        out = [frontier.withColumn("step", F.lit(0))]
        for step in range(1, walk_length + 1):
            key = F.concat_ws("|", F.col("walk_id").cast("string"), F.lit(str(step)))
            idx = F.pmod(portable_hash64(key), F.col("_dtot"))
            stepped = (
                frontier.join(adj, "vertex")
                .filter((idx >= F.col("_start")) & (idx < F.col("_start") + F.col("_clen")))
                .select(
                    "walk_id",
                    F.element_at(
                        "nbrs", (idx - F.col("_start") + 1).cast("int")
                    ).alias("vertex"),
                )
            )
            out.append(stepped.withColumn("step", F.lit(step)))
            frontier = stepped
        res = out[0]
        for df in out[1:]:
            res = res.unionByName(df)
        return s.keep(res.select("walk_id", "step", "vertex"))
