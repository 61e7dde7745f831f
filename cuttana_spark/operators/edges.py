"""Edge derivation: transcripts / events → (src, dst, weight) edge tables.

Reference parity note: the reference ingests a pre-built adjacency CSV
(/root/reference/src/stream.rs:23-55). Our engine *derives* the graph from
relational tables (BASELINE.json north_star): the derivation is a pure
declarative DataFrame plan — window + lag + filter + groupBy — so Catalyst
gets predicate pushdown, column pruning and whole-stage codegen for free.
No Python UDFs anywhere on this path.

Scale notes (100 TB / 10^12 turns):
  * the lag-window shuffles once on conv_id — the natural key, no skew
    (conversations are bounded at ~40 turns);
  * turn↔tool edges are a filter, no shuffle;
  * the weight aggregation is a single hash aggregate with map-side partial
    aggregation;
  * id densification by global sort does NOT scale — it exists for
    fixture-sized graphs where the DuckDB oracle needs reproducible dense
    ids. At scale use ``mode="hash"`` (xxhash64, collision-checked).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cuttana_spark.plans.checkpoints import slot


def _turn_key():
    return F.format_string("turn|%s|%05d", F.col("conv_id"), F.col("turn_idx"))


def transcript_edge_pairs(transcripts: DataFrame) -> DataFrame:
    """Un-aggregated canonical (src_key, dst_key) pair stream — ONE scan and
    ONE conv_id window shuffle (round 6; was a two-branch union that scanned
    transcripts twice). After the lag window each turn row emits up to two
    pairs in the same pass — its consecutive-turn edge and its turn↔tool
    edge — via array + inline null-filter + explode, all codegen'd."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    turns = transcripts.select("conv_id", "turn_idx", "tool").withColumn(
        "node_key", _turn_key()
    )
    pair = lambda a, b: F.struct(a.alias("a"), b.alias("b"))
    tool_key = F.when(
        F.col("tool").isNotNull(), F.format_string("tool|%s", F.col("tool"))
    )
    return (
        turns.withColumn("prev_key", F.lag("node_key").over(w))
        .select(
            F.explode(
                F.filter(
                    F.array(
                        pair(F.col("prev_key"), F.col("node_key")),
                        pair(F.col("node_key"), tool_key),
                    ),
                    lambda s: s["a"].isNotNull() & s["b"].isNotNull(),
                )
            ).alias("e")
        )
        .select(
            F.least("e.a", "e.b").alias("src_key"),
            F.greatest("e.a", "e.b").alias("dst_key"),
        )
    )


def transcript_edge_keys(transcripts: DataFrame) -> DataFrame:
    """Undirected edge table keyed by string node keys.

    Edges (FIXTURES.md §2): consecutive turns within a conversation, and
    turn↔tool where tool IS NOT NULL; canonicalized (least, greatest);
    weights summed over duplicate pairs.
    """
    return (
        transcript_edge_pairs(transcripts)
        .groupBy("src_key", "dst_key")
        .agg(F.count(F.lit(1)).alias("weight"))
    )


def node_ids(edge_keys: DataFrame, mode: str = "sort") -> DataFrame:
    """Node dictionary (node_key, vid).

    mode="sort": dense rank over globally sorted distinct keys — exact,
    reproducible, single-partition window; fixture/oracle scale only.
    mode="hash": xxhash64 — the 100 TB path; caller should collision-check
    (``check_hash_collisions``).
    """
    keys = (
        edge_keys.select(F.col("src_key").alias("node_key"))
        .unionAll(edge_keys.select(F.col("dst_key").alias("node_key")))
        .distinct()
    )
    if mode == "hash":
        return keys.select("node_key", F.xxhash64("node_key").alias("vid"))
    w = Window.orderBy("node_key")
    return keys.select("node_key", (F.row_number().over(w) - 1).cast("long").alias("vid"))


def check_hash_collisions(nodes: DataFrame) -> int:
    """Excess node_keys over distinct vids under hash mode (must be 0 — any
    positive value means >=1 xxhash64 collision). node_ids() already emits
    DISTINCT node_keys, so count(node_key) == countDistinct(node_key) by
    construction; keeping only ONE distinct aggregate (vid) avoids the
    multi-distinct Expand that doubled the aggregate's input rows (round 7;
    was two countDistinct)."""
    r = nodes.agg(
        F.count("node_key").alias("nk"), F.countDistinct("vid").alias("nv")
    ).first()
    return int(r.nk - r.nv)


def to_edge_ids(edge_keys: DataFrame, nodes: DataFrame) -> DataFrame:
    """(src, dst, weight) with long vids, src < dst canonical order.

    The node dictionary is tiny relative to the edge table → broadcast both
    joins (no shuffle of the big side).
    """
    n_src = F.broadcast(nodes.withColumnRenamed("node_key", "src_key").withColumnRenamed("vid", "src"))
    n_dst = F.broadcast(nodes.withColumnRenamed("node_key", "dst_key").withColumnRenamed("vid", "dst"))
    return (
        edge_keys.join(n_src, "src_key")
        .join(n_dst, "dst_key")
        .select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
            "weight",
        )
    )


def transcript_edges(transcripts: DataFrame, mode: str = "sort") -> tuple[DataFrame, DataFrame]:
    """Full derivation: returns (nodes, edges) with long ids.

    mode="hash" computes ids inline (xxhash64 on the key expression) — zero
    joins, the 100 TB path; mode="sort" gives dense reproducible ids for
    fixture/oracle work via the node dictionary.

    Round 6 (hash mode): the weight aggregation groups directly on the
    hashed int64 pair instead of the string pair — same partition of rows
    under a collision-free hash (which check_hash_collisions certifies),
    and an int-pair hash aggregate shuffles 16-byte keys instead of ~40-byte
    strings.

    Round 7 (hash mode): the canonical pair stream is persisted (one live
    cache per call family — see checkpoints.slot) because BOTH returned
    relations consume it and typical callers run >=2 actions over them
    (edge count, node count, collision check): without the cache every
    action re-executed the scan + lag window + explode (~3x the derivation
    cost in bench.py's timed section). The cache is an intermediate inside
    the computation, released on the next derivation call."""
    if mode == "hash":
        pairs = slot("transcript_pairs").cache(transcript_edge_pairs(transcripts))
        nodes = node_ids(pairs, mode="hash")
        edges = (
            pairs.select(
                F.least(F.xxhash64("src_key"), F.xxhash64("dst_key")).alias("src"),
                F.greatest(F.xxhash64("src_key"), F.xxhash64("dst_key")).alias("dst"),
            )
            .groupBy("src", "dst")
            .agg(F.count(F.lit(1)).alias("weight"))
        )
        return nodes, edges
    keys = transcript_edge_keys(transcripts)
    nodes = node_ids(keys, mode=mode)
    return nodes, to_edge_ids(keys, nodes)


def events_sequence_edges(events: DataFrame) -> DataFrame:
    """Event-type transition graph: consecutive events per user by (ts, event_id).

    Node = event_type; edge (a, b) = a user produced type a then type b
    consecutively; weight = number of such transitions. SQL-expressible —
    this derivation has a matching DuckDB oracle in __spark_entry__.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        events.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .select(
            F.least("prev_type", "event_type").alias("src_key"),
            F.greatest("prev_type", "event_type").alias("dst_key"),
        )
        .groupBy("src_key", "dst_key")
        .agg(F.count(F.lit(1)).alias("weight"))
    )


def events_user_type_edges(events: DataFrame) -> DataFrame:
    """Bipartite user↔event_type interaction edges (hub-skewed by design:
    event types are high-degree hubs — exercises salting/AQE downstream)."""
    return (
        events.select(
            F.format_string("user|%d", F.col("user_id")).alias("src_key"),
            F.format_string("type|%s", F.col("event_type")).alias("dst_key"),
        )
        .groupBy("src_key", "dst_key")
        .agg(F.count(F.lit(1)).alias("weight"))
    )


def events_graph(events: DataFrame, mode: str = "sort") -> tuple[DataFrame, DataFrame]:
    """User↔type bipartite graph with long ids (analytics test graph)."""
    keys = events_user_type_edges(events)
    nodes = node_ids(keys, mode=mode)
    return nodes, to_edge_ids(keys, nodes)


def symmetrize(edges: DataFrame) -> DataFrame:
    """(src, dst, weight) undirected → both directions (directed view)."""
    return edges.select("src", "dst", "weight").unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "weight")
    )


def adjacency(edges: DataFrame, max_nbrs_per_row: int | None = 65536) -> DataFrame:
    """Symmetric adjacency (src, nbrs sorted array) — the reference's
    VertexStream shape (/root/reference/src/stream.rs:11).

    SCHEMA NOTE (changed in round 4): the default output schema is
    (src, chunk, nbrs) — NOT (src, nbrs) — and a vertex with degree > 2^16
    spans MULTIPLE rows (one per chunk). Callers that assume one row per src
    (e.g. a ``{row.src: row.nbrs for ...}`` dict comprehension) must either
    pass ``max_nbrs_per_row=None`` (small graphs only) or merge chunks
    per src themselves; the in-repo partitioner entry points do the merge
    stream-side.

    Hub safety: a collect_list row holds a vertex's WHOLE neighbor list — a
    degree-10^8 hub becomes one ~800 MB array cell and OOMs its executor.
    `max_nbrs_per_row` (DEFAULT 2^16, matching walks.walk_adjacency — pass
    None only when giant rows are provably impossible) splits each vertex's
    neighbors into ceil(degree / cap) hash-of-dst chunks (extra `chunk`
    column, one row per chunk, expected chunk size ~cap): no giant rows, and
    the chunk hash-partition keeps every dst in exactly one chunk so the
    multiset of neighbors is unchanged. Chunked adjacency is reassembled
    stream-side by the partitioner ingest (core.iter_adjacency_batches merge
    path), which requires rows of one src to be CONTIGUOUS — the partitioner
    entry points sort by (src, chunk) when they see the `chunk` column."""
    from pyspark.sql import Window

    sym = symmetrize(edges)
    if max_nbrs_per_row is None:
        return sym.groupBy("src").agg(F.array_sort(F.collect_list("dst")).alias("nbrs"))
    # degree via a window over src, not a groupBy+join: one exchange on src
    # total — hash(src) partitioning also satisfies the (src, chunk)
    # clustering the final aggregation needs, so no second exchange
    n_chunks = F.greatest(
        F.ceil(
            F.count(F.lit(1)).over(Window.partitionBy("src"))
            / F.lit(float(max_nbrs_per_row))
        ).cast("long"),
        F.lit(1),
    )
    return (
        sym.withColumn("chunk", F.pmod(F.xxhash64("dst"), n_chunks))
        .groupBy("src", "chunk")
        .agg(F.array_sort(F.collect_list("dst")).alias("nbrs"))
    )


def densify_edges(edges: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Distributed id densification — the scale companion to
    partition.cuttana_partition_df_spill(dense_ids=True).

    Returns (vertex_map, dense_edges): vertex_map(orig, vid) assigns dense
    vids 0..n-1 by a distributed range sort + RDD zipWithIndex (two
    distributed passes: per-partition counts, then offset per partition) —
    NO single-partition window and no driver-side id table, unlike
    node_ids(mode="sort"). dense_edges carries (src, dst[, weight]) remapped
    through two shuffle joins on the vertex map."""
    verts = (
        edges.select(F.col("src").alias("orig"))
        .union(edges.select(F.col("dst").alias("orig")))
        .distinct()
    )
    rdd = verts.orderBy("orig").rdd.map(lambda r: r[0]).zipWithIndex()
    vmap = rdd.map(lambda kv: (int(kv[0]), int(kv[1]))).toDF(["orig", "vid"])
    extra = [c for c in edges.columns if c not in ("src", "dst")]
    dense = (
        edges.join(
            vmap.select(F.col("orig").alias("src"), F.col("vid").alias("_s")), "src"
        )
        .join(vmap.select(F.col("orig").alias("dst"), F.col("vid").alias("_d")), "dst")
        .select(F.col("_s").alias("src"), F.col("_d").alias("dst"), *extra)
    )
    return vmap, dense


def degrees(edges: DataFrame) -> DataFrame:
    """(vertex, degree) from an undirected canonical edge table."""
    return (
        symmetrize(edges)
        .groupBy(F.col("src").alias("vertex"))
        .agg(F.count(F.lit(1)).alias("degree"))
    )
