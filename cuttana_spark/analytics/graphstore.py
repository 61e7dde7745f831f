"""One graph descriptor for the CSR analytics: payload + routing.

`open_graph(edges, kind, vertex_partitions=, hash_partitions=)` is the only
code that builds a pack payload or a routing, and every CSR caller opens its
graph through it:

* ``kind="trans"`` — PageRank's column-stochastic payload (`transition`,
  which pagerank's join path caches too);
* ``kind="sym-unit"`` — both directions of every edge, self-loops dropped,
  p = 1.0: the simple graph that k-core, LPA and CC's contraction pre-pass
  all gather over.

Routing is exactly one of two maps — the partitioned-vs-unpartitioned choice:

* ``vertex_partitions`` — a caller's (vertex, partition_id) table, e.g. the
  Cuttana map. It must map every edge source: the pack routes edges with a
  left join and raises on an unmapped source instead of dropping its edges.
* ``hash_partitions=k`` — the EXPRESSION map pmod(xxhash64(v), k). Routing
  the edges needs no O(E)⋈O(V) join, frontier updates recompute
  partition_id in codegen, and two callers agree on the map by
  construction. Partition quality only affects locality, never results.

The returned `Graph` is what the store layer (blockstore.py) packs and
fingerprints. Callers that open the SAME edges DataFrame with the same kind
and k produce semantically identical plans, so `ensure_block_store` reuses
one pack across algorithms: a pagerank → k-core → LPA → CC pipeline pays
exactly two packs (trans + sym-unit). The fingerprint carries the kind tag.
"""

from __future__ import annotations

from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def hash_partition_expr(n_partitions: int):
    """Column-expression partition map: vertex → pmod(xxhash64(v), k)."""

    def pid_of(col):
        return F.pmod(F.xxhash64(col), F.lit(n_partitions)).cast("int")

    return pid_of


def vertices(edges: DataFrame) -> DataFrame:
    """DataFrame[vertex]: the distinct union of ``src`` and ``dst``."""
    return (
        edges.select(F.col("src").alias("vertex"))
        .unionAll(edges.select(F.col("dst").alias("vertex")))
        .distinct()
    )


def transition(edges: DataFrame) -> DataFrame:
    """PageRank's column-stochastic transition (src, dst, p = w / Σ_src w)
    over the DIRECTED edge table. A window over src instead of a
    groupBy + join: no out-weight subtree, and an input already
    hash-partitioned on src needs no exchange. The sum is exact in any order
    for integer-valued weights (doubles below 2^53), so p is bit-identical
    to the join formulation on count-weighted graphs."""
    e = edges.select("src", "dst", F.col("weight").cast("double"))
    p = F.col("weight") / F.sum("weight").over(Window.partitionBy("src"))
    return e.select("src", "dst", p.alias("p"))


class Graph(NamedTuple):
    """A pack payload ``trans`` (src, dst, p) routed by ``vp`` (vertex,
    partition_id). ``pid_of`` is the expression map when ``vp`` was built
    from it (hash routing) and None when ``vp`` is a caller's table."""

    trans: DataFrame
    vp: DataFrame
    kind: str
    pid_of: Callable | None

    @property
    def src_pid(self):
        """The routing column over ``src``; None for a table map."""
        return None if self.pid_of is None else self.pid_of(F.col("src"))

    def with_pid(self, df: DataFrame) -> DataFrame:
        """``df`` (keyed by ``vertex``) plus its ``partition_id``: a codegen
        column under an expression map, a left join under a table map that
        gives -1 to a vertex the map lacks."""
        if self.pid_of is not None:
            return df.withColumn("partition_id", self.pid_of(F.col("vertex")))
        return df.join(self.vp, "vertex", "left").withColumn(
            "partition_id", F.coalesce("partition_id", F.lit(-1))
        )


def open_graph(
    edges: DataFrame,
    kind: str,
    vertex_partitions: DataFrame | None = None,
    hash_partitions: int | None = None,
) -> Graph:
    """The `Graph` of ``edges`` with payload ``kind`` ("trans" or
    "sym-unit"), routed by exactly one of ``vertex_partitions`` (a table
    map) or ``hash_partitions`` (an expression map over that many
    partitions)."""
    if (vertex_partitions is None) == (hash_partitions is None):
        raise ValueError("pass exactly one of vertex_partitions / hash_partitions")
    e = edges.select("src", "dst")
    if kind == "trans":
        trans = transition(edges)
    elif kind == "sym-unit":
        trans = (
            e.unionAll(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
            .filter(F.col("src") != F.col("dst"))
            .withColumn("p", F.lit(1.0))
        )
    else:
        raise ValueError(f"unknown graph kind {kind!r}")
    if hash_partitions is None:
        return Graph(trans, vertex_partitions.select("vertex", "partition_id"), kind, None)
    pid_of = hash_partition_expr(hash_partitions)
    vp = vertices(e).select("vertex", pid_of(F.col("vertex")).alias("partition_id"))
    return Graph(trans, vp, kind, pid_of)
