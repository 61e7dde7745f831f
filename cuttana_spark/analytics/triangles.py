"""Triangle counting via degree-ordered orientation + edge-existence join.

Each undirected edge is oriented from the endpoint with smaller (degree, id)
to the larger — the classic trick that bounds the join fan-out by the graph
arboricity (every wedge is enumerated at its lowest-degree apex, so hub
vertices never explode the self-join). Three DataFrame joins total; AQE
handles any residual skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cuttana_spark.analytics.graphstore import vertices
from cuttana_spark.plans.checkpoints import scope


def oriented_edges(edges: DataFrame) -> DataFrame:
    """Undirected (src, dst) → oriented (a, b) with (deg, id) order a < b.

    Round 7: dedup + degree-join on the CANONICAL edge set (E rows) instead
    of the symmetrized one (2E rows): distinct() now shuffles E rows, the
    two degree joins probe E rows each (was 2E), and the orientation is a
    per-row expression over the canonical pair. The emitted oriented edge
    set is identical: the old formulation kept exactly the (lo→hi) direction
    of every symmetric pair; this one constructs it directly."""
    e = edges.select("src", "dst").filter(F.col("src") != F.col("dst"))
    und = e.select(
        F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
    ).distinct()
    deg = (
        und.select(F.col("u").alias("x"))
        .unionAll(und.select(F.col("v").alias("x")))
        .groupBy("x")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    d1 = deg.select(F.col("x").alias("u"), F.col("deg").alias("deg_u"))
    d2 = deg.select(F.col("x").alias("v"), F.col("deg").alias("deg_v"))
    u_first = (F.col("deg_u") < F.col("deg_v")) | (
        (F.col("deg_u") == F.col("deg_v")) & (F.col("u") < F.col("v"))
    )
    return (
        und.join(d1, "u")
        .join(d2, "v")
        .select(
            F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("a"),
            F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("b"),
        )
    )


def triangle_count(spark: SparkSession, edges: DataFrame) -> DataFrame:
    """Returns a 1-row DataFrame[triangles: long] (global count).

    Each triangle {a,b,c} with (deg,id)-orientation a→b→c is counted exactly
    once: as the wedge (b,c) at apex a, closed by the oriented edge b→c.
    (Filtering wedge pairs by plain id order would miss triangles where the
    degree order disagrees with the id order.)"""
    with scope() as s:
        o = s.cache(oriented_edges(edges))
        e1 = o.select(F.col("a").alias("x"), F.col("b").alias("y"))
        e2 = o.select(F.col("a").alias("x"), F.col("b").alias("z"))
        wedges = e1.join(e2, "x").filter(F.col("y") != F.col("z"))
        closed = wedges.join(
            o.select(F.col("a").alias("y"), F.col("b").alias("z")), ["y", "z"]
        )
        return s.keep(closed.agg(F.count(F.lit(1)).alias("triangles")))


def triangles_per_vertex(spark: SparkSession, edges: DataFrame) -> DataFrame:
    """DataFrame[vertex, triangles] — per-vertex triangle participation."""
    with scope() as s:
        o = s.cache(oriented_edges(edges))
        e1 = o.select(F.col("a").alias("x"), F.col("b").alias("y"))
        e2 = o.select(F.col("a").alias("x"), F.col("b").alias("z"))
        wedges = e1.join(e2, "x").filter(F.col("y") != F.col("z"))
        closed = s.cache(
            wedges.join(o.select(F.col("a").alias("y"), F.col("b").alias("z")), ["y", "z"])
        )
        per = (
            closed.select(F.col("x").alias("vertex"))
            .unionAll(closed.select(F.col("y").alias("vertex")))
            .unionAll(closed.select(F.col("z").alias("vertex")))
            .groupBy("vertex")
            .agg(F.count(F.lit(1)).alias("triangles"))
        )
        return s.keep(
            vertices(edges).join(per, "vertex", "left").select(
                "vertex", F.coalesce("triangles", F.lit(0)).alias("triangles")
            )
        )
