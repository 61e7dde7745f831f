"""PageRank — two implementations sharing semantics with networkx.pagerank.

1. ``pagerank`` — pure declarative DataFrame joins + aggregations. Catalyst
   gets the whole plan; AQE handles reducer skew; per-iteration lineage is
   truncated with localCheckpoint. This is the oracle-checkable variant.

2. ``pagerank_csr`` — the scale path from the north star: frontier scores
   grouped by partition and gathered against CSR-packed per-partition
   adjacency blocks from the resident block store (blockstore.py) inside an
   Arrow ``applyInPandas`` UDF (numpy gather-scatter, no per-row Python).
   Hub-vertex skew is neutralized structurally: each block partially
   aggregates contributions per dst BEFORE the shuffle (map-side combine), so
   a degree-10^8 hub receives at most one row per block instead of one per
   edge. See csr.py for block packing.

Semantics (matches networkx.pagerank): column-stochastic transition with
weights, teleport (1-α)/N, dangling mass redistributed uniformly,
L1 convergence err < N·tol.

The reference has no analytics at all (SURVEY §0); the oracle is
networkx/DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cuttana_spark.analytics.graphstore import open_graph, vertices
from cuttana_spark.plans.checkpoints import scope


def pagerank(
    spark: SparkSession,
    edges: DataFrame,
    alpha: float = 0.85,
    max_iter: int = 100,
    tol: float = 1e-10,
    runner=None,
    checkpoint_interval: int = 5,
    iter_walls: list | None = None,
    stable_layout: bool | None = None,
) -> DataFrame:
    """PageRank over a DIRECTED weighted edge table (src, dst, weight).

    For undirected graphs pass the symmetrized table
    (operators.edges.symmetrize). Feed an edge table hash-partitioned on
    `src` (e.g. `.repartition(n, "src")` once, cached) when you can: the
    transition-matrix window then runs exchange-free and short runs skip
    ~4 s of re-exchange on the 1.3M-edge bench graph (stable_layout=True
    imposes that layout itself). Returns DataFrame[vertex, score].
    ``runner``: optional supersteps.SuperstepRunner for checkpoint/resume.
    ``checkpoint_interval``: materialize (and truncate lineage) every k-th
    superstep; intermediate supersteps stay lazily chained in one DAG.
    ``iter_walls``: optional list — appends each superstep's wall seconds
    (meaningful with checkpoint_interval=1, where every superstep is its own
    job; the scaling bench's steady-state metric). In fused fixed-iteration
    mode the supersteps between two checkpoints run as one job when the
    checkpoint materializes, so the boundary superstep's entry carries the
    whole window's cost and the others read only their driver-side
    planning time.
    ``stable_layout``: lay out the static transition matrix on the join key
    and materialize it eagerly before superstep 1. Worth it only when the
    upfront repartition+count amortizes over many supersteps — default is
    on for long/tol-driven runs (tol > 0 or max_iter > 8) and off for short
    fixed-iteration runs, where the upfront cost would dominate the wall.

    AQE: when every superstep materializes as its own job
    (checkpoint_interval=1 or tol-driven), adaptive execution re-plans the
    SAME fixed-shape query each superstep — each one splits into 3 driver
    jobs (2 AQE sub-jobs + the checkpoint job) and the coalesced output
    layout forces a fresh frontier exchange next round. Measured on the
    10.5M-edge fixture at local[32]: 2.38 s/superstep with AQE vs 1.60 s
    without (local[8]: 3.02 vs 2.71). The loop therefore disables AQE for
    its own queries in that mode and restores the session setting on exit;
    lazily-chained fixed-iteration runs (one DAG) keep the session setting —
    there AQE measures slightly BETTER (15.3 s vs 16.8 s for 5 chained
    supersteps). Skew safety inside the loop comes from the plan itself
    (map-side partial aggregation bounds hub fan-in), not AQE.

    SESSION-LEVEL SIDE EFFECT: the AQE toggle is a SparkSession conf, so any
    OTHER query run concurrently on the same session during a per-superstep
    pagerank() call also executes AQE-off. Don't interleave unrelated
    queries with a tol-driven / checkpoint_interval=1 run on one session —
    use a separate session (spark.newSession()) for concurrent work. The
    original setting is restored exactly on exit: an explicitly-set value is
    set back, an unset key is unset again (not pinned to a default).
    """
    import time as _time

    per_superstep_jobs = checkpoint_interval == 1 or tol > 0
    aqe_touched = False
    aqe_saved = None
    if per_superstep_jobs:
        aqe_saved = spark.conf.get("spark.sql.adaptive.enabled", None)
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        aqe_touched = True
    try:
        with scope() as s:
            return _pagerank_impl(
                spark, s, edges, alpha, max_iter, tol, runner,
                checkpoint_interval, iter_walls, stable_layout, _time,
            )
    finally:
        if aqe_touched:
            if aqe_saved is None:
                spark.conf.unset("spark.sql.adaptive.enabled")
            else:
                spark.conf.set("spark.sql.adaptive.enabled", aqe_saved)


def _pagerank_impl(
    spark, s, edges, alpha, max_iter, tol, runner, checkpoint_interval,
    iter_walls, stable_layout, _time,
):
    edges = edges.select("src", "dst", F.col("weight").cast("double"))
    # ONE aggregation pass answers everything the loop needs about the
    # vertex set: the set itself, the count, and which vertices lack an
    # out-edge (round 7; was nodes.distinct + srcs.distinct + a left join —
    # three exchanges over up to 2x the rows). groupBy(max) has map-side
    # partial aggregation, so the single exchange carries ~V rows.
    flags = s.cache(
        edges.select(F.col("src").alias("vertex"), F.lit(1).alias("_has_out"))
        .unionAll(edges.select(F.col("dst").alias("vertex"), F.lit(0).alias("_has_out")))
        .groupBy("vertex")
        .agg(F.max("_has_out").alias("_has_out"))
    )
    row = flags.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("_has_out") == 0, 1).otherwise(0)).alias("n_dangling"),
    ).first()
    n = row.n
    if n == 0:
        return spark.createDataFrame([], "vertex long, score double")
    has_dangling = row.n_dangling > 0
    nodes = flags.select("vertex")

    # The transition matrix is STATIC across supersteps and joined on src
    # every one of them. Built with a window over src (p = w / sum(w) per
    # src) instead of a groupBy+join: no out_w subtree, and when the input
    # is already hash-partitioned on src the window adds NO exchange. The
    # sum is exact in any order for integer-valued weights (doubles below
    # 2^53), so p is bit-identical to the join formulation on count-weighted
    # graphs. For LONG runs, lay it out once (explicit hash partitioning on
    # the join key, no AQE-coalesced odd layout) and materialize it eagerly
    # — otherwise the first superstep's job mixes cache-fill with gather and
    # per-superstep walls are unstable (measured: 2.8 s vs 5-50 s stalls at
    # 10M edges when the cached side kept its ad-hoc post-join layout). For
    # SHORT fixed-iteration runs the upfront repartition+count costs more
    # than it saves, so it is conditional.
    from pyspark.sql import Window

    if stable_layout is None:
        stable_layout = tol > 0 or max_iter > 8
    base = edges.repartition("src") if stable_layout else edges
    trans = s.cache(
        base.select(
            "src",
            "dst",
            (F.col("weight") / F.sum("weight").over(Window.partitionBy("src"))).alias("p"),
        )
    )
    if stable_layout:
        trans.count()
    dangling_nodes = (
        flags.filter(F.col("_has_out") == 0).select("vertex")
        if has_dangling
        else None
    )

    start_iter = 0
    ranks = nodes.withColumn("score", F.lit(1.0 / n))
    if runner is not None:
        resumed = runner.resume()
        if resumed is not None:
            start_iter, ranks = resumed
            # resumed state carries real lineage — cut it before looping
            ranks = s.checkpoint(ranks)
    # fresh start: ranks is nodes(cached) + a literal column — lineage is
    # already minimal, a checkpoint here would only cost an extra job

    # FUSED fixed-iteration mode (round 7): between checkpoint boundaries the
    # full ranks table is never materialized as a relation — the state is
    # (contribs, dangling_mass), and a vertex's score is the EXPRESSION
    # cst + α·(coalesce(contrib, 0) + dm/n), identical to the one the
    # materialized table held. The per-superstep `nodes ⋈ contribs` left
    # join (a V-row scan + sort-merge per superstep whose only purpose was
    # re-introducing zero-in-degree vertices) disappears; the transition
    # join attaches scores by LEFT-joining contribs onto trans.src and
    # computing the same expression inline. Scores at boundaries are built
    # with the exact formula/relations of the unfused superstep. Only active
    # when no convergence test or resume runner needs the full table.
    use_fused = tol <= 0 and runner is None
    fused_state = None  # (contribs, dm_prev) when ranks is implicit

    def _attach_scores(rel, key_col, contribs, dm_prev):
        """LEFT-join contribs onto rel[key_col]; returns (df, score_column)
        computing the implicit per-vertex score."""
        c = contribs.select(F.col("dst").alias("_cv"), "contrib")
        out = rel.join(c, F.col(key_col) == F.col("_cv"), "left")
        if has_dangling:
            out = out.crossJoin(F.broadcast(dm_prev))
            extra = F.col("dangling_mass") / F.lit(float(n))
        else:
            extra = F.lit(0.0)
        score = F.lit((1.0 - alpha) / n) + F.lit(alpha) * (
            F.coalesce(F.col("contrib"), F.lit(0.0)) + extra
        )
        return out, score

    for it in range(start_iter, max_iter):
        _t_it = _time.monotonic() if iter_walls is not None else 0.0
        if fused_state is not None:
            pc, pdm = fused_state
            att, pscore = _attach_scores(trans, "src", pc, pdm)
            contribs = att.groupBy("dst").agg(
                F.sum(F.col("p") * pscore).alias("contrib")
            )
            dm = None
            if has_dangling:
                datt, dscore = _attach_scores(dangling_nodes, "vertex", pc, pdm)
                dm = datt.agg(
                    F.coalesce(F.sum(dscore), F.lit(0.0)).alias("dangling_mass")
                )
        else:
            contribs = (
                trans.join(ranks, trans.src == ranks.vertex)
                .groupBy("dst")
                .agg(F.sum(F.col("p") * F.col("score")).alias("contrib"))
            )
            dm = None
            if has_dangling:
                # fold the dangling-mass scalar INTO the plan via a broadcast
                # crossJoin of the 1-row aggregate — no per-superstep driver
                # action, so fixed-iteration runs stay a single lazy DAG even
                # on graphs with dangling vertices
                dm = dangling_nodes.join(ranks, "vertex").agg(
                    F.coalesce(F.sum("score"), F.lit(0.0)).alias("dangling_mass")
                )
        boundary = (
            tol > 0
            or runner is not None
            or (it + 1) % checkpoint_interval == 0
            or it + 1 == max_iter
        )
        if use_fused and not boundary:
            fused_state = (contribs, dm)
            if iter_walls is not None:
                iter_walls.append(_time.monotonic() - _t_it)
            continue
        # materialize the full ranks table (and truncate lineage/plan
        # growth) only at boundaries — intermediate supersteps live as
        # shuffle outputs that Spark reuses, so a fixed-iteration run
        # executes as ONE dag with no per-superstep driver round-trip
        joined = nodes.join(contribs, nodes.vertex == contribs.dst, "left")
        if has_dangling:
            joined = joined.crossJoin(F.broadcast(dm))
            extra = F.col("dangling_mass") / F.lit(float(n))
        else:
            extra = F.lit(0.0)
        new_ranks = joined.select(
            "vertex",
            (
                F.lit((1.0 - alpha) / n)
                + F.lit(alpha) * (F.coalesce(F.col("contrib"), F.lit(0.0)) + extra)
            ).alias("score"),
        )
        new_ranks = s.checkpoint(new_ranks)
        fused_state = None
        if tol > 0:
            err = (
                new_ranks.alias("a")
                .join(ranks.alias("b"), "vertex")
                .agg(F.sum(F.abs(F.col("a.score") - F.col("b.score"))))
                .first()[0]
            )
        else:
            err = float("inf")  # fixed-iteration mode: no convergence action
        ranks = new_ranks
        if iter_walls is not None:
            iter_walls.append(_time.monotonic() - _t_it)
        if runner is not None:
            runner.checkpoint(it + 1, ranks, {"err": float(err) if err != float("inf") else -1.0})
        if err < n * tol:
            break
    return s.keep(ranks)


def pagerank_csr(
    spark: SparkSession,
    edges: DataFrame,
    vertex_partitions: DataFrame | None,
    alpha: float = 0.85,
    max_iter: int = 100,
    tol: float = 1e-10,
    runner=None,
    checkpoint_interval: int = 5,
    iter_walls: list | None = None,
    block_store: str | None = None,
    hash_partitions: int | None = None,
) -> DataFrame:
    """PageRank via CSR-block gather-scatter (see module docstring).

    ``checkpoint_interval``/``iter_walls``: as in pagerank() — interval 1
    materializes every superstep as its own job so each wall in iter_walls
    is one steady-state superstep (the scaling bench's subject); the default
    (5) keeps fixed-iteration runs lazily chained.

    vertex_partitions: DataFrame[vertex, partition_id] — from the Cuttana
    partitioner; blocks are co-located by partition_id so each superstep
    shuffles only the O(V) frontier, not the O(E) edges.

    block_store: directory for the executor-resident block store
    (blockstore.py) — packed once, reused fingerprint-checked by later
    calls, and owned by the caller (drop_block_store when done). Each
    superstep moves only the O(V) frontier through Arrow; workers map the
    store's own files. It must be a plain path shared by the driver and
    every executor (a URI raises ValueError). None (default): the blocks are packed
    into a call-scoped temporary store that is dropped before returning,
    which needs a ``local[...]`` master (blockstore.resident_store).

    hash_partitions: pass an int INSTEAD of vertex_partitions to route by
    the expression map (graphstore.open_graph) that k-core / LPA / CC share:
    no routing join, a codegen pid attach, and with block_store set the
    "trans" store is reused by any later run over the same edges DataFrame
    and k. Scores equal the vertex_partitions mode's up to summation order:
    the partition map decides how each vertex's contributions are grouped
    into blocks before they are added.
    """
    from cuttana_spark.analytics.blockstore import gather, resident_store
    from cuttana_spark.analytics.csr import PR

    g = open_graph(edges, "trans", vertex_partitions, hash_partitions)
    edges = edges.select("src", "dst", F.col("weight").cast("double"))
    # carry partition_id through the loop so each superstep needs no extra
    # score→partition join (vertices without a partition — possible only for
    # dangling-only ids — contribute nothing and keep pid -1). The dangling
    # indicator is computed in the SAME aggregation pass that builds the
    # vertex set (one groupBy(max) exchange of ~V rows), and ONE driver
    # action fills the cache and answers vertex count + any-dangling.
    vflags = (
        edges.select(F.col("src").alias("vertex"), F.lit(1).alias("_has_out"))
        .unionAll(edges.select(F.col("dst").alias("vertex"), F.lit(0).alias("_has_out")))
        .groupBy("vertex")
        .agg(F.max("_has_out").alias("_has_out"))
    )
    with scope() as s:
        nodes_flags = s.cache(g.with_pid(vflags))
        row = nodes_flags.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("_has_out") == 0, 1).otherwise(0)).alias("n_dangling"),
        ).first()
        n = row.n
        if n == 0:
            return spark.createDataFrame([], "vertex long, score double")
        has_dangling = row.n_dangling > 0
        nodes_pid = nodes_flags.select("vertex", "partition_id")  # cache projection
        dangling_nodes = nodes_flags.filter(F.col("_has_out") == 0).select("vertex")

        start_iter = 0
        ranks = nodes_pid.withColumn("score", F.lit(1.0 / n))
        if runner is not None:
            resumed = runner.resume()
            if resumed is not None:
                start_iter, resumed_state = resumed
                ranks = resumed_state
                if "partition_id" not in ranks.columns:
                    ranks = ranks.join(nodes_pid, "vertex")
        ranks = s.checkpoint(ranks)

        import time as _time

        with resident_store(spark, g, block_store) as store:
            for it in range(start_iter, max_iter):
                _t_it = _time.monotonic()
                contribs = (
                    gather(store, ranks, PR)
                    .groupBy("dst")
                    .agg(F.sum("contrib").alias("contrib"))
                )
                joined = nodes_pid.join(contribs, nodes_pid.vertex == contribs.dst, "left")
                if has_dangling:
                    # in-plan dangling mass (broadcast 1-row aggregate) — see pagerank()
                    dm = dangling_nodes.join(ranks, "vertex").agg(
                        F.coalesce(F.sum("score"), F.lit(0.0)).alias("dangling_mass")
                    )
                    joined = joined.crossJoin(F.broadcast(dm))
                    extra = F.col("dangling_mass") / F.lit(float(n))
                else:
                    extra = F.lit(0.0)
                new_ranks = joined.select(
                    "vertex",
                    "partition_id",
                    (
                        F.lit((1.0 - alpha) / n)
                        + F.lit(alpha) * (F.coalesce(F.col("contrib"), F.lit(0.0)) + extra)
                    ).alias("score"),
                )
                # materialize (truncate lineage/plan growth) only periodically —
                # intermediate supersteps live as shuffle outputs that Spark reuses,
                # so a fixed-iteration run executes as ONE dag with no per-superstep
                # driver round-trip
                interval = max(1, checkpoint_interval)
                if tol > 0 or runner is not None or (it + 1) % interval == 0 or it + 1 == max_iter:
                    new_ranks = s.checkpoint(new_ranks)
                if tol > 0:
                    err = (
                        new_ranks.alias("a")
                        .join(ranks.alias("b"), "vertex")
                        .agg(F.sum(F.abs(F.col("a.score") - F.col("b.score"))))
                        .first()[0]
                    )
                else:
                    err = float("inf")  # fixed-iteration mode: no convergence action
                ranks = new_ranks
                if iter_walls is not None:
                    iter_walls.append(_time.monotonic() - _t_it)
                if runner is not None:
                    runner.checkpoint(it + 1, ranks, {"err": float(err) if err != float("inf") else -1.0})
                if err < n * tol:
                    break
        return s.keep(ranks).select("vertex", "score")


def personalized_pagerank(
    spark: SparkSession,
    edges: DataFrame,
    seeds: DataFrame,
    alpha: float = 0.85,
    max_iter: int = 20,
    stable_layout: bool | None = None,
) -> DataFrame:
    """Personalized PageRank: teleport (and dangling mass) go UNIFORMLY to
    the `seeds` vertex set instead of to all vertices — random walk with
    restart from the seeds. seeds: DataFrame[vertex]. Fixed-iteration,
    lazily chained like pagerank(); the seed indicator rides along as a
    column so each superstep's teleport needs no extra join."""
    edges = edges.select("src", "dst", F.col("weight").cast("double"))
    with scope() as s:
        nodes = s.cache(vertices(edges))
        n = nodes.count()
        if n == 0:
            return spark.createDataFrame([], "vertex long, score double")
        seed_df = F.broadcast(seeds.select("vertex").distinct().withColumn("is_seed", F.lit(1)))
        nodes_s = s.cache(
            nodes.join(seed_df, "vertex", "left").select(
                "vertex", F.coalesce("is_seed", F.lit(0)).alias("is_seed")
            )
        )
        n_seeds = nodes_s.agg(F.sum("is_seed")).first()[0]
        if not n_seeds:
            raise ValueError("personalized_pagerank: no seed vertex exists in the graph")

        from pyspark.sql import Window

        # static across supersteps — window-built (see pagerank), eager join-key
        # layout only when the run is long enough to amortize it
        if stable_layout is None:
            stable_layout = max_iter > 8
        base = edges.repartition("src") if stable_layout else edges
        trans = s.cache(
            base.select(
                "src",
                "dst",
                (F.col("weight") / F.sum("weight").over(Window.partitionBy("src"))).alias("p"),
            )
        )
        if stable_layout:
            trans.count()
        srcs = edges.select(F.col("src").alias("vertex")).distinct()
        dangling = s.cache(nodes.join(srcs, "vertex", "left_anti"))
        has_dangling = dangling.count() > 0

        # start from the restart distribution (uniform over seeds)
        ranks = s.checkpoint(
            nodes_s.withColumn(
                "score", F.col("is_seed").cast("double") / F.lit(float(n_seeds))
            )
        )
        for it in range(max_iter):
            contribs = (
                trans.join(ranks, trans.src == ranks.vertex)
                .groupBy("dst")
                .agg(F.sum(F.col("p") * F.col("score")).alias("contrib"))
            )
            joined = nodes_s.join(contribs, nodes_s.vertex == contribs.dst, "left")
            if has_dangling:
                dm = dangling.join(ranks, "vertex").agg(
                    F.coalesce(F.sum("score"), F.lit(0.0)).alias("dmass")
                )
                joined = joined.crossJoin(F.broadcast(dm))
                extra = F.col("dmass") / F.lit(float(n_seeds))
            else:
                extra = F.lit(0.0)
            restart = F.col("is_seed").cast("double") / F.lit(float(n_seeds))
            new_ranks = joined.select(
                "vertex",
                "is_seed",
                (
                    F.lit(1.0 - alpha) * restart
                    + F.lit(alpha) * (F.coalesce(F.col("contrib"), F.lit(0.0)) + extra * F.col("is_seed"))
                ).alias("score"),
            )
            if (it + 1) % 5 == 0 or it + 1 == max_iter:
                new_ranks = s.checkpoint(new_ranks)
            ranks = new_ranks
        return s.keep(ranks).select("vertex", "score")
