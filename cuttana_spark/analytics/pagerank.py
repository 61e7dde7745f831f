"""PageRank — one recurrence, two contribution steps, a teleport vector.

Every PageRank here iterates

    x'(v) = (1-α)·t(v) + α·(c(v) + d·t(v)),    c(v) = Σ_{u→v} p(u,v)·x(u)

over the column-stochastic transition p = w / Σ_src w
(graphstore.transition), where d is the score on dangling vertices (no
out-edge), handed out like the teleport. The public functions differ only
in how they compute c and in the teleport vector t:

* ``pagerank`` — c by a ``trans ⋈ ranks`` join; t = 1/n. Catalyst gets the
  whole plan; this is the oracle-checkable variant.
* ``pagerank_csr`` — c by ``blockstore.gather(store, ranks, PR)``: the
  frontier gathered per partition against the resident CSR blocks inside an
  Arrow UDF (numpy gather-scatter); t = 1/n. Each block combines its
  contributions per dst before the shuffle, so a hub receives one row per
  block, not one per edge (csr.py packs the blocks).
* ``personalized_pagerank`` — the join step; t = seed indicator / n_seeds
  (random walk with restart from the seeds).

Written once for all three: the vertex-flags pass (`_vertex_flags`), the
rank update (`_Recurrence`) and the boundary step of `_iterate` (checkpoint
cadence, L1 convergence err < n·tol, ``iter_walls``, ``runner`` snapshots).
With t = 1/n the semantics match networkx.pagerank; the oracle is
networkx/DuckDB.
"""

from __future__ import annotations

import time
from contextlib import contextmanager, nullcontext
from typing import Callable, NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from cuttana_spark.analytics.graphstore import open_graph, transition
from cuttana_spark.plans.checkpoints import Scope, scope

_EMPTY = "vertex long, score double"
_DM = "dangling_mass"


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
    superstep (k >= 1); intermediate supersteps stay lazily chained in one
    DAG.
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

    FUSED fixed-iteration mode (tol <= 0, no runner): between checkpoints
    the state is the previous superstep's (contribs, dangling_mass) and a
    score is the update EXPRESSION over them, so the per-superstep
    `nodes ⋈ contribs` V-row join disappears (5-superstep plan: 194 → 106
    Exchanges).

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
    _check_interval(checkpoint_interval)
    edges = edges.select("src", "dst", F.col("weight").cast("double"))
    per_superstep_jobs = checkpoint_interval == 1 or tol > 0
    with _aqe_off(spark) if per_superstep_jobs else nullcontext(), scope() as s:
        nodes, n, dangling = _vertex_flags(s, edges)
        if n == 0:
            return spark.createDataFrame([], _EMPTY)
        pr = _Recurrence(nodes, n, dangling, alpha, n, None)
        step = _join_step(s, edges, pr, stable_layout, tol > 0 or max_iter > 8)
        ranks = _iterate(
            s, pr, step, max_iter, tol, runner, checkpoint_interval, iter_walls,
            fuse=True, eager_start=False,
        )
        return s.keep(ranks).select("vertex", "score")


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

    _check_interval(checkpoint_interval)
    g = open_graph(edges, "trans", vertex_partitions, hash_partitions)
    with scope() as s:
        # the frontier carries partition_id through the loop, so a superstep
        # needs no score→partition join (a vertex the map lacks — possible
        # only for a dangling-only id — keeps pid -1 and contributes nothing)
        nodes, n, dangling = _vertex_flags(s, edges, g.with_pid)
        if n == 0:
            return spark.createDataFrame([], _EMPTY)
        with resident_store(spark, g, block_store) as store:

            def step(ranks):
                return gather(store, ranks, PR).groupBy("dst").agg(
                    F.sum("contrib").alias("contrib")
                )

            pr = _Recurrence(nodes, n, dangling, alpha, n, None)
            ranks = _iterate(
                s, pr, step, max_iter, tol, runner, checkpoint_interval, iter_walls,
                fuse=False, eager_start=True,
            )
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
    lazily chained like pagerank() (a checkpoint every 5 supersteps); the
    seed indicator rides along as a column of the cached vertex table, so
    a superstep's teleport needs no extra join."""
    edges = edges.select("src", "dst", F.col("weight").cast("double"))
    seed = F.broadcast(seeds.select("vertex").distinct().withColumn("seed", F.lit(1.0)))

    def with_seed(flags):
        return flags.join(seed, "vertex", "left").withColumn(
            "seed", F.coalesce("seed", F.lit(0.0))
        )

    with scope() as s:
        nodes, n, dangling = _vertex_flags(s, edges, with_seed)
        if n == 0:
            return spark.createDataFrame([], _EMPTY)
        n_seeds = int(nodes.agg(F.sum("seed")).first()[0])
        if not n_seeds:
            raise ValueError("personalized_pagerank: no seed vertex exists in the graph")
        pr = _Recurrence(nodes, n, dangling, alpha, n_seeds, "seed")
        step = _join_step(s, edges, pr, stable_layout, max_iter > 8)
        # not fused: a fused score is an expression over trans rows, which
        # carry no seed column
        ranks = _iterate(
            s, pr, step, max_iter, 0.0, None, 5, None, fuse=False, eager_start=False
        )
        return s.keep(ranks).select("vertex", "score")


def _check_interval(checkpoint_interval: int) -> None:
    if checkpoint_interval < 1:
        raise ValueError(f"checkpoint_interval must be >= 1, got {checkpoint_interval}")


@contextmanager
def _aqe_off(spark: SparkSession):
    """Run the body with AQE disabled, then restore the session's setting
    exactly (an unset key is unset again)."""
    key = "spark.sql.adaptive.enabled"
    saved = spark.conf.get(key, None)
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        if saved is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, saved)


def _vertex_flags(s: Scope, edges: DataFrame, annotate: Callable | None = None):
    """(nodes, n, dangling) from ONE aggregation pass: the cached vertex
    table, its size, and the vertices without an out-edge (None if there
    are none). groupBy(max) combines map-side, so its single exchange
    carries ~V rows, and one driver action fills the cache and answers n and
    "any dangling". ``annotate`` adds the per-vertex columns the loop
    carries (partition_id, the seed indicator) before the table is cached."""
    flags = (
        edges.select(F.col("src").alias("vertex"), F.lit(1).alias("_has_out"))
        .unionAll(edges.select(F.col("dst").alias("vertex"), F.lit(0).alias("_has_out")))
        .groupBy("vertex")
        .agg(F.max("_has_out").alias("_has_out"))
    )
    flags = s.cache(flags if annotate is None else annotate(flags))
    row = flags.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("_has_out") == 0, 1).otherwise(0)).alias("n_dangling"),
    ).first()
    dangling = (
        flags.filter(F.col("_has_out") == 0).select("vertex") if row.n_dangling else None
    )
    return flags.drop("_has_out"), row.n, dangling


def _join_step(s: Scope, edges: DataFrame, pr: _Recurrence, stable_layout: bool | None, long_run: bool):
    """The join engine's contribution step over the cached transition
    matrix; it reads scores from a ranks table or, fused, from the previous
    superstep's (contribs, dangling_mass) (`_Recurrence.scored`). For LONG
    runs (``stable_layout`` None defaults to ``long_run``) the matrix is
    laid out on the join key and materialized up front: else the first
    superstep mixes cache fill with gather and per-superstep walls stall
    (2.8 s vs 5-50 s at 10M edges). For SHORT runs that costs more than it
    saves."""
    if stable_layout is None:
        stable_layout = long_run
    trans = s.cache(transition(edges.repartition("src") if stable_layout else edges))
    if stable_layout:
        trans.count()

    def step(state):
        if isinstance(state, DataFrame):
            rel, x = trans.join(state, trans.src == state.vertex), F.col("score")
        else:
            rel, x = pr.scored(trans, "src", state)
        return rel.groupBy("dst").agg(F.sum(F.col("p") * x).alias("contrib"))

    return step


class _Recurrence(NamedTuple):
    """x'(v) = (1-α)·t(v) + α·(c(v) + d·t(v)) over the cached vertex table
    ``nodes`` (n rows), with t(v) = w(v) / size where w is its ``weight``
    column (None: 1 at every vertex)."""

    nodes: DataFrame
    n: int
    dangling: DataFrame | None
    alpha: float
    size: int
    weight: str | None

    def _t(self, c: Column) -> Column:
        return c if self.weight is None else c * F.col(self.weight)

    def initial(self) -> DataFrame:
        return self.nodes.withColumn("score", self._t(F.lit(1.0 / self.size)))

    def score(self, has_dm: bool) -> Column:
        """x' over a row holding ``contrib`` (null: no in-edge) and, when
        there are dangling vertices, the broadcast ``dangling_mass``."""
        extra = self._t(F.col(_DM) / F.lit(float(self.size))) if has_dm else F.lit(0.0)
        return self._t(F.lit((1.0 - self.alpha) / self.size)) + F.lit(self.alpha) * (
            F.coalesce(F.col("contrib"), F.lit(0.0)) + extra
        )

    def dangling_mass(self, state) -> DataFrame | None:
        """d as a 1-row aggregate, folded into the plan by a broadcast
        crossJoin: no per-superstep driver action, so a fixed-iteration run
        stays one lazy DAG even on graphs with dangling vertices."""
        if self.dangling is None:
            return None
        if isinstance(state, DataFrame):
            rel, x = self.dangling.join(state, "vertex"), F.col("score")
        else:
            rel, x = self.scored(self.dangling, "vertex", state)
        return rel.agg(F.coalesce(F.sum(x), F.lit(0.0)).alias(_DM))

    def scored(self, rel: DataFrame, key: str, state) -> tuple[DataFrame, Column]:
        """``rel`` with the score of its ``key`` vertex under a FUSED state
        (contribs, dangling_mass): contribs LEFT-joined on, the score the
        update expression over them — the value the ranks table would hold."""
        contribs, dm = state
        c = contribs.select(F.col("dst").alias("_cv"), "contrib")
        out = rel.join(c, F.col(key) == F.col("_cv"), "left")
        if dm is not None:
            out = out.crossJoin(F.broadcast(dm))
        return out, self.score(dm is not None)

    def update(self, contribs: DataFrame, dm: DataFrame | None) -> DataFrame:
        """The ranks table: every vertex (zero in-degree ones included)
        with its carried columns and x'."""
        joined = self.nodes.join(contribs, self.nodes.vertex == contribs.dst, "left")
        if dm is not None:
            joined = joined.crossJoin(F.broadcast(dm))
        return joined.select(*self.nodes.columns, self.score(dm is not None).alias("score"))


def _iterate(
    s: Scope, pr: _Recurrence, step, max_iter: int, tol: float, runner,
    interval: int, iter_walls: list | None, *, fuse: bool, eager_start: bool,
) -> DataFrame:
    """Run supersteps of ``pr`` with contribution step ``step`` and return
    the last ranks table (a generation of ``s``).

    The ranks table is materialized (checkpointed, lineage truncated) only
    at a boundary: every ``interval``-th superstep, the last one, and every
    superstep of a tol-driven or ``runner`` run. In between (so only in
    fixed-iteration runs), supersteps chain lazily — as ranks tables, or
    with ``fuse`` as the implicit (contribs, dangling_mass) state — and run
    as one DAG per window with no per-superstep driver round-trip.
    ``eager_start`` checkpoints the initial ranks; a resumed state is always
    checkpointed, since it carries real lineage."""
    start, ranks = 0, pr.initial()
    resumed = runner.resume() if runner is not None else None
    if resumed is not None:
        start, ranks = resumed
        if set(pr.nodes.columns) - set(ranks.columns):  # e.g. no partition_id
            ranks = ranks.join(pr.nodes, "vertex")
    if resumed is not None or eager_start:
        ranks = s.checkpoint(ranks)
    state = ranks
    for it in range(start, max_iter):
        t_it = time.monotonic()
        contribs, dm = step(state), pr.dangling_mass(state)
        err = float("inf")
        if tol > 0 or runner is not None or (it + 1) % interval == 0 or it + 1 == max_iter:
            new = s.checkpoint(pr.update(contribs, dm))
            if tol > 0:  # every superstep is a boundary: state is ranks
                err = _l1(new, ranks)
            state = ranks = new
        else:
            state = (contribs, dm) if fuse else pr.update(contribs, dm)
        if iter_walls is not None:
            iter_walls.append(time.monotonic() - t_it)
        if runner is not None:  # a runner makes every superstep a boundary
            runner.checkpoint(it + 1, ranks, {"err": float(err) if tol > 0 else -1.0})
        if err < pr.n * tol:
            break
    return ranks


def _l1(new: DataFrame, old: DataFrame) -> float:
    return (
        new.alias("a")
        .join(old.alias("b"), "vertex")
        .agg(F.sum(F.abs(F.col("a.score") - F.col("b.score"))))
        .first()[0]
    )
