"""Connected components — alternating small-star / large-star
(Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC'14),
expressed entirely as DataFrame aggregations + joins.

Converges in O(log² n) rounds; each round is two groupBy-min shuffles. The
result maps every vertex to the minimum vertex id of its component (the
canonical representative), which the networkx oracle checks exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cuttana_spark.analytics.graphstore import open_graph, vertices
from cuttana_spark.plans.checkpoints import scope

MAX_ROUNDS = 50


def _large_star(e: DataFrame) -> DataFrame:
    """For each u: m = min(u ∪ N(u)); emit (v, m) for v in N(u) with v > u.

    NO dedup here (round 5): the star operations are min-aggregations, which
    are duplicate-insensitive, so the intermediate may be a MULTISET — the
    Kiveris et al. proofs only concern the edge SET represented, which
    dropping duplicates does not change. Small-star's terminal distinct (the
    one the convergence signature needs anyway) bounds multiset growth each
    round; removing this distinct removes a full edge-set shuffle per round.
    The min side stays a groupBy (map-side partial agg → ε shuffle, and AQE
    typically broadcasts it) rather than a window, because the min is over
    ALL 2E sym rows while only the E high-oriented rows are emitted — a
    window would shuffle 2E where groupBy+join shuffles E+ε."""
    sym = e.select("a", "b").unionAll(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    mins = sym.groupBy("a").agg(F.min("b").alias("mb"))
    return (
        sym.filter(F.col("b") > F.col("a"))
        .join(mins, "a")
        .select(F.col("b").alias("a"), F.least("a", "mb").alias("b"))
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Orient edges high→low; for each u: m = min(N_low(u) ∪ {u}); emit
    (v, m) for v in N_low(u) and (u, m).

    The per-u min is built with a window over `a` instead of groupBy+join:
    the window needs ONE exchange + ONE sort of the E oriented rows, where
    the join formulation exchanges the same E rows for the probe side AND
    sort-merges both sides. m = min(N_low(u)) < u always (every b < a here),
    so min(N_low ∪ {u}) = m with no extra least(). Hub skew is identical to
    the join formulation — either way all rows of one u land in one task;
    WindowExec spills its per-key frame if a hub exceeds memory."""
    from pyspark.sql import Window

    d = e.select(
        F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
    ).filter(F.col("a") != F.col("b"))
    star = d.withColumn("m", F.min("b").over(Window.partitionBy("a")))
    out = star.select(F.col("b").alias("a"), F.col("m").alias("b")).unionAll(
        star.select("a", F.col("m").alias("b"))
    )
    return out.filter(F.col("a") != F.col("b")).distinct()


def connected_components(
    spark: SparkSession,
    edges: DataFrame,
    max_rounds: int = MAX_ROUNDS,
    runner=None,
    sig_every: int = 1,
    round_walls: list | None = None,
    accel_rounds: int = 0,
    accel_min_edges: int = 200_000,
    accel_partitions: int = 32,
    block_store: str | None = None,
) -> DataFrame:
    """edges: undirected (src, dst[, weight]) → DataFrame[vertex, component]
    where component = min vertex id of the component.

    ``sig_every``: compute the convergence signature only every k-th round
    (plus a consecutive-round confirmation when two sigs measured k rounds
    apart agree — period-k oscillation through the alternation is not ruled
    out by the potential argument, so equality k>1 apart is treated as a
    HINT, never a stop). Worth >1 only if the signature job costs a
    meaningful fraction of a round; measure before changing the default.
    ``round_walls``: optional list receiving one dict per executed round
    ({"round", "wall", "sig_wall"}) for profiling.

    ``accel_rounds``: number of CSR min-propagation CONTRACTION rounds run
    before the star loop (0 = off, the default). Each star round shuffles
    and rewrites the full O(E) edge set twice; a min-propagation round over
    packed CSR blocks (csr.py) shuffles only the O(V) label frontier — the
    blocks are packed once with one shuffle. After r rounds every vertex
    carries the minimum vertex id of its radius-r ball, so contiguous
    regions collapse: relabeling the edges by their endpoints' labels and
    deduping shrinks the edge set ~(2r)× on chain-rich graphs (measured
    11.6× at r=4 on the transcript bench graph), and the star loop then
    runs on the contracted remainder. Exactness: label[v] is always a
    vertex id inside v's own component, and the component's global minimum
    m always keeps label m (m is the min of its own ball), so (a) every
    contracted-graph vertex id is an original id from the same component,
    and (b) whenever a component spans ≥2 labels, a boundary edge (p,q)
    with label[p]=m injects m into the contracted graph — the star loop's
    min over the contracted component is therefore exactly m, and
    single-label components are their own m. Skipped when ``runner`` is set
    (resume state is the star loop's edge multiset) or when the edge count
    is below ``accel_min_edges``.

    WHEN IT PAYS (measured): the pre-pass moves O(V) per round where a star
    round moves O(E), and its blocks stay in the mapped block store
    (blockstore.py), so it wins when E ≫ V. On the E≈V bench graph it is a
    wash — keep it off unless the graph is dense. ``block_store``:
    directory for the packed blocks, owned by the caller (drop_block_store
    when done); None packs a call-scoped store (blockstore.resident_store).

    AQE (round 7): measured A/B at the 1.3M-edge bench graph — star rounds
    run ~1.6x FASTER with AQE ON (11.4-12.3 s vs 17.8-20.9 s for the full
    run), the opposite of pagerank()'s per-superstep finding. The shapes
    differ: pagerank supersteps are fixed-size (AQE re-plans the identical
    query every round for nothing), while star rounds SHRINK the edge set
    round over round, so AQE's runtime broadcast conversion and partition
    coalescing pay more each round. AQE therefore stays at the session
    setting here; do not copy pagerank's AQE-off pattern into this loop."""
    with scope() as s:  # the O(E) edge chain and the result
        e = s.checkpoint(
            edges.select(F.col("src").alias("a"), F.col("dst").alias("b")).filter(
                F.col("a") != F.col("b")
            )
        )
        start = 0
        if runner is not None:
            resumed = runner.resume()
            if resumed is not None:
                start, e = resumed
                e = s.checkpoint(e)

        accel = accel_rounds > 0 and runner is None and e.count() >= accel_min_edges
        if not accel:
            labels = _star_loop(s, e, start, max_rounds, sig_every, round_walls, runner)
            return s.keep(
                vertices(edges)
                .join(labels, "vertex", "left")
                .select(
                    "vertex",
                    F.least(
                        F.coalesce("component", F.col("vertex")), F.col("vertex")
                    ).alias("component"),
                )
            )

        import time as _time

        from cuttana_spark.analytics.blockstore import gather, resident_store
        from cuttana_spark.analytics.csr import MIN

        # Shared sym-unit payload over a synthetic hash map (graphstore.py) —
        # CC needs no Cuttana map, only a consistent routing of edges to
        # their source's partition. Because the map is an EXPRESSION, the
        # pack needs no routing join and the per-round label update needs
        # no re-attach join: partition_id is recomputed from the vertex id
        # in codegen. The graph is opened over the ORIGINAL `edges` plan
        # (not the localCheckpointed `e`, whose plan hash is run-specific),
        # so with block_store set the store fingerprint equals
        # k_core_csr's / label_propagation_csr's over the same edges
        # DataFrame and partition count — one pack serves all three.
        g = open_graph(edges, "sym-unit", hash_partitions=accel_partitions)
        # One shuffle per round: the vertex's own label rides in the same
        # union as the gathered neighbor partials, so min-combining them IS
        # the new label relation — no join. Each round's labels are
        # checkpointed, so nothing after the loop reads the store.
        with scope() as ls:  # the O(V) label chain
            labels = ls.checkpoint(g.vp.withColumn("label", F.col("vertex")))
            with resident_store(spark, g, block_store) as store:
                for r in range(accel_rounds):
                    t0 = _time.monotonic()
                    partials = gather(store, labels, MIN).select("dst", "mlab")
                    mins = (
                        partials.unionAll(
                            labels.select(
                                F.col("vertex").alias("dst"), F.col("label").alias("mlab")
                            )
                        )
                        .groupBy("dst")
                        .agg(F.min("mlab").alias("label"))
                    )
                    labels = ls.checkpoint(
                        g.with_pid(mins.select(F.col("dst").alias("vertex"), "label"))
                    )
                    if round_walls is not None:
                        round_walls.append(
                            {
                                "round": -(r + 1),  # accel rounds count down from -1
                                "wall": _time.monotonic() - t0,
                                "sig_wall": 0.0,
                            }
                        )
            la = labels.select(F.col("vertex").alias("a"), F.col("label").alias("la"))
            lb = labels.select(F.col("vertex").alias("b"), F.col("label").alias("lb"))
            contracted = (
                e.join(la, "a")
                .join(lb, "b")
                .filter(F.col("la") != F.col("lb"))
                .select(F.least("la", "lb").alias("a"), F.greatest("la", "lb").alias("b"))
                .distinct()
            )
            with scope() as ts:  # the star loop over the contracted graph
                tail = _star_loop(
                    ts, ts.checkpoint(contracted), 0, max_rounds, sig_every, round_walls, None
                )
                # a label absent from the tail's fixpoint is its own root
                return s.keep(
                    labels.join(
                        tail.select(
                            F.col("vertex").alias("label"), F.col("component").alias("_c")
                        ),
                        "label",
                        "left",
                    ).select("vertex", F.coalesce("_c", "label").alias("component"))
                )


def _sig(df: DataFrame) -> tuple:
    """Order-insensitive signature of a canonical edge set — rows distinct
    with b < a, exactly what _small_star emits — as one aggregate per round
    (no union+groupBy over both generations, no least/greatest+distinct)."""
    row = df.agg(
        F.count(F.lit(1)).alias("cnt"),
        # decimal sum: exact and overflow-free under ANSI mode
        F.sum(F.xxhash64("b", "a").cast("decimal(38,0)")).alias("h"),
    ).first()
    return (row.cnt, row.h)


def _star_loop(s, e, start, max_rounds, sig_every, round_walls, runner) -> DataFrame:
    """Alternate large-star / small-star over the edge generation `e`, each
    round checkpointed in scope `s`, to the fixpoint star forest; returns
    DataFrame[vertex, component] for every non-root vertex (lazy over the
    scope's last generation)."""
    import time as _time

    # No signature of the INITIAL edge set: its non-canonical form needs a
    # full least/greatest+distinct shuffle just to compare, and it only pays
    # when the input is already a converged star forest — there the loop now
    # runs one (cheap, idempotent) extra round instead.
    prev_sig = None
    prev_rnd = start - 1
    confirming = False
    for rnd in range(start, max_rounds):
        t0 = _time.monotonic()
        e2 = s.checkpoint(_small_star(_large_star(e)))
        t1 = _time.monotonic()
        measure = (
            confirming
            or (rnd - start) % max(1, sig_every) == sig_every - 1
            or rnd == max_rounds - 1
        )
        changed = True
        sig_wall = 0.0
        if measure:
            sig = _sig(e2)
            sig_wall = _time.monotonic() - t1
            if prev_sig is not None and sig == prev_sig:
                if prev_rnd == rnd - 1:
                    changed = False  # consecutive rounds equal → fixpoint
                else:
                    confirming = True  # k apart equal → confirm next round
            else:
                confirming = False
            prev_sig, prev_rnd = sig, rnd
        e = e2
        if round_walls is not None:
            round_walls.append(
                {"round": rnd, "wall": _time.monotonic() - t0, "sig_wall": sig_wall}
            )
        if runner is not None:
            runner.checkpoint(rnd + 1, e, {"changed": int(changed)})
        if not changed:
            break
    # at fixpoint every edge is (v, root); vertices may appear as roots only
    return e.groupBy(F.col("a").alias("vertex")).agg(F.min("b").alias("component"))
