"""Analytics vs networkx / pure-numpy oracles (the reference has no
analytics — SURVEY §0; these implement the north-rule suite)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from cuttana_spark.analytics.components import connected_components
from cuttana_spark.analytics.graphstore import Graph
from cuttana_spark.analytics.kcore import k_core, k_core_csr
from cuttana_spark.analytics.labelprop import (
    label_propagation,
    label_propagation_csr,
    label_propagation_oracle,
)
from cuttana_spark.analytics.pagerank import pagerank, pagerank_csr, personalized_pagerank
from cuttana_spark.analytics.triangles import triangle_count, triangles_per_vertex
from cuttana_spark.analytics.walks import random_walks


def _ba_graph(n=200, m=3, seed=7):
    import networkx as nx

    return nx.barabasi_albert_graph(n, m, seed=seed)


@pytest.fixture(scope="module")
def G():
    return _ba_graph()


@pytest.fixture(scope="module")
def edges_df(spark, G):
    rows = [(int(u), int(v), 1.0) for u, v in G.edges()]
    return spark.createDataFrame(rows, "src long, dst long, weight double").cache()


def _sym(edges_df):
    return edges_df.unionAll(
        edges_df.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "weight"
        )
    )


def _np_pagerank(G, alpha, n_iter, tol=0.0):
    """Power-method oracle with networkx-identical semantics (networkx's
    own pagerank needs scipy, absent in this sandbox): teleport (1-α)/N,
    uniform dangling redistribution, L1 stop err < N·tol."""
    nodes = sorted(G.nodes())
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    x = np.full(n, 1.0 / n)
    deg = np.array([G.degree(v) for v in nodes], float)
    for _ in range(n_iter):
        contrib = np.zeros(n)
        for u, v in G.edges():
            contrib[idx[v]] += x[idx[u]] / deg[idx[u]]
            contrib[idx[u]] += x[idx[v]] / deg[idx[v]]
        dangling = x[deg == 0].sum()
        x_new = (1 - alpha) / n + alpha * (contrib + dangling / n)
        err = np.abs(x_new - x).sum()
        x = x_new
        if tol > 0 and err < n * tol:
            break
    return {v: x[idx[v]] for v in nodes}


def test_pagerank_fixed_iterations_matches_numpy(spark, G, edges_df):
    got = {r.vertex: r.score for r in pagerank(spark, _sym(edges_df), max_iter=8, tol=0.0).collect()}
    want = _np_pagerank(G, 0.85, 8)
    assert set(got) == set(want)
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-12)


# the two PageRank engines: the DataFrame join and the CSR gather
PR_ENGINES = {
    "pagerank": pagerank,
    "pagerank_csr": lambda spark, sym, **kw: pagerank_csr(
        spark, sym, None, hash_partitions=4, **kw
    ),
}


@pytest.mark.parametrize("engine", PR_ENGINES)
def test_pagerank_converged_matches_oracle(spark, G, edges_df, engine):
    got = {
        r.vertex: r.score
        for r in PR_ENGINES[engine](spark, _sym(edges_df), max_iter=100, tol=1e-9).collect()
    }
    want = _np_pagerank(G, 0.85, 200, tol=1e-9)
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-6)


def test_pagerank_csr_matches_dataframe(spark, G, edges_df):
    from cuttana_spark.partition import cuttana_partition

    adj = [(v, sorted(G.neighbors(v))) for v in sorted(G.nodes())]
    res = cuttana_partition(adj, 4)
    vp = res.to_spark_df(spark).select("vertex", "partition_id")
    a = {r.vertex: r.score for r in pagerank(spark, _sym(edges_df), max_iter=6, tol=0.0).collect()}
    b = {
        r.vertex: r.score
        for r in pagerank_csr(spark, _sym(edges_df), vp, max_iter=6, tol=0.0).collect()
    }
    assert set(a) == set(b)
    for v in a:
        assert b[v] == pytest.approx(a[v], abs=1e-12)


def test_connected_components_exact(spark):
    import networkx as nx

    # multi-component graph: three BA blobs + isolated edge chain
    G = nx.Graph()
    for off in (0, 1000, 2000):
        H = _ba_graph(n=60, m=2, seed=off + 1)
        G.add_edges_from((u + off, v + off) for u, v in H.edges())
    G.add_edges_from([(5000, 5001), (5001, 5002)])
    rows = [(int(u), int(v)) for u, v in G.edges()]
    df = spark.createDataFrame(rows, "src long, dst long")
    got = {r.vertex: r.component for r in connected_components(spark, df).collect()}
    for comp in nx.connected_components(G):
        rep = min(comp)
        for v in comp:
            assert got[v] == rep
    assert len(got) == G.number_of_nodes()


def test_connected_components_accel_matches_star(spark):
    """The CSR min-propagation contraction pre-pass (accel_rounds>0, forced
    via accel_min_edges=0) must produce the IDENTICAL labelling as the pure
    star loop on a graph that exercises every contraction case: long chains
    (labels still converging when the pre-pass stops), hub blobs (collapse
    to one label → vanish from the contracted graph), singleton-label
    components, and a two-vertex component."""
    import networkx as nx

    G = nx.Graph()
    rs = __import__("random").Random(7)
    # three blobs + two long chains (length > accel rounds) + bridge + pair
    for off in (0, 1000, 2000):
        H = _ba_graph(n=50, m=2, seed=off + 3)
        G.add_edges_from((u + off, v + off) for u, v in H.edges())
    chain1 = [3000 + i for i in range(40)]
    chain2 = [4000 + i for i in range(25)]
    rs.shuffle(chain1)  # random ids along the chain: min is mid-chain
    G.add_edges_from(zip(chain1, chain1[1:]))
    G.add_edges_from(zip(chain2, chain2[1:]))
    G.add_edge(chain1[-1], 17)  # bridge chain1 into blob 0
    G.add_edges_from([(5000, 5001)])
    rows = [(int(u), int(v)) for u, v in G.edges()]
    df = spark.createDataFrame(rows, "src long, dst long")
    base = {r.vertex: r.component for r in connected_components(spark, df).collect()}
    for rounds in (1, 3, 6):
        acc = {
            r.vertex: r.component
            for r in connected_components(
                spark, df, accel_rounds=rounds, accel_min_edges=0, accel_partitions=4
            ).collect()
        }
        assert acc == base, f"accel_rounds={rounds} diverged from star loop"
    for comp in nx.connected_components(G):
        rep = min(comp)
        for v in comp:
            assert base[v] == rep


def test_connected_components_accel_block_store(spark, tmp_path):
    """block_store mode: the contraction gathers run against a caller-owned
    store instead of a call-scoped one — identical labelling."""
    import networkx as nx

    G = nx.Graph()
    H = _ba_graph(n=80, m=2, seed=11)
    G.add_edges_from(H.edges())
    G.add_edges_from(zip(range(900, 930), range(901, 931)))  # chain
    rows = [(int(u), int(v)) for u, v in G.edges()]
    df = spark.createDataFrame(rows, "src long, dst long")
    base = {r.vertex: r.component for r in connected_components(spark, df).collect()}
    acc = {
        r.vertex: r.component
        for r in connected_components(
            spark,
            df,
            accel_rounds=3,
            accel_min_edges=0,
            accel_partitions=4,
            block_store=str(tmp_path / "ccstore"),
        ).collect()
    }
    assert acc == base


def test_label_propagation_exact(spark, G, edges_df):
    got = {r.vertex: r.label for r in label_propagation(spark, edges_df, max_iter=4).collect()}
    adj = {v: sorted(G.neighbors(v)) for v in G.nodes()}
    want = label_propagation_oracle(adj, max_iter=4)
    assert got == want


def test_label_propagation_csr_exact(spark, G, edges_df):
    """CSR-skeleton LPA must match the pure-Python oracle exactly under an
    arbitrary hash partition map (result is partition-layout-independent)."""
    from cuttana_spark.analytics.labelprop import label_propagation_csr

    vp = (
        edges_df.select(F.col("src").alias("vertex"))
        .unionAll(edges_df.select(F.col("dst").alias("vertex")))
        .distinct()
        .select("vertex", F.pmod(F.hash("vertex"), F.lit(4)).alias("partition_id"))
    )
    got = {
        r.vertex: r.label
        for r in label_propagation_csr(spark, edges_df, vp, max_iter=4).collect()
    }
    adj = {v: sorted(G.neighbors(v)) for v in G.nodes()}
    want = label_propagation_oracle(adj, max_iter=4)
    assert got == want


def test_triangle_count_exact(spark, G, edges_df):
    import networkx as nx

    got = triangle_count(spark, edges_df).first().triangles
    want = sum(nx.triangles(G).values()) // 3
    assert got == want


def test_triangles_per_vertex_exact(spark, G, edges_df):
    import networkx as nx

    got = {r.vertex: r.triangles for r in triangles_per_vertex(spark, edges_df).collect()}
    want = nx.triangles(G)
    assert got == {v: int(c) for v, c in want.items()}


@pytest.mark.parametrize("engine", PR_ENGINES)
def test_pagerank_resume_bit_identical(spark, G, edges_df, tmp_path, engine):
    """Kill after superstep 3, resume, final state identical to an
    uninterrupted run (north-rule resumability)."""
    from cuttana_spark.analytics.supersteps import SuperstepRunner
    from cuttana_spark.plans.warehouse import Warehouse

    sym = _sym(edges_df)
    run = PR_ENGINES[engine]
    base = {r.vertex: r.score for r in run(spark, sym, max_iter=6, tol=0.0).collect()}

    wh = Warehouse(str(tmp_path / "wh"))
    r1 = SuperstepRunner(spark, wh, "pr", interval=1, fail_after=3)
    with pytest.raises(RuntimeError, match="injected failure"):
        run(spark, sym, max_iter=6, tol=0.0, runner=r1)
    assert wh.latest("pr_state").meta["superstep"] == 3

    # the committed snapshot itself reads back bit-identically
    snap3 = {r.vertex: r.score for r in wh.read(spark, "pr_state", snapshot_id=2).collect()}
    assert wh.snapshots("pr_state")[2].meta["superstep"] == 3

    r2 = SuperstepRunner(spark, wh, "pr", interval=1)
    resumed = {
        r.vertex: r.score
        for r in run(spark, sym, max_iter=6, tol=0.0, runner=r2).collect()
    }
    # identical up to float-aggregation order (sum order over shuffle
    # partitions is nondeterministic in any distributed engine; the state
    # VALUES round-trip exactly — only re-executed supersteps re-aggregate)
    assert set(resumed) == set(base)
    for v in base:
        assert resumed[v] == pytest.approx(base[v], abs=1e-12)
    # resume really started from superstep 3, not 0: snapshots continue 4..6
    assert [s.meta["superstep"] for s in wh.snapshots("pr_state")] == [1, 2, 3, 4, 5, 6]
    # lineage recorded per superstep
    lin = wh.read(spark, "pr_lineage")
    assert lin.select("superstep").distinct().count() >= 1


@pytest.mark.parametrize(
    "call, name",
    [
        ("pagerank", "checkpoint_interval"),
        ("pagerank_csr", "checkpoint_interval"),
        ("SuperstepRunner", "interval"),
    ],
)
def test_checkpoint_interval_below_one_raises(spark, edges_df, tmp_path, call, name):
    """A checkpoint interval below 1 is refused up front, naming the
    parameter, instead of dividing by zero mid-loop or being clamped."""
    from cuttana_spark.analytics.supersteps import SuperstepRunner
    from cuttana_spark.plans.warehouse import Warehouse

    calls = {
        "pagerank": lambda: pagerank(
            spark, _sym(edges_df), max_iter=2, tol=0.0, checkpoint_interval=0
        ),
        "pagerank_csr": lambda: PR_ENGINES["pagerank_csr"](
            spark, _sym(edges_df), max_iter=2, tol=0.0, checkpoint_interval=0
        ),
        "SuperstepRunner": lambda: SuperstepRunner(
            spark, Warehouse(str(tmp_path / "wh")), "pr", interval=0
        ),
    }
    with pytest.raises(ValueError, match=rf"^{name} must be >= 1, got 0$"):
        calls[call]()


def test_pagerank_fused_plan_exchange_budget(spark, edges_df, monkeypatch):
    """Fixed-iteration pagerank() fuses the supersteps between checkpoints
    (no per-superstep V-row join). Count the Exchange lines of the lazy
    5-superstep plan, checkpoints and keep patched to identity so the plan
    is not cut: the fused loop measured 44 here (194 → 106 on the
    transcripts graph when fusion landed). A plan that unfuses grows."""
    from cuttana_spark.plans.checkpoints import Scope

    monkeypatch.setattr(Scope, "checkpoint", lambda self, df: df)
    monkeypatch.setattr(Scope, "keep", lambda self, df: df)
    sym = _sym(edges_df).repartition(8, "src")
    lazy = pagerank(spark, sym, max_iter=5, tol=0.0)
    plan = spark._jvm.PythonSQLUtils.explainString(lazy._jdf.queryExecution(), "formatted")
    assert sum("Exchange" in line for line in plan.splitlines()) <= 44


def test_pagerank_dangling_vertices_in_plan(spark):
    """Directed graph with sink vertices: the dangling mass must be
    redistributed uniformly each superstep — now folded into the DAG as a
    broadcast 1-row aggregate (no per-superstep driver action). Oracle:
    direct numpy power iteration on the directed transition matrix."""
    # 0->1, 0->2, 1->2, 3->0 ; vertices 2 is a sink (no out-edges)
    edges = [(0, 1, 1.0), (0, 2, 1.0), (1, 2, 1.0), (3, 0, 1.0)]
    df = spark.createDataFrame(edges, "src long, dst long, weight double")
    got = {r.vertex: r.score for r in pagerank(spark, df, max_iter=12, tol=0.0).collect()}

    n, alpha = 4, 0.85
    x = np.full(n, 1.0 / n)
    out = {0: [(1, 0.5), (2, 0.5)], 1: [(2, 1.0)], 3: [(0, 1.0)]}
    for _ in range(12):
        contrib = np.zeros(n)
        for u, lst in out.items():
            for v, p in lst:
                contrib[v] += x[u] * p
        dangling = x[2]  # vertex 2 is the only sink
        x = (1 - alpha) / n + alpha * (contrib + dangling / n)
    for v in range(n):
        assert got[v] == pytest.approx(x[v], abs=1e-12)


def test_k_core_matches_networkx(spark, G, edges_df):
    import networkx as nx

    from cuttana_spark.analytics.kcore import k_core

    core_num = nx.core_number(G)
    for k in (2, 3):
        got = sorted(r.vertex for r in k_core(spark, edges_df, k=k).collect())
        want = sorted(v for v, c in core_num.items() if c >= k)
        assert got == want


def test_k_core_csr_matches_networkx(spark, G, edges_df):
    """CSR-skeleton k-core (frontier-only shuffle) must equal networkx
    core_number exactly; the vertex→partition map is an arbitrary hash
    (partition choice affects locality only, never the result)."""
    import networkx as nx

    from cuttana_spark.analytics.kcore import k_core_csr

    vp = (
        edges_df.select(F.col("src").alias("vertex"))
        .unionAll(edges_df.select(F.col("dst").alias("vertex")))
        .distinct()
        .select("vertex", F.pmod(F.hash("vertex"), F.lit(4)).alias("partition_id"))
    )
    core_num = nx.core_number(G)
    for k in (2, 3):
        got = sorted(r.vertex for r in k_core_csr(spark, edges_df, vp, k=k).collect())
        want = sorted(v for v, c in core_num.items() if c >= k)
        assert got == want


def test_personalized_pagerank_matches_numpy(spark):
    """Random walk with restart from seeds {0}: exact vs a direct numpy
    recurrence on a small weighted digraph (incl. a dangling vertex whose
    mass restarts to the seeds)."""
    from cuttana_spark.analytics.pagerank import personalized_pagerank

    edges = [(0, 1, 2.0), (0, 2, 1.0), (1, 2, 1.0), (3, 0, 1.0)]  # 2 = sink
    df = spark.createDataFrame(edges, "src long, dst long, weight double")
    seeds = spark.createDataFrame([(0,)], "vertex long")
    got = {
        r.vertex: r.score
        for r in personalized_pagerank(spark, df, seeds, max_iter=15).collect()
    }

    n, alpha = 4, 0.85
    restart = np.array([1.0, 0, 0, 0])
    x = restart.copy()
    out = {0: [(1, 2 / 3), (2, 1 / 3)], 1: [(2, 1.0)], 3: [(0, 1.0)]}
    for _ in range(15):
        contrib = np.zeros(n)
        for u, lst in out.items():
            for v, p in lst:
                contrib[v] += x[u] * p
        dmass = x[2]
        x = (1 - alpha) * restart + alpha * (contrib + dmass * restart)
    for v in range(n):
        assert got[v] == pytest.approx(x[v], abs=1e-12)
    # mass conserved: scores sum to 1
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_pagerank_csr_multichunk_blocks(spark, G, edges_df, monkeypatch):
    """Force CHUNK_EDGES small so every partition block splits into many
    CSR chunk rows — exercises the per-block chunk-merge path in
    csr.pr_partials (untested at default 2M chunk size) and must still equal
    the DataFrame engine to 1e-12."""
    from cuttana_spark.analytics import csr
    from cuttana_spark.analytics.pagerank import pagerank, pagerank_csr
    from cuttana_spark.partition import cuttana_partition

    monkeypatch.setattr(csr, "CHUNK_EDGES", 64)

    adj = [(v, sorted(G.neighbors(v))) for v in sorted(G.nodes())]
    res = cuttana_partition(adj, 4)
    vp = res.to_spark_df(spark).select("vertex", "partition_id")
    a = {r.vertex: r.score for r in pagerank(spark, _sym(edges_df), max_iter=4, tol=0.0).collect()}
    b = {
        r.vertex: r.score
        for r in pagerank_csr(spark, _sym(edges_df), vp, max_iter=4, tol=0.0).collect()
    }
    assert set(a) == set(b)
    for v in a:
        assert b[v] == pytest.approx(a[v], abs=1e-12)


def test_csr_frontier_mismatch_guard(spark, tmp_path):
    """The sort-free CSR kernel resolves scores positionally, so a frontier
    that is not exactly the packed partition's vertex set must raise, never
    return silently wrong sums."""
    import pytest as _pytest

    from cuttana_spark.analytics.blockstore import (
        drop_block_store,
        gather,
        write_block_store,
    )
    from cuttana_spark.analytics.csr import PR

    edges = spark.createDataFrame(
        [(0, 1, 1.0), (1, 2, 1.0), (2, 0, 1.0)], "src long, dst long, p double"
    )
    vp = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 0)], "vertex long, partition_id int"
    )
    path = str(tmp_path / "store")
    write_block_store(Graph(edges, vp, "trans", None), path)
    ok = vp.withColumn("score", F.lit(1.0))
    assert gather(path, ok, PR).count() == 3
    missing = ok.filter(F.col("vertex") != 1)  # drop one partition vertex
    with _pytest.raises(Exception, match="frontier vertex set"):
        gather(path, missing, PR).collect()
    drop_block_store(path)


def test_random_walks_deterministic_replay(spark, G, edges_df):
    """Walks replay exactly in pure Python: next = sorted_nbrs[H(walk|step)
    % degree] with the portable md5-prefix hash; rerunning gives identical
    output (deterministic corpus generation)."""
    import hashlib

    from cuttana_spark.analytics.walks import random_walks

    starts = spark.createDataFrame(
        [(v, v) for v in sorted(G.nodes())[:10]], "walk_id long, vertex long"
    )
    out1 = sorted(
        (r.walk_id, r.step, r.vertex)
        for r in random_walks(spark, edges_df, starts, walk_length=3).collect()
    )
    out2 = sorted(
        (r.walk_id, r.step, r.vertex)
        for r in random_walks(spark, edges_df, starts, walk_length=3).collect()
    )
    assert out1 == out2

    def h64(x: str) -> int:
        return int(hashlib.md5(x.encode()).hexdigest()[:15], 16)

    want = []
    for w in sorted(G.nodes())[:10]:
        v = w
        want.append((w, 0, v))
        for step in range(1, 4):
            nbrs = sorted(G.neighbors(v))
            if not nbrs:
                break
            v = nbrs[h64(f"{w}|{step}") % len(nbrs)]
            want.append((w, step, v))
    assert out1 == sorted(want)


def _pinned(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _nothing_cached(spark) -> bool:
    # sees lazy caches that have registered but not filled yet, which
    # getPersistentRDDs does not list
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _rdd_id(df) -> int:
    """Id of the RDD behind a checkpointed frame's LogicalRDD plan."""
    return df._jdf.queryExecution().logical().rdd().id()


def _cycle60(spark):
    """The 60-cycle, as (undirected edges, symmetrized directed edges)."""
    edges = spark.createDataFrame(
        [(i, (i + 1) % 60, 1.0) for i in range(60)], "src long, dst long, weight double"
    )
    sym = edges.unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "weight")
    )
    return edges, sym


# every public analytics op, as op(spark, edges, sym, runner) on the 60-cycle
ANALYTICS_OPS = {
    "pagerank": lambda spark, e, sym, r: pagerank(spark, sym, max_iter=25, tol=0.0, runner=r),
    "pagerank_csr": lambda spark, e, sym, r: pagerank_csr(
        spark, sym, None, max_iter=10, tol=0.0, hash_partitions=4
    ),
    "personalized_pagerank": lambda spark, e, sym, r: personalized_pagerank(
        spark, sym, spark.createDataFrame([(0,), (7,)], "vertex long"), max_iter=10
    ),
    "label_propagation": lambda spark, e, sym, r: label_propagation(
        spark, e, max_iter=5, runner=r
    ),
    "label_propagation_csr": lambda spark, e, sym, r: label_propagation_csr(
        spark, e, None, max_iter=5, hash_partitions=4
    ),
    "k_core": lambda spark, e, sym, r: k_core(spark, e, k=2),
    "k_core_csr": lambda spark, e, sym, r: k_core_csr(spark, e, None, k=2, hash_partitions=4),
    "connected_components": lambda spark, e, sym, r: connected_components(spark, e, runner=r),
    "connected_components-accel": lambda spark, e, sym, r: connected_components(
        spark, e, accel_rounds=2, accel_min_edges=1, accel_partitions=4
    ),
    "triangle_count": lambda spark, e, sym, r: triangle_count(spark, e),
    "triangles_per_vertex": lambda spark, e, sym, r: triangles_per_vertex(spark, e),
    "random_walks": lambda spark, e, sym, r: random_walks(
        spark, e, spark.createDataFrame([(w, w) for w in range(10)], "walk_id long, vertex long")
    ),
}


@pytest.mark.parametrize("op", ANALYTICS_OPS)
def test_iterative_checkpoints_do_not_accumulate(spark, op):
    """A public analytics op leaves exactly its result behind: superseded
    localCheckpoints are released as the loop advances, every cache the op
    made is released on return, and the result is at most one pinned
    generation. (Leaked pinned blocks were the round-2 run-to-run variance
    root cause.) The cycle runs pagerank 25 supersteps (5 checkpoint
    generations) and CC to its fixpoint."""
    spark.catalog.clearCache()
    edges, sym = _cycle60(spark)
    before = _pinned(spark)
    ANALYTICS_OPS[op](spark, edges, sym, None).collect()
    assert len(_pinned(spark) - before) <= 1
    assert _nothing_cached(spark)


@pytest.mark.parametrize(
    "op", ["pagerank", "label_propagation", "connected_components", "personalized_pagerank"]
)
def test_failed_call_releases_everything(spark, tmp_path, op):
    """A call that raises mid-loop (injected runner failure) or before its
    loop (no seed in the graph) leaves no generation and no cache behind."""
    from cuttana_spark.analytics.supersteps import SuperstepRunner
    from cuttana_spark.plans.warehouse import Warehouse

    spark.catalog.clearCache()
    edges, sym = _cycle60(spark)
    if op == "personalized_pagerank":
        missing = spark.createDataFrame([(1000,)], "vertex long")
        call, error = lambda: personalized_pagerank(spark, sym, missing), ValueError
    else:
        runner = SuperstepRunner(
            spark, Warehouse(str(tmp_path / "wh")), op, interval=1, fail_after=1
        )
        call = lambda: ANALYTICS_OPS[op](spark, edges, sym, runner)
        error = RuntimeError
    before = _pinned(spark)
    with pytest.raises(error):
        call()
    assert _pinned(spark) - before == set()
    assert _nothing_cached(spark)


def test_scope_spares_upstream_cache_filled_inside_checkpoint_job(spark):
    """An upstream .cache() registers its RDD lazily during its FIRST job —
    which here is the first checkpoint's eager materialization. The scope
    must not take that cached RDD for a checkpoint generation (it would be
    released two checkpoints later, silently de-caching a live input for
    every remaining round — the k-core peel regression)."""
    from cuttana_spark.plans.checkpoints import scope

    base = spark.range(500).select(F.col("id").alias("v")).cache()  # lazy
    with scope() as s:
        before = _pinned(spark)
        state = s.checkpoint(base.select("v"))  # cache fill happens in this job
        cache_ids = (_pinned(spark) - before) - {_rdd_id(state)}
        assert cache_ids, "expected the lazily-filled cache to register here"
        for i in range(4):  # enough rounds to retire generation 0 twice over
            state = s.checkpoint(state.select((F.col("v") + 1).alias("v")))
        assert cache_ids <= _pinned(spark), "upstream cache was released by the scope"
        state = s.keep(state)
    assert cache_ids <= _pinned(spark), "upstream cache was released on scope exit"
    assert state.count() == 500
    base.unpersist(True)


def test_scope_exit_releases_every_generation_but_kept(spark):
    """Scope exit releases every generation and cache it made except the
    kept one — on the error path too. Keeping the newest generation only
    un-tracks it; keeping any other frame checkpoints it."""
    from cuttana_spark.plans.checkpoints import scope

    spark.catalog.clearCache()
    before = _pinned(spark)
    with scope() as s:
        state = s.checkpoint(s.cache(spark.range(100).select(F.col("id").alias("v"))))
        for _ in range(3):
            state = s.checkpoint(state.select((F.col("v") + 1).alias("v")))
        assert len(_pinned(spark) - before) == 3  # the cache + two live generations
        kept = s.keep(state)
        assert kept is state
        doubled = s.keep(state.select((F.col("v") * 2).alias("v")))
    assert _pinned(spark) - before == {_rdd_id(kept), _rdd_id(doubled)}
    assert _nothing_cached(spark)
    assert sorted(r.v for r in kept.collect()) == list(range(3, 103))
    assert sorted(r.v for r in doubled.collect()) == list(range(6, 206, 2))

    before = _pinned(spark)
    with pytest.raises(RuntimeError):
        with scope() as s:
            s.checkpoint(s.cache(spark.range(10)))
            raise RuntimeError("mid-loop failure")
    assert _pinned(spark) - before == set()
    assert _nothing_cached(spark)


def test_nested_scope_spares_outer_generation(spark):
    """An inner scope's checkpoints never retire the outer chain's
    generation, and a result the outer scope keeps survives the inner
    scope's exit."""
    from cuttana_spark.plans.checkpoints import scope

    before = _pinned(spark)
    with scope() as outer:
        e = outer.checkpoint(spark.range(50).select(F.col("id").alias("v")))
        with scope() as inner:
            x = inner.checkpoint(e.select("v", (F.col("v") + 1).alias("w")))
            for _ in range(3):
                x = inner.checkpoint(x.select("v", (F.col("w") + 1).alias("w")))
            assert _rdd_id(e) in _pinned(spark)
            out = outer.keep(e.join(x, "v"))
        pinned = _pinned(spark)
        assert _rdd_id(e) in pinned and _rdd_id(x) not in pinned
    assert _pinned(spark) - before == {_rdd_id(out)}
    assert sorted((r.v, r.w) for r in out.collect()) == [(v, v + 4) for v in range(50)]


def test_block_store_mapped_sharing_and_invalidation(spark, tmp_path):
    """Driver-side unit test of the mapped store: the first load maps the
    store's own .npy files (no decode, no copy); a FRESH process cache
    (another worker) maps the same files without a repack; rewriting the
    store under the same path (new _SUCCESS mtime) re-keys the handle cache;
    drop_block_store removes the directory. A non-negative partition
    without a meta file raises instead of reading as "no edges"."""
    import os as _os
    import time as _time

    import numpy as _np

    import cuttana_spark.analytics.blockstore as B

    edges = spark.createDataFrame(
        [(0, 1, 1.0), (1, 2, 1.0), (2, 0, 1.0), (3, 0, 1.0)],
        "src long, dst long, weight double",
    ).withColumnRenamed("weight", "p")
    vp = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 1), (3, 1)], "vertex long, partition_id int"
    )
    path = str(tmp_path / "store")
    B.write_block_store(Graph(edges, vp, "trans", None), path)
    key = B._store_key(path)
    B._CACHE.clear()
    b1 = B.load_blocks(path, 0)
    assert len(b1) == 1
    for a in ("src_idx", "ud", "inv", "ps"):  # views onto the store's files
        assert isinstance(b1[0][a], _np.memmap)
        assert b1[0][a].filename == _os.path.join(_os.path.abspath(path), f"0.{a}.npy")
    b2 = B.load_blocks(path, 0)
    assert b2 is b1  # handle-cache hit
    with pytest.raises(FileNotFoundError, match="no partition 99"):
        B.load_blocks(path, 99)
    assert B.load_blocks(path, -1) == []  # vertices a table map lacks

    # ANOTHER worker (fresh process cache) maps the same files: no repack
    B._CACHE.clear()
    b3 = B.load_blocks(path, 0)
    assert B._store_key(path) == key
    assert [(x["n_verts"], x["v_min"], x["v_max"], x["v_digest"]) for x in b3] == [
        (x["n_verts"], x["v_min"], x["v_max"], x["v_digest"]) for x in b1
    ]
    for a in ("src_idx", "ud", "inv", "ps"):
        assert b3[0][a].filename == b1[0][a].filename
        assert _np.array_equal(_np.asarray(b3[0][a]), _np.asarray(b1[0][a]))

    # rewrite under same path -> new _SUCCESS mtime -> the handle cache re-keys
    _time.sleep(0.05)
    B.write_block_store(Graph(edges, vp, "trans", None), path)
    _os.utime(_os.path.join(path, "_SUCCESS"))
    assert B._store_key(path) != key
    b4 = B.load_blocks(path, 0)
    assert b4 is not b3
    assert [k[0] for k in B._CACHE] == [B._store_key(path)]  # stale handles gone

    # drop_block_store removes the store
    B.drop_block_store(path)
    assert not _os.path.exists(path)


def test_block_store_rejects_uri_paths(spark, tmp_path):
    """Workers read the store with POSIX file calls, so a URI block_store
    must raise ValueError before any job runs — never pack somewhere the
    workers cannot read."""
    from types import SimpleNamespace

    import cuttana_spark.analytics.blockstore as B
    from cuttana_spark.analytics.pagerank import pagerank_csr

    edges = spark.createDataFrame([(0, 1, 1.0)], "src long, dst long, p double")
    vp = spark.createDataFrame([(0, 0), (1, 0)], "vertex long, partition_id int")
    g = Graph(edges, vp, "trans", None)
    local = SimpleNamespace(sparkContext=SimpleNamespace(master="local[2]"))
    for uri in ("s3://bucket/store", "hdfs://nn/store", f"file:{tmp_path}/store"):
        with pytest.raises(ValueError, match="plain path shared"):
            B.write_block_store(g, uri)
        with pytest.raises(ValueError, match="plain path shared"):
            with B.resident_store(local, g, uri):
                pass
    assert not (tmp_path / "store").exists()
    with pytest.raises(ValueError, match="plain path shared"):
        pagerank_csr(
            spark,
            edges.withColumnRenamed("p", "weight"),
            vp,
            max_iter=1,
            block_store="s3://bucket/pr",
        )


def test_gather_raises_on_missing_partition_files(spark, tmp_path, monkeypatch):
    """A store whose partition files a worker cannot see (deleted here; on
    a cluster, a path some executors do not mount) must make the gather
    raise and name the partition, not read that partition as edgeless. A
    pack whose files the driver cannot see raises at write time."""
    import os as _os

    import cuttana_spark.analytics.blockstore as B
    from cuttana_spark.analytics.csr import PR

    edges = spark.createDataFrame(
        [(0, 1, 1.0), (1, 2, 1.0), (2, 0, 1.0), (3, 0, 1.0)],
        "src long, dst long, p double",
    )
    vp = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 1), (3, 1)], "vertex long, partition_id int"
    )
    path = str(tmp_path / "store")
    B.write_block_store(Graph(edges, vp, "trans", None), path)
    for f in _os.listdir(path):
        if f.startswith("1."):
            _os.unlink(_os.path.join(path, f))
    scores = vp.withColumn("score", F.lit(1.0))
    with pytest.raises(Exception, match="has no partition 1"):
        B.gather(path, scores, PR).collect()

    monkeypatch.setattr(B, "has_partition", lambda store, pid: pid != 1)
    with pytest.raises(FileNotFoundError, match="partition 1 was packed"):
        B.write_block_store(Graph(edges, vp, "trans", None), path)
    B.drop_block_store(path)


def test_sink_only_partition_gathers(spark, tmp_path):
    """A partition whose vertices have no out-edges is packed as a meta file
    with zero chunks, so its absence can be told from "no edges"; the gather
    over it contributes nothing and the other partition's sums are exact."""
    import json as _json
    import os as _os

    import cuttana_spark.analytics.blockstore as B
    from cuttana_spark.analytics.csr import PR

    edges = spark.createDataFrame(
        [(0, 2, 0.5), (0, 3, 0.5), (1, 2, 1.0)], "src long, dst long, p double"
    )
    vp = spark.createDataFrame(  # partition 1 holds only the sinks 2 and 3
        [(0, 0), (1, 0), (2, 1), (3, 1)], "vertex long, partition_id int"
    )
    path = str(tmp_path / "store")
    B.write_block_store(Graph(edges, vp, "trans", None), path)
    with open(_os.path.join(path, "1.meta.json")) as fh:
        assert _json.load(fh) == []
    assert B.load_blocks(path, 1) == []
    scores = spark.createDataFrame(
        [(0, 0.1, 0), (1, 0.2, 0), (2, 0.3, 1), (3, 0.4, 1)],
        "vertex long, score double, partition_id int",
    )
    got = {r.dst: r.contrib for r in B.gather(path, scores, PR).collect()}
    assert got == {2: pytest.approx(0.05 + 0.2), 3: pytest.approx(0.05)}
    B.drop_block_store(path)


def test_resident_superstep_plan_has_no_block_scan(spark, tmp_path):
    """The resident superstep's physical plan must contain only the O(V)
    frontier — no parquet scan of block binaries, and exactly the two hash
    exchanges (frontier routing + partial-sum agg)."""
    from cuttana_spark.analytics.blockstore import gather, write_block_store
    from cuttana_spark.analytics.csr import PR

    edges = spark.createDataFrame(
        [(0, 1, 0.5), (1, 2, 1.0), (2, 0, 1.0)], "src long, dst long, p double"
    )
    vp = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 1)], "vertex long, partition_id int"
    )
    path = str(tmp_path / "store")
    write_block_store(Graph(edges, vp, "trans", None), path)
    scores = spark.createDataFrame(
        [(0, 0.3, 0), (1, 0.3, 0), (2, 0.4, 1)],
        "vertex long, score double, partition_id int",
    )
    out = gather(path, scores, PR).groupBy("dst").agg(F.sum("contrib").alias("contrib"))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Scan parquet" not in plan
    assert plan.count("Exchange") <= 2
    got = {r.dst: r.contrib for r in out.collect()}
    assert got == {1: pytest.approx(0.3 * 0.5), 2: pytest.approx(0.3), 0: pytest.approx(0.4)}


def test_csr_frontier_interior_mismatch_guard(spark, tmp_path):
    """Round-6 ADVICE: a frontier with the same count/min/max as the packed
    partition but a DIFFERENT interior vertex set (packed {0,1,3} vs
    frontier {0,2,3}) must be caught by the v_digest check, never silently
    misattribute labels through the positional gather."""
    import pytest as _pytest

    from cuttana_spark.analytics.blockstore import (
        drop_block_store,
        gather,
        write_block_store,
    )
    from cuttana_spark.analytics.csr import LPA

    edges = spark.createDataFrame(
        [(0, 1, 1.0), (1, 3, 1.0), (3, 0, 1.0)], "src long, dst long, p double"
    )
    vp = spark.createDataFrame(
        [(0, 0), (1, 0), (3, 0)], "vertex long, partition_id int"
    )
    path = str(tmp_path / "store")
    write_block_store(Graph(edges, vp, "trans", None), path)
    bad = spark.createDataFrame(  # same n/min/max envelope, wrong interior
        [(0, 0, 0), (2, 2, 0), (3, 3, 0)],
        "vertex long, label long, partition_id int",
    )
    with _pytest.raises(Exception, match="frontier vertex set"):
        gather(path, bad, LPA).collect()
    drop_block_store(path)


def test_block_store_fingerprint_repack(spark, tmp_path):
    """Round-6 ADVICE: ensure_block_store must not reuse a store packed from
    DIFFERENT inputs over the same path — the _CUTTANA_STORE_FP plan-hash
    marker forces a re-pack; matching inputs reuse without rewriting."""
    import os as _os

    import cuttana_spark.analytics.blockstore as B

    e1 = spark.createDataFrame(
        [(0, 1, 1.0), (1, 2, 1.0)], "src long, dst long, p double"
    )
    e2 = spark.createDataFrame(  # same vertex set, different edges/weights
        [(0, 2, 0.5), (1, 2, 0.5)], "src long, dst long, p double"
    )
    vp = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 0)], "vertex long, partition_id int"
    )
    path = str(tmp_path / "store")
    B.ensure_block_store(Graph(e1, vp, "trans", None), path)
    k1 = B._store_key(path)
    B.ensure_block_store(Graph(e1, vp, "trans", None), path)  # identical inputs -> reused
    assert B._store_key(path) == k1
    B.ensure_block_store(Graph(e2, vp, "trans", None), path)  # different inputs -> re-packed
    k2 = B._store_key(path)
    assert k2 != k1
    B._CACHE.clear()
    from cuttana_spark.analytics.csr import PR

    scores = vp.withColumn("score", F.lit(1.0))
    got = {r.dst: r.contrib for r in B.gather(path, scores, PR).collect()}
    assert got == {2: pytest.approx(1.0)}  # e2's graph, not e1's
    B.drop_block_store(path)


def test_cc_accel_releases_tail_checkpoints(spark):
    """Round-6 ADVICE: the contraction pre-pass must not leave the recursive
    star-loop tail's checkpoints (or its nodes cache) pinned once the O(V)
    result is re-checkpointed — residency after the call is the result's own
    generation plus whatever was pinned before."""
    import networkx as nx

    from cuttana_spark.analytics.components import connected_components

    G = nx.random_lobster(600, 0.6, 0.3, seed=7)
    edges = spark.createDataFrame(
        [(int(a), int(b)) for a, b in G.edges()], "src long, dst long"
    )
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    before = set(jmap.keys())
    out = connected_components(
        spark, edges, accel_rounds=2, accel_min_edges=1, accel_partitions=4
    )
    got = {r.vertex: r.component for r in out.collect()}
    want = {
        int(v): int(min(c))
        for c in nx.connected_components(G)
        for v in c
    }
    assert got == want
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    new = set(jmap.keys()) - before
    # exactly one new pinned generation: the returned result's checkpoint
    assert len(new) <= 1, f"accel CC leaked {len(new)} persistent RDDs"


def test_kcore_self_loops_consistent(spark):
    """Round-6 ADVICE: inputs containing self-loops must produce the same
    k-core from the join-based and CSR entry points (both drop src==dst, the
    simple-graph convention)."""
    import networkx as nx

    from cuttana_spark.analytics.kcore import k_core, k_core_csr

    G = nx.gnm_random_graph(60, 150, seed=11)
    rows = [(int(a), int(b)) for a, b in G.edges()]
    rows += [(5, 5), (17, 17), (59, 59)]  # self-loops
    edges = spark.createDataFrame(rows, "src long, dst long")
    verts = sorted({v for r in rows for v in r})  # vp must equal the graph's
    vp = spark.createDataFrame(  # exact vertex set (frontier contract)
        [(v, v % 3) for v in verts], "vertex long, partition_id int"
    )
    a = {r.vertex for r in k_core(spark, edges, k=3).collect()}
    b = {r.vertex for r in k_core_csr(spark, edges, vp, k=3).collect()}
    assert a == b
    assert a == {v for v, c in nx.core_number(G).items() if c >= 3}


def test_shared_block_store_serves_kcore_lpa_cc(spark, tmp_path):
    """Round 6 (VERDICT item 6): k-core, LPA and CC built over the SAME
    edges DataFrame through the canonical sym-unit payload
    (graphstore.open_graph "sym-unit") share ONE block store — the fingerprint
    matches, so only the first caller packs (store mtime_ns unchanged
    afterwards) — and all three results stay oracle-correct."""
    import networkx as nx

    import cuttana_spark.analytics.blockstore as B
    from cuttana_spark.analytics.components import connected_components
    from cuttana_spark.analytics.kcore import k_core, k_core_csr
    from cuttana_spark.analytics.labelprop import (
        label_propagation,
        label_propagation_csr,
    )

    # BA core (min degree 2 -> 2-core converges fast) + a short tail chain
    # that peels round-by-round + a separate component for CC
    G = nx.barabasi_albert_graph(150, 2, seed=13)
    G.add_edges_from(zip(range(900, 906), range(901, 907)))
    G.add_edge(905, 17)
    G.add_edges_from([(2000, 2001), (2001, 2002)])
    edges = spark.createDataFrame(
        [(int(a), int(b)) for a, b in G.edges()], "src long, dst long"
    ).cache()
    store = str(tmp_path / "shared")

    kc = {
        r.vertex
        for r in k_core_csr(
            spark, edges, None, k=2, block_store=store, hash_partitions=4
        ).collect()
    }
    key_after_kcore = B._store_key(store)
    lp = {
        r.vertex: r.label
        for r in label_propagation_csr(
            spark, edges, None, max_iter=3, block_store=store, hash_partitions=4
        ).collect()
    }
    cc = {
        r.vertex: r.component
        for r in connected_components(
            spark,
            edges,
            accel_rounds=2,
            accel_min_edges=1,
            accel_partitions=4,
            block_store=store,
        ).collect()
    }
    # ONE pack: neither LPA nor CC re-wrote the store
    assert B._store_key(store) == key_after_kcore

    assert kc == {r.vertex for r in k_core(spark, edges, k=2).collect()}
    assert lp == {
        r.vertex: r.label
        for r in label_propagation(spark, edges, max_iter=3).collect()
    }
    want = {int(v): int(min(c)) for c in nx.connected_components(G) for v in c}
    assert cc == want
    B.drop_block_store(store)
    edges.unpersist(False)


def test_pagerank_trans_store_shared_across_runs(spark, tmp_path):
    """Round 7 (VERDICT r6 item 6): pagerank_csr(hash_partitions=) packs the
    canonical transition payload (graphstore.open_graph "trans") ONCE; a second run
    over the same edges DataFrame reuses the store fingerprint-checked (no
    repack), and scores equal both the vertex_partitions mode and the
    df-join pagerank."""
    import networkx as nx

    import cuttana_spark.analytics.blockstore as B
    from cuttana_spark.analytics.graphstore import hash_partition_expr
    from cuttana_spark.analytics.pagerank import pagerank, pagerank_csr
    from pyspark.sql import functions as F

    G = nx.barabasi_albert_graph(120, 2, seed=7)
    und = spark.createDataFrame(
        [(int(a), int(b), 1) for a, b in G.edges()], "src long, dst long, weight long"
    )
    sym = und.unionAll(
        und.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "weight")
    ).cache()
    store = str(tmp_path / "trans")

    r1 = {
        r.vertex: r.score
        for r in pagerank_csr(
            spark, sym, None, max_iter=4, tol=0.0,
            block_store=store, hash_partitions=4,
        ).collect()
    }
    key = B._store_key(store)
    with open(f"{store}/{B._FP_MARKER}") as fh:
        assert fh.read().split("|")[1] == "trans"  # payload-kind field
    r2 = {
        r.vertex: r.score
        for r in pagerank_csr(
            spark, sym, None, max_iter=4, tol=0.0,
            block_store=store, hash_partitions=4,
        ).collect()
    }
    assert B._store_key(store) == key, "trans store was re-packed"
    assert r1 == r2
    # same scores as the explicit-map mode and the df-join reference
    pid_of = hash_partition_expr(4)
    vp = (
        sym.select(F.col("src").alias("vertex"))
        .unionAll(sym.select(F.col("dst").alias("vertex")))
        .distinct()
        .select("vertex", pid_of(F.col("vertex")).alias("partition_id"))
    )
    r3 = {
        r.vertex: r.score
        for r in pagerank_csr(spark, sym, vp, max_iter=4, tol=0.0).collect()
    }
    rdf = {
        r.vertex: r.score for r in pagerank(spark, sym, max_iter=4, tol=0.0).collect()
    }
    assert r1 == r3
    assert set(r1) == set(rdf)
    for v, s in r1.items():
        assert abs(s - rdf[v]) < 1e-12
    B.drop_block_store(store)
    sym.unpersist(False)


def _cycle_with_chord(spark):
    """A 30-cycle with one chord: every vertex is in the 2-core."""
    return spark.createDataFrame(
        [(i, (i + 1) % 30, 1.0) for i in range(30)] + [(0, 15, 1.0)],
        "src long, dst long, weight double",
    )


def _csr_call(spark, algo, edges, **maps):
    """One CSR entry point over ``edges``, routed by ``maps``."""
    from cuttana_spark.analytics.kcore import k_core_csr
    from cuttana_spark.analytics.labelprop import label_propagation_csr

    if algo == "pagerank_csr":
        return pagerank_csr(spark, _sym(edges), max_iter=3, tol=0.0, **maps)
    if algo == "label_propagation_csr":
        return label_propagation_csr(spark, edges, max_iter=3, **maps)
    return k_core_csr(spark, edges, k=2, **maps)


def _cycle_map(spark, missing=None):
    """partition_id = v % 3 for every cycle vertex except ``missing``."""
    return spark.createDataFrame(
        [(v, v % 3) for v in range(30) if v != missing],
        "vertex long, partition_id int",
    )


CSR_ALGOS = ["pagerank_csr", "label_propagation_csr", "k_core_csr"]


@pytest.mark.parametrize("algo", CSR_ALGOS)
def test_incomplete_vertex_partitions_raise(spark, algo):
    """A map that lacks an edge source (vertex 7) must make the pack raise:
    routing by an inner join used to drop 7's edges and return a silently
    wrong answer (29 LPA labels, a different 2-core, PageRank mass 0.937)."""
    vp = _cycle_map(spark, missing=7)
    with pytest.raises(Exception, match="edge sources not covered"):
        _csr_call(spark, algo, _cycle_with_chord(spark), vertex_partitions=vp).collect()


@pytest.mark.parametrize("algo", CSR_ALGOS)
@pytest.mark.parametrize("both", [True, False], ids=["both", "neither"])
def test_csr_routing_needs_exactly_one_map(spark, algo, both):
    """Every CSR entry point takes exactly one of vertex_partitions /
    hash_partitions; both or neither is a ValueError."""
    vp, k = (_cycle_map(spark), 3) if both else (None, None)
    with pytest.raises(ValueError, match="exactly one of"):
        _csr_call(
            spark, algo, _cycle_with_chord(spark), vertex_partitions=vp, hash_partitions=k
        )


@pytest.mark.parametrize("algo", CSR_ALGOS)
def test_call_scoped_store_leaves_nothing_behind(spark, tmp_path, monkeypatch, algo):
    """block_store=None packs a call-scoped store. The call must leave no
    store directory and no persistent RDD beyond its result's checkpoint —
    and the result must stay readable without them."""
    import os
    import tempfile

    import cuttana_spark.analytics.blockstore as B

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    stores = lambda: [d for d in os.listdir(tmp_path) if d.startswith("cuttana-")]
    pinned = lambda: set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    edges = _cycle_with_chord(spark)
    vp = _cycle_map(spark)
    seen = {}
    real_drop = B.drop_block_store

    def spy(path):  # what existed just before the store was dropped
        seen["stores"] = stores()
        real_drop(path)

    monkeypatch.setattr(B, "drop_block_store", spy)
    pinned0 = pinned()
    out = _csr_call(spark, algo, edges, vertex_partitions=vp)
    assert len(seen["stores"]) == 1  # store was used
    assert stores() == []
    assert len(pinned() - pinned0) <= 1
    assert out.count() == 30


def test_call_scoped_store_needs_local_master():
    """Executors of a non-local master cannot read the driver's temp dir and
    would gather from an empty store — block_store=None must refuse."""
    from types import SimpleNamespace

    from cuttana_spark.analytics.blockstore import resident_store

    cluster = SimpleNamespace(sparkContext=SimpleNamespace(master="yarn"))
    with pytest.raises(ValueError, match="pass a block_store path"):
        with resident_store(cluster, None, None):
            pass


def test_load_blocks_forgets_dropped_stores(spark, tmp_path):
    """A worker's handle cache must not keep mmap views of a dropped store
    alive (they pin the unlinked store files' pages): the next cache miss
    sweeps handles whose store is gone."""
    import os

    import cuttana_spark.analytics.blockstore as B

    edges = spark.createDataFrame(
        [(0, 1, 1.0), (1, 0, 1.0)], "src long, dst long, p double"
    )
    vp = spark.createDataFrame([(0, 0), (1, 0)], "vertex long, partition_id int")
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    B.write_block_store(Graph(edges, vp, "trans", None), a)
    B.write_block_store(Graph(edges, vp, "trans", None), b)
    B._CACHE.clear()
    assert len(B.load_blocks(a, 0)) == 1
    B.drop_block_store(a)
    assert len(B.load_blocks(b, 0)) == 1
    assert [key[0][0] for key in B._CACHE] == [os.path.abspath(b)]
    B.drop_block_store(b)
