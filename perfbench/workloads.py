"""The benchmark workloads: inputs, timed calls and output checks.

Each workload is one object built for one seed. The runner calls

- ``load()``: generate the seeded inputs under ``work`` and load them into
  Spark, once. It is timed into ``setup_s``;
- ``build()``: derive what the passes need from the loaded inputs, once.
  It is timed into ``setup_s``;
- ``oracle()``: compute the reference answers for this seed, untimed;
- ``reset()``: bring the inputs back into the state every pass starts from,
  untimed, after the runner has cleared every cache;
- ``run_pass(call)``: one pass. ``call(name, fn)`` runs and times one
  public call; the pass returns the names of the calls whose output failed
  a check.

Why each workload exists, and which layers it does and does not touch, is in
README.md next to this file.
"""

from __future__ import annotations

import os
import random

import numpy as np

from cuttana_spark import embeddings, transcripts
from cuttana_spark.analytics.blockstore import drop_block_store
from cuttana_spark.operators import edges as E

# Sizes: README.md has the pass walls they give on a 4-CPU host and the run
# budget they fit.
INGEST_CONVERSATIONS = 4_000
ANALYTICS_CONVERSATIONS = 1_000
PARTITIONS = 32
PAGERANK_SUPERSTEPS = 1
LPA_ITERATIONS = 1
DOCS = 150
CORPUS = 10_000
DIM = 64
CLUSTERS = 128
QUERY_EVERY = 11
IVF_CELLS = 16
IVF_NPROBE = 4
TOPK = 10
# float64 sums of the same terms in another order: far above the measured
# 1e-13 relative spread, far below any real change in a score
SUM_ORDER_RTOL = 1e-12
# IVF recall@10 against the exact referee read 1.0 on every seed tried at
# the sizes above; a pass below this floor fails its check.
RECALL_FLOOR = 0.95


class Workload:
    name = ""
    calls: tuple[str, ...] = ()
    # untimed passes before timing starts, read off the warm-up curves in
    # README.md
    warmup = 1
    # warm pass wall on a 4-CPU host: ``--seconds`` / ``pass_s`` (rounded,
    # at least 1) is the number of timed passes, the same in every run
    pass_s = 1.0
    # extra options for the session's JVM
    java_options = ""

    def __init__(self, spark, seed: int, work: str, nproc: int):
        self.spark, self.seed, self.work, self.nproc = spark, seed, work, nproc
        os.makedirs(work, exist_ok=True)

    def _path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def build(self) -> None:
        pass

    def reset(self) -> None:
        pass


def _count_distinct(df, col: str) -> int:
    from pyspark.sql import functions as F

    return int(df.agg(F.countDistinct(col)).first()[0])


def _expected_graph(n_conv: int, seed: int) -> tuple[int, int]:
    """(vertices, undirected edges) of the transcript graph, pure Python."""
    edges = transcripts.expected_edges(n_conv, seed)
    return len({v for e in edges for v in e}), len(edges)


class Ingest(Workload):
    """Transcripts → hashed edges → adjacency → batched Cuttana map."""

    name = "ingest"
    warmup = 2
    pass_s = 3.5
    # C1 only: under the default tiered JIT a pass's CPU settled at a level
    # that differed by up to 45 % from run to run. Parallel GC: G1's CPU per
    # pass swung between 0.3 and 2.5 s (README.md, "Warm-up")
    java_options = "-XX:TieredStopAtLevel=1 -XX:+UseParallelGC"
    calls = (
        "transcript_edges",
        "check_hash_collisions",
        "adjacency",
        "cuttana_partition_df_batched",
    )

    def load(self) -> None:
        path = transcripts.write_parquet(
            self._path("transcripts.parquet"), INGEST_CONVERSATIONS, self.seed
        )
        self.transcripts = self.spark.read.parquet(path)
        self.transcripts.count()

    def oracle(self) -> None:
        self.want_vertices, self.want_edges = _expected_graph(
            INGEST_CONVERSATIONS, self.seed
        )
        self.quality: tuple[float, float] | None = None

    def run_pass(self, call) -> list[str]:
        from cuttana_spark.partition.batched import cuttana_partition_df_batched

        failed = []

        def derive():
            nodes, eids = E.transcript_edges(self.transcripts, mode="hash")
            eids = eids.cache()
            return nodes, eids, eids.count()

        nodes, eids, n_edges = call("transcript_edges", derive)
        if n_edges != self.want_edges:
            failed.append("transcript_edges")
        if call("check_hash_collisions", lambda: E.check_hash_collisions(nodes)) != 0:
            failed.append("check_hash_collisions")

        def adjacency():
            adj = E.adjacency(eids).cache()
            adj.count()
            return adj

        adj = call("adjacency", adjacency)
        res = call(
            "cuttana_partition_df_batched",
            lambda: cuttana_partition_df_batched(adj, PARTITIONS, batch_size=4096),
        )
        self.vertex_count = res.vertex_count
        quality = (res.edge_cut_ratio, res.balance)
        if self.quality is None:
            self.quality = quality
        # the map must cover the oracle's graph and repeat bit for bit
        if (
            res.vertex_count != self.want_vertices
            or res.edge_count != 2 * self.want_edges
            or quality != self.quality
        ):
            failed.append("cuttana_partition_df_batched")
        eids.unpersist()
        adj.unpersist()
        return failed

    def extra_metrics(self, wall: dict[str, float]) -> dict[str, float]:
        return {
            "partition.vertices_per_s": self.vertex_count / wall["cuttana_partition_df_batched"],
            "cuttana_partition_df_batched.edge_cut_ratio": self.quality[0],
            "cuttana_partition_df_batched.partition_balance": self.quality[1],
        }


def write_documents(path: str, n: int, seed: int) -> str:
    """Seeded documents with planted near-duplicates: every fifth document
    copies an earlier one and swaps a few words, so MinHash has pairs to
    find. Words are lowercase letters, which normalisation leaves as is."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    vocab = ["w" + "".join(rng.choice("abcdefghij") for _ in range(5)) for _ in range(3000)]
    docs: list[list[str]] = []
    for i in range(n):
        if i % 5 == 4:
            words = list(docs[rng.randrange(i)])
            for _ in range(rng.randint(1, 3)):
                words[rng.randrange(len(words))] = rng.choice(vocab)
        else:
            words = [rng.choice(vocab) for _ in range(rng.randint(40, 120))]
        docs.append(words)
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array([" ".join(w) for w in docs], pa.string()),
        }
    )
    pq.write_table(table, path)
    return path


def _jaccard(a: str, b: str) -> float:
    def sh(t):
        w = t.split(" ")
        return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}

    x, y = sh(a), sh(b)
    return len(x & y) / len(x | y)


class Analytics(Workload):
    """Superstep analytics over a graph and Cuttana map built in setup, then
    MinHash dedup and exact and IVF top-k over a clustered corpus."""

    name = "analytics"
    pass_s = 24.0
    calls = (
        "pagerank_csr-cuttana",
        "pagerank_csr-hash",
        "label_propagation_csr",
        "connected_components",
        "triangle_count",
        "minhash_pairs",
        "brute_force_topk_gemm",
        "ivf_index_gemm",
        "ivf_probe_gemm",
    )

    def load(self) -> None:
        """The transcript graph, built in Python so that no edge-derivation
        or partitioner code in Spark runs in this workload at all."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        pairs = sorted(transcripts.expected_edges(ANALYTICS_CONVERSATIONS, self.seed))
        ids = {k: i for i, k in enumerate(sorted({v for e in pairs for v in e}))}
        # keys are canonical (a < b) and ids keep key order, so src < dst
        self.src = np.array([ids[a] for a, _ in pairs], np.int64)
        self.dst = np.array([ids[b] for _, b in pairs], np.int64)
        pq.write_table(
            pa.table({
                "src": self.src,
                "dst": self.dst,
                "weight": np.ones(len(pairs), np.int64),
            }),
            self._path("edges.parquet"),
        )
        self.spark.read.parquet(self._path("edges.parquet")).count()

        docs = write_documents(self._path("documents.parquet"), DOCS, self.seed)
        emb = embeddings.write_parquet(
            self._path("embeddings.parquet"),
            n=CORPUS,
            dim=DIM,
            n_clusters=CLUSTERS,
            noise=0.04,
            seed=self.seed,
        )
        self.docs = self.spark.read.parquet(docs)
        self.emb_path = emb
        self.spark.read.parquet(emb).count()

    def build(self) -> None:
        """The Cuttana map of the graph, from the in-memory partitioner."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from cuttana_spark.partition.batched import cuttana_partition_batched

        both_src = np.concatenate([self.src, self.dst])
        both_dst = np.concatenate([self.dst, self.src])
        order = np.lexsort((both_dst, both_src))
        verts, starts = np.unique(both_src[order], return_index=True)
        nbrs = np.split(both_dst[order], starts[1:])
        res = cuttana_partition_batched(
            list(zip(verts.tolist(), (n.tolist() for n in nbrs))), PARTITIONS, batch_size=4096
        )
        pq.write_table(
            pa.table({
                "vertex": res.vertices.astype(np.int64),
                "partition_id": res.partitions.astype(np.int32),
            }),
            self._path("map.parquet"),
        )

    def oracle(self) -> None:
        import networkx as nx
        import pyarrow.parquet as pq

        from cuttana_spark.analytics.labelprop import label_propagation_oracle

        g = nx.Graph()
        g.add_edges_from(zip(self.src.tolist(), self.dst.tolist()))
        self.want_components = nx.number_connected_components(g)
        self.want_triangles = sum(nx.triangles(g).values()) // 3
        adj = {v: sorted(g.neighbors(v)) for v in g.nodes()}
        self.want_labels = len(set(label_propagation_oracle(adj, LPA_ITERATIONS).values()))
        self.sym_edges = 2 * len(self.src)

        self.texts = pq.read_table(self._path("documents.parquet")).column("text").to_pylist()
        self.pairs: int | None = None
        self.recall: float | None = None
        # exact cosine top-k in numpy: the k-th best cosine per query
        X = np.asarray(embeddings.clustered_embeddings(CORPUS, DIM, CLUSTERS, 0.04, self.seed))
        X = X.astype(np.float64)
        X /= np.linalg.norm(X, axis=1, keepdims=True)
        q = np.arange(0, CORPUS, QUERY_EVERY)
        sims = X[q] @ X.T
        sims[np.arange(len(q)), q] = -np.inf  # the referee skips self-matches
        self.kth = dict(zip(q.tolist(), -np.sort(-sims, axis=1)[:, TOPK - 1]))

    def reset(self) -> None:
        read = self.spark.read.parquet
        self.eids = read(self._path("edges.parquet")).cache()
        self.sym = E.symmetrize(self.eids).repartition(self.nproc, "src").cache()
        self.vp = read(self._path("map.parquet")).cache()
        self.eids.count()
        self.sym.count()
        self.n_vertices = self.vp.count()
        self.stores = {c: self._path(f"store-{c}") for c in ("cuttana", "hash", "lpa")}
        for store in self.stores.values():
            drop_block_store(store)
        self.emb = read(self.emb_path).repartition(self.nproc).cache()
        self.queries = self.emb.filter(f"vec_id % {QUERY_EVERY} = 0").cache()
        self.emb.count()
        self.queries.count()

    def run_pass(self, call) -> list[str]:
        return sorted(set(self._graph_calls(call) + self._training_calls(call)))

    def _graph_calls(self, call) -> list[str]:
        """PageRank under both maps, LPA, CC and triangles; failed calls."""
        from cuttana_spark.analytics.components import connected_components
        from cuttana_spark.analytics.labelprop import label_propagation_csr
        from cuttana_spark.analytics.pagerank import pagerank_csr
        from cuttana_spark.analytics.triangles import triangle_count

        spark, failed = self.spark, []

        def scores(**kw):
            pr = pagerank_csr(
                spark, self.sym, max_iter=PAGERANK_SUPERSTEPS, tol=0.0, **kw
            )
            return pr.select("vertex", "score").toPandas().sort_values("vertex")

        by_map = call(
            "pagerank_csr-cuttana",
            lambda: scores(vertex_partitions=self.vp, block_store=self.stores["cuttana"]),
        )
        by_hash = call(
            "pagerank_csr-hash",
            lambda: scores(
                vertex_partitions=None,
                hash_partitions=PARTITIONS,
                block_store=self.stores["hash"],
            ),
        )
        # Scores under the two maps differ only in summation order: the
        # kernels add a vertex's contributions block by block, and the maps
        # cut the blocks differently (README.md, "PageRank under two maps").
        if not (
            np.array_equal(by_map.vertex.to_numpy(), by_hash.vertex.to_numpy())
            and np.allclose(by_map.score, by_hash.score, rtol=SUM_ORDER_RTOL, atol=0.0)
        ):
            failed.append("pagerank_csr-hash")
        if len(by_map) != self.n_vertices:
            failed.append("pagerank_csr-cuttana")

        labels = call(
            "label_propagation_csr",
            lambda: _count_distinct(
                label_propagation_csr(
                    spark,
                    self.eids,
                    self.vp,
                    max_iter=LPA_ITERATIONS,
                    block_store=self.stores["lpa"],
                ),
                "label",
            ),
        )
        if labels != self.want_labels:
            failed.append("label_propagation_csr")

        self.cc_rounds: list = []
        components = call(
            "connected_components",
            lambda: _count_distinct(
                connected_components(spark, self.eids, round_walls=self.cc_rounds),
                "component",
            ),
        )
        if components != self.want_components:
            failed.append("connected_components")

        triangles = call(
            "triangle_count",
            lambda: int(triangle_count(spark, self.eids.select("src", "dst")).first()[0]),
        )
        if triangles != self.want_triangles:
            failed.append("triangle_count")
        return failed

    def _training_calls(self, call) -> list[str]:
        """MinHash pairs, exact top-k, IVF index and probe; failed calls."""
        from cuttana_spark.operators.dedup import minhash_pairs
        from cuttana_spark.operators.ivf import ivf_index_gemm, ivf_probe_gemm
        from cuttana_spark.operators.similarity import brute_force_topk_gemm

        failed = []
        pairs = call(
            "minhash_pairs",
            lambda: minhash_pairs(self.docs, num_hashes=16, bands=4, threshold=0.5).collect(),
        )
        if self.pairs is None:
            self.pairs = len(pairs)
        if len(pairs) != self.pairs or not pairs or any(
            abs(_jaccard(self.texts[r.doc_a], self.texts[r.doc_b]) - r.jaccard) > 1e-9
            or r.jaccard < 0.5
            for r in pairs
        ):
            failed.append("minhash_pairs")

        exact = call(
            "brute_force_topk_gemm",
            lambda: brute_force_topk_gemm(self.queries, self.emb, k=TOPK).collect(),
        )
        truth: dict[int, set] = {}
        for r in exact:
            truth.setdefault(r.query_id, set()).add(r.match_id)
            if r.cosine < self.kth[r.query_id] - 1e-9:
                failed.append("brute_force_topk_gemm")
                break
        if len(truth) != len(self.kth) or any(len(v) != TOPK for v in truth.values()):
            failed.append("brute_force_topk_gemm")

        def index():
            cells, cents = ivf_index_gemm(self.emb, n_cells=IVF_CELLS)
            cells = cells.cache()
            return cells, cents, cells.count()

        cells, cents, n_cells = call("ivf_index_gemm", index)
        if n_cells != CORPUS:
            failed.append("ivf_index_gemm")
        got = call(
            "ivf_probe_gemm",
            lambda: ivf_probe_gemm(
                cells, cents, self.queries, nprobe=IVF_NPROBE, k=TOPK
            ).collect(),
        )
        cells.unpersist()
        hits = sum(1 for r in got if r.match_id in truth.get(r.query_id, ()))
        recall = hits / sum(len(v) for v in truth.values())
        if self.recall is None:
            self.recall = recall
        if recall != self.recall or recall < RECALL_FLOOR:
            failed.append("ivf_probe_gemm")
        return failed

    def extra_metrics(self, wall: dict[str, float]) -> dict[str, float]:
        return {
            "pagerank_csr-cuttana.edges_per_s": (
                self.sym_edges * PAGERANK_SUPERSTEPS / wall["pagerank_csr-cuttana"]
            ),
            "connected_components.rounds": float(len(self.cc_rounds)),
            "ivf_probe_gemm.recall_at_10": self.recall,
        }


WORKLOADS = {w.name: w for w in (Ingest, Analytics)}
ALL_CALLS = Ingest.calls + Analytics.calls
EXTRA_METRICS = (
    "partition.vertices_per_s",
    "pagerank_csr-cuttana.edges_per_s",
    "connected_components.rounds",
    "cuttana_partition_df_batched.edge_cut_ratio",
    "cuttana_partition_df_batched.partition_balance",
    "ivf_probe_gemm.recall_at_10",
)
