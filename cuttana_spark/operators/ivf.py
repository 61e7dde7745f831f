"""IVF (inverted-file) approximate nearest neighbor — the coarse-quantizer
scale path alongside LSH (similarity.py).

Train: sample vectors to the driver, run a small numpy k-means (deterministic
seed) → centroid list. Index: assign every corpus vector to its nearest
centroid JVM-side (literal centroid arrays, zip_with/aggregate dot products —
no Python in the assignment path). Search: probe the `nprobe` nearest
centroids per query, exact cosine re-rank within those cells.

At 100 TB the index assignment is one narrow column write; searches touch
|corpus|·nprobe/n_cells vectors instead of the full corpus.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cuttana_spark.operators.similarity import _dot, _norm


def train_centroids(
    df: DataFrame, n_cells: int = 16, sample: int = 2048, iters: int = 10, seed: int = 42
) -> np.ndarray:
    """Driver-side mini k-means on a deterministic sample (spherical).

    Sampling is a hash-mod FILTER (pushable, embarrassingly parallel), not an
    orderBy(hash).limit — a global sort of the corpus would be a scale-killer
    and limit() collapses to one partition. The ~4x-oversampled filtered set
    is collected (bounded), sorted by vec_id for determinism, and subsampled
    with the seeded RNG."""
    import math

    total = df.count()
    # ceil, not floor: floor made mod too small whenever the division rounded
    # down (any corpus below 8x sample collected EVERYTHING), breaking the
    # bounded-collect rationale. With ceil the expected candidate count is
    # <= sample*4 for every corpus size; the limit() is a hard safety valve
    # against pathological id distributions (it binds only beyond 16x the
    # expectation, where determinism of the sample no longer matters).
    mod = max(1, math.ceil(total / (sample * 4)))
    cand = (
        df.select("vec_id", "embedding")
        .filter(F.pmod(F.xxhash64("vec_id"), F.lit(mod)) == 0)
        .limit(sample * 16)
    )
    rows = sorted(cand.collect(), key=lambda r: r.vec_id)
    if len(rows) > sample:
        idx = np.random.RandomState(seed).choice(len(rows), size=sample, replace=False)
        rows = [rows[i] for i in np.sort(idx)]
    X = np.array([r.embedding for r in rows], np.float64)
    X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    rng = np.random.RandomState(seed)
    C = X[rng.choice(X.shape[0], size=min(n_cells, X.shape[0]), replace=False)].copy()
    for _ in range(iters):
        sims = X @ C.T
        assign = sims.argmax(axis=1)
        for c in range(C.shape[0]):
            members = X[assign == c]
            if members.shape[0]:
                m = members.mean(axis=0)
                C[c] = m / max(np.linalg.norm(m), 1e-12)
    return C


def _cell_scores(emb_col, centroids: np.ndarray) -> list:
    e = emb_col.cast("array<double>")
    cols = []
    for c in centroids:
        lit_c = F.array(*[F.lit(float(x)) for x in c])
        cols.append(_dot(e, lit_c) / F.greatest(_norm(e), F.lit(1e-12)))
    return cols


def assign_cells(df: DataFrame, centroids: np.ndarray) -> DataFrame:
    """Adds `cell` = argmax centroid similarity (JVM-side expression tree)."""
    scores = _cell_scores(F.col("embedding"), centroids)
    arr = F.array(*scores)
    best = F.array_position(arr, F.array_max(arr)) - 1
    return df.withColumn("cell", best.cast("int"))


def probe_cells(df: DataFrame, centroids: np.ndarray, nprobe: int) -> DataFrame:
    """Adds exploded `cell` for the nprobe nearest centroids per query."""
    scores = _cell_scores(F.col("embedding"), centroids)
    pairs = F.array(
        *[F.struct(s.alias("s"), F.lit(i).alias("c")) for i, s in enumerate(scores)]
    )
    top = F.slice(F.reverse(F.array_sort(pairs)), 1, nprobe)
    return df.withColumn("cell", F.explode(F.transform(top, lambda x: x["c"]))).withColumn(
        "cell", F.col("cell").cast("int")
    )


def ivf_index_gemm(
    corpus: DataFrame, n_cells: int = 64, seed: int = 42
) -> tuple[DataFrame, np.ndarray]:
    """IVF BUILD phase: train centroids + assign every corpus vector to its
    nearest cell (numpy GEMM argmax over Arrow batches). Returns
    (cells_df(match_id, ce, cell), centroids).

    Split from the probe (round 6): the assignment is O(|corpus|·dim·
    n_cells) — at 1031 queries over 100k×64×128 cells it exceeds the brute
    referee's query GEMM, so folding it into every search call made IVF
    look slower than a scan. In a real deployment (and at 100 TB) this runs
    ONCE as a narrow column write and searches amortize it; callers should
    cache/persist the returned cells_df the same way."""
    import pandas as pd

    C = train_centroids(corpus, n_cells=n_cells, seed=seed)

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
            cells = np.argmax(Xn @ C.T, axis=1).astype(np.int32)
            yield pd.DataFrame(
                {"match_id": pdf["vec_id"], "ce": pdf["embedding"], "cell": cells}
            )

    emb_t = dict(corpus.dtypes)["embedding"]
    cb = corpus.select("vec_id", "embedding").mapInPandas(
        assign, f"match_id long, ce {emb_t}, cell int"
    )
    # Lay the index out BY CELL at build time — that is what an inverted
    # file is. The probe's cogroup keys on `cell`; a cached index already
    # hash-partitioned on it lets Spark elide the corpus-side Exchange, so
    # a search shuffles only the O(nq·nprobe) query probes, never the
    # corpus (plan-asserted in tests).
    return cb.repartition("cell"), C


def ivf_probe_gemm(
    cells: DataFrame,
    centroids: np.ndarray,
    queries: DataFrame,
    nprobe: int = 8,
    k: int = 10,
    max_broadcast_queries: int = 100_000,
) -> DataFrame:
    """IVF SEARCH phase against a prebuilt index (ivf_index_gemm): per query
    probe the nprobe nearest centroids and GEMM re-rank within those cells —
    work is O(nq · nprobe/n_cells · |corpus| · dim), independent of the
    index build.

    Round 7 (probe-floor cut): when the query set fits on the driver
    (<= max_broadcast_queries, same contract as brute_force_topk_gemm), the
    quantizer probe AND the within-cell scoring run in ONE mapInPandas pass
    over the cell-partitioned cached index: the per-query probe set is
    computed driver-side (nq × n_cells GEMM — trivial) and shipped in the
    closure, so the plan has NO query-side exchange and NO cogroup sort —
    the only distributed work is one scan of the cached cells. Candidates,
    cosines and the final (cosine desc, match_id asc) top-k window are
    unchanged. Larger query sets keep the fully-distributed cogroup path."""
    import pandas as pd

    from cuttana_spark.operators.similarity import _grouped_topk_gemm
    from pyspark.sql import Window

    C = centroids
    # bounded: only whether the query set fits the broadcast cap matters
    nq_total = queries.limit(max_broadcast_queries + 1).count()
    if nq_total == 0:
        return queries.sparkSession.createDataFrame(
            [], "query_id long, match_id long, cosine double, rank int"
        )
    if nq_total > max_broadcast_queries:
        def probe(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
                Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
                sims = Xn @ C.T
                npb = min(nprobe, sims.shape[1])
                top = np.argpartition(-sims, kth=npb - 1, axis=1)[:, :npb].astype(np.int32)
                yield pd.DataFrame(
                    {
                        "query_id": pdf["vec_id"].to_numpy().repeat(npb),
                        "qe": pdf["embedding"].to_numpy().repeat(npb),
                        "cell": top.reshape(-1),
                    }
                )

        emb_t = dict(queries.dtypes)["embedding"]
        qb = queries.select("vec_id", "embedding").mapInPandas(
            probe, f"query_id long, qe {emb_t}, cell int"
        )
        return _grouped_topk_gemm(qb, cells, k, "cell")

    qrows = queries.select("vec_id", "embedding").collect()
    qids = np.array([r.vec_id for r in qrows], np.int64)
    Q = np.array([list(r.embedding) for r in qrows], np.float64)
    Qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-12)
    sims_c = Qn @ C.T
    npb = min(nprobe, sims_c.shape[1])
    top_cells = np.argpartition(-sims_c, kth=npb - 1, axis=1)[:, :npb]
    # cell -> (row indices of probing queries), built once on the driver
    cell_q: dict[int, np.ndarray] = {}
    flat = top_cells.reshape(-1)
    order = np.argsort(flat, kind="stable")
    qrow_of = np.repeat(np.arange(Qn.shape[0]), npb)[order]
    cs = flat[order]
    brk = np.flatnonzero(np.concatenate([[True], cs[1:] != cs[:-1]]))
    for s, e in zip(brk, np.append(brk[1:], cs.shape[0])):
        cell_q[int(cs[s])] = qrow_of[s:e]

    def part(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            cells_col = pdf["cell"].to_numpy(np.int64)
            ids = pdf["match_id"].to_numpy(np.int64)
            E = np.stack(pdf["ce"].to_numpy()).astype(np.float64)
            En = E / np.maximum(np.linalg.norm(E, axis=1, keepdims=True), 1e-12)
            ordc = np.argsort(cells_col, kind="stable")
            cc = cells_col[ordc]
            starts = np.flatnonzero(np.concatenate([[True], cc[1:] != cc[:-1]]))
            outs = []
            for s, e in zip(starts, np.append(starts[1:], cc.shape[0])):
                cell = int(cc[s])
                qr = cell_q.get(cell)
                if qr is None:
                    continue
                rows = ordc[s:e]
                Cn = En[rows]
                mids = ids[rows]
                qv = Qn[qr]
                qi = qids[qr]
                sims = qv @ Cn.T
                sims[qi[:, None] == mids[None, :]] = -np.inf
                kk = min(k, sims.shape[1])
                topm = np.argpartition(-sims, kth=kk - 1, axis=1)[:, :kk]
                cos = np.take_along_axis(sims, topm, axis=1).reshape(-1)
                keep = np.isfinite(cos)
                outs.append(
                    pd.DataFrame(
                        {
                            "query_id": np.repeat(qi, kk)[keep],
                            "match_id": mids[topm.reshape(-1)][keep],
                            "cosine": cos[keep],
                        }
                    )
                )
            if outs:
                yield pd.concat(outs, ignore_index=True)

    partials = cells.select("match_id", "ce", "cell").mapInPandas(
        part, "query_id long, match_id long, cosine double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("match_id"))
    return (
        partials.dropDuplicates(["query_id", "match_id"])
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "match_id", "cosine", "rank")
    )


def ivf_topk_gemm(
    queries: DataFrame,
    corpus: DataFrame,
    n_cells: int = 64,
    nprobe: int = 8,
    k: int = 10,
    seed: int = 42,
) -> DataFrame:
    """IVF ANN with numpy cell assignment + GEMM re-rank (throughput
    variant of ivf_topk: same cells/probes, but both the quantizer
    assignment and the within-cell scoring are vectorized numpy over Arrow
    batches instead of per-cell JVM expression trees). One-shot convenience
    = ivf_index_gemm + ivf_probe_gemm; batch/repeated searches should call
    the two phases directly and cache the index."""
    cb, C = ivf_index_gemm(corpus, n_cells=n_cells, seed=seed)
    return ivf_probe_gemm(cb, C, queries, nprobe=nprobe, k=k)


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    n_cells: int = 16,
    nprobe: int = 4,
    k: int = 10,
    seed: int = 42,
) -> DataFrame:
    """Approximate cosine top-k via IVF cells + exact re-rank."""
    C = train_centroids(corpus, n_cells=n_cells, seed=seed)
    cb = assign_cells(corpus, C).select(
        F.col("vec_id").alias("match_id"), F.col("embedding").alias("ce"), "cell"
    )
    qb = probe_cells(queries, C, nprobe).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"), "cell"
    )
    scored = (
        qb.join(cb, "cell")
        .filter(F.col("query_id") != F.col("match_id"))
        .dropDuplicates(["query_id", "match_id"])
        .withColumn(
            "cosine",
            _dot(F.col("qe").cast("array<double>"), F.col("ce").cast("array<double>"))
            / (
                _norm(F.col("qe").cast("array<double>"))
                * _norm(F.col("ce").cast("array<double>"))
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("match_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "match_id", "cosine", "rank")
    )
