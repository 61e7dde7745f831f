"""Similarity search over embedding columns (array<float>).

brute_force_topk — exact cosine top-k: query×corpus join with the dot
product computed by JVM-side higher-order functions (zip_with + aggregate)
— no Python in the loop. The baseline and the verifier for the ANN path.

lsh_topk — random-hyperplane LSH: b deterministic hyperplanes (seeded
numpy, shipped as literal arrays) → sign-bit bucket key → candidates share
a bucket (multi-probe over single-bit flips optional) → exact cosine re-rank
within buckets. Scale path: the corpus is hashed once (one narrow column),
queries shuffle only to matching buckets; bucket sizes ~ |corpus|/2^b keep
the re-rank bounded.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x)
    )


def with_cosine(df: DataFrame, a: str, b: str, out: str = "cosine") -> DataFrame:
    ca, cb = F.col(a).cast("array<double>"), F.col(b).cast("array<double>")
    return df.withColumn(out, _dot(ca, cb) / (_norm(ca) * _norm(cb)))


def brute_force_topk(
    queries: DataFrame, corpus: DataFrame, k: int = 10
) -> DataFrame:
    """queries(vec_id, embedding) × corpus(vec_id, embedding) → exact cosine
    top-k per query: (query_id, match_id, cosine, rank). Excludes self."""
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    c = corpus.select(F.col("vec_id").alias("match_id"), F.col("embedding").alias("ce"))
    scored = (
        q.crossJoin(c)
        .filter(F.col("query_id") != F.col("match_id"))
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


# query-chunk width inside the GEMM kernel: bounds the dense sims matrix at
# (_GEMM_Q_CHUNK x partition_rows) regardless of how many queries were shipped
_GEMM_Q_CHUNK = 4096

# corpus-chunk width: bounds every per-batch temporary at (nq x 512) and lets
# the kernel reuse one preallocated GEMM output buffer across chunks. Round 7:
# the old kernel allocated a fresh (nq x partition_rows) sims matrix PLUS an
# equally-sized argpartition index array per batch (~25 MB each at the bench
# fixture) — with 32 workers first-touching ~1.6 GB of fresh mmap'd pages
# simultaneously, the FIRST invocation ran 30-50x slower per batch than steady
# state (measured: 113 CPU-s vs 3.2 CPU-s for identical work; mmap/munmap
# churn + page-zeroing contention). Chunked + out= reuse drops the first-call
# wall 7.3 s -> 1.1 s at identical results.
_GEMM_C_CHUNK = 512


def _topk_merge(cand_cos: "np.ndarray", cand_ids: "np.ndarray", k: int):
    """Per-row top-k of (cosine desc, id asc) over candidate columns —
    the same total order the final global window uses, so local selection
    composes exactly with the global re-rank. Returns (cos, ids) of shape
    (rows, k')."""
    kk = min(k, cand_cos.shape[1])
    # lexsort-compatible selection: order by (-cos, id) per row
    order = np.lexsort((cand_ids, -cand_cos), axis=1)[:, :kk]
    return (
        np.take_along_axis(cand_cos, order, axis=1),
        np.take_along_axis(cand_ids, order, axis=1),
    )


def brute_force_topk_gemm(
    queries: DataFrame, corpus: DataFrame, k: int = 10, max_queries: int = 100_000
) -> DataFrame:
    """Exact cosine top-k via per-partition numpy GEMM — the fast exact
    baseline / recall referee.

    The query matrix is collected once and shipped in the UDF closure
    (broadcast); each corpus partition computes queries x partition
    similarity in CHUNKS of <=4096 query rows (bounding the dense sims
    matrix at 4096 x partition regardless of nq) and emits only its LOCAL
    top-k per query (k rows per query per partition), so the final exact
    re-rank sees nq*k*num_partitions rows instead of nq*|corpus|.

    The driver collect is HARD-CAPPED at `max_queries` (default 100k ≈ 100 MB
    at dim=128): this operator is the exact referee for query sets that fit
    on the driver — for larger query sets use lsh_topk_gemm / ivf_topk_gemm,
    whose query side stays distributed. ~100x faster than the
    zip_with/aggregate pair loop (which remains the pure-JVM,
    oracle-checkable reference implementation)."""
    import pandas as pd

    # one bounded collect: the cap check needs no separate count job
    qrows = queries.select("vec_id", "embedding").limit(max_queries + 1).collect()
    if len(qrows) > max_queries:
        raise ValueError(
            f"brute_force_topk_gemm collects the query set to the driver; got "
            f"more than max_queries={max_queries} queries. Use lsh_topk_gemm "
            f"or ivf_topk_gemm for distributed query sides, or raise max_queries "
            f"explicitly if the driver can hold it."
        )
    qids = np.array([r.vec_id for r in qrows], np.int64)
    Q = np.array([list(r.embedding) for r in qrows], np.float64)
    Qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-12)
    Q_CHUNK = _GEMM_Q_CHUNK

    def part(batches):
        bufs: dict[tuple, np.ndarray] = {}  # reused GEMM outputs, keyed by shape
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["vec_id"].to_numpy(np.int64)
            C = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
            for q0 in range(0, Qn.shape[0], Q_CHUNK):
                Qc = Qn[q0 : q0 + Q_CHUNK]
                qid_c = qids[q0 : q0 + Q_CHUNK]
                # corpus-chunked GEMM into a reused buffer (see _GEMM_C_CHUNK
                # note), local top-k per chunk, then one in-batch merge so the
                # emitted row count is unchanged (k per query per partition)
                cc_list, ci_list = [], []
                for c0 in range(0, Cn.shape[0], _GEMM_C_CHUNK):
                    Cc = Cn[c0 : c0 + _GEMM_C_CHUNK]
                    id_c = ids[c0 : c0 + _GEMM_C_CHUNK]
                    shape = (Qc.shape[0], Cc.shape[0])
                    sims = bufs.get(shape)
                    if sims is None:
                        sims = bufs.setdefault(shape, np.empty(shape, np.float64))
                    np.dot(Qc, Cc.T, out=sims)
                    sims[qid_c[:, None] == id_c[None, :]] = -np.inf  # self
                    kk = min(k, sims.shape[1])
                    top = np.argpartition(-sims, kth=kk - 1, axis=1)[:, :kk]
                    cc_list.append(np.take_along_axis(sims, top, axis=1))
                    ci_list.append(id_c[top])
                m_cos, m_ids = _topk_merge(
                    np.concatenate(cc_list, axis=1), np.concatenate(ci_list, axis=1), k
                )
                rows_c = m_cos.reshape(-1)
                keep = np.isfinite(rows_c)
                yield pd.DataFrame(
                    {
                        "query_id": np.repeat(qid_c, m_cos.shape[1])[keep],
                        "match_id": m_ids.reshape(-1)[keep],
                        "cosine": rows_c[keep],
                    }
                )

    partials = corpus.select("vec_id", "embedding").mapInPandas(
        part, "query_id long, match_id long, cosine double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("match_id"))
    return (
        partials.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "match_id", "cosine", "rank")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    rng = np.random.RandomState(seed)
    return rng.standard_normal((n_planes, dim)).round(6).tolist()


def lsh_bucket(df: DataFrame, dim: int, n_planes: int = 8, seed: int = 42) -> DataFrame:
    """Adds `bucket`: sign-bit key over n_planes random hyperplanes."""
    planes = _hyperplanes(dim, n_planes, seed)
    e = F.col("embedding").cast("array<double>")
    bucket = None
    for j, p in enumerate(planes):
        lit_p = F.array(*[F.lit(float(x)) for x in p])
        bit = F.when(_dot(e, lit_p) >= 0, F.lit(2**j)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    return df.withColumn("bucket", bucket.cast("int"))


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    k: int = 10,
    n_planes: int = 6,
    seed: int = 42,
    multiprobe: int = 1,
) -> DataFrame:
    """Approximate top-k: exact cosine re-rank within shared LSH buckets.

    multiprobe=1 probes, for every query, its own bucket plus all buckets at
    Hamming distance 1 (single-bit flips) — the standard recall boost that
    costs (n_planes+1)× candidate lookups instead of more tables."""
    qb = lsh_bucket(queries, dim, n_planes, seed).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"), "bucket"
    )
    if multiprobe >= 1:
        qb = qb.select(
            "query_id",
            "qe",
            F.explode(probe_buckets(F.col("bucket"), n_planes, multiprobe)).alias("bucket"),
        )
    cb = lsh_bucket(corpus, dim, n_planes, seed).select(
        F.col("vec_id").alias("match_id"), F.col("embedding").alias("ce"), "bucket"
    )
    scored = (
        qb.join(cb, "bucket")
        .filter(F.col("query_id") != F.col("match_id"))
        .dropDuplicates(["query_id", "match_id"])  # multiprobe can re-find a pair
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


def _grouped_topk_gemm(qb: DataFrame, cb: DataFrame, k: int, group_col: str) -> DataFrame:
    """Shared ANN re-rank: cogroup candidates by bucket/cell and score each
    group with one numpy GEMM (Arrow applyInPandas), emitting per-group local
    top-k; the final exact top-k is a window over nq*k*groups rows. This is
    the scale shape: pruning happens in the bucketed JOIN KEY, scoring in
    vectorized numpy — no per-candidate JVM expression trees, no per-row
    Python."""
    import pandas as pd

    empty = pd.DataFrame(
        {
            "query_id": pd.Series(dtype="int64"),
            "match_id": pd.Series(dtype="int64"),
            "cosine": pd.Series(dtype="float64"),
        }
    )

    def step(key, qpdf: pd.DataFrame, cpdf: pd.DataFrame):
        if qpdf.empty or cpdf.empty:
            return empty
        qids = qpdf["query_id"].to_numpy(np.int64)
        mids = cpdf["match_id"].to_numpy(np.int64)
        Q = np.stack(qpdf["qe"].to_numpy()).astype(np.float64)
        C = np.stack(cpdf["ce"].to_numpy()).astype(np.float64)
        Qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-12)
        Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
        sims = Qn @ Cn.T
        sims[qids[:, None] == mids[None, :]] = -np.inf
        kk = min(k, sims.shape[1])
        top = np.argpartition(-sims, kth=kk - 1, axis=1)[:, :kk]
        rows_c = np.take_along_axis(sims, top, axis=1).reshape(-1)
        keep = np.isfinite(rows_c)
        return pd.DataFrame(
            {
                "query_id": np.repeat(qids, kk)[keep],
                "match_id": mids[top.reshape(-1)][keep],
                "cosine": rows_c[keep],
            }
        )

    partials = (
        qb.groupby(group_col)
        .cogroup(cb.groupby(group_col))
        .applyInPandas(step, "query_id long, match_id long, cosine double")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("match_id"))
    return (
        partials.dropDuplicates(["query_id", "match_id"])  # multiprobe re-finds
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "match_id", "cosine", "rank")
    )


def lsh_topk_gemm(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    k: int = 10,
    n_planes: int = 8,
    seed: int = 42,
    multiprobe: int = 2,
) -> DataFrame:
    """LSH ANN with GEMM re-rank: hyperplane sign buckets prune the
    candidate set (join key), numpy scores each bucket's candidates in one
    matmul. Same bucketing semantics as lsh_topk (which keeps the
    oracle-replicable JVM scoring); this is the throughput variant."""
    qb = lsh_bucket(queries, dim, n_planes, seed).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"), "bucket"
    )
    qb = qb.select(
        "query_id",
        "qe",
        F.explode(probe_buckets(F.col("bucket"), n_planes, multiprobe)).alias("bucket"),
    )
    cb = lsh_bucket(corpus, dim, n_planes, seed).select(
        F.col("vec_id").alias("match_id"), F.col("embedding").alias("ce"), "bucket"
    )
    return _grouped_topk_gemm(qb, cb, k, "bucket")


def probe_buckets(bucket, n_planes: int, multiprobe: int):
    """Probe set for a bucket key: the bucket itself, plus all keys at
    Hamming distance <= multiprobe (bit flips). multiprobe=0 -> [bucket]."""
    probes = [bucket]
    if multiprobe >= 1:
        probes += [bucket.bitwiseXOR(F.lit(1 << j)) for j in range(n_planes)]
    if multiprobe >= 2:
        probes += [
            bucket.bitwiseXOR(F.lit((1 << i) | (1 << j)))
            for i in range(n_planes)
            for j in range(i + 1, n_planes)
        ]
    return F.array(*probes)


def embedding_near_dups(
    df: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 4,
    multiprobe: int = 1,
    seed: int = 42,
) -> DataFrame:
    """Near-duplicate pairs by cosine >= threshold (vec_a < vec_b),
    LSH-bucketed: each vector hashes to a sign-bit bucket over n_planes
    seeded hyperplanes; side A additionally probes every bucket within
    Hamming distance `multiprobe`; exact cosine verifies candidates that
    share a probed bucket. Work is sum over buckets of |A_bucket|*|B_bucket|
    — sub-quadratic for spread buckets — instead of the all-pairs product.

    Approximate by construction: a pair whose keys differ in more than
    `multiprobe` bits is never compared (recall is a function of
    threshold/planes; near-dup thresholds ~0.9+ keep it near 1). The driver
    oracle replicates the same planes/probes in SQL, so correctness is
    checked against the declared semantics, not against brute force.
    """
    dim = len(df.select("embedding").first()[0])
    base = lsh_bucket(df, dim, n_planes, seed)
    a = base.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("ea"),
        F.explode(probe_buckets(F.col("bucket"), n_planes, multiprobe)).alias("bucket"),
    )
    b = base.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"), "bucket")
    return (
        a.join(b, "bucket")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .dropDuplicates(["vec_a", "vec_b"])  # probes can re-find a pair
        .withColumn(
            "cosine",
            _dot(F.col("ea").cast("array<double>"), F.col("eb").cast("array<double>"))
            / (
                _norm(F.col("ea").cast("array<double>"))
                * _norm(F.col("eb").cast("array<double>"))
            ),
        )
        .filter(F.col("cosine") >= threshold)
        .select("vec_a", "vec_b", "cosine")
    )
