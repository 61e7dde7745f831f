"""Deduplication operators for training-data pipelines.

Five families, all Spark-first (built-in functions; the only loops are
JVM-side higher-order array functions):

  exact_dedup        hash-groupBy on normalized-text fingerprint
  minhash_pairs      MinHash + LSH banding (shingle → minhash → band →
                     bucket join → exact-Jaccard verify)
  simhash            64-bit SimHash signature per doc; near-dups = band join
  ngram_jaccard      exact n-gram Jaccard via shingle inverted index
  embedding dup      cosine near-dup over embedding vectors (similarity.py)

Scale notes: the shingle explode is the only fan-out (O(doc_len) rows/doc);
minhash aggregates it straight back down with a single groupBy(min...), so
the shuffle volume is O(docs × num_hashes). Band-bucket joins only shuffle
(band, signature) keys. The exact-Jaccard verify runs only on candidate
pairs. All hashes are the portable md5-prefix (text.portable_hash64) so
every stage has a DuckDB oracle; swap xxhash64 in for production speed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cuttana_spark.operators.text import normalized, portable_hash64, shingles
from cuttana_spark.plans.checkpoints import slot

# the shingle relation a call's passes all scan is cached in this one slot,
# so the next shingle-based call releases the previous call's cache
SHINGLE_SLOT = "shingles"


def exact_dedup(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, canonical_id): canonical = min doc_id among docs with equal
    normalized text. Docs with canonical_id == doc_id are the keepers."""
    fp = df.select("doc_id", portable_hash64(normalized(F.col(text_col))).alias("fp"))
    canon = fp.groupBy("fp").agg(F.min("doc_id").alias("canonical_id"))
    return fp.join(canon, "fp").select("doc_id", "canonical_id")


def minhash_signatures(
    df: DataFrame, text_col: str = "text", num_hashes: int = 16, shingle_n: int = 3
) -> DataFrame:
    """(doc_id, sig: array<long> of length num_hashes).

    h_i(shingle) = portable_hash64(i || '|' || shingle); sig[i] = min over
    the doc's shingles. The explode is aggregated immediately (map-side
    partial min), so shuffle volume is O(docs × num_hashes)."""
    return _signatures_from_shingles(shingles(df, text_col, n=shingle_n), num_hashes)


def _signatures_from_shingles(sh: DataFrame, num_hashes: int) -> DataFrame:
    """minhash_signatures body over a prepared (doc_id, shingle) relation —
    lets minhash_pairs share ONE cached shingle scan between the signature
    and verify passes (round 7; the sig pass previously re-ran the full
    normalize+split+transform+explode)."""
    seeds = F.sequence(F.lit(0), F.lit(num_hashes - 1))
    hashed = sh.select(
        "doc_id",
        F.transform(
            seeds,
            lambda i: F.conv(
                F.substring(F.md5(F.concat_ws("|", i.cast("string"), F.col("shingle"))), 1, 15),
                16,
                10,
            ).cast("long"),
        ).alias("hs"),
    )
    mins = [F.min(F.element_at("hs", i + 1)).alias(f"h{i}") for i in range(num_hashes)]
    agg = hashed.groupBy("doc_id").agg(*mins)
    return agg.select("doc_id", F.array(*[f"h{i}" for i in range(num_hashes)]).alias("sig"))


def minhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Candidate near-dup pairs via LSH banding, verified with exact
    n-gram Jaccard. Returns (doc_a, doc_b, jaccard) with doc_a < doc_b,
    jaccard >= threshold."""
    rows = num_hashes // bands
    sh = slot(SHINGLE_SLOT).cache(shingles(df, text_col, n=shingle_n))
    sig = _signatures_from_shingles(sh, num_hashes)
    banded = sig.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.concat_ws(",", F.slice("sig", b * rows + 1, rows)).alias("bsig"),
                ),
            )
        ).alias("bs"),
    ).select("doc_id", "bs.band", "bs.bsig")
    cand = (
        banded.alias("x")
        .join(banded.alias("y"), ["band", "bsig"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .distinct()
    )
    jac = _jaccard_from_shingles(sh, cand)
    return jac.filter(F.col("jaccard") >= threshold)


def ngram_jaccard_for_pairs(
    df: DataFrame, pairs: DataFrame, text_col: str = "text", shingle_n: int = 3
) -> DataFrame:
    """Exact Jaccard for given (doc_a, doc_b) pairs via the shingle index."""
    sh = slot(SHINGLE_SLOT).cache(shingles(df, text_col, n=shingle_n))
    return _jaccard_from_shingles(sh, pairs)


def _jaccard_from_shingles(sh: DataFrame, pairs: DataFrame) -> DataFrame:
    """Jaccard for (doc_a, doc_b) pairs over a prepared shingle relation."""
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    inter = (
        sh.withColumnRenamed("doc_id", "doc_a")
        .join(pairs, "doc_a")
        .join(
            sh.select(F.col("doc_id").alias("doc_b"), "shingle"),
            ["doc_b", "shingle"],
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))).alias("jaccard"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int = 10_000,
    stats: dict | None = None,
) -> DataFrame:
    """All near-dup pairs by exact n-gram Jaccard via inverted shingle index.

    The self-join is quadratic WITHIN a shingle bucket, so one stop-word
    shingle shared by 10^6 docs would explode the join at corpus scale.
    Candidate generation therefore drops shingles whose document frequency
    exceeds `max_shingle_df` (the standard df-cap trick); the Jaccard itself
    is still computed EXACTLY over the full shingle sets of each candidate
    pair. Semantics: a pair is missed only if it shares *no* shingle with
    df <= cap — near-dups always share many rare shingles, and any fixture
    with max df below the cap is bit-identical to the uncapped result.

    Pass ``stats={}`` to have the number of dropped hot shingles counted
    EAGERLY into ``stats["n_hot_shingles"]`` (one extra count job) — corpus-
    scale callers can detect when the df-cap approximation is active instead
    of getting silently reduced recall. When 0, the result is bit-identical
    to the uncapped computation.
    """
    sh = slot(SHINGLE_SLOT).cache(shingles(df, text_col, n=shingle_n))
    hot_df = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df_count"))
        .filter(F.col("df_count") > max_shingle_df)
        .select("shingle")
    )
    if stats is not None:
        stats["n_hot_shingles"] = hot_df.count()
    hot = F.broadcast(hot_df)
    idx = sh.join(hot, "shingle", "left_anti")
    cand = (
        idx.alias("x")
        .join(idx.alias("y"), "shingle")
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .distinct()
    )
    return _jaccard_from_shingles(sh, cand).filter(F.col("jaccard") >= threshold)


def simhash(
    df: DataFrame, text_col: str = "text", bits: int = 16, hash_fn: str = "md5"
) -> DataFrame:
    """(doc_id, simhash): sign-aggregated token-hash signature.

    bit j of simhash = 1 iff Σ_tokens (token_hash>>j & 1 ? +1 : −1) > 0.
    Expressed as `bits` conditional sums in ONE hash aggregate (JVM-side,
    no UDF).

    hash_fn="md5" (portable md5-prefix, 60 usable bits) keeps a DuckDB
    oracle possible; hash_fn="xxhash64" is the production path (full 64-bit
    JVM hash, ~10x cheaper than md5). Packing uses shiftleft + bitwiseOR so
    bit 63 wraps into the sign bit instead of overflowing ANSI arithmetic.
    """
    from cuttana_spark.operators.text import spread_small_input

    words = spread_small_input(df).select(
        "doc_id", F.explode(F.split(normalized(F.col(text_col)), " ")).alias("w")
    ).filter(F.col("w") != "")
    if hash_fn == "xxhash64":
        if bits > 64:
            raise ValueError("xxhash64 simhash supports at most 64 bits")
        h = F.xxhash64(F.col("w"))
    else:
        if bits > 60:
            raise ValueError("md5-prefix simhash supports at most 60 bits")
        h = portable_hash64(F.col("w"))
    sums = [
        F.sum(
            F.when(F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{j}")
        for j in range(bits)
    ]
    agg = words.groupBy("doc_id").agg(*sums)
    sig = F.lit(0).cast("long")
    for j in range(bits):
        term = F.when(
            F.col(f"b{j}") > 0, F.shiftleft(F.lit(1).cast("long"), j)
        ).otherwise(F.lit(0).cast("long"))
        sig = sig.bitwiseOR(term)
    return agg.select("doc_id", sig.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    bits: int = 16,
    bands: int = 4,
    max_hamming: int = 3,
    hash_fn: str = "md5",
) -> DataFrame:
    """Near-dup pairs by SimHash: band-exact-match candidate join (a pair
    within hamming distance d < bands must share at least one exact band),
    verified with a popcount on the XOR of full signatures.

    Returns (doc_a, doc_b, hamming) with doc_a < doc_b, hamming <= max_hamming.
    """
    sig = simhash(df, text_col, bits=bits, hash_fn=hash_fn)
    width = bits // bands
    mask = (1 << width) - 1
    # shiftright needs a literal shift → unroll bands in Python (tiny loop)
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.shiftright(F.col("simhash"), b * width).bitwiseAND(F.lit(mask)).alias("bsig"),
        )
        for b in range(bands)
    ]
    banded = sig.select(
        "doc_id", "simhash", F.explode(F.array(*band_structs)).alias("bs")
    ).select("doc_id", "simhash", "bs.band", "bs.bsig")
    cand = (
        banded.alias("x")
        .join(banded.alias("y"), ["band", "bsig"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.col("x.simhash").alias("sa"),
            F.col("y.simhash").alias("sb"),
        )
        .distinct()
    )
    return cand.select(
        "doc_a",
        "doc_b",
        F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))).alias("hamming"),
    ).filter(F.col("hamming") <= max_hamming)


def decontaminate(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    shingle_n: int = 3,
    max_overlap: float = 0.1,
) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing too many word
    n-grams with an evaluation set (the standard pre-training hygiene step).

    overlap(doc) = |shingles(doc) ∩ shingles(benchmark)| / |shingles(doc)|.
    Returns (doc_id, n_shingles, n_contaminated, overlap, contaminated).
    The benchmark's distinct shingle set is usually tiny relative to the
    corpus → broadcast anti-ish join; the corpus side is one explode + one
    aggregate (no all-pairs anything). Docs with zero shingles are clean.
    """
    corpus_sh = shingles(df, text_col, n=shingle_n)
    bench_sh = F.broadcast(
        shingles(benchmark, text_col, n=shingle_n).select("shingle").distinct()
    )
    marked = corpus_sh.join(
        bench_sh.withColumn("hit", F.lit(1)), "shingle", "left"
    )
    stats = marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.sum(F.coalesce("hit", F.lit(0))).cast("long").alias("n_contaminated"),
    )
    out = df.select("doc_id").join(stats, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_shingles", F.lit(0)).alias("n_shingles"),
        F.coalesce("n_contaminated", F.lit(0)).alias("n_contaminated"),
    )
    overlap = F.col("n_contaminated") / F.greatest(F.col("n_shingles"), F.lit(1))
    return out.withColumn("overlap", overlap.cast("double")).withColumn(
        "contaminated", overlap > max_overlap
    )
