"""Training-data operators: dedup, similarity, text analysis, multimodal."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from cuttana_spark.operators import dedup as D
from cuttana_spark.operators import similarity as S
from cuttana_spark.operators import text as T


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()


def test_exact_dedup_groups(spark):
    rows = [
        (1, "Hello,   WORLD!"),
        (2, "hello world"),  # same after normalization
        (3, "something else"),
        (4, "Hello world."),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.canonical_id for r in D.exact_dedup(df).collect()}
    assert got == {1: 1, 2: 1, 4: 1, 3: 3}


def test_shingles_oracle(spark):
    df = spark.createDataFrame([(1, "a b c d"), (2, "x"), (3, "")], "doc_id long, text string")
    got = {(r.doc_id, r.shingle) for r in T.shingles(df, n=2).collect()}
    assert got == {(1, "a b"), (1, "b c"), (1, "c d")}


def test_minhash_finds_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog again and again every day"
    rows = [
        (1, base),
        (2, base.replace("lazy", "sleepy")),  # near-dup of 1
        (3, "completely different text about spark partitioning strategies at scale"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {(r.doc_a, r.doc_b) for r in D.minhash_pairs(df, num_hashes=16, bands=8, threshold=0.3).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_ngram_jaccard_exact_value(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d x")], "doc_id long, text string"
    )
    rows = D.ngram_jaccard_pairs(df, shingle_n=2, threshold=0.0).collect()
    assert len(rows) == 1
    # shingles1 = {ab,bc,cd,de}, shingles2 = {ab,bc,cd,dx}; J = 3/5
    assert rows[0].jaccard == pytest.approx(3 / 5)


def test_simhash_near_equals(spark):
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta eta iota"),
        (3, "unrelated words entirely distinct vocabulary here now"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sig = {r.doc_id: r.simhash for r in D.simhash(df, bits=16).collect()}
    ham12 = bin(sig[1] ^ sig[2]).count("1")
    ham13 = bin(sig[1] ^ sig[3]).count("1")
    assert ham12 < ham13


def test_brute_force_topk_matches_numpy(spark, emb):
    sub = emb.limit(40).cache()
    rows = sub.collect()
    mat = np.array([r.embedding for r in rows], np.float64)
    ids = np.array([r.vec_id for r in rows])
    norm = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = norm @ norm.T
    got = S.brute_force_topk(sub, sub, k=3).collect()
    by_q: dict[int, list[int]] = {}
    for r in sorted(got, key=lambda r: (r.query_id, r.rank)):
        by_q.setdefault(r.query_id, []).append(r.match_id)
    for qi, qid in enumerate(ids):
        order = np.argsort(-sims[qi])
        want = [int(ids[j]) for j in order if ids[j] != qid][:3]
        # ties broken by match_id in spark; compare cosine values instead
        got_cos = [float(sims[qi, np.where(ids == m)[0][0]]) for m in by_q[int(qid)]]
        want_cos = [float(sims[qi, np.where(ids == m)[0][0]]) for m in want]
        assert got_cos == pytest.approx(want_cos, abs=1e-9)


def test_lsh_topk_recall(spark, emb):
    sub = emb.limit(100).cache()
    exact = S.brute_force_topk(sub, sub, k=1).filter("rank = 1")
    approx = S.lsh_topk(
        sub, sub, dim=len(sub.first().embedding), k=1, n_planes=3, multiprobe=1
    )
    e = {r.query_id: r.match_id for r in exact.collect()}
    a = {r.query_id: r.match_id for r in approx.filter("rank = 1").collect()}
    hits = sum(1 for q in e if a.get(q) == e[q])
    assert hits / len(e) > 0.5  # recall@1, 4 planes + 1-bit multiprobe


def test_text_ops_run_and_are_sane(spark, docs):
    out = T.with_language(T.with_quality(T.with_token_count(docs))).cache()
    row = out.first()
    assert row.ws_tokens > 0 and row.bpe_tokens >= row.ws_tokens * 0 + 1
    assert 0.0 <= row.quality <= 1.0
    langs = {r.lang_pred for r in out.select("lang_pred").distinct().collect()}
    assert langs <= {"en", "de", "fr", "es", "und"}


def test_fingerprint_stable_under_formatting(spark):
    df = spark.createDataFrame(
        [(1, "Spark at  SCALE!"), (2, "spark at scale")], "doc_id long, text string"
    )
    fps = [r.fingerprint for r in T.with_fingerprint(df).collect()]
    assert fps[0] == fps[1]


def test_multimodal_features(spark):
    from cuttana_spark.operators import multimodal as M

    media = M.synth_media(spark, n=24)
    feats = M.extract_features(media, fake=True).collect()
    assert len(feats) == 24
    for r in feats:
        assert len(r.feature) == M.FEATURE_DIM
        assert abs(sum(r.feature) - 1.0) < 1e-5
    with pytest.raises(Exception, match="NotImplementedError|codecs"):
        M.extract_features(media, fake=False).collect()
    frames = M.frame_sample(media, every_ms=400, fake=True)
    assert frames.count() > 0
    assert frames.schema.simpleString() == "struct<media_id:bigint,frame_ts_ms:int,frame:binary>"


def test_media_from_documents_nibble_histogram_exact(spark):
    """media_from_documents payload = UTF-8 bytes of text; the fake-codec
    feature must equal the numpy nibble histogram of those bytes exactly
    (this byte-level equality is what the driver's DuckDB oracle relies on
    via hex(encode(text)))."""
    from cuttana_spark.operators import multimodal as M

    docs = spark.createDataFrame(
        [(0, "hello WORLD 123!"), (1, "naïve café — ünïcode"), (2, "")],
        "doc_id long, text string",
    )
    media = M.media_from_documents(docs)
    rows = {r.media_id: r for r in media.collect()}
    assert rows[0].kind == "image" and rows[1].kind == "audio" and rows[2].kind == "video"
    feats = {r.media_id: r.feature for r in M.extract_features(media, fake=True).collect()}
    for i, text in ((0, "hello WORLD 123!"), (1, "naïve café — ünïcode"), (2, "")):
        b = np.frombuffer(text.encode("utf-8"), np.uint8)
        hist = np.bincount(b >> 4, minlength=16).astype(np.float32)
        want = hist / hist.sum() if hist.sum() else hist
        assert np.allclose(feats[i], want, atol=1e-7)


def test_wav_bmp_native_codecs_roundtrip():
    """Round 5: real pure-numpy WAV/BMP codecs. WAV is cross-checked against
    the stdlib `wave` decoder (an independent implementation); BMP is
    round-tripped across every stride-padding remainder."""
    import io
    import wave as stdlib_wave

    from cuttana_spark.operators import multimodal as M

    data = bytes(range(256)) * 3 + b"xyz"  # odd length → RIFF word-align pad
    w = M.wrap_wav(data)
    wf = stdlib_wave.open(io.BytesIO(w))
    assert (wf.getnchannels(), wf.getsampwidth(), wf.getframerate()) == (1, 1, 8000)
    assert wf.readframes(wf.getnframes()) == data
    assert M._parse_wav(w).tobytes() == data

    d16 = np.arange(-500, 500, dtype="<i2").tobytes()
    w16 = M.wrap_wav(d16, bits=16)
    wf16 = stdlib_wave.open(io.BytesIO(w16))
    assert wf16.getsampwidth() == 2
    assert wf16.readframes(wf16.getnframes()) == d16
    assert M._parse_wav(w16).tobytes() == d16

    for n in (1, 3, 4, 5, 63, 1024):  # stride padding 0-3 bytes
        d = bytes((i * 7) % 256 for i in range(n))
        assert M._parse_bmp(M.wrap_bmp(d)).tobytes() == d

    # decode dispatch: container parse equals fake path on the inner bytes;
    # unsupported formats still refuse loudly
    assert np.array_equal(
        M._decode(M.wrap_bmp(data), "image", fake=False),
        M._decode(data, "image", fake=True),
    )
    with pytest.raises(NotImplementedError):
        M._decode(b"\x89PNG\r\n\x1a\n....", "image", fake=False)


def test_media_containers_decode_distributed(spark):
    """The container pipeline end-to-end on Spark: wrap text bytes into real
    WAV/BMP containers (mapInPandas), decode with fake=False, and the
    features must equal the nibble histogram of the original text bytes."""
    from cuttana_spark.operators import multimodal as M

    docs = spark.createDataFrame(
        [(0, "hello WORLD 123!"), (1, "naïve café — ünïcode"), (3, "abcd")],
        "doc_id long, text string",
    )
    media = M.media_containers_from_documents(docs)
    rows = {r.media_id: r for r in media.collect()}
    assert rows[0].kind == "audio" and rows[0].mime == "audio/wav"
    assert rows[1].kind == "image" and rows[3].payload[:2] == bytearray(b"BM")
    feats = {
        r.media_id: r.feature
        for r in M.extract_features(media, fake=False).collect()
    }
    for i, text in ((0, "hello WORLD 123!"), (1, "naïve café — ünïcode"), (3, "abcd")):
        b = np.frombuffer(text.encode("utf-8"), np.uint8)
        hist = np.bincount(b >> 4, minlength=16).astype(np.float32)
        assert np.allclose(feats[i], hist / hist.sum(), atol=1e-7)


def test_embedding_near_dups_bucketed_equals_brute_force_on_tight_dups(spark):
    """At near-dup thresholds (cosine >= 0.98) the LSH-bucketed operator must
    find exactly the pairs brute force finds: clusters of tiny perturbations
    land in the same (or Hamming<=2) bucket with the pinned seed."""
    rng = np.random.RandomState(7)
    base = rng.standard_normal((12, 16))
    rows = []
    vid = 0
    for i in range(12):
        for _ in range(3):  # 3 near-identical copies per cluster
            v = base[i] + rng.standard_normal(16) * 0.01
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    bucketed = S.embedding_near_dups(df, threshold=0.98, n_planes=4, multiprobe=2)
    got = {(r.vec_a, r.vec_b) for r in bucketed.collect()}

    a = df.selectExpr("vec_id AS vec_a", "embedding AS ea")
    b = df.selectExpr("vec_id AS vec_b", "embedding AS eb")
    brute = (
        S.with_cosine(a.crossJoin(b).filter("vec_a < vec_b"), "ea", "eb")
        .filter("cosine >= 0.98")
        .collect()
    )
    want = {(r.vec_a, r.vec_b) for r in brute}
    assert want, "fixture must produce near-dup pairs"
    assert got == want

    plan = bucketed._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ngram_jaccard_df_cap_bounds_hot_shingles(spark):
    """A shingle shared by every doc (df > cap) must not generate candidate
    pairs by itself; pairs sharing rare shingles keep their EXACT jaccard
    (verification runs over the full shingle sets, including hot ones)."""
    hot = "the quick fox"  # one shared trigram in every doc
    rows = [
        (1, hot + " alpha beta gamma delta"),
        (2, hot + " alpha beta gamma epsilon"),
        (3, hot + " zeta eta theta iota"),  # shares ONLY the hot shingle with 1/2
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    uncapped = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in D.ngram_jaccard_pairs(df, threshold=0.0, max_shingle_df=10_000).collect()
    }
    capped = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in D.ngram_jaccard_pairs(df, threshold=0.0, max_shingle_df=2).collect()
    }
    # (1,2) share rare shingles -> present in both with identical exact jaccard
    assert (1, 2) in capped
    assert capped[(1, 2)] == pytest.approx(uncapped[(1, 2)])
    # (1,3)/(2,3) share only the hot shingle -> pruned under the cap
    assert (1, 3) in uncapped and (2, 3) in uncapped
    assert (1, 3) not in capped and (2, 3) not in capped


def test_gemm_variants_equal_jvm_variants(spark, emb):
    """brute_force/lsh/ivf GEMM re-rank variants must return exactly the
    same (query, rank, match, cosine~1e-9) as the JVM-expression variants."""
    from cuttana_spark.operators.ivf import ivf_topk, ivf_topk_gemm
    from cuttana_spark.operators.similarity import brute_force_topk_gemm

    sub = emb.limit(120).cache()

    def norm(df):
        return sorted(
            (r.query_id, r.rank, r.match_id, round(r.cosine, 9)) for r in df.collect()
        )

    assert norm(S.brute_force_topk(sub, sub, k=3)) == norm(
        brute_force_topk_gemm(sub, sub, k=3)
    )
    dim = len(sub.first().embedding)
    assert norm(S.lsh_topk(sub, sub, dim=dim, k=3, n_planes=3, multiprobe=1)) == norm(
        S.lsh_topk_gemm(sub, sub, dim=dim, k=3, n_planes=3, multiprobe=1)
    )
    assert norm(ivf_topk(sub, sub, n_cells=4, nprobe=2, k=3)) == norm(
        ivf_topk_gemm(sub, sub, n_cells=4, nprobe=2, k=3)
    )


def test_simhash64_xxhash_production_path(spark):
    """64-bit xxhash64 simhash: near-identical docs are close in Hamming
    space, unrelated docs far; the sign bit (bit 63) packs without ANSI
    overflow; band join finds the near pair at 64-bit width."""
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (2, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
        (3, "completely different vocabulary with unrelated words here now today"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sig = {r.doc_id: r.simhash for r in D.simhash(df, bits=64, hash_fn="xxhash64").collect()}
    ham = lambda a, b: bin((sig[a] ^ sig[b]) & (2**64 - 1)).count("1")
    assert ham(1, 2) < ham(1, 3)
    assert ham(1, 2) <= 16  # 1-token diff over 10 tokens
    pairs = {
        (r.doc_a, r.doc_b): r.hamming
        for r in D.simhash_pairs(
            df, bits=64, bands=8, max_hamming=16, hash_fn="xxhash64"
        ).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] == ham(1, 2)
    assert (1, 3) not in pairs


def test_with_repetition_gopher_signals(spark):
    rows = [
        (1, "spam spam spam spam spam spam spam spam"),  # degenerate repetition
        (2, "a genuinely varied sentence with many different interesting words inside"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in T.with_repetition(df).collect()}
    assert out[1].dup_word_ratio > 0.8
    assert out[1].top_bigram_ratio == pytest.approx(1.0)
    assert not out[1].passes_gopher
    assert out[2].dup_word_ratio == pytest.approx(0.0)
    assert out[2].top_bigram_ratio < 0.2
    assert out[2].passes_gopher


def test_scrub_pii_redacts_crafted_strings(spark):
    rows = [
        (1, "contact me at jane.doe+spam@example.co.uk or call +1 (415) 555-0199 now"),
        (2, "server at 192.168.10.42 responded"),
        (3, "no personal identifiers in this sentence at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.scrubbed for r in T.scrub_pii(df).collect()}
    assert "<EMAIL>" in got[1] and "<PHONE>" in got[1]
    assert "jane.doe" not in got[1] and "555-0199" not in got[1]
    assert got[2] == "server at <IPV4> responded"
    assert got[3] == rows[2][1]


def test_decontaminate_flags_planted_overlap(spark):
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog tonight")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight again"),  # near-copy
            (2, "completely unrelated training document with fresh content here"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in D.decontaminate(corpus, bench, max_overlap=0.1).collect()}
    assert got[1].contaminated and got[1].overlap > 0.7
    assert not got[2].contaminated and got[2].n_contaminated == 0


def test_asof_join_crafted(spark):
    """Left rows pick the latest right row at-or-before their ts per key;
    equal timestamps match (<= contract); keys with no earlier right row
    get nulls."""
    from cuttana_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (1, 35, "c"), (2, 5, "d")],
        "k long, ts long, tag string",
    )
    right = spark.createDataFrame(
        [(1, 10, 100.0), (1, 30, 300.0), (2, 50, 500.0)],
        "k long, ts long, px double",
    )
    out = {
        (r.k, r.ts): r.px_asof
        for r in asof_join(left, right, on="ts", by="k").collect()
    }
    assert out[(1, 10)] == 100.0  # equal ts matches
    assert out[(1, 20)] == 100.0
    assert out[(1, 35)] == 300.0
    assert out[(2, 5)] is None  # right row is in the future


def test_asof_join_bucketed_equals_plain_under_skew(spark):
    """asof_join_bucketed must agree row-for-row with asof_join on a
    90%-hot-key fixture (unique right ts per key), including the
    no-earlier-right-row null case and cross-bucket carry-over."""
    import numpy as np

    from cuttana_spark.operators.asof import asof_join, asof_join_bucketed

    rng = np.random.default_rng(7)
    n_left, n_right = 2000, 400
    # one hot key (0) owns 90% of rows; keys 1..9 share the rest
    lk = np.where(rng.random(n_left) < 0.9, 0, rng.integers(1, 10, n_left))
    rk = np.where(rng.random(n_right) < 0.9, 0, rng.integers(1, 10, n_right))
    lts = rng.integers(0, 100_000, n_left)
    # unique right ts per key -> both implementations are deterministic
    rts = np.arange(n_right) * 37 + rk  # strictly increasing per key
    left = spark.createDataFrame(
        [(int(i), int(k), int(t)) for i, (k, t) in enumerate(zip(lk, lts))],
        "lid long, k long, ts long",
    )
    right = spark.createDataFrame(
        [(int(k), int(t), float(t) * 1.5) for k, t in zip(rk, rts)],
        "k long, ts long, px double",
    )
    plain = {
        (r.lid): r.px_asof for r in asof_join(left, right, on="ts", by="k").collect()
    }
    bucketed = {
        (r.lid): r.px_asof
        for r in asof_join_bucketed(
            left, right, on="ts", by="k", n_buckets=16
        ).collect()
    }
    assert bucketed == plain
    # explicit width + no-by (single global key) path
    g = {
        r.lid: r.px_asof
        for r in asof_join_bucketed(
            left.drop("k"), right.drop("k"), on="ts", bucket_width=1000.0
        ).collect()
    }
    g_plain = {
        r.lid: r.px_asof for r in asof_join(left.drop("k"), right.drop("k"), on="ts").collect()
    }
    assert g == g_plain


def test_ngram_jaccard_stats_reports_hot_shingles(spark):
    """stats={} surfaces how many shingles the df-cap dropped (0 when the
    approximation is inactive)."""
    rows = [
        (1, "the quick fox alpha beta gamma"),
        (2, "the quick fox alpha beta delta"),
        (3, "the quick fox zeta eta theta"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    stats = {}
    D.ngram_jaccard_pairs(df, threshold=0.0, max_shingle_df=2, stats=stats).collect()
    assert stats["n_hot_shingles"] >= 1  # 'the quick fox' df=3 > 2
    stats2 = {}
    D.ngram_jaccard_pairs(df, threshold=0.0, max_shingle_df=10_000, stats=stats2).collect()
    assert stats2["n_hot_shingles"] == 0


def test_brute_force_gemm_query_cap_and_chunking(spark, emb, monkeypatch):
    """The driver collect is hard-capped (clear error beyond max_queries) and
    the in-kernel query chunking is exact (tiny chunk width == one-shot)."""
    from cuttana_spark.operators import similarity as sim

    sub = emb.limit(60).cache()
    with pytest.raises(ValueError, match="max_queries"):
        sim.brute_force_topk_gemm(sub, sub, k=3, max_queries=10)

    def norm(df):
        return sorted(
            (r.query_id, r.rank, r.match_id, round(r.cosine, 9)) for r in df.collect()
        )

    want = norm(sim.brute_force_topk_gemm(sub, sub, k=3))
    monkeypatch.setattr(sim, "_GEMM_Q_CHUNK", 7)
    assert norm(sim.brute_force_topk_gemm(sub, sub, k=3)) == want


def test_shingle_cache_released_by_next_call(spark):
    """minhash_pairs caches the shingle relation its passes share; the next
    shingle-based call must release it, so repeated calls keep at most one
    shingle relation persisted."""
    from pyspark import StorageLevel

    base = "the quick brown fox jumps over the lazy dog again and again every day"
    schema = "doc_id long, text string"
    d1 = spark.createDataFrame([(1, base), (2, base.replace("lazy", "sleepy"))], schema)
    d2 = spark.createDataFrame([(1, base), (3, base.replace("fox", "cat"))], schema)
    r1 = D.minhash_pairs(d1, bands=8, threshold=0.3).collect()
    r2 = D.minhash_pairs(d2, bands=8, threshold=0.3).collect()
    assert [(r.doc_a, r.doc_b) for r in r1] == [(1, 2)]
    assert [(r.doc_a, r.doc_b) for r in r2] == [(1, 3)]
    persisted = [T.shingles(d).storageLevel != StorageLevel.NONE for d in (d1, d2)]
    assert persisted == [False, True]
