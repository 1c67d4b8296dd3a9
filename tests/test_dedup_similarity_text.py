from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from processor_post_timeseries_spark.functions.multimodal import (
    extract_features,
    media_from_documents,
)
from processor_post_timeseries_spark.functions.text import (
    fingerprint,
    lang_id,
    quality_score,
    ws_token_count,
)
from processor_post_timeseries_spark.operators.dedup import (
    exact_dedup,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    shingles,
    simhash64,
    simhash_near_pairs,
)
from processor_post_timeseries_spark.operators.similarity import (
    ann_lsh_topk,
    cosine_topk,
    cosine_topk_np,
)

DOCS = [
    ("d1", "the quick brown fox jumps over the lazy dog", "srcA"),
    ("d2", "the quick brown fox jumps over the lazy dog", "srcA"),  # exact dup of d1
    ("d3", "the quick brown fox jumps over the lazy cat", "srcA"),  # near dup
    ("d4", "completely different text about spark engines and rollups", "srcB"),
    ("d5", "tiny", "srcB"),
    ("d6", "", "srcB"),
]


def _docs(spark):
    return spark.createDataFrame(DOCS, "doc_id string, text string, source string")


def test_exact_dedup(spark):
    got = {r["keeper_id"]: r["n_docs"] for r in exact_dedup(_docs(spark)).collect()}
    assert got["d1"] == 2  # d1+d2 same hash, keeper = min id
    assert got["d3"] == 1 and got["d4"] == 1


def test_shingles_and_jaccard(spark):
    sh = shingles(_docs(spark), 3)
    d1 = {r["shingle"] for r in sh.filter("doc_id = 'd1'").collect()}
    assert "the quick brown" in d1 and len(d1) == 7
    assert sh.filter("doc_id = 'd5'").count() == 0  # shorter than n
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in ngram_jaccard_pairs(_docs(spark), 0.3).collect()}
    assert pairs[("d1", "d2")] == 1.0
    # d1 vs d3: 7 shingles each; only the final shingle differs
    # ("the lazy dog" vs "the lazy cat") -> 6 common / 8 union = 0.75
    assert pairs[("d1", "d3")] == 0.75


def test_minhash_md5_skips_null_text(spark):
    # n=1: every non-empty word is a gram, so str(None) would have made
    # the NULL doc a one-gram "None" signature
    docs = spark.createDataFrame(
        [("a", "alpha beta"), ("b", None)], "doc_id string, text string"
    )
    got = {r["doc_id"] for r in minhash_signatures(docs, 4, n=1, hash_fn="md5").collect()}
    assert got == {"a"}


def test_minhash_lsh_finds_near_dups(spark):
    sig = minhash_signatures(_docs(spark), 16)
    assert len(sig.columns) == 17
    cand = {(r["doc_a"], r["doc_b"]) for r in lsh_candidate_pairs(_docs(spark), 16, 4).collect()}
    assert ("d1", "d2") in cand  # identical docs share all bands
    assert ("d1", "d4") not in cand


def test_simhash(spark):
    got = {r["doc_id"]: r["simhash"] for r in simhash64(_docs(spark)).collect()}
    assert got["d1"] == got["d2"] != 0
    assert got["d6"] == 0
    near = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in simhash_near_pairs(_docs(spark), 16).collect()}
    assert near[("d1", "d2")] == 0


def _emb(spark, n=40, dim=8):
    rng = np.random.default_rng(0)
    rows = [(i, rng.normal(size=dim).astype(np.float32).tolist(), i % 3) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


def test_cosine_topk_exact(spark):
    emb = _emb(spark)
    got = cosine_topk(emb, k=3, n_queries=5).collect()
    rows = {(r["query_id"], r["rank"]): (r["neighbor_id"], r["cos_sim"]) for r in got}
    assert len(got) == 15
    # numpy cross-check for query 0
    pdf = emb.toPandas()
    V = np.stack(pdf["embedding"].map(np.array))
    v0 = V[pdf["vec_id"] == 0][0]
    sims = (V @ v0) / (np.linalg.norm(V, axis=1) * np.linalg.norm(v0))
    order = [int(i) for i in np.argsort(-np.round(sims, 6)) if i != 0][:3]
    assert [rows[(0, r)][0] for r in (1, 2, 3)] == order


def test_cosine_topk_np_equals_expression_version(spark):
    emb = _emb(spark, n=50)
    a = cosine_topk(emb, k=4, n_queries=10).orderBy("query_id", "rank").collect()
    b = cosine_topk_np(emb, k=4, n_queries=10).orderBy("query_id", "rank").collect()
    assert [(r["query_id"], r["neighbor_id"], r["rank"]) for r in a] == [
        (r["query_id"], r["neighbor_id"], r["rank"]) for r in b
    ]
    for x, y in zip(a, b):
        assert abs(x["cos_sim"] - y["cos_sim"]) < 2e-6


def test_ann_lsh_bucket_recall(spark):
    # near-dup structure (the LSH use-case): each even vector has an odd
    # perturbed twin at cosine ~0.995; sign-LSH keeps twins together with
    # prob (1 - theta/pi)^planes ~ 0.88 for 4 planes
    rng = np.random.default_rng(1)
    rows = []
    for i in range(0, 60, 2):
        v = rng.normal(size=8)
        w = v + rng.normal(size=8) * 0.05
        rows.append((i, (v / np.linalg.norm(v)).astype(np.float32).tolist(), 0))
        rows.append((i + 1, (w / np.linalg.norm(w)).astype(np.float32).tolist(), 0))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    exact = {(r["query_id"], r["neighbor_id"]) for r in cosine_topk(emb, k=1, n_queries=60).collect()}
    approx = {(r["query_id"], r["neighbor_id"]) for r in ann_lsh_topk(emb, k=1, n_planes=4).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, recall


def test_text_profile(spark):
    t = F.col("text")
    prof = {r["doc_id"]: r for r in _docs(spark).select(
        "doc_id",
        ws_token_count(t).alias("n_ws_tokens"),
        lang_id(t).alias("pred_lang"),
        fingerprint(t).alias("fingerprint"),
        quality_score(t).alias("quality"),
    ).collect()}
    assert prof["d1"]["n_ws_tokens"] == 9
    assert prof["d1"]["pred_lang"] == "en"
    assert prof["d1"]["fingerprint"] == prof["d2"]["fingerprint"]
    assert prof["d6"]["n_ws_tokens"] == 0 and prof["d6"]["pred_lang"] == "und"
    assert 0.0 <= prof["d4"]["quality"] <= 1.0


def test_multimodal_plumbing(spark):
    docs = spark.createDataFrame(
        [(i, f"payload text {i}", "en", "s", 10) for i in range(9)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    media = media_from_documents(docs)
    assert media.select("modality").distinct().count() == 3
    feats = extract_features(media, deterministic_fake=True).collect()
    assert all(r["feat_dim"] == 16 for r in feats)
    # deterministic: same payload -> same features
    f2 = extract_features(media, deterministic_fake=True).collect()
    assert {r["media_id"]: r["features"] for r in feats} == {r["media_id"]: r["features"] for r in f2}
    # real-decode path must fail loudly, not silently fake
    import pytest

    with pytest.raises(Exception, match="NotImplementedError|decode"):
        extract_features(media, deterministic_fake=False).collect()


def test_quantize_roundtrip_and_q8_cosine(spark):
    from processor_post_timeseries_spark.operators.similarity import (
        cosine_topk_q8,
        dequantize_embeddings,
        quantize_embeddings,
    )

    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),     # near 0
        (2, [0.0, 1.0, 0.0]),     # orthogonal to 0
        (3, [0.0, 0.0, 0.0]),     # zero vector
        (4, [-0.5, 0.25, 0.125]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q8 = {r["vec_id"]: r for r in quantize_embeddings(emb).collect()}
    assert q8[3]["scale"] == 0.0 and list(q8[3]["q"]) == [0, 0, 0]
    assert list(q8[0]["q"]) == [127, 0, 0]
    assert list(q8[4]["q"]) == [-127, 64, 32]  # round away from zero
    # reconstruction error bounded by scale/254 per coordinate
    deq = {r["vec_id"]: list(r["embedding"]) for r in dequantize_embeddings(quantize_embeddings(emb)).collect()}
    for vid, orig in rows:
        for a, b in zip(deq[vid], orig):
            assert abs(a - b) <= (q8[vid]["scale"] / 254.0) + 1e-12
    # quantized cosine ranks the obvious geometry correctly
    top = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in cosine_topk_q8(emb, k=2, n_queries=1).collect()
    }
    # near-duplicate first; orthogonal (sim 0) beats the zero vector
    # (also 0, loses the id tiebreak) and the anti-correlated v4 (-0.5)
    assert top[(0, 1)] == 1 and top[(0, 2)] == 2


def test_ann_ivf_recall_on_clustered_data(spark):
    from processor_post_timeseries_spark.operators.similarity import ann_ivf_topk

    rng = np.random.default_rng(2)
    rows = []
    # 6 well-separated cluster centers, 10 members each
    centers = rng.normal(size=(6, 8)) * 10
    for i in range(60):
        v = centers[i % 6] + rng.normal(size=8) * 0.2
        rows.append((i, (v / np.linalg.norm(v)).astype(np.float32).tolist(), i % 6))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    exact = {(r["query_id"], r["neighbor_id"]) for r in cosine_topk(emb, k=1, n_queries=60).collect()}
    approx = {(r["query_id"], r["neighbor_id"]) for r in ann_ivf_topk(emb, k=1, n_clusters=6, nprobe=2).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, recall


def test_lsh_hot_bucket_cap_bounds_skew(spark):
    """1k identical docs: uncapped banding would emit ~500k pairs per band
    (quadratic in one bucket); the cap bounds the self-join and
    lsh_bucket_stats reports exactly what was dropped."""
    from processor_post_timeseries_spark.operators.dedup import lsh_bucket_stats

    rows = [(f"x{i:04d}", "same exact text repeated for every single doc here", "s")
            for i in range(1000)]
    docs = spark.createDataFrame(rows, "doc_id string, text string, source string")
    capped = lsh_candidate_pairs(docs, 16, 4, max_bucket_size=50)
    n_pairs = capped.count()
    assert n_pairs == 50 * 49 // 2  # only the 50 kept docs pair up
    stats = lsh_bucket_stats(docs, 16, 4, max_bucket_size=50)
    drops = {r["band_no"]: r["n_dropped"] for r in stats.collect()}
    assert all(d == 950 for d in drops.values()) and len(drops) == 4
    # sanity: identical docs all landed in one bucket per band
    assert all(r["n_docs"] == 1000 for r in stats.collect())


def test_uncapped_lsh_raises_when_its_checkpoint_blocks_are_lost(spark):
    """The uncapped path ``localCheckpoint``s its band buckets. Losing
    those blocks, as a lost executor does, makes the next action raise
    instead of returning fewer pairs."""
    jsc = spark.sparkContext._jsc
    before = set(dict(jsc.getPersistentRDDs()))
    pairs = lsh_candidate_pairs(_docs(spark), 16, 4, max_bucket_size=None)
    assert pairs.count() > 0
    lost = {k: r for k, r in dict(jsc.getPersistentRDDs()).items() if k not in before}
    assert lost
    for rdd in lost.values():
        rdd.unpersist(True)
    with pytest.raises(Exception, match="Checkpoint block"):
        pairs.count()


def test_simhash_near_pairs_cap(spark):
    rows = [(f"x{i:04d}", "same exact text repeated for every single doc here", "s")
            for i in range(300)]
    docs = spark.createDataFrame(rows, "doc_id string, text string, source string")
    pairs = simhash_near_pairs(docs, max_hamming=3, max_bucket_size=20)
    assert pairs.count() == 20 * 19 // 2


def test_minhash_xxh64_matches_md5_pair_set(spark):
    """The 64-bit production hash family finds the same near-dup pairs as
    the md5 oracle family on the fixture corpus (different minima, same
    LSH collisions for truly-similar docs)."""
    md5_pairs = {(r["doc_a"], r["doc_b"])
                 for r in lsh_candidate_pairs(_docs(spark), 16, 4, hash_fn="md5").collect()}
    x64_pairs = {(r["doc_a"], r["doc_b"])
                 for r in lsh_candidate_pairs(_docs(spark), 16, 4, hash_fn="xxh64").collect()}
    assert ("d1", "d2") in x64_pairs  # exact dup always collides
    assert md5_pairs == x64_pairs


def test_simhash_vectorized_reference(spark):
    """Golden: the batch-vectorized simhash matches an independent
    per-doc reimplementation of Charikar sign-votes over md5 bits."""
    import hashlib

    import numpy as np

    got = {r["doc_id"]: r["simhash"] for r in simhash64(_docs(spark)).collect()}
    for doc_id, text, _src in DOCS:
        words = set(w for w in text.split(" ") if w)
        if not words:
            assert got[doc_id] == 0
            continue
        votes = np.zeros(64, np.int64)
        for w in words:
            fp = int.from_bytes(hashlib.md5(w.encode()).digest()[:8], "little")
            for b in range(64):
                votes[b] += 1 if (fp >> b) & 1 else -1
        expect = np.uint64(0)
        for b in range(64):
            if votes[b] > 0:
                expect |= np.uint64(1) << np.uint64(b)
        assert got[doc_id] == int(expect.astype(np.int64)), doc_id


def test_embedding_near_dup_pairs(spark):
    """Planted twins (cos ~0.995) must surface as near-dups; orthogonal
    fillers must not. Same generate-then-verify shape as LSH text dedup."""
    from processor_post_timeseries_spark.operators.dedup import embedding_near_dup_pairs

    rng = np.random.default_rng(7)
    rows = []
    for i in range(0, 40, 2):
        v = rng.normal(size=8)
        w = v + rng.normal(size=8) * 0.03
        rows.append((i, (v / np.linalg.norm(v)).astype(np.float32).tolist(), 0))
        rows.append((i + 1, (w / np.linalg.norm(w)).astype(np.float32).tolist(), 0))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    pairs = {(r["id_a"], r["id_b"]): r["cos_sim"]
             for r in embedding_near_dup_pairs(emb, threshold=0.95, n_planes=4).collect()}
    twin_hits = sum((i, i + 1) in pairs for i in range(0, 40, 2))
    # sign-LSH keeps a ~0.995-cosine twin in the same bucket w.p.
    # (1 - theta/pi)^4 ~ 0.88; expect most twins found, all above threshold
    assert twin_hits >= 12, twin_hits
    assert all(v >= 0.95 for v in pairs.values())


def test_winnow_fingerprints_guarantee(spark):
    """Winnowing guarantee (Schleimer et al. SIGMOD'03): two docs sharing
    a substring of length >= w + k - 1 share at least one fingerprint;
    selection density ~ 2/(w+1)."""
    from processor_post_timeseries_spark.functions.text import winnow_fingerprints

    shared = "identical shared passage inside both documents here"
    docs = spark.createDataFrame(
        [
            ("a", f"prefix alpha {shared} suffix one", "s"),
            ("b", f"totally different opening {shared} and ending", "s"),
            ("c", "no overlap with anything else at all whatsoever", "s"),
        ],
        "doc_id string, text string, source string",
    )
    k, w = 4, 5
    fps = winnow_fingerprints(docs, k=k, w=w).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    assert by_doc["a"] & by_doc["b"], "shared passage must share a fingerprint"
    # density: roughly 2/(w+1) of k-gram count, loose bounds
    n_grams_a = len("prefix alpha identical shared passage inside both documents here suffix one") - k + 1
    assert len(by_doc["a"]) < n_grams_a * 0.8
    # determinism + partition invariance
    fps2 = winnow_fingerprints(docs.repartition(7), k=k, w=w).collect()
    assert {(r["doc_id"], r["pos"], r["fp"]) for r in fps} == \
           {(r["doc_id"], r["pos"], r["fp"]) for r in fps2}


def test_cosine_topk_np_empty_query_set(spark):
    emb = _emb(spark, n=10)
    out = cosine_topk_np(emb.filter("vec_id >= 100"), k=3, n_queries=5)
    assert out.count() == 0 and out.columns == ["query_id", "neighbor_id", "rank", "cos_sim"]
