"""Tests for the training-data operators (kgspark.ops.*): recall/precision
properties of the approximate paths against their exact twins, and the
multimodal plumbing contract."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kgspark.ops import dedupe, multimodal, similarity

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    d = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    words = F.filter(F.split(F.col("text"), r"\s+"), lambda w: w != "")
    trimmed = F.array_join(F.slice(words, 1, F.greatest(F.size(words) - 3, F.lit(1))), " ")
    near = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), trimmed.alias("text")
    )
    return d.unionByName(near).persist()


def test_lsh_recall_vs_exact(spark, docs):
    """MinHash-LSH candidates + verify must recover every exact pair at
    jaccard ≥ 0.8 on this corpus (recall 1.0 by k/band margin)."""
    exact = {
        (r.id1, r.id2)
        for r in dedupe.jaccard_pairs_exact(docs, "doc_id", "text", 3, 0.8).collect()
    }
    lsh = {
        (r.id1, r.id2)
        for r in dedupe.lsh_dup_pairs(docs, "doc_id", "text", 3, 16, 8, 0.8).collect()
    }
    assert exact, "fixture must plant near-dup pairs"
    assert lsh == exact


def test_short_docs_do_not_crash_shingling(spark):
    """Docs with fewer than n words (or empty text) must produce empty
    shingle arrays, not a SparkRuntimeException from F.slice — real
    corpora contain short/empty documents (ADVICE r01)."""
    d = spark.createDataFrame(
        [(1, ""), (2, "one"), (3, "two words"), (4, "   "),
         (5, "a b c d e f g h"), (6, "a b c d e f g h")],
        "doc_id long, text string",
    )
    sh = d.select(dedupe.word_ngrams(F.col("text"), 3).alias("sh")).collect()
    assert [len(r.sh) for r in sh] == [0, 0, 0, 0, 6, 6]
    # end-to-end through each tier: must run and only pair the twin docs
    exact = dedupe.jaccard_pairs_exact(d, "doc_id", "text", 3, 0.7).collect()
    assert {(r.id1, r.id2) for r in exact} == {(5, 6)}
    sig = dedupe.minhash_signature(d, "doc_id", "text", 3, 4).collect()
    assert {r.id for r in sig} == {5, 6}  # shingle-less docs have no sig
    lsh = dedupe.lsh_dup_pairs(d, "doc_id", "text", 3, 16, 8, 0.7).collect()
    assert {(r.id1, r.id2) for r in lsh} == {(5, 6)}


def test_hot_shingle_cap(spark):
    """max_shingle_freq drops boilerplate shingles from pair generation
    (freq² candidate blowup) while true dup pairs survive via their
    distinctive shingles."""
    base = "common header words here "
    d = spark.createDataFrame(
        [(1, base + "alpha beta gamma delta epsilon"),
         (2, base + "alpha beta gamma delta epsilon"),
         (3, base + "zeta eta theta iota kappa"),
         (4, base + "totally different tail content words")],
        "doc_id long, text string",
    )
    full = {(r.id1, r.id2): r.jaccard
            for r in dedupe.jaccard_pairs_exact(d, "doc_id", "text", 3, 0.5).collect()}
    capped = {(r.id1, r.id2): r.jaccard
              for r in dedupe.jaccard_pairs_exact(
                  d, "doc_id", "text", 3, 0.5, max_shingle_freq=3).collect()}
    assert set(full) == {(1, 2)} == set(capped)
    assert full[(1, 2)] == 1.0
    assert 0.5 <= capped[(1, 2)] < 1.0  # intersection lost the boilerplate


def test_lsh_refuses_more_bands_than_hashes(spark, docs):
    """bands > k leaves bands with no hash in them (the column path would
    reference h4..h7 of a 4-hash signature): refused up front."""
    with pytest.raises(ValueError, match="bands"):
        dedupe.lsh_dup_pairs(docs, "doc_id", "text", n=3, k=4, bands=8)


def test_minhash_md5_xxhash_consistent_shape(spark, docs):
    sig = dedupe.minhash_signature(docs, "doc_id", "text", n=3, k=4, hash_fn="md5")
    row = sig.limit(1).collect()[0]
    assert set(sig.columns) == {"id", "h0", "h1", "h2", "h3"}
    assert all(row[f"h{i}"] is not None for i in range(4))


def test_simhash_block_guarantee(spark, docs):
    """The 4×16-bit banding guarantees total recall for hamming ≤ 3
    (pigeonhole: ≤3 differing bits cannot touch all 4 blocks).  Every
    planted pair within that distance must be found, and every reported
    pair must satisfy the distance bound."""
    sig = {r.id: tuple(r.blocks)
           for r in dedupe.simhash_blocks(docs, "doc_id", "text").collect()}

    def ham(a, b):
        return sum(bin(x ^ y).count("1") for x, y in zip(a, b))

    planted_close = {
        (i, i + 100000)
        for i in (r.doc_id for r in docs.filter(F.col("doc_id") < 100000)
                  .filter(F.col("doc_id") % 7 == 0).select("doc_id").collect())
        if ham(sig[i], sig[i + 100000]) <= 3
    }
    found = {
        (r.id1, r.id2)
        for r in dedupe.simhash_pairs(docs, "doc_id", "text", max_dist=3).collect()
    }
    assert planted_close, "fixture must plant close pairs"
    assert planted_close <= found
    for i, j in found:
        assert ham(sig[i], sig[j]) <= 3


def test_simhash_guard_and_md5_regime(spark, docs):
    """max_dist beyond the pigeonhole bound must be refused, and the
    8×8-bit md5 regime (the oracled driver query) must satisfy total
    recall at hamming ≤ 7."""
    with pytest.raises(ValueError):
        dedupe.simhash_pairs(docs, "doc_id", "text", max_dist=12)

    sig = {r.id: tuple(r.blocks)
           for r in dedupe.simhash_blocks(docs, "doc_id", "text",
                                          n_blocks=8, hash_fn="md5").collect()}

    def ham(a, b):
        return sum(bin(x ^ y).count("1") for x, y in zip(a, b))

    found = {
        (r.id1, r.id2): r.hamming
        for r in dedupe.simhash_pairs(docs, "doc_id", "text", max_dist=7,
                                      n_blocks=8, hash_fn="md5").collect()
    }
    # exact check vs all-pairs hamming on the collected signatures
    ids = sorted(sig)
    expect = {
        (i, j): ham(sig[i], sig[j])
        for x, i in enumerate(ids) for j in ids[x + 1:]
        if ham(sig[i], sig[j]) <= 7
    }
    assert found == expect
    assert expect, "fixture must plant pairs within hamming 7"


def test_simhash_deterministic(spark, docs):
    a = sorted(map(tuple, dedupe.simhash_blocks(docs, "doc_id", "text").collect()))
    b = sorted(map(tuple, dedupe.simhash_blocks(docs, "doc_id", "text").collect()))
    assert a == b


def test_ann_recall_vs_brute_force(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10)
    brute = similarity.topk_neighbors(emb, queries, "vec_id", "embedding", k=5)
    ann = similarity.ann_topk(emb, queries, "vec_id", "embedding", dim=64,
                              k=5, n_planes=24, band_bits=4)
    b = {(r.query_id, r.neighbor_id) for r in brute.collect()}
    a = {(r.query_id, r.neighbor_id) for r in ann.collect()}
    # multiprobe (hamming-1 band flips on the query side) lifts recall
    # to a production-usable floor; every ANN hit scores identically
    assert len(a & b) / len(b) >= 0.9
    sims_b = {(r.query_id, r.neighbor_id): r.sim for r in brute.collect()}
    for r in ann.collect():
        if (r.query_id, r.neighbor_id) in sims_b:
            assert sims_b[(r.query_id, r.neighbor_id)] == r.sim


def test_emb_dup_pairs_ann_total_recall_on_fixture(spark):
    """The banded near-dup path must find every exact pair at 0.99 on a
    planted corpus (near-parallel vectors ≅ identical signatures)."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select("vec_id", "embedding")
    planted = emb.filter(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(F.col("embedding"),
                    lambda x: (x.cast("double") * 0.5).cast("float")).alias("embedding"),
    )
    corpus = emb.unionByName(planted)
    exact = {
        (r.id1, r.id2)
        for r in similarity.embedding_dup_pairs(
            corpus, "vec_id", "embedding", threshold=0.99).collect()
    }
    ann = {
        (r.id1, r.id2)
        for r in similarity.embedding_dup_pairs_ann(
            corpus, "vec_id", "embedding", threshold=0.99, dim=64).collect()
    }
    assert exact, "fixture must plant near-dup pairs"
    assert ann == exact


def test_multimodal_decode_contract(spark):
    d = spark.read.parquet(f"{SF}/documents.parquet")
    payloads = multimodal.with_payload(d, "doc_id", "text")
    out = multimodal.decode_image_meta(payloads)
    rows = out.collect()
    assert len(rows) == d.count()
    for r in rows[:20]:
        assert r.width == 64 + r.n_bytes % 577
        assert 1 <= r.n_frames <= 7
    frames = multimodal.frame_sample(out, every_k=2)
    assert frames.filter(F.col("frame_idx") % 2 != 0).count() == 0


def test_decode_real_rejects_non_image_payloads(spark):
    """decode_image_real is a REAL decoder now (kernels.image_codec):
    feeding it text-derived binary payloads must fail the container
    sniff with ValueError inside the mapInPandas task — not silently
    emit garbage rows.  (Byte-exact decode coverage lives in
    tests/test_image_codec.py.)"""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import PythonException

    d = spark.read.parquet(f"{SF}/documents.parquet").limit(3)
    payloads = multimodal.with_payload(d, "doc_id", "text")
    with pytest.raises((PythonException, Py4JJavaError)) as exc:
        multimodal.decode_image_real(payloads).collect()
    assert "ValueError" in str(exc.value)


def test_ivf_recall_vs_brute_force(spark):
    """IVF-flat with 16 sampled centroids / 4 probes must recover most
    true neighbors and score hits identically to brute force."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10)
    brute = similarity.topk_neighbors(emb, queries, "vec_id", "embedding", k=5)
    ivf = similarity.ivf_topk(emb, queries, "vec_id", "embedding",
                              k=5, n_centroids=16, n_probe=4)
    b = {(r.query_id, r.neighbor_id) for r in brute.collect()}
    a = {(r.query_id, r.neighbor_id) for r in ivf.collect()}
    assert len(a & b) / len(b) >= 0.5  # 4/16 of the space probed
    sims_b = {(r.query_id, r.neighbor_id): r.sim for r in brute.collect()}
    for r in ivf.collect():
        if (r.query_id, r.neighbor_id) in sims_b:
            assert sims_b[(r.query_id, r.neighbor_id)] == r.sim


def test_ivf_kmeans_balances_lists_and_keeps_recall(spark):
    """VERDICT r02 item 7: centroid_method='kmeans' (deterministic
    spherical Lloyd's from the same seed set) must (a) be deterministic,
    (b) keep recall at least as usable as the seed mode, and (c) balance
    the inverted lists on a corpus engineered so the smallest-id seeds
    all fall in ONE cluster (the seed mode's worst case)."""
    import math

    # two tight clusters in 8-d; ids 0..15 (the seeds) ALL in cluster A
    def vec(center, i, dim=8):
        v = [math.sin(center * 37.0 + d) for d in range(dim)]
        v[i % dim] += 0.01 * (i % 7)  # small deterministic jitter
        n = math.sqrt(sum(x * x for x in v))
        return [float(x / n) for x in v]

    rows = [(i, vec(1, i)) for i in range(60)] + \
           [(i, vec(2, i)) for i in range(60, 120)]
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<float>")

    def list_sizes(method):
        return similarity.ivf_topk(
            emb, emb.filter(F.col("vec_id").isin(0, 100)), "vec_id",
            "embedding", k=3, n_centroids=2, n_probe=1,
            centroid_method=method)

    # determinism of the kmeans path
    a = sorted(map(tuple, list_sizes("kmeans").collect()))
    b = sorted(map(tuple, list_sizes("kmeans").collect()))
    assert a == b and a

    # balance: assign the corpus with each method's centroids by reusing
    # the public API shape — probe with 1 list from a far-cluster query;
    # under seed centroids (both seeds in cluster A) query 100's single
    # probed list contains the whole corpus-side cluster split poorly.
    # Measure directly: kmeans centroids must split the corpus ~60/60.
    cent_rows = (
        emb.select(F.col("vec_id").alias("cid_src"),
                   F.transform("embedding", lambda x: x.cast("double")).alias("cv"))
        .orderBy("cid_src").limit(2).collect())
    seeds = [(i, list(r.cv)) for i, r in enumerate(cent_rows)]
    refined = similarity._kmeans_refine(
        emb.select(F.transform("embedding", lambda x: x.cast("double")).alias("n_v")),
        seeds, iters=5)

    def sizes(cents):
        import numpy as np
        counts = [0] * len(cents)
        for _, v in [(r.vec_id, list(r.embedding)) for r in emb.collect()]:
            best = max(range(len(cents)), key=lambda i: float(
                np.dot(v, cents[i][1])
                / (np.linalg.norm(v) * np.linalg.norm(cents[i][1]))))
            counts[best] += 1
        return counts

    seed_sizes = sizes(seeds)
    km_sizes = sizes(refined)
    # seed mode: both centroids in cluster A -> cluster B's 60 vectors
    # pile onto whichever seed is nearest, plus its own cluster share
    assert max(km_sizes) <= 1.5 * (sum(km_sizes) / len(km_sizes)), km_sizes
    assert max(km_sizes) < max(seed_sizes), (seed_sizes, km_sizes)


def test_mm_resize_and_features(spark):
    """Resize planning never upscales and preserves aspect by integer
    scale; byte-histogram features are L1-normalized per doc."""
    d = spark.read.parquet(f"{SF}/documents.parquet")
    payloads = multimodal.with_payload(d, "doc_id", "text")
    decoded = multimodal.decode_image_meta(payloads)
    plan = multimodal.resize_plan(decoded, max_w=224, max_h=224)
    for r in plan.collect():
        assert r.scale_millis <= 1000
        assert r.resized_w <= 224 and r.resized_h <= 224
        assert r.resized_w == r.width * r.scale_millis // 1000
    feats = multimodal.byte_histogram_features(payloads, dim=16).collect()
    assert all(len(r.features) == 16 for r in feats)
    for r in feats[:20]:
        assert abs(sum(r.features) - 1.0) < 1e-3  # rounding slack
