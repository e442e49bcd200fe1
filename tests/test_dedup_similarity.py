"""Dedup suite + similarity search unit tests on controlled fixtures."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from corporate_knowledge_extractor_spark.config import LinkingConfig
from corporate_knowledge_extractor_spark.operators import dedup, similarity, textstats

DOCS = "doc_id long, text string, lang string"


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog", "en"),
        (1, "THE QUICK  BROWN FOX jumps over the lazy dog", "en"),  # exact dup (norm)
        (2, "the quick brown fox jumps over the lazy cat today", "en"),  # near dup
        (3, "completely different content about spark engines", "en"),
        (4, "der schnelle braune fuchs springt", "de"),
    ]
    return spark.createDataFrame(rows, DOCS)


def test_exact_duplicates(docs):
    clusters = dedup.exact_duplicates(docs).collect()
    assert len(clusters) == 1
    assert sorted(clusters[0].members) == [0, 1]


def test_keep_first_exact(docs):
    kept = dedup.keep_first_exact(docs)
    ids = sorted(r.doc_id for r in kept.collect())
    assert ids == [0, 2, 3, 4]  # doc 1 dropped, lowest id kept


def test_ngram_jaccard_pairs(docs):
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.4).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    assert (0, 1) in got  # identical after normalization
    assert (0, 2) in got or (1, 2) in got  # near dup crosses 0.4
    assert all(3 not in p and 4 not in p for p in got)


def test_minhash_lsh_finds_near_dups(docs):
    cfg = LinkingConfig(num_hashes=64, num_bands=32, shingle_size=5)
    pairs = dedup.minhash_lsh_pairs(docs, cfg=cfg, threshold=0.5).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    assert (0, 1) in got
    assert all(p[0] != 3 and p[1] != 3 for p in got)


def test_simhash_near_dups(docs):
    pairs = dedup.simhash_pairs(docs, max_hamming=7).collect()
    got = {(r.id_a, r.id_b): r.hamming for r in pairs}
    assert got.get((0, 1)) == 0  # identical normalized text -> same simhash
    assert (0, 3) not in got and (1, 3) not in got


def test_simhash_pigeonhole_guarantee(spark):
    """A pair at hamming 6 whose differing bits span all four 16-bit
    chunks (the old blocking's blind spot) MUST surface under the 8-chunk
    blocking: 6 differing bits can touch at most 6 of 8 chunks, so >= 2
    chunks still collide."""
    sh_b = (1 << 0) | (1 << 10) | (1 << 20) | (1 << 30) | (1 << 40) | (1 << 50)
    sig = spark.createDataFrame([(0, 0), (1, sh_b)], "id long, sh long")
    pairs = dedup.simhash_pairs_from_sig(sig, max_hamming=7).collect()
    assert {(r.id_a, r.id_b, r.hamming) for r in pairs} == {(0, 1, 6)}
    # asking for a radius the blocking cannot guarantee is an error,
    # never silent recall loss
    with pytest.raises(ValueError):
        dedup.simhash_pairs_from_sig(sig, max_hamming=8)


def _majority_vote_simhash(hashes) -> int:
    """The SimHash definition, one doc at a time: bit b set when at
    least half of the shingle hashes set it; 0 for a null or empty hash
    list. Returned as the signed 64-bit value Spark stores."""
    if not hashes:
        return 0
    sh = 0
    for b in range(64):
        if 2 * sum((h >> b) & 1 for h in hashes) >= len(hashes):
            sh |= 1 << b
    return sh - (1 << 64) if sh >= 1 << 63 else sh


def test_simhash_signatures_equal_majority_vote_reference(spark):
    """The native signature (explode + scalar xxhash64 + packed per-bit
    sums) equals the per-doc majority vote over the same shingle hashes
    on degenerate texts and the sf0.01 documents."""
    edge = spark.createDataFrame(
        [
            (-1, None),
            (-2, ""),
            (-3, " \t \n  "),
            (-4, "word"),
            (-5, "Grüße aus Köln — 東京 ünïcödé 🙂 STRASSE"),
            (-6, " ".join(f"tok{i % 977}" for i in range(3000))),
        ],
        "id long, t string",
    )
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet").select(
        F.col("doc_id").alias("id"), F.col("text").alias("t")
    )
    d = edge.unionByName(docs)
    got = {r.id: r.sh for r in dedup.simhash_signatures(dedup.spread(d, "id")).collect()}
    hashes = d.select(
        "id",
        F.transform(dedup.word_shingles(F.col("t"), 2), lambda s: F.xxhash64(s)).alias("h"),
    ).collect()
    want = {r.id: _majority_vote_simhash(r.h) for r in hashes}
    assert len(want) > 500
    assert got[-1] == 0  # null text: no shingles
    assert got == want


def test_brute_force_topk_self_is_top1(spark):
    import math

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [0.0, 0.0, 1.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.where("vec_id = 0").select(F.lit(0).alias("query_id"), "embedding")
    top = similarity.brute_force_topk(emb, q, k=2).orderBy("rank").collect()
    assert top[0].vec_id == 0 and math.isclose(top[0].cosine_sim, 1.0, abs_tol=1e-3)
    assert top[1].vec_id == 1


def test_ann_recall_vs_brute_force(spark):
    import random

    rng = random.Random(7)
    rows = [
        (i, [rng.gauss(0, 1) for _ in range(16)]) for i in range(300)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.where("vec_id < 3").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r.query_id, r.vec_id)
        for r in similarity.brute_force_topk(emb, q, k=5).collect()
    }
    single = {
        (r.query_id, r.vec_id)
        for r in similarity.ann_topk(
            emb, q, dim=16, k=5, num_planes=4, multiprobe=0
        ).collect()
    }
    multi = {
        (r.query_id, r.vec_id)
        for r in similarity.ann_topk(
            emb, q, dim=16, k=5, num_planes=4, multiprobe=1
        ).collect()
    }
    # the query itself always lands in its own bucket
    assert all((i, i) in single and (i, i) in multi for i in range(3))
    # multiprobe widens the candidate set -> recall vs brute force can
    # only go up, and must be measurably nonzero
    assert len(exact & multi) >= len(exact & single)
    assert len(exact & multi) >= 5


def test_embedding_neardup_finds_planted_pairs(spark):
    """Plant three near-duplicate vector pairs (tiny perturbations of a
    base vector) among random noise; the LSH-blocked near-dup pass must
    surface all of them and no random pair."""
    import random

    rng = random.Random(11)
    dim = 16
    rows = []
    for pair in range(3):
        base = [rng.gauss(0, 1) for _ in range(dim)]
        rows.append((pair * 2, base))
        rows.append((pair * 2 + 1, [v + rng.gauss(0, 0.01) for v in base]))
    rows += [(100 + i, [rng.gauss(0, 1) for _ in range(dim)]) for i in range(200)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = similarity.embedding_neardup_pairs(
        emb, dim=dim, threshold=0.99, num_planes=4
    ).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    assert got == {(0, 1), (2, 3), (4, 5)}


def test_ivf_topk_recall_vs_brute_force(spark):
    import random

    rng = random.Random(13)
    dim = 16
    rows = [(i, [rng.gauss(0, 1) for _ in range(dim)]) for i in range(400)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.where("vec_id < 3").select(F.col("vec_id").alias("query_id"), "embedding")
    exact = {
        (r.query_id, r.vec_id)
        for r in similarity.brute_force_topk(emb, q, k=5).collect()
    }
    approx = {
        (r.query_id, r.vec_id)
        for r in similarity.ivf_topk(
            emb, q, dim=dim, k=5, n_centroids=8, nprobe=3
        ).collect()
    }
    # each query's own vector lands in its own probed cluster
    assert all((i, i) in approx for i in range(3))
    # nprobe=3 of 8 clusters must recover a majority of the true top-5
    assert len(exact & approx) >= 8


def test_ivf_build_search_split_never_rescans_corpus(spark, tmp_path):
    """The index contract: ivf_build scans/trains on the corpus once;
    every subsequent ivf_search touches only the persisted inverted
    lists. Proven on a parquet-backed corpus — the search plan must show
    an in-memory scan and must NOT contain a parquet scan of the corpus
    (a re-scan or re-train would)."""
    import random

    rng = random.Random(17)
    dim = 16
    rows = [(i, [rng.gauss(0, 1) for _ in range(dim)]) for i in range(400)]
    spark.createDataFrame(rows, "vec_id long, embedding array<float>").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "emb"))
    emb = spark.read.parquet(str(tmp_path / "emb"))

    index = similarity.ivf_build(emb, dim=dim, n_centroids=8)
    # behavioral proof: once built, the source corpus is GONE — any
    # re-scan (or re-train) during search would hit FileNotFound; the
    # persisted inverted lists must serve every search by themselves
    import shutil

    shutil.rmtree(str(tmp_path / "emb"))
    q = spark.createDataFrame(
        [(i, rows[i][1]) for i in range(3)], "query_id long, embedding array<float>"
    )
    first = similarity.ivf_search(index, q, k=5, nprobe=3)
    second = similarity.ivf_search(index, q, k=5, nprobe=3)
    assert first.count() == second.count() == 15
    plan = second._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan, plan
    index.release()


def test_lang_id_and_quality(spark):
    rows = [
        (0, "the cat and the dog of the house", "en"),
        (1, "der hund und die katze ist nicht da", "de"),
        (2, "le chat et la maison est grande", "fr"),
        (3, "xyzzy plugh qwerty", "zz"),
    ]
    docs = spark.createDataFrame(rows, DOCS)
    got = {
        r.doc_id: r.pred
        for r in docs.select(
            "doc_id", textstats.lang_id(F.col("text")).alias("pred")
        ).collect()
    }
    assert got[0] == "en" and got[1] == "de" and got[2] == "fr" and got[3] == "und"

    feats = {r.doc_id: r for r in textstats.quality_features(docs).collect()}
    assert feats[0].quality_score > feats[3].quality_score
    assert feats[0].n_tokens == 8
    assert feats[0].stopword_ratio > 0.3


def test_fingerprint_stable_under_whitespace(spark):
    docs = spark.createDataFrame(
        [(0, "Alpha  Beta\tGamma", "en"), (1, "alpha beta gamma", "en")], DOCS
    )
    fps = [
        r.fp
        for r in docs.select(textstats.fingerprint(F.col("text")).alias("fp")).collect()
    ]
    assert fps[0] == fps[1]


def test_minhash_fast_path_pairs_equal_neutral_and_bruteforce(spark):
    """Round-3 verdict task 5: the xxhash64 fast path is rows-only under
    the DuckDB oracle, and minhash_parity only certifies the signature
    *construction*. This closes the remaining gap at the PAIR level on
    the real sf0.01 corpus: the fast path, the engine-neutral md5-hash
    path, and the definitional brute force (every pair with word-3-gram
    Jaccard >= 0.6) must produce the identical final pair set —
    candidate generation may differ per hash family, but the exact
    verify makes the output hash-independent as long as LSH recall
    holds, and here it is proven to hold exactly."""
    from corporate_knowledge_extractor_spark.operators.linking import (
        hash_one_shingle_neutral,
    )

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    fast = {
        (r.id_a, r.id_b, r.jaccard)
        for r in dedup.minhash_lsh_pairs(docs, threshold=0.6).collect()
    }
    spark.catalog.clearCache()
    neutral = {
        (r.id_a, r.id_b, r.jaccard)
        for r in dedup.minhash_lsh_pairs(
            docs, threshold=0.6, hash_fn=hash_one_shingle_neutral
        ).collect()
    }
    spark.catalog.clearCache()

    base = docs.select(
        F.col("doc_id").alias("id"),
        dedup.word_shingles(F.col("text"), 3).alias("sh"),
    )
    a = base.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = base.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(
        F.array_union("sh_a", "sh_b")
    )
    brute = {
        (r.id_a, r.id_b, r.jaccard)
        for r in a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("jaccard", F.round(jac, 4))
        .where(F.col("jaccard") >= 0.6)
        .collect()
    }
    assert len(fast) > 0
    assert fast == neutral, "pair set depends on the shingle hash family"
    assert fast == brute, "LSH missed (or invented) a qualifying pair"


def test_simhash_fast_path_pairs_equal_bruteforce(spark):
    """The simhash pair-level twin: chunk-blocked candidate generation on
    the sf0.01 corpus must equal the definitional brute force (bit_count
    of XOR <= max_hamming over ALL pairs of the same signatures). Cap
    disabled on both sides so the blocking construction itself is what is
    certified (the hot-chunk cap's recall trade is covered by
    test_simhash_pigeonhole_guarantee)."""
    from corporate_knowledge_extractor_spark.materialize import materialize

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    d = dedup.spread(
        docs.select(F.col("doc_id").alias("id"), F.col("text").alias("t")), "id"
    )
    sig = materialize(dedup.simhash_signatures(d))
    fast = {
        (r.id_a, r.id_b, r.hamming)
        for r in dedup.simhash_pairs_from_sig(
            sig, max_hamming=6, max_block_size=1_000_000
        ).collect()
    }
    a = sig.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sig.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    brute = {
        (r.id_a, r.id_b, r.hamming)
        for r in a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", ham)
        .where(F.col("hamming") <= 6)
        .collect()
    }
    spark.catalog.clearCache()
    assert len(fast) > 0
    assert fast == brute


def test_neardup_clusters_transitive_chain(spark):
    """Cluster collapse must close pair chains transitively (A~B, B~C
    => one cluster {A,B,C} even though A!~C) and keep exactly one
    representative — the min id — per cluster; unpaired docs are their
    own singleton representative."""
    docs = spark.createDataFrame([(i,) for i in range(4)], "doc_id long")
    pairs = spark.createDataFrame([(0, 1), (1, 2)], "id_a long, id_b long")
    got = {
        r.doc_id: (r.cluster_id, r.is_representative)
        for r in dedup.neardup_clusters(docs, pairs).collect()
    }
    spark.catalog.clearCache()
    assert got == {
        0: (0, True), 1: (0, False), 2: (0, False), 3: (3, True)
    }
