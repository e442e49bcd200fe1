"""Document deduplication suite for large-scale training-data pipelines.

Five strategies, all over a generic (id, text) document table:

  * exact          — hash-groupBy on a content digest
  * minhash_lsh    — shingle -> minhash -> band -> bucket self-join
                     (shares the native MinHash machinery with entity
                     linking, operators/linking.py)
  * simhash        — 64-bit sign-of-weighted-bit-sums fingerprint,
                     near-dup = small hamming distance within buckets
  * ngram_jaccard  — word n-gram shingle Jaccard on blocked pairs
  * embedding near-dup — cosine >= threshold on an embedding column
                     (operators/similarity.py provides the kernels)

Everything is native column expressions — no Python UDF, no
mapInPandas, no interpreted lambda on the near-dup path (SimHash
signatures and the cluster CC included); the only shuffles are the
groupBys/joins on digest / band / block keys, each of which is uniformly
distributed by construction (hash digests) or explicitly capped
(LSH blocks), so the plans survive a 100x scale-up unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from corporate_knowledge_extractor_spark.config import LinkingConfig
from corporate_knowledge_extractor_spark.materialize import materialize
from corporate_knowledge_extractor_spark.operators.linking import (
    hash_one_shingle,
    shingle_col,
)
from corporate_knowledge_extractor_spark.operators.skew import drop_hot_blocks


def normalize_text(col: F.Column) -> F.Column:
    """Canonical form for dedup: casefold + collapse whitespace + trim."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def spread(df: DataFrame, id_col: str) -> DataFrame:
    """Hash-repartition to full parallelism before an expensive per-row
    stage. A small parquet input arrives as ONE split (maxPartitionBytes),
    which serializes the whole signature computation onto a single core —
    measured 40s single-task vs ~2s spread at sf0.1. One slim shuffle buys
    cluster-wide parallelism; on a real corpus with many files this is a
    no-op cost."""
    sc = df.sparkSession.sparkContext
    return df.repartition(sc.defaultParallelism, id_col)


def exact_duplicates(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup clusters: md5 digest groupBy; returns clusters of size
    >= 2 with their member ids (sorted array for determinism)."""
    return (
        docs.withColumn("digest", F.md5(normalize_text(F.col(text_col))))
        .groupBy("digest")
        .agg(
            F.count(F.lit(1)).alias("cluster_size"),
            F.array_sort(F.collect_list(F.col(id_col))).alias("members"),
        )
        .where(F.col("cluster_size") >= 2)
    )


def keep_first_exact(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Dedup keeping the lowest-id representative per digest (first-seen-wins,
    the reference's qa-dedup semantics post_processor.py:204-219)."""
    w = W.partitionBy("digest").orderBy(id_col)
    return (
        docs.withColumn("digest", F.md5(normalize_text(F.col(text_col))))
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn", "digest")
    )


def word_shingles(col: F.Column, n: int) -> F.Column:
    """Distinct word n-gram shingles of a text column (native).

    Built as ONE codegen'd regexp_extract_all pass over the normalized
    text: at every token start with >= n tokens remaining, a zero-width
    lookahead captures the n-gram and the match consumes exactly one
    token plus its separator, so consecutive overlapping n-grams all
    surface (mid-token start positions cannot match — any suffix of a
    token plus the following tokens yields fewer than n non-space runs).
    Texts shorter than n tokens keep the whole normalized text as their
    single shingle (= array_join of all tokens). Byte-identical to the
    previous transform(sequence)/slice/array_join construction on edge
    cases and the full sf1.0 corpus, ~10x cheaper: higher-order lambdas
    are interpreted per element (guide §4.1) and measured ~50 CPU-seconds
    per 50k docs; the regex pass is a few."""
    norm = normalize_text(col)
    pat = "(?=((?:[^ ]+ ){%d}[^ ]+))[^ ]+(?: |$)" % (n - 1)
    return F.array_distinct(
        F.when(F.regexp_count(norm, F.lit(" ")) < n - 1, F.array(norm)).otherwise(
            F.regexp_extract_all(norm, F.lit(pat), 1)
        )
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_cols: tuple[str, ...] = ("lang",),
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Blocked near-dup pair detection: self-join within cheap blocks
    (never unblocked O(n^2)), word-n-gram Jaccard filter. At scale the
    block key must bound block sizes; callers with Zipfian blocks should
    pre-salt or use minhash_lsh_pairs instead."""
    base = docs.select(
        *block_cols,
        F.col(id_col).alias("id"),
        word_shingles(F.col(text_col), n).alias("sh"),
    )
    left = base.select(*block_cols, F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    right = base.select(*block_cols, F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(F.array_union("sh_a", "sh_b"))
    return (
        left.join(right, list(block_cols))
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("jaccard", F.round(jac, 4))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


DOC_DEDUP_CFG = LinkingConfig(num_hashes=32, num_bands=8, shingle_size=3)
# 8 bands x 4 rows -> s-curve threshold (1/8)^(1/4) ~ 0.59, matched to the
# 0.6 exact-verify threshold. Word 3-gram shingles (not character 5-grams):
# a document has ~10x fewer word-shingles than char-shingles, and the
# signature stage (num_hashes min() aggregates over every shingle row) is
# linear in num_hashes x shingles — the combined 2x fewer hashes + 10x
# fewer shingles cut the sf0.1 minhash_neardup wall from 43s to ~3s with
# the same near-dup semantics the reference's word-overlap similarity
# uses (src/frames/extractor.py:356-367).


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    cfg: LinkingConfig = DOC_DEDUP_CFG,
    threshold: float = 0.6,
    char_shingles: bool = False,
    hash_fn=hash_one_shingle,
) -> DataFrame:
    """MinHash+LSH near-dup pairs over word n-gram shingles of the
    normalized text — the scale path: candidate generation is linear in
    corpus size (band explode + bucket groupJoin), exact Jaccard only on
    collided candidates.

    The base table caches only the normalized text; the banding pass and
    the exact-verify join each derive shingles from it (see the round-6
    shape below). ``char_shingles=True`` switches to character
    k-shingles (for short strings like entity surfaces, where word grams
    are degenerate).
    ``hash_fn`` is the scalar per-shingle hash: linking.hash_one_shingle
    (xxhash64, the default) or linking.hash_one_shingle_neutral, the
    engine-neutral md5 reference — both verified to emit the same final
    pair set (tests/test_dedup_similarity.py).

    Round-6 shape (guide §4.1, §5): the shingle array is a single
    codegen'd regex pass (see word_shingles), cheap enough that the base
    cache holds only the normalized TEXT (4x smaller than caching the
    arrays; the array cache's deserialization dominated the verify
    phase's three scans) and each consumer derives shingles on the fly:
    the banding path explodes them into shingle rows whose hashing and
    num_hashes signature minima are codegen'd scalar expressions and
    min() aggregates — the whole spread -> explode -> aggregate chain
    rides ONE hash(id) partitioning with no extra exchange
    (linking.lsh_band_keys) — and the verify path re-derives arrays for
    the candidate docs only. Measured ~15% wall / 20% CPU under the
    array-cached form at sf1.0, same pair set."""
    from corporate_knowledge_extractor_spark.operators.linking import (
        candidate_id_pairs,
        lsh_band_keys,
    )

    def sh_of(col: F.Column) -> F.Column:
        return (
            shingle_col(col, cfg.shingle_size)
            if char_shingles
            else word_shingles(col, cfg.shingle_size)
        )

    base = materialize(
        spread(
            docs.select(
                F.col(id_col).alias("id"), normalize_text(F.col(text_col)).alias("t")
            ),
            "id",
        )
    )
    banded = lsh_band_keys(base, "id", sh_of(F.col("t")), cfg, hash_fn=hash_fn)
    # pairs feeds three downstream scans (cand_ids + both sides of the
    # verify join); materialize the slim (id_a, id_b) table once, eagerly
    # (materialize.py policy: eager serialized persist, releasable via
    # clearCache — unlike the localCheckpoint this replaced)
    pairs = materialize(candidate_id_pairs(banded, cfg))
    # exact Jaccard only for *distinct candidate documents* — orders of
    # magnitude fewer than pair occurrences
    cand_ids = (
        pairs.select(F.col("id_a").alias("id"))
        .unionByName(pairs.select(F.col("id_b").alias("id")))
        .distinct()
    )
    # sh_tbl is a fan-out: BOTH verify join sides consume it, and Spark
    # re-executes an unmaterialized subtree per consumer — profiled at
    # 50k docs the verify phase (~2.4 s of 5.6) ran the base cache scan
    # and the regex shingle derivation twice. Materializing the slim
    # candidates-only table (rows = distinct candidate ids, bounded by
    # the capped pair volume, NOT corpus size) halves that work and lets
    # AQE broadcast the tiny relation into both joins (guide §5 caching
    # rule: reused AND expensive to recompute).
    sh_tbl = materialize(
        base.join(cand_ids, "id", "left_semi").select(
            "id", sh_of(F.col("t")).alias("sh")
        )
    )
    a = sh_tbl.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh_tbl.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(F.array_union("sh_a", "sh_b"))
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("jaccard", F.round(jac, 4))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def neardup_clusters(
    docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Near-dup CLUSTER collapse — the operation a training-data pipeline
    actually runs on pair output: similarity is transitive only through
    chains (A~B, B~C but A!~C), so pairs must be closed into connected
    components before exactly one representative per cluster can be
    kept. Composes the pair generators above with the skew-aware
    iterative CC from operators/canonicalize.py (the same operator that
    canonicalizes entity aliases — one CC implementation, two callers).

    Returns one row per document: (id, cluster_id, is_representative)
    with cluster_id = min doc id of the component and the representative
    being that minimum (keep-first semantics, matching keep_first_exact
    and the reference's first-seen-wins dedup,
    /root/reference/src/output/post_processor.py:204-219). Docs in no
    pair are their own singleton cluster."""
    from corporate_knowledge_extractor_spark.config import CanonicalizeConfig
    from corporate_knowledge_extractor_spark.operators.canonicalize import (
        connected_components,
    )

    verts = docs.select(F.col(id_col).alias("entity_id")).distinct()
    # near-dup graphs have arbitrary depth (duplication chains, whose
    # hashed ids come in random order), unlike the shallow alias pool:
    # pointer jumping keeps the round count far below the chain length
    # (config.py local_contract rationale)
    comps = connected_components(
        verts,
        pairs.select("id_a", "id_b"),
        CanonicalizeConfig(local_contract=True),
    )
    return comps.select(
        F.col("entity_id").alias(id_col),
        F.col("component").alias("cluster_id"),
        (F.col("entity_id") == F.col("component")).alias("is_representative"),
    )


# 32 long lanes, lane j packing the set-bit counters of bits j (low 32
# bits) and j + 32 (high 32 bits): `shiftright(h, j) & _LANE_MASK` moves
# both bits to the lane's two unit positions (the arithmetic shift's sign
# fill only reaches bits >= 64 - j > 32). Neither counter can carry into
# the other or overflow the long: a Spark string is under 2 GB, so a doc
# has fewer than 2^31 shingles.
_LANE_MASK = (1 << 32) | 1
_SIMHASH_LANES = [
    f"sum(shiftright(_h, {j}) & {_LANE_MASK}) AS _c{j}" for j in range(32)
]
# the set-bit count of each of the 64 bits, unpacked from its lane
_SIMHASH_ONES = [f"(_c{j} & 4294967295)" for j in range(32)] + [
    f"shiftright(_c{j}, 32)" for j in range(32)
]
# bit b is set when at least half of the doc's shingle hashes set it
_SIMHASH_BITS = " | ".join(
    f"IF(2 * {ones} >= _n, shiftleft(1L, {b}), 0L)"
    for b, ones in enumerate(_SIMHASH_ONES)
)


def simhash_signatures(d: DataFrame) -> DataFrame:
    """64-bit SimHash of word 2-grams: ``(id, t)`` -> ``(id, sh)``, bit b
    of ``sh`` set when at least half of the doc's distinct shingle hashes
    (xxhash64) set bit b; 0 for a doc with no shingles (null text). ``id``
    is the key: one output row per distinct id.

    Native end to end: the shingle array is exploded and each shingle is
    hashed by the scalar, codegen'd xxhash64 (guarded, since xxhash64(NULL)
    is 42, not NULL); one groupBy(id) counts the hashes and sums the 64
    per-bit counters packed two to a long (``_SIMHASH_LANES``). On a
    ``spread`` input the groupBy rides its hash(id) partitioning, so it
    adds no exchange. The aggregates and the 64-term OR are SQL strings:
    building and planning the same expressions through the Column API
    took 0.8-1.3 s of driver time per call against 0.15-0.3 s for the
    strings (medians of 5 calls, 4-vCPU host, sf0.01 documents)."""
    return (
        d.select("id", F.explode_outer(word_shingles(F.col("t"), 2)).alias("_s"))
        .selectExpr("id", "CASE WHEN _s IS NOT NULL THEN xxhash64(_s) END AS _h")
        .groupBy("id")
        .agg(F.expr("count(_h) AS _n"), *[F.expr(c) for c in _SIMHASH_LANES])
        .selectExpr("id", f"IF(_n = 0, 0L, {_SIMHASH_BITS}) AS sh")
    )


def simhash_pairs_from_sig(
    signatures: DataFrame,
    max_hamming: int = 7,
    n_chunks: int = 8,
    max_block_size: int = 500,
) -> DataFrame:
    """Near-dup pairs by hamming distance over precomputed 64-bit
    signatures ``(id, sh)``.

    Recall guarantee (pigeonhole): with ``n_chunks`` equal-width blocking
    chunks, any pair within hamming distance ``n_chunks - 1`` differs in
    at most ``n_chunks - 1`` chunks, so it *must* share at least one
    chunk and is guaranteed to surface as a candidate. The default
    (8 x 8-bit chunks) therefore guarantees full recall for
    ``max_hamming <= 7``; callers asking for a larger radius get a
    ValueError instead of silent recall loss.

    The hot-chunk cap trades bounded worst-case work for recall on
    mega-clusters (same skew control as the MinHash path) — pairs inside
    a capped block are still found through their *other* chunks unless
    all their shared chunks are hot.
    """
    if max_hamming > n_chunks - 1:
        raise ValueError(
            f"blocking on {n_chunks} chunks only guarantees recall for "
            f"hamming <= {n_chunks - 1}, got max_hamming={max_hamming}; "
            "raise n_chunks or lower max_hamming"
        )
    chunk_bits = 64 // n_chunks
    mask = (1 << chunk_bits) - 1
    d = signatures.select("id", "sh")
    chunks = F.array(
        *[
            F.struct(
                F.lit(j).alias("chunk_idx"),
                F.shiftright(F.col("sh"), j * chunk_bits).bitwiseAND(F.lit(mask)).alias("chunk"),
            )
            for j in range(n_chunks)
        ]
    )
    # hot-chunk cap: a cluster of identical documents shares all chunks;
    # unbounded blocks would go quadratic (same skew control as the
    # MinHash path)
    small = drop_hot_blocks(
        d.withColumn("c", F.explode(chunks))
        .select(F.col("c.chunk_idx"), F.col("c.chunk"), "id", "sh"),
        ["chunk_idx", "chunk"],
        max_block_size,
    )
    left = small.select("chunk_idx", "chunk", F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    right = small.select("chunk_idx", "chunk", F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        left.join(right, ["chunk_idx", "chunk"])
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", ham)
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .distinct()
    )


def simhash_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 7,
    n_chunks: int = 8,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance over word-2-gram
    signatures. Guaranteed-recall radius is ``n_chunks - 1`` (see
    simhash_pairs_from_sig); the 8 x 8-bit default covers the full
    default radius of 7 — the 4 x 16-bit blocking this replaced silently
    missed pairs at hamming 4-8 that differed in all four chunks."""
    d = spread(docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("t")), "id")
    return simhash_pairs_from_sig(
        simhash_signatures(d), max_hamming=max_hamming, n_chunks=n_chunks
    )
