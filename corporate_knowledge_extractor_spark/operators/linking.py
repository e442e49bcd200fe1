"""Entity linking: MinHash-LSH blocking + similarity scoring.

Reference analogue: the title-normalize group-merge
(/root/reference/src/output/post_processor.py:102-175) is a degenerate
exact-key entity resolution. At 10^12-file scale exact keys don't cluster
alias variants (`get_user_data` / `getUserData` / `get_user_data_v2`), so
per BASELINE.json this generalizes to MinHash-LSH blocking + a Jaccard
scorer over candidate pairs.

Everything here is native column expressions, no Python at all:
shingles via `transform(sequence(...))`, the per-permutation min-hash as
a scalar hash on exploded shingle rows folded by codegen'd `min()`
aggregates, band keys via `xxhash64`.
The O(n^2) similarity join becomes O(sum of block^2) with blocks bounded
by `max_block_size` (Zipfian hot-block skew control; precedent:
the reference's max_total row cap, src/frames/extractor.py:152-154).

ANSI-safe arithmetic: hashes are reduced mod a 31-bit prime before the
affine permutation so products stay far below 2^63 (Spark 4 runs with
spark.sql.ansi.enabled=true, where overflow *throws*).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from corporate_knowledge_extractor_spark.config import LinkingConfig

_P = 2_147_483_647  # Mersenne prime 2^31 - 1


def _perm_params(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic affine permutation constants (seeded, not random —
    BASELINE.json forbids wall-clock/nondeterminism in the extractor)."""
    params = []
    a, b = 1_103_515_245, 12_345
    x = 42
    for _ in range(num_hashes):
        x = (a * x + b) % _P
        a_i = (x % (_P - 1)) + 1
        x = (a * x + b) % _P
        b_i = x % _P
        params.append((a_i, b_i))
    return params


def extract_entities(triples: DataFrame) -> DataFrame:
    """Distinct identifier surfaces participating in the graph:
    defined functions, callees, and imported symbols, plus the function
    part of `doc::fn` call subjects. Output: (surface, norm, freq)."""
    objs = triples.where(
        F.col("pred").isin("defines", "calls", "imports_symbol")
    ).select(F.col("obj").alias("surface"))
    subj_fns = triples.where(F.col("pred") == "calls").select(
        F.element_at(F.split(F.col("subj"), "::"), 2).alias("surface")
    )
    norm = F.regexp_replace(F.lower(F.col("surface")), r"[_\-]", "")
    return (
        objs.unionByName(subj_fns)
        .groupBy("surface")
        .agg(F.count(F.lit(1)).alias("freq"))
        .withColumn("norm", norm)
        .withColumn("entity_id", F.xxhash64(F.col("surface")))
    )


def shingle_col(col: F.Column, k: int) -> F.Column:
    """Distinct character k-shingles of a string, as an array column."""
    # rpad truncates longer strings, so pad conditionally: strings shorter
    # than k get exactly one '#'-padded shingle
    padded = F.when(F.length(col) < k, F.rpad(col, k, "#")).otherwise(col)
    n = F.greatest(F.length(padded) - F.lit(k - 1), F.lit(1))
    return F.array_distinct(
        F.transform(F.sequence(F.lit(1), n), lambda i: padded.substr(i, F.lit(k)))
    )


def hash_one_shingle(col: F.Column) -> F.Column:
    """Scalar 31-bit base hash of one shingle (ANSI-overflow-safe domain).
    Scalar (not array-level) so it runs inside whole-stage codegen on an
    exploded shingle column — higher-order `transform` lambdas are
    interpreted expression-by-expression (guide §4.1) and dominated the
    signature stage wall-clock before the round-6 explode rewrite."""
    return F.pmod(F.xxhash64(col), F.lit(_P))


def hash_one_shingle_neutral(col: F.Column) -> F.Column:
    """Scalar engine-neutral twin: md5-hex prefix -> int, same domain.
    Slower than xxhash64 (string hashing + base conversion) but
    reproducible in ANY engine — tests/test_dedup_similarity.py proves
    the xxhash64 fast path emits the SAME near-dup pairs as this path
    end-to-end (candidates differ only in LSH banding randomness; the
    exact-Jaccard verify makes the surviving pair set hash-independent
    whenever banding recall holds)."""
    return F.pmod(
        F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long"), F.lit(_P)
    )


def lsh_band_keys(
    items: DataFrame,
    id_col: str,
    shingles: F.Column,
    cfg: LinkingConfig = LinkingConfig(),
    hash_fn=hash_one_shingle,
) -> DataFrame:
    """(band_key, id) — one row per band per item, *ids only*.

    ``hash_fn`` is the scalar per-shingle hash: `hash_one_shingle`
    (xxhash64, the default) or `hash_one_shingle_neutral` (the
    engine-neutral md5 reference).

    Payload columns (shingle arrays, surfaces) are deliberately NOT
    carried: the band explode amplifies rows num_bands-fold and the
    self-join doubles them again; shuffling a few-hundred-element array
    through that path dominated the stage wall-clock (measured ~4x at
    sf0.1). Candidates are re-joined to the slim base table afterwards.

    Round-6 shape (guide §4.1: prefer codegen'd built-ins over
    interpreted lambdas): explode the shingle array, hash each shingle
    with the scalar codegen'd hash, and compute the num_hashes minima as
    ordinary min() aggregates in one hash aggregate — partial (map-side)
    aggregation reduces the exploded rows back to one row per item
    before any exchange, and every expression in the pass is
    whole-stage-codegen. The previous form (num_hashes interpreted
    array_min(transform(...)) passes per row) measured 3-5x slower on
    the sf1.0 bench corpus with an identical final pair set
    (OPTIMIZATION_r06.md "minhash_neardup"). Items whose shingle array
    is empty vanish at the explode; they produce no band keys either way
    (an empty array has no minima), and word_shingles/shingle_col always
    emit at least one shingle, so the pair sets are identical. Duplicate
    shingles are harmless: the signature is a min over permuted hashes,
    so multiplicity cannot change any minimum.
    """
    rows_per_band = cfg.num_hashes // cfg.num_bands
    params = _perm_params(cfg.num_hashes)
    hashed = items.select(
        F.col(id_col).alias("id"), F.explode(shingles).alias("_s")
    ).select("id", hash_fn(F.col("_s")).alias("_h"))
    sigs = hashed.groupBy("id").agg(
        *[
            F.min((F.col("_h") * F.lit(a_i) + F.lit(b_i)) % F.lit(_P)).alias(f"_m{i}")
            for i, (a_i, b_i) in enumerate(params)
        ]
    )
    bands = F.array(
        *[
            F.xxhash64(
                F.lit(j),
                F.array(
                    *[F.col(f"_m{j * rows_per_band + r}") for r in range(rows_per_band)]
                ),
            )
            for j in range(cfg.num_bands)
        ]
    )
    return sigs.withColumn("band_key", F.explode(bands)).select("band_key", "id")


def candidate_id_pairs(banded: DataFrame, cfg: LinkingConfig = LinkingConfig()) -> DataFrame:
    """Distinct (id_a, id_b) candidate pairs from band collisions, with
    hot-block capping.

    Blocks larger than `max_block_size` are dropped (ubiquitous tokens —
    the Zipf head — would otherwise quadratically dominate; SURVEY.md §7
    skew risk; precedent: the reference's max_total cap,
    extractor.py:152-154). Block sizes come from a groupBy (map-side
    partial agg), not a window — no sort needed. Post-cap the band_key
    join is uniformly bounded, so no reducer can be hot.
    """
    # banded is scanned twice (sizes + join); materialize the slim
    # (band_key, id) projection eagerly so the MinHash signature
    # computation runs exactly once and concurrent branches never race
    # on uncached partitions (materialize.py policy)
    from corporate_knowledge_extractor_spark.materialize import materialize

    banded = materialize(banded)
    sizes = banded.groupBy("band_key").agg(F.count(F.lit(1)).alias("_bsz"))
    small = banded.join(
        sizes.where(F.col("_bsz") <= cfg.max_block_size), "band_key", "inner"
    ).select("band_key", "id")
    left = small.select("band_key", F.col("id").alias("id_a"))
    right = small.select("band_key", F.col("id").alias("id_b"))
    return (
        left.join(right, "band_key")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def _attach(pairs: DataFrame, base: DataFrame, side: str, cols: dict[str, str]) -> DataFrame:
    sel = base.select(
        F.col("entity_id").alias(f"id_{side}"),
        *[F.col(src).alias(f"{dst}_{side}") for src, dst in cols.items()],
    )
    return pairs.join(sel, f"id_{side}")


def score_pairs(
    pairs: DataFrame, entities: DataFrame, cfg: LinkingConfig = LinkingConfig()
) -> DataFrame:
    """Exact Jaccard on shingle sets (the reference's word-overlap
    similarity, src/frames/extractor.py:356-367, as array_intersect /
    array_union) + threshold filter. Shingles are joined in from the slim
    entity table only for surviving candidates."""
    base = entities.withColumn("_shingles", shingle_col(F.col("norm"), cfg.shingle_size))
    pairs = _attach(pairs, base, "a", {"norm": "norm", "_shingles": "sh"})
    pairs = _attach(pairs, base, "b", {"norm": "norm", "_shingles": "sh"})
    jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(F.array_union("sh_a", "sh_b"))
    return (
        pairs.withColumn("similarity", jac)
        .where(
            (F.col("similarity") >= cfg.similarity_threshold)
            | (F.col("norm_a") == F.col("norm_b"))
        )
        .select("id_a", "id_b", "similarity")
    )


def entity_candidate_pairs(
    entities: DataFrame, cfg: LinkingConfig = LinkingConfig()
) -> DataFrame:
    banded = lsh_band_keys(
        entities, "entity_id", shingle_col(F.col("norm"), cfg.shingle_size), cfg
    )
    return candidate_id_pairs(banded, cfg)
