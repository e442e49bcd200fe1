"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k — a crossJoin against the (tiny,
broadcast) query set with a native fused dot-product/norm expression.
Scale path: LSH-bucketed ANN — random-hyperplane signs bucket the
corpus; only the query's bucket (plus multiprobe neighbors) is scanned.
Both are pure `pyspark.sql.functions` (zip_with + aggregate fold);
no UDF, no collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from corporate_knowledge_extractor_spark.materialize import materialize, release
from corporate_knowledge_extractor_spark.operators.skew import drop_hot_blocks


def dot(a: F.Column, b: F.Column) -> F.Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x * y).cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2norm(a: F.Column) -> F.Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: (x * x).cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: F.Column, b: F.Column) -> F.Column:
    return dot(a, b) / (l2norm(a) * l2norm(b))


def brute_force_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k per query: broadcast the query set, score everything,
    window-rank. Returns (query_id, vec_id, cosine_sim, rank). Ties break
    on vec_id for determinism."""
    q = queries.select(
        F.col(query_id_col), F.col(vec_col).alias("_qvec")
    )
    scored = embeddings.crossJoin(F.broadcast(q)).withColumn(
        "cosine_sim", F.round(cosine(F.col(vec_col), F.col("_qvec")), 4)
    )
    w = W.partitionBy(query_id_col).orderBy(F.desc("cosine_sim"), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine_sim", "rank")
    )


def _hyperplane(dim: int, plane_idx: int) -> list[float]:
    """Deterministic pseudo-random hyperplane (LCG; no wall-clock seeds)."""
    out = []
    x = (plane_idx + 1) * 2654435761 % 2**32
    for _ in range(dim):
        x = (1103515245 * x + 12345) % 2**31
        out.append((x / 2**30) - 1.0)  # in [-1, 1)
    return out


def lsh_bucket(vec: F.Column, dim: int, num_planes: int = 12) -> F.Column:
    """Random-hyperplane sign bucket (integer in [0, 2^num_planes))."""
    bucket = F.lit(0).cast("long")
    for p in range(num_planes):
        plane = F.array(*[F.lit(v) for v in _hyperplane(dim, p)])
        bit = F.when(dot(vec, plane) >= 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        bucket = bucket + F.shiftleft(bit, p)
    return bucket


def embedding_neardup_pairs(
    embeddings: DataFrame,
    dim: int,
    threshold: float = 0.95,
    num_planes: int = 8,
    multiprobe: int = 1,
    max_block_size: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — the fifth dedup strategy
    (operators/dedup.py module docstring): candidates from LSH sign-bucket
    collisions (optionally Hamming-1 neighbor buckets, which for high
    thresholds recovers most pairs split by a single hyperplane), exact
    cosine only on collided candidates. Hot buckets are capped like every
    other blocked self-join in this repo, so no reducer goes quadratic on
    a dense embedding cluster.

    The cap is *symmetric* (like simhash_pairs_from_sig): pair order is
    normalized with least/greatest AFTER the join, so both members' probe
    fans are tried — a pair with one member in a hot bucket is still
    recoverable through the other member's (small) bucket in either
    direction, independent of id ordering."""
    e = embeddings.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        lsh_bucket(F.col(vec_col), dim, num_planes).alias("_b"),
    )
    probes = [F.col("_b")]
    if multiprobe >= 1:
        probes += [
            F.col("_b").bitwiseXOR(F.lit(1 << p).cast("long"))
            for p in range(num_planes)
        ]
    left = e.select(
        F.explode(F.array(*probes)).alias("_bucket"),
        F.col("id").alias("id_l"),
        F.col("v").alias("v_l"),
    )
    small = drop_hot_blocks(
        e.select(
            F.col("_b").alias("_bucket"),
            F.col("id").alias("id_r"),
            F.col("v").alias("v_r"),
        ),
        ["_bucket"],
        max_block_size,
    )
    return (
        left.join(small, "_bucket")
        .where(F.col("id_l") != F.col("id_r"))
        .withColumn("cosine_sim", F.round(cosine(F.col("v_l"), F.col("v_r")), 4))
        .where(F.col("cosine_sim") >= threshold)
        .select(
            F.least("id_l", "id_r").alias("id_a"),
            F.greatest("id_l", "id_r").alias("id_b"),
            "cosine_sim",
        )
        .distinct()
    )


def seed_centroids(dim: int, k: int) -> list[list[float]]:
    """Deterministic IVF seed centroids (LCG, no wall-clock seeds)."""
    return [_hyperplane(dim, 1000 + c) for c in range(k)]


def ivf_assign(
    embeddings: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    out: str = "_cluster",
) -> DataFrame:
    """Assign each vector to its max-cosine centroid (coarse quantizer).
    One fused expression — argmax over a literal centroid array; no join,
    no UDF, scan-parallel at any corpus size."""
    scored = F.array(
        *[
            F.struct(
                cosine(F.col(vec_col), F.array(*[F.lit(v) for v in c])).alias("s"),
                F.lit(i).alias("c"),
            )
            for i, c in enumerate(centroids)
        ]
    )
    return embeddings.withColumn(out, F.array_max(scored)["c"])


def ivf_refine_centroids(
    embeddings: DataFrame,
    centroids: list[list[float]],
    iterations: int = 2,
    vec_col: str = "embedding",
    mean_grid: int | None = None,
) -> list[list[float]]:
    """Lloyd refinement, driver-collecting only k x dim floats per round
    (k is small by construction; the corpus is never collected). Empty
    clusters keep their previous centroid.

    ``mean_grid`` snaps each refined centroid component to the binary
    grid 1/mean_grid (floor). On inputs that are themselves exact
    multiples of a power-of-two grid (e.g. 2^-10-quantized embeddings)
    the per-component sums are exact in double precision regardless of
    aggregation order, so the refined centroids — and therefore the
    whole build+search — are bit-identical across engines and across
    partition orders; the snap is the belt-and-braces that keeps them on
    a grid for the next round. This is what lets embedding_ivf carry a
    full DuckDB hash oracle instead of a rows-only check."""
    import math

    dim = len(centroids[0])
    for _ in range(iterations):
        assigned = ivf_assign(embeddings, centroids, vec_col)
        means = (
            assigned.groupBy("_cluster")
            .agg(
                F.array(
                    *[F.avg(F.col(vec_col)[i]) for i in range(dim)]
                ).alias("mean")
            )
            .collect()
        )
        new = list(centroids)
        for r in means:
            vals = [float(x) for x in r.mean]
            if mean_grid:
                vals = [math.floor(x * mean_grid) / mean_grid for x in vals]
            new[r._cluster] = vals
        centroids = new
    return centroids


class IVFIndex:
    """A built IVF index: the trained coarse quantizer plus the corpus
    assigned to inverted lists, materialized once.

    ``assigned`` is the eagerly-persisted (id, vec, _cluster) table —
    every `ivf_search` call joins against these in-memory blocks and
    never re-scans (or re-trains on) the source corpus. On a real
    cluster the build writes ``assigned`` as a table partitioned by
    `_cluster` so searches get partition pruning on the probed lists;
    `release()` frees the in-memory form."""

    def __init__(self, centroids, assigned: DataFrame, id_col: str, vec_col: str):
        self.centroids = centroids
        self.assigned = assigned
        self.id_col = id_col
        self.vec_col = vec_col

    def release(self) -> None:
        release(self.assigned)


def ivf_build(
    embeddings: DataFrame,
    dim: int,
    n_centroids: int = 16,
    lloyd_iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    mean_grid: int | None = None,
) -> IVFIndex:
    """Train the coarse quantizer (deterministic seeds + Lloyd) and
    materialize the inverted-list assignment ONCE. This is the expensive
    corpus-scanning half of IVF — the round-2 form re-ran it inside every
    top-k call (3 full corpus scans per query batch at 100 TB); the
    build/search split makes the index a real index."""
    cents = ivf_refine_centroids(
        embeddings, seed_centroids(dim, n_centroids), lloyd_iterations, vec_col,
        mean_grid,
    )
    assigned = materialize(ivf_assign(embeddings, cents, vec_col))
    return IVFIndex(cents, assigned, id_col, vec_col)


def ivf_search(
    index: IVFIndex,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k against a prebuilt IVFIndex: rank the (driver-
    side, k x dim) centroids per query, broadcast the exploded
    (query, probed cluster) pairs, equi-join the persisted inverted
    lists. Scans nprobe/n_centroids of the *index*, zero of the corpus."""
    cents = index.centroids
    vec_col, id_col = index.vec_col, index.id_col
    cent_lit = [F.array(*[F.lit(v) for v in c]) for c in cents]
    probe_rank = F.array(
        *[
            F.struct(cosine(F.col(vec_col), cent_lit[i]).alias("s"), F.lit(i).alias("c"))
            for i in range(len(cents))
        ]
    )
    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("_qvec"),
        F.explode(
            F.slice(F.reverse(F.array_sort(probe_rank)), 1, nprobe)
        ).alias("_p"),
    ).select(query_id_col, "_qvec", F.col("_p.c").alias("_cluster"))
    scored = index.assigned.join(F.broadcast(q), "_cluster").withColumn(
        "cosine_sim", F.round(cosine(F.col(vec_col), F.col("_qvec")), 4)
    )
    w = W.partitionBy(query_id_col).orderBy(F.desc("cosine_sim"), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine_sim", "rank")
    )


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 2,
    lloyd_iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    mean_grid: int | None = None,
) -> DataFrame:
    """One-shot convenience: ivf_build + ivf_search. Callers issuing more
    than one query batch should hold the IVFIndex and call ivf_search —
    the index is the point (the alternative scale path to the LSH buckets
    of ann_topk: IVF adapts to the data distribution; LSH needs no
    training pass)."""
    index = ivf_build(
        embeddings, dim, n_centroids, lloyd_iterations, id_col, vec_col, mean_grid
    )
    return ivf_search(index, queries, k, nprobe, query_id_col)


def ann_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    num_planes: int = 8,
    multiprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k: equi-join on LSH bucket instead of crossJoin.
    Recall < 1 by design; at 100 TB this is the difference between
    scanning a handful of buckets and scanning everything.

    ``multiprobe=1`` (default) also probes every Hamming-1 neighbor of
    the query's bucket — the standard multiprobe-LSH recall lift: a
    vector near a hyperplane lands on either side with ~equal odds, so
    the 1-bit-flipped buckets hold most of the lost neighbors. The
    explode happens on the (tiny, broadcast) query side only; the corpus
    is still bucketed exactly once, so scan cost is
    (1 + num_planes) / 2^num_planes of the corpus per query.
    ``multiprobe=0`` probes the exact bucket only."""
    e = embeddings.withColumn("_bucket", lsh_bucket(F.col(vec_col), dim, num_planes))
    base_bucket = lsh_bucket(F.col(vec_col), dim, num_planes)
    probes = [base_bucket]
    if multiprobe >= 1:
        probes += [
            base_bucket.bitwiseXOR(F.lit(1 << p).cast("long"))
            for p in range(num_planes)
        ]
    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("_qvec"),
        F.explode(F.array(*probes)).alias("_bucket"),
    )
    scored = e.join(F.broadcast(q), "_bucket").withColumn(
        "cosine_sim", F.round(cosine(F.col(vec_col), F.col("_qvec")), 4)
    )
    w = W.partitionBy(query_id_col).orderBy(F.desc("cosine_sim"), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine_sim", "rank")
    )
