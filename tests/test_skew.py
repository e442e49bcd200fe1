"""Salted-join correctness: identical result to a plain join, with the
hot key scattered across salt buckets."""

from __future__ import annotations

from pyspark.sql import functions as F

from corporate_knowledge_extractor_spark.operators.skew import (
    add_salt,
    salted_join,
)


def test_salted_join_matches_plain_join(spark):
    # Zipf-ish fact: key 'hot' dominates
    fact = spark.createDataFrame(
        [("hot", i) for i in range(500)] + [(f"k{i}", i) for i in range(50)],
        "key string, payload int",
    )
    dim = spark.createDataFrame(
        [("hot", "H"), ("k1", "A"), ("k7", "B")], "key string, label string"
    )
    plain = {
        (r.key, r.payload, r.label)
        for r in fact.join(dim, "key").collect()
    }
    salted = {
        (r.key, r.payload, r.label)
        for r in salted_join(fact, dim, "key", ["payload"], buckets=8).collect()
    }
    assert salted == plain
    assert len(salted) == 502


def test_salt_scatters_hot_key(spark):
    fact = spark.createDataFrame(
        [("hot", i) for i in range(400)], "key string, payload int"
    )
    salted = add_salt(fact, ["payload"], 8)
    buckets = {r._salt for r in salted.select("_salt").distinct().collect()}
    assert len(buckets) == 8  # all reducer buckets in use


def test_cc_salted_rounds_on_zipf_graph(spark):
    """CC over a Zipf graph (one hub touching 30% of vertices) must (a)
    still produce the right components and (b) never hand a single
    shuffle partition the hub's whole edge list — the salted hot path
    splits it across salt buckets."""
    from corporate_knowledge_extractor_spark.config import CanonicalizeConfig
    from corporate_knowledge_extractor_spark.operators.canonicalize import (
        connected_components,
    )

    n, hub_deg = 10_000, 3_000
    # hub 0 -- {1..3000}; disjoint chain pairs among the rest
    edges = [(0, i) for i in range(1, hub_deg + 1)] + [
        (i, i + 1) for i in range(hub_deg + 1, n - 1, 2)
    ]
    e = spark.createDataFrame(edges, "id_a long, id_b long")
    v = spark.range(n).select(F.col("id").alias("entity_id"))
    cfg = CanonicalizeConfig(hot_degree_threshold=100, salt_buckets=8)

    stats: list[dict] = []
    comp = connected_components(v, e, cfg, on_skew_stats=stats.append)
    got = {r.entity_id: r.component for r in comp.collect()}
    assert all(got[i] == 0 for i in range(hub_deg + 1))  # hub component
    assert got[hub_deg + 1] == hub_deg + 1  # chain pairs keep own min
    assert got[hub_deg + 2] == hub_deg + 1
    # skew evidence: the hub key's 3000 edge rows are scattered across
    # the 8 salt buckets — no reducer key ever carries more than ~deg/8
    assert stats, "skew stats hook did not fire"
    assert stats[0]["hot_keys"] >= 1
    # every undirected edge in both directions (no duplicates, no loops)
    assert stats[0]["edges"] == 2 * len(edges)
    assert stats[0]["max_join_key_rows"] <= 2 * hub_deg / cfg.salt_buckets
