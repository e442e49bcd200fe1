"""Physical-plan regression gate: the properties PLANS.md documents are
asserted here so a future edit can't silently trade them away — filters
must reach the parquet scan, small sides must broadcast, the hot path
must stay inside WholeStageCodegen, and nothing may plan a cartesian
product. This is the 100x-scale contract in executable form.
"""

from __future__ import annotations

import pytest

from corporate_knowledge_extractor_spark.plans.explain_report import CHECKS
from corporate_knowledge_extractor_spark.plans.queries import REGISTRY

SF_DIR = "/root/testdata/sf0.001"

# query -> properties that MUST hold in its physical plan
REQUIRED = {
    "pricing_summary": ["pushed_filters", "codegen"],
    "topk_per_group": ["codegen"],  # + WindowGroupLimit asserted below
    "interval_join": ["pushed_filters", "broadcast_join", "codegen"],
    "asof_join": ["pushed_filters", "broadcast_join", "codegen"],
    "semi_join_customers": ["pushed_filters", "broadcast_join", "codegen"],
    "category_argmax": ["codegen"],
    "embedding_topk": ["pushed_filters", "broadcast_join", "codegen"],
    "embedding_ann": ["pushed_filters", "broadcast_join", "codegen"],
}


def _plan(spark, name: str, execute: bool = True) -> str:
    from corporate_knowledge_extractor_spark.plans.explain_report import plan_text

    df = REGISTRY[name].fn(spark, SF_DIR)
    text = plan_text(df, execute=execute)
    spark.catalog.clearCache()
    return text


@pytest.mark.parametrize("name", sorted(REQUIRED))
def test_plan_properties(spark, name):
    plan = _plan(spark, name)
    missing = [p for p in REQUIRED[name] if not CHECKS[p].search(plan)]
    assert not missing, f"{name}: plan lost properties {missing}\n{plan[:2000]}"
    assert "CartesianProduct" not in plan, f"{name}: cartesian product planned"


def test_topk_prunes_before_shuffle(spark):
    """The per-group top-k must keep the WindowGroupLimit partial/final
    pair — without it every group's full row set crosses the shuffle and
    the query stops surviving scale-up."""
    plan = _plan(spark, "topk_per_group")
    assert plan.count("WindowGroupLimit") >= 2, plan[:2000]


def test_kg_triples_plan(spark):
    """The flagship plan's load-bearing properties (round-3 verdict task
    7): whole-stage codegen on the extraction chain, exactly ONE
    materialized fan-out (the mentions persist — InMemoryTableScan), no
    nested-loop/cartesian join, and no per-row Python in the hot path."""
    plan = _plan(spark, "kg_triples")
    assert CHECKS["codegen"].search(plan), plan[:2000]
    assert "InMemoryTableScan" in plan, "mentions fan-out lost its persist"
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan, "per-row Python UDF in the kg path"


def test_align_plan_has_no_theta_join(spark):
    """Pin the round-3 as-of rewrite: segments-to-frames alignment must
    plan as window functions + bounded equi-joins — a reintroduced
    per-doc theta join (segments x frames) appears as a
    BroadcastNestedLoopJoin or CartesianProduct and fails here."""
    from pyspark.sql import functions as F

    from corporate_knowledge_extractor_spark.corpus import generate_corpus
    from corporate_knowledge_extractor_spark.operators.align import (
        align_segments_to_frames,
    )
    from corporate_knowledge_extractor_spark.operators.mentions import (
        junk_block_filter,
        mention_stage,
        tag_mentions,
    )
    from corporate_knowledge_extractor_spark.operators.segment import (
        assign_blocks,
        block_segments,
        split_lines,
    )
    from corporate_knowledge_extractor_spark.plans.explain_report import plan_text

    docs = generate_corpus(spark, n_docs=300)
    blocks = junk_block_filter(assign_blocks(split_lines(docs)))
    segs = block_segments(blocks).select(
        "repo", "path", "commit",
        F.col("block_id").alias("seg_id"),
        F.col("start").cast("double").alias("start"),
        F.col("end").cast("double").alias("end"),
        "text",
    )
    from corporate_knowledge_extractor_spark.config import DEFAULT_CONFIG

    frames = tag_mentions(mention_stage(blocks, DEFAULT_CONFIG.mentions)).select(
        "repo", "path", "commit",
        F.col("line_no").cast("double").alias("ts"),
        F.col("surface").alias("text"),
        "tags",
    )
    plan = plan_text(align_segments_to_frames(segs, frames))
    spark.catalog.clearCache()
    assert "BroadcastNestedLoopJoin" not in plan, "theta join reintroduced"
    assert "CartesianProduct" not in plan


def test_no_cartesian_anywhere_in_registry(spark):
    """No registered query may plan a CartesianProduct — broadcast
    nested-loop against a bounded side is the only sanctioned fallback.
    The pre-execution plan suffices for a structural veto (a cartesian
    never appears only in the final plan when absent initially, since AQE
    only *demotes* to broadcast, never promotes to cartesian)."""
    offenders = []
    for name in REGISTRY:
        plan = _plan(spark, name, execute=False)
        if "CartesianProduct" in plan:
            offenders.append(name)
    assert not offenders, offenders


def test_graph_output_tables_prune_on_canonical_id(spark, tmp_path):
    """Cluster-grade output layout (round-5): the nodes/edges stage
    tables are written partitioned by canonical-id range bucket, and the
    id-keyed readers prune to exactly one bucket directory — at 100 TB
    this is the difference between a partition read and a full scan per
    graph lookup."""
    from pyspark.sql import functions as F

    from corporate_knowledge_extractor_spark.operators.canonicalize import (
        GRAPH_BUCKETS,
    )
    from corporate_knowledge_extractor_spark.plans.pipeline import (
        Pipeline,
        read_edges_for_canonical,
        read_nodes_for_canonical,
    )

    base = str(tmp_path / "kg_prune")
    Pipeline(spark, base).run(sf=0.001, resume=False)

    edges = spark.read.parquet(f"{base}/tables/edges")
    # a dst that IS a canonical id (a linked-pred rewrite target)
    some = edges.join(
        spark.read.parquet(f"{base}/tables/nodes").select(
            F.col("canonical_id").alias("dst")
        ),
        "dst",
        "left_semi",
    ).first()
    cid = some["dst"]
    bucket = int(cid) % GRAPH_BUCKETS

    # sanity: the table really spans several bucket dirs
    all_buckets = {
        f.split("_dst_bucket=")[1].split("/")[0] for f in edges.inputFiles()
    }
    assert len(all_buckets) > 1

    def scan_line(df) -> str:
        plan = df._jdf.queryExecution().executedPlan().toString()
        [line] = [ln for ln in plan.splitlines() if "FileScan" in ln]
        return line

    # the bucket predicate must be applied as a PARTITION filter on the
    # scan (file-index pruning), not merely a row-level data filter
    pruned = read_edges_for_canonical(spark, base, cid)
    line = scan_line(pruned)
    assert f"PartitionFilters: [isnotnull(_dst_bucket" in line, line
    assert f"(_dst_bucket#" in line and f" = {bucket})" in line, line
    assert pruned.count() >= 1

    npruned = read_nodes_for_canonical(spark, base, cid)
    nline = scan_line(npruned)
    assert "PartitionFilters: [isnotnull(_cid_bucket" in nline, nline
    assert npruned.count() == 1
    spark.catalog.clearCache()


def test_cc_symmetrize_reads_input_once(spark, tmp_path):
    """Symmetrizing must read its input once: a union of the forward and
    reversed projections scans (and recomputes) an unmaterialized
    upstream twice."""
    from corporate_knowledge_extractor_spark.operators.canonicalize import (
        _symmetrize,
    )

    path = str(tmp_path / "edges")
    spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "id_a long, id_b long"
    ).write.parquet(path)
    e = spark.read.parquet(path)
    sym = _symmetrize(e)
    rows = sym.collect()
    assert len(rows) == 2 * e.count()
    assert {(r.src, r.dst) for r in rows} == {
        (r.dst, r.src) for r in rows
    }, "both directions of every edge"
    plan = sym._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]  # AQE prints both plans
    assert final.count("FileScan parquet") == 1, plan


def _executed_plans(spark, run) -> list[str]:
    """Final physical plans of every SQL execution ``run()`` starts (CC
    rounds and lineage cuts included), from the SQL status store."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def executions():
        bus.waitUntilEmpty()
        ex = store.executionsList()
        return {
            ex.apply(i).executionId(): ex.apply(i).physicalPlanDescription()
            for i in range(ex.size())
        }

    before = executions()
    run()
    return [p for i, p in executions().items() if i not in before]


def test_neardup_path_evaluates_no_python(spark):
    """MinHash pairs -> near-dup clusters -> SimHash pairs plan no Python
    evaluation (no pandas UDF, no mapInPandas union-find) in any
    execution they start, and the SimHash signature has no interpreted
    lambda."""
    from corporate_knowledge_extractor_spark.operators import dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    runs = {
        "minhash_lsh_pairs": lambda: dedup.minhash_lsh_pairs(docs).collect(),
        "neardup_clusters": lambda: dedup.neardup_clusters(
            docs, dedup.minhash_lsh_pairs(docs)
        ).collect(),
        "simhash_pairs": lambda: dedup.simhash_pairs(docs).collect(),
    }
    for name, run in runs.items():
        plans = _executed_plans(spark, run)
        spark.catalog.clearCache()
        assert plans, name
        python = [p for p in plans if CHECKS["python_eval"].search(p)]
        assert not python, f"{name} evaluates Python:\n{python[0][:2000]}"
        if name == "simhash_pairs":
            assert not [p for p in plans if "lambdafunction" in p], name
