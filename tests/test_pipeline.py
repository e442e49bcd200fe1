"""End-to-end gates: P/R >= 0.95 vs the pandas oracle, sha256 invariant,
lineage/metrics presence — the BASELINE.json contract."""

from __future__ import annotations

import pytest

from corporate_knowledge_extractor_spark.corpus import generate_corpus_pandas
from corporate_knowledge_extractor_spark.operators.canonicalize import (
    connected_components,
)
from corporate_knowledge_extractor_spark.plans.oracle import oracle_triples
from corporate_knowledge_extractor_spark.plans.pipeline import (
    Pipeline,
    extract_triples,
    verify_sha256,
)
from corporate_knowledge_extractor_spark.plans.verify import precision_recall


def test_public_annotations_resolve():
    """Every name in the public entry points' annotations is importable
    from their modules (postponed annotations hide a missing import until
    someone resolves them)."""
    import typing

    for fn in (Pipeline.__init__, Pipeline.run, extract_triples, connected_components):
        assert typing.get_type_hints(fn), fn.__qualname__


@pytest.fixture(scope="module")
def run(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("ckg_e2e"))
    # start from empty storage so test_run_releases_cc_scratch sees only
    # what this run leaves cached
    spark.catalog.clearCache()
    pipe = Pipeline(spark, base)
    result = pipe.run(sf=0.001, resume=False)
    return pipe, result


def test_pr_gate(spark, run):
    _, result = run
    oracle = oracle_triples(generate_corpus_pandas(sf=0.001))
    pr = precision_recall(result.tables["triples"], oracle)
    assert pr.precision >= 0.95, pr
    assert pr.recall >= 0.95, pr


def test_sha256_invariant(spark, run):
    _, result = run
    ref = spark.createDataFrame(generate_corpus_pandas(sf=0.001))
    assert verify_sha256(result.tables["docs"], ref) == 0


def test_graph_outputs_nonempty(run):
    _, result = run
    assert result.tables["nodes"].count() > 0
    assert result.tables["edges"].count() > 0
    nodes = result.tables["nodes"]
    multi = nodes.where(nodes.n_aliases > 1)
    assert multi.count() > 0  # linking actually merged alias variants


def test_lineage_and_metrics_written(spark, run):
    pipe, result = run
    lineage = spark.read.parquet(f"{pipe.base_dir}/lineage")
    metrics = spark.read.parquet(f"{pipe.base_dir}/metrics")
    stages = {r.stage for r in lineage.select("stage").distinct().collect()}
    assert {"docs", "mentions", "triples", "edges"} <= stages
    assert lineage.where("output_rows < 0").count() == 0
    cc_metrics = metrics.where("stage = 'components'")
    assert cc_metrics.count() >= 1  # convergence telemetry recorded
    # per-stage throughput rows (scaling history, round-3 verdict task 8)
    tp = metrics.where("metric = 'rows_per_sec'")
    assert {r.stage for r in tp.select("stage").distinct().collect()} >= {
        "docs", "mentions", "triples", "edges"
    }
    assert tp.where("value <= 0").count() == 0
    rows_m = {
        r.stage: r.value
        for r in metrics.where("metric = 'output_rows'").collect()
    }
    lineage_rows = {
        r.stage: r.total
        for r in lineage.groupBy("stage").sum("output_rows")
        .withColumnRenamed("sum(output_rows)", "total").collect()
    }
    for stage, total in rows_m.items():
        assert total == lineage_rows[stage], stage


def test_run_releases_cc_scratch(spark, run):
    """Every frame a stage persists dies with that stage: after the run
    nothing the run persisted is still cached — connected_components'
    returned labels over <scratch_dir>/run_*/labels_final, linking's
    banded table, post_process's and align's fan-outs — and the
    per-stage base/tmp scratch dir is gone."""
    import os

    pipe, _ = run
    cached = [
        str(info.name())
        for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    ]
    assert cached == []
    assert not os.path.exists(f"{pipe.base_dir}/tmp")


def test_metrics_and_lineage_files_hold_rows(run):
    """Each metrics/lineage append writes its few rows as one file: no
    parquet file under base/metrics or base/lineage is empty."""
    import glob

    import pyarrow.parquet as pq

    pipe, _ = run
    for table in ("metrics", "lineage"):
        files = glob.glob(f"{pipe.base_dir}/{table}/**/*.parquet", recursive=True)
        assert files, table
        empty = [f for f in files if pq.ParquetFile(f).metadata.num_rows == 0]
        assert empty == [], table


def test_no_overmerge(run):
    """Each canonical node's aliases must share one normalized stem family —
    guards against the LSH/CC over-merge failure mode."""
    _, result = run
    nodes = result.tables["nodes"].collect()
    import re

    for n in nodes:
        stems = {
            re.sub(r"(v2$)|[_\-]", "", a.lower()) for a in n.aliases
        }
        assert len(stems) <= 2, (n.canonical, sorted(n.aliases))
