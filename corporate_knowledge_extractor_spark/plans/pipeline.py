"""The staged KG-construction pipeline: docs -> ... -> nodes + edges.

Stage layout mirrors the reference's process_file() lifecycle
(/root/reference/scripts/run.py:106-199; trace in SURVEY.md §3.1), but as
a checkpointed DAG of table writes instead of an in-memory list relay.
``Pipeline._plan`` declares it once, as an ordered (name, build) list,
and one loop in ``Pipeline.run`` executes it:

  docs -> blocks -> mentions -> aligned -> triples -> entities ->
  links -> components -> nodes -> edges   (+ lineage and metrics tables)

or, with ``EngineConfig.frames_enabled`` off (the reference's audio-only
early exit), docs -> blocks -> transcript plus a transcript-only report.

north_rule contracts implemented here:
  * resumable from per-stage checkpoints — each stage writes parquet with
    a `_SUCCESS` marker; a re-run reuses any stage whose output exists
    (kill/resume covered by tests/test_resume.py);
  * per-partition lineage — (run_id, stage, partition_id, output_rows,
    wall_ms) appended per stage, plus per-stage metrics rows (the Spark
    form of the reference's metadata.json, src/output/generator.py:49-55);
  * explicit partitioning — every per-document stage shares one hash
    partitioning on the doc key; linking repartitions by LSH band key;
    CC rounds are equi-joins under AQE skew handling.

In the sandbox "Iceberg table" materializes as parquet directories behind
the same writer interface (Iceberg jars are not in the image; the writer
gates on availability — sources/sinks.py).
"""

from __future__ import annotations

import shutil
import time
import uuid
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from corporate_knowledge_extractor_spark.config import (
    DEFAULT_CONFIG,
    AlignmentConfig,
    EngineConfig,
)
from corporate_knowledge_extractor_spark.corpus import generate_corpus
from corporate_knowledge_extractor_spark.materialize import materialize, release_scope
from corporate_knowledge_extractor_spark.operators import canonicalize as cc
from corporate_knowledge_extractor_spark.operators import linking
from corporate_knowledge_extractor_spark.operators.align import align_segments_to_frames
from corporate_knowledge_extractor_spark.operators.mentions import (
    junk_block_filter,
    mention_stage,
    tag_mentions,
)
from corporate_knowledge_extractor_spark.operators.postprocess import post_process
from corporate_knowledge_extractor_spark.operators.redact import redact_columns
from corporate_knowledge_extractor_spark.operators.segment import (
    DOC_KEY,
    assign_blocks,
    block_segments,
    split_lines,
)
from corporate_knowledge_extractor_spark.operators.synthesize import synthesize_triples
from corporate_knowledge_extractor_spark.sources.report import write_transcript_report
from corporate_knowledge_extractor_spark.sources.sinks import table_exists, read_table, write_table


def blocked_lines(docs: DataFrame) -> DataFrame:
    """docs -> one row per line with its block id, junk blocks dropped:
    the shared head of ``extract_triples`` and the staged blocks stage.

    Exchange placement (guide §2.3 / §3.3 "explode after the shuffle"):
    the block/cap windows force one hash(doc-key) exchange; with the
    explode first, that exchange ships the 25M-row LINE table with the
    doc-key strings duplicated per line (541 MB at sf1.0). Clustering
    the 500k-row doc table BEFORE split_lines moves the same exchange
    below the explode — one content blob per doc crosses instead (50x
    fewer rows, no per-line key duplication), and Generate preserves
    the partitioning so every downstream window/join still reuses it.
    Measured result-identical, ~5% less CPU at sf1.0 locally
    (OPTIMIZATION_r06.md "Second pass" item 2); the row-count win is
    the point at network-shuffle scale."""
    return junk_block_filter(assign_blocks(split_lines(docs.repartition(*DOC_KEY))))


def extract_triples(docs: DataFrame, cfg: EngineConfig = DEFAULT_CONFIG,
                    persist: bool = True) -> DataFrame:
    """The extraction slice (docs -> triples) as one lazy chain.

    ``cfg.redaction`` chooses the masks applied to mention surfaces; a
    RedactionConfig with every mask off compiles the redaction pass out
    of the plan (redact_expr is then the identity).

    For callers that don't checkpoint stage tables (entry smoke, bench,
    the kg_triples query) the mention fan-out point is persisted
    explicitly: `synthesize_triples`/`post_process` re-scan the mention
    table several times — without persistence the whole upstream chain
    (including corpus generation) re-executes per scan (measured ~2x
    end-to-end at 300k docs).

    The materialization is a *serialized in-memory persist* (eagerly
    counted), not localCheckpoint: (a) serialized blocks are 3-5x
    smaller, so at bench scale they stay entirely in executor memory
    instead of serializing every round on the sandbox's one shared disk
    (the measured scaling drag: ext 0.82 -> ext_nockpt 0.91 efficiency at
    2->8 cores); (b) `spark.catalog.clearCache()` actually releases
    persisted blocks, while localCheckpoint RDDs leak until GC — repeated
    bench runs degraded measurably from the accumulation. The eager
    count keeps the round-1 rule: concurrent downstream scans must never
    race on uncached partitions. Release contract (materialize.py): its
    callers run it outside any `release_scope()` and free its persists
    with clearCache; called inside a scope, they go when the scope exits.

    `tags` is deliberately not computed here — the triple path never
    reads it (the staged Pipeline's mentions table keeps tags for the
    `aligned` stage); an unused array<string> column would ride through
    the persist and both downstream scans for free.
    """
    # blocked is consumed exactly once now that detect_mentions is a fused
    # single-scan rule bank — no checkpoint needed; the whole
    # docs->mentions chain is one job
    mentions = redact_columns(
        mention_stage(blocked_lines(docs), cfg.mentions),
        ["surface"],
        cfg.redaction,
    )
    if persist:
        mentions = materialize(mentions)
    # persist also gates the dedup fan-out inside post_process (the
    # known-surfaces subquery re-executes the whole dedup window chain
    # otherwise — measured 4x on the stage); same clearCache release
    # contract as the mentions persist above
    return post_process(synthesize_triples(mentions), persist=persist)


def build_aligned(blocks: DataFrame, mentions: DataFrame, cfg: AlignmentConfig) -> DataFrame:
    """Stage [5] analogue (scripts/run.py:83, src/align/aligner.py:4-20):
    align each block segment ("speech") to its best-scoring mention
    ("frame") — J1 scored interval join. Context table only; the triple
    path consumes mentions directly."""
    segs = block_segments(blocks).select(
        "repo", "path", "commit",
        F.col("block_id").alias("seg_id"),
        F.col("start").cast("double").alias("start"),
        F.col("end").cast("double").alias("end"),
        "text",
    )
    frames = mentions.select(
        "repo", "path", "commit",
        F.col("line_no").cast("double").alias("ts"),
        F.col("surface").alias("text"),
        "tags",
    )
    return align_segments_to_frames(segs, frames, cfg, persist=True)


def build_edges(triples: DataFrame, entities: DataFrame, components: DataFrame) -> DataFrame:
    """Triples -> weighted graph edges, linked objects resolved to their
    canonical entity."""
    cmap = cc.canonical_map(entities, components)
    linked_preds = ("defines", "calls", "imports_symbol")
    # no forced broadcast: the canonical map scales with distinct
    # entities; AQE broadcasts it only while it actually fits
    t_linked = triples.where(F.col("pred").isin(*linked_preds)).join(
        cmap, triples.obj == cmap.surface, "left"
    )
    t_other = triples.where(~F.col("pred").isin(*linked_preds))
    edges_linked = t_linked.select(
        F.xxhash64("subj").alias("src"),
        F.coalesce("canonical_id", F.xxhash64("obj")).alias("dst"),
        "pred",
        F.col("subj").alias("src_name"),
        F.coalesce("canonical", F.col("obj")).alias("dst_name"),
        "frame_id",
        "category",
        "repo", "path", "commit",
    )
    edges_other = t_other.select(
        F.xxhash64("subj").alias("src"),
        F.xxhash64("obj").alias("dst"),
        "pred",
        F.col("subj").alias("src_name"),
        F.col("obj").alias("dst_name"),
        "frame_id",
        "category",
        "repo", "path", "commit",
    )
    return (
        edges_linked.unionByName(edges_other)
        .groupBy("src", "dst", "pred", "src_name", "dst_name", "category")
        .agg(
            F.count(F.lit(1)).alias("weight"),
            F.min("frame_id").alias("frame_id"),
            F.min(F.concat_ws("/", "repo", "path")).alias("example_doc"),
        )
        # destination-id range bucket = the stage table's partition
        # key (STAGE_PARTITIONING): "edges into canonical X" reads
        # prune to one of GRAPH_BUCKETS dirs
        .withColumn("_dst_bucket", cc.cid_bucket(F.col("dst")))
    )


@dataclass
class PipelineResult:
    run_id: str
    tables: dict[str, DataFrame] = field(default_factory=dict)
    stage_seconds: dict[str, float] = field(default_factory=dict)
    reused_stages: list[str] = field(default_factory=list)


# a stage builder: tables of the earlier stages -> the stage's DataFrame
Build = Callable[[dict[str, DataFrame]], DataFrame]


class Pipeline:
    """Orchestrates stage execution with checkpoint/resume + lineage."""

    def __init__(
        self,
        spark: SparkSession,
        base_dir: str,
        cfg: EngineConfig = DEFAULT_CONFIG,
        run_id: str | None = None,
    ):
        self.spark = spark
        self.base_dir = base_dir.rstrip("/")
        self.cfg = cfg
        self.run_id = run_id or uuid.uuid4().hex[:12]

    # -- bookkeeping ------------------------------------------------------

    def _record_lineage(self, stage: str, df: DataFrame, wall_ms: float) -> int:
        per_part = (
            df.groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(F.count(F.lit(1)).alias("output_rows"))
            .withColumn("run_id", F.lit(self.run_id))
            .withColumn("stage", F.lit(stage))
            .withColumn("wall_ms", F.lit(float(wall_ms)))
            .select("run_id", "stage", "partition_id", "output_rows", "wall_ms")
            # one file per append: the partition ids are taken before the
            # groupBy's exchange, so collapsing its output changes no value
            .coalesce(1)
        )
        # the per-partition frame is tiny (one row per partition); total
        # rows fall out of the same aggregation for free and feed the
        # per-stage throughput metric below
        rows = per_part.persist()
        write_table(rows, f"{self.base_dir}/lineage", mode="append")
        total = rows.agg(F.sum("output_rows")).first()[0] or 0
        rows.unpersist()
        return int(total)

    def record_metrics(self, stage: str, metrics: dict[str, float]) -> None:
        """Appends one metrics row per entry, all in one write (one job,
        one file: a local frame of a few rows would otherwise spread over
        the default parallelism and leave empty parquet files)."""
        rows = self.spark.createDataFrame(
            [(self.run_id, stage, name, float(v)) for name, v in metrics.items()],
            "run_id string, stage string, metric string, value double",
        ).coalesce(1)
        write_table(rows, f"{self.base_dir}/metrics", mode="append")

    # stage-table partition columns: docs partitioned by lang so downstream
    # lang-pruned scans (vendored/generated-code exclusion at 100 TB) hit
    # Iceberg/parquet partition pruning instead of reading everything;
    # the OUTPUT graph tables partitioned by canonical-id range bucket
    # (canonicalize.GRAPH_BUCKETS) so id-keyed graph lookups prune to one
    # dir instead of scanning the whole table — read_nodes_for_canonical /
    # read_edges_for_canonical below, pruning CI-pinned in test_plans
    STAGE_PARTITIONING: dict[str, list[str]] = {
        "docs": ["lang"],
        "nodes": ["_cid_bucket"],
        "edges": ["_dst_bucket"],
    }

    def _stage(self, name: str, build: Build, result: PipelineResult, resume: bool) -> None:
        path = f"{self.base_dir}/tables/{name}"
        if resume and table_exists(self.spark, path):
            result.reused_stages.append(name)
            result.tables[name] = read_table(self.spark, path)
            return
        t0 = time.time()
        # what the builder persists (materialize.py) or spills under
        # base/tmp lives for this stage only: both go the moment the stage
        # table is written — precise release, not a session-wide
        # clearCache that would drop caches the caller owns
        with release_scope():
            write_table(
                build(result.tables), path, mode="overwrite",
                partition_by=self.STAGE_PARTITIONING.get(name),
            )
            wall_ms = (time.time() - t0) * 1000
        shutil.rmtree(f"{self.base_dir}/tmp", ignore_errors=True)
        out = read_table(self.spark, path)  # read back: downstream plans scan parquet
        result.stage_seconds[name] = wall_ms / 1000
        total_rows = self._record_lineage(name, out, wall_ms)
        # per-stage throughput: the scaling-history row (round-3 verdict
        # task 8) — runs at different parallelism/scale become comparable
        # straight from the metrics table, no re-instrumentation
        self.record_metrics(name, {
            "wall_ms": wall_ms,
            "output_rows": total_rows,
            "rows_per_sec": total_rows / max(wall_ms / 1000, 1e-9),
        })
        result.tables[name] = out

    def incremental_docs(self, docs: DataFrame) -> DataFrame:
        """Doc-level incremental ingest (the reference ROADMAP's
        'track processed videos, skip re-processing', ROADMAP.md:451-454;
        north_rule resumability): anti-join incoming docs against the
        (repo, path, commit) keys already present in the triples stage
        table. Returns only the not-yet-processed documents."""
        path = f"{self.base_dir}/tables/triples"
        if not table_exists(self.spark, path):
            return docs
        done = read_table(self.spark, path).select("repo", "path", "commit").distinct()
        return docs.join(done, ["repo", "path", "commit"], "left_anti")

    # -- the pipeline -----------------------------------------------------

    def _components(self, t: dict[str, DataFrame]) -> DataFrame:
        # scratch inside the run dir's per-stage tmp: CC's lineage-cut
        # tables are scrubbed to labels_final at convergence; the returned
        # labels (a persisted scan of labels_final) go with the stage's
        # release scope, and _stage removes the dir after the write
        return cc.connected_components(
            t["entities"],
            t["links"],
            self.cfg.canonicalize,
            scratch_dir=f"{self.base_dir}/tmp/cc_scratch",
            on_iteration=lambda i, changed: self.record_metrics(
                "components", {f"cc_changed_iter_{i}": changed}
            ),
            # shuffle-balance evidence (north_rule: skew handled
            # explicitly): worst per-join-key reducer load after the
            # hot/cold salt split, plus how many keys went hot
            on_skew_stats=lambda s: self.record_metrics(
                "components", {f"cc_{k}": v for k, v in s.items()}
            ),
        )

    def _plan(self, docs: DataFrame | None, sf: float) -> list[tuple[str, Build]]:
        cfg = self.cfg
        plan: list[tuple[str, Build]] = [
            ("docs", lambda t: docs if docs is not None else generate_corpus(self.spark, sf=sf)),
            ("blocks", lambda t: blocked_lines(t["docs"])),
        ]
        if not cfg.frames_enabled:
            # the reference's audio-only early exit (scripts/run.py:52-74):
            # no frames -> skip OCR/tagging/alignment entirely; anonymize
            # the transcript (audio_only.yaml notes: "Anonymization still
            # applied to transcripts"); run() then builds the report from
            # segments
            return plan + [
                ("transcript", lambda t: redact_columns(
                    block_segments(t["blocks"]), ["text"], cfg.redaction)),
            ]
        return plan + [
            ("mentions", lambda t: redact_columns(
                tag_mentions(mention_stage(t["blocks"], cfg.mentions)),
                ["surface"],
                cfg.redaction,
            )),
            ("aligned", lambda t: build_aligned(t["blocks"], t["mentions"], cfg.alignment)),
            # the dedup fan-out inside post_process is persisted for the
            # duration of this stage only (the stage's release scope)
            ("triples", lambda t: post_process(synthesize_triples(t["mentions"]), persist=True)),
            ("entities", lambda t: linking.extract_entities(t["triples"])),
            ("links", lambda t: linking.score_pairs(
                linking.entity_candidate_pairs(t["entities"], cfg.linking),
                t["entities"],
                cfg.linking,
            )),
            ("components", self._components),
            ("nodes", lambda t: cc.build_nodes(t["entities"], t["components"])),
            ("edges", lambda t: build_edges(t["triples"], t["entities"], t["components"])),
        ]

    def run(
        self,
        docs: DataFrame | None = None,
        sf: float = 0.001,
        resume: bool = True,
        stop_after: str | None = None,
    ) -> PipelineResult:
        result = PipelineResult(run_id=self.run_id)
        plan = self._plan(docs, sf)
        names = [name for name, _ in plan]
        # checked before any stage writes, so a bad name leaves nothing on disk
        if stop_after is not None and stop_after not in names:
            raise ValueError(
                f"Pipeline.run: stop_after={stop_after!r} is not a stage of "
                f"this plan; expected one of {names}"
            )
        for name, build in plan:
            self._stage(name, build, result, resume)
            if name == stop_after:
                return result
        if not self.cfg.frames_enabled:
            meta = write_transcript_report(
                f"{self.base_dir}/report", result.tables["transcript"]
            )
            self.record_metrics("transcript", {"segments": meta["segments_count"]})
        return result


def read_edges_for_canonical(
    spark: SparkSession, base_dir: str, canonical_id: int
) -> DataFrame:
    """Id-keyed edge lookup against the partitioned edges stage table:
    the `_dst_bucket = pmod(id, GRAPH_BUCKETS)` predicate is a partition
    filter, so the scan prunes to one bucket directory (1/GRAPH_BUCKETS
    of the table) before the row-level `dst = id` filter runs — the
    access path an unpartitioned 100-TB edges table cannot give. Pruning
    is asserted on inputFiles() in tests/test_plans.py."""
    from corporate_knowledge_extractor_spark.operators.canonicalize import (
        GRAPH_BUCKETS,
    )

    df = read_table(spark, f"{base_dir.rstrip('/')}/tables/edges")
    return df.where(
        (F.col("_dst_bucket") == int(canonical_id) % GRAPH_BUCKETS)
        & (F.col("dst") == canonical_id)
    )


def read_nodes_for_canonical(
    spark: SparkSession, base_dir: str, canonical_id: int
) -> DataFrame:
    """Node-row lookup with partition pruning on `_cid_bucket` (see
    read_edges_for_canonical)."""
    from corporate_knowledge_extractor_spark.operators.canonicalize import (
        GRAPH_BUCKETS,
    )

    df = read_table(spark, f"{base_dir.rstrip('/')}/tables/nodes")
    return df.where(
        (F.col("_cid_bucket") == int(canonical_id) % GRAPH_BUCKETS)
        & (F.col("canonical_id") == canonical_id)
    )


def verify_sha256(docs: DataFrame, reference_docs: DataFrame) -> int:
    """The per-row content invariant (BASELINE.json input_hint): recompute
    sha2(content, 256) and anti-join against the reference corpus hashes;
    returns number of mismatches (must be 0)."""
    ours = docs.select(
        "repo", "path", "commit", F.sha2(F.col("content"), 256).alias("h")
    )
    ref = reference_docs.select(
        "repo", "path", "commit", F.col("content_sha256").alias("h")
    )
    return ours.join(ref, ["repo", "path", "commit", "h"], "left_anti").count()
