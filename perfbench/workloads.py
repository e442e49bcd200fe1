"""The benchmark workloads. Each one prepares seeded inputs, warms the
engine up, runs one operation per call to ``op`` (its output forced with
an all-column digest and checked), and can run the operation once more
with every layer forced and labelled on its own (``trace``) for the
per-layer metrics."""

from __future__ import annotations

import os
import random
import re
import sys
import time
import traceback

from pyspark.sql import functions as F

from corporate_knowledge_extractor_spark.config import DEFAULT_CONFIG, CanonicalizeConfig
from corporate_knowledge_extractor_spark.materialize import materialize
from corporate_knowledge_extractor_spark.operators import canonicalize as cc
from corporate_knowledge_extractor_spark.operators import dedup, linking
from corporate_knowledge_extractor_spark.operators.mentions import junk_block_filter, mention_stage
from corporate_knowledge_extractor_spark.operators.postprocess import post_process
from corporate_knowledge_extractor_spark.operators.redact import redact_columns
from corporate_knowledge_extractor_spark.operators.segment import DOC_KEY, assign_blocks, split_lines
from corporate_knowledge_extractor_spark.operators.synthesize import synthesize_triples
from corporate_knowledge_extractor_spark.plans.pipeline import (
    Pipeline,
    extract_triples,
    read_edges_for_canonical,
    read_nodes_for_canonical,
)
from corporate_knowledge_extractor_spark.sources.sinks import read_table

import gen
from probe import digest, digest_and_files, tree_cpu_s

STAGES = ["docs", "blocks", "mentions", "aligned", "triples",
          "entities", "links", "components", "nodes", "edges"]


class CheckFailed(Exception):
    pass


def dir_bytes_files(path: str) -> tuple[int, int]:
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += 1
    return size, files


def cached_bytes(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos)


def check_defines(triples, truth) -> None:
    """Every generated function definition yields exactly one `defines`
    triple (doc, fn): first occurrence per case-folded name, none from
    anywhere else."""
    got = sorted(
        (r.subj, r.obj)
        for r in triples.where(F.col("pred") == "defines").select("subj", "obj").collect()
    )
    want = []
    for doc_id, fns in truth["defines"].items():
        seen = set()
        for fn in fns:
            if fn.lower() not in seen:
                seen.add(fn.lower())
                want.append((truth["doc_key"][doc_id], fn))
    if got != sorted(want):
        raise CheckFailed(f"defines triples: got {len(got)}, expected {len(want)}")


class Workload:
    """``prepare`` (repeatable input set-up), ``warm_up``, ``op`` (one
    timed operation; returns its output digest and work counts),
    ``check`` (against ``reference``, a digest checked by an independent
    oracle) and ``trace``. Every operation runs through ``attempt``, which
    counts it in ``attempted``, and in ``failed`` if its check fails or it
    raises."""

    params: gen.Params
    warm_passes: int

    def __init__(self, spark, seed: int, work: str):
        self.spark, self.seed, self.work = spark, seed, work
        self.reference = None
        self.info: dict = {}
        self.attempted = self.failed = 0

    def attempt(self, fn, *args):
        """``fn(*args)`` as one checked operation; None if it failed."""
        self.attempted += 1
        try:
            return fn(*args)
        except CheckFailed as e:
            print(f"check failed: {e}", file=sys.stderr)
        except Exception:
            traceback.print_exc()
        self.failed += 1
        return None

    def checked_op(self) -> dict:
        """``op`` and the check of its output; ``wall`` excludes the check."""
        t0 = time.perf_counter()
        r = self.op()
        r["wall"] = time.perf_counter() - t0
        self.check(r)
        return r

    def warm_up(self) -> None:
        """``warm_passes`` checked passes. The first is the reference that
        ``check`` validates against an independent oracle; the rest let JIT
        compilation settle, which keeps shrinking a pass's CPU for several
        passes. A fixed count, not "until steady", so every run measures
        from the same point. A failed pass ends the warm-up."""
        for _ in range(self.warm_passes):
            c0 = tree_cpu_s(os.getpid())
            if self.attempt(self.checked_op) is None:
                return
            self.info.setdefault("warm_cpu_s", []).append(tree_cpu_s(os.getpid()) - c0)

    def write_docs(self, name: str, seed: int, p: gen.Params):
        pdf, truth = gen.generate(seed, p)
        path = os.path.join(self.work, f"{name}.parquet")
        pdf.to_parquet(path, index=False, row_group_size=500)
        self.input_bytes = os.path.getsize(path)
        self.pdf = pdf
        return self.spark.read.parquet(path), truth

    def check(self, result) -> None:
        if self.reference is None:
            self.check_semantics()
            self.reference = result["digest"]
        if result["digest"] != self.reference:
            raise CheckFailed(f"digest {result['digest']} != reference {self.reference}")


class Extract(Workload):
    """extract_triples over a seeded corpus read from parquet. Its traced
    run also builds a small graph with the staged Pipeline, one stage at a
    time, and looks ids up in it: the pipeline layers' metrics."""

    params = gen.Params(n_docs=4000)
    warm_passes = 6
    graph = gen.Params(n_docs=200)
    LOOKUPS = 10
    ABSENT_SHARE = 0.1

    def prepare(self) -> None:
        self.docs, self.truth = self.write_docs("docs", self.seed, self.params)

    def op(self) -> dict:
        # the previous op's caches go now, not after the op: the check of
        # the first op re-reads this op's cached intermediates
        self.spark.catalog.clearCache()
        self.last = extract_triples(self.docs)
        d = digest(self.last)
        return {"digest": d, "docs": self.params.n_docs, "triples": d[0]}

    def check_semantics(self) -> None:
        check_defines(self.last, self.truth)

    def trace(self, span):
        """Each extract module's public call forced in turn, its output
        feeding the next; then the staged graph build and lookups."""
        cfg = DEFAULT_CONFIG
        self.spark.catalog.clearCache()
        with span("segment"):
            lines = materialize(split_lines(self.docs.repartition(*DOC_KEY)))
            blocks = materialize(assign_blocks(lines))
        n_blocks = blocks.select(*DOC_KEY, "block_id").distinct().count()
        with span("mentions"):
            kept = materialize(junk_block_filter(blocks))
            mentions = materialize(mention_stage(kept, cfg.mentions))
        n_kept = kept.select(*DOC_KEY, "block_id").distinct().count()
        with span("redact"):
            red = materialize(redact_columns(
                mentions.withColumn("_orig", F.col("surface")), ["surface"], cfg.redaction))
        rows_changed = red.where(F.col("surface") != F.col("_orig")).count()
        before = cached_bytes(self.spark)
        with span("materialize"):
            fanout = materialize(red.drop("_orig"))
        fanout_bytes = cached_bytes(self.spark) - before
        with span("synthesize"):
            synth = materialize(synthesize_triples(fanout))
        with span("postprocess"):
            out = digest(post_process(synth, persist=True))
        if out != self.reference:
            raise CheckFailed(f"traced digest {out} != reference {self.reference}")
        layers = ("segment", "mentions", "redact", "materialize", "synthesize", "postprocess")
        traced_s = sum(span.wall[n] for n in layers)
        m = {
            "segment.lines_out": lines.count(),
            "segment.blocks_out": n_blocks,
            "mentions.junk_blocks_dropped": n_blocks - n_kept,
            "mentions.rows_out": mentions.count(),
            "redact.rows_changed": rows_changed,
            "synthesize.rows_out": synth.count(),
            "postprocess.keep_ratio": out[0] / synth.count(),
            "materialize.cached_bytes": fanout_bytes,
        }
        self.spark.catalog.clearCache()
        m.update(self.trace_graph(span))

        def finish(ev, wall):
            for layer in ("segment", "mentions", "redact", "synthesize", "postprocess"):
                m[f"{layer}.wall_s"] = wall[layer]
                m[f"{layer}.cpu_s"] = ev[layer]["cpu_s"]
            m["postprocess.shuffle_bytes"] = ev["postprocess"]["shuffle_write"]
            m["materialize.spill_bytes"] = ev["materialize"]["spill"]
            g = lambda *stages, k: sum(ev[f"stage.{s}"][k] for s in stages)  # noqa: E731
            w = lambda *stages: sum(wall[f"stage.{s}"] for s in stages)  # noqa: E731
            m.update({
                "align.wall_s": w("aligned"), "align.cpu_s": g("aligned", k="cpu_s"),
                "align.shuffle_bytes": g("aligned", k="shuffle_write"),
                "align.spill_bytes": g("aligned", k="spill"),
                "linking.wall_s": w("entities", "links"),
                "linking.jobs": g("entities", "links", k="jobs"),
                "canonicalize.wall_s": w("components", "nodes", "edges"),
                "canonicalize.jobs": g("components", "nodes", "edges", k="jobs"),
                "sinks.write_s": w("docs"),
                "pipeline.jobs": g(*STAGES, k="jobs"),
                "lookup.jobs": ev["lookup"]["jobs"] / self.LOOKUPS,
            })
            return m
        return finish, traced_s

    def trace_graph(self, span) -> dict:
        """Build the graph of a small seeded corpus with one Pipeline.run
        per stage (resume=True, stop_after=stage), so each call builds
        exactly one new stage under its own job group; check it; then look
        ids up in it, each lookup checked against a full scan."""
        docs, truth = self.write_docs("graph_docs", self.seed, self.graph)
        base = os.path.join(self.work, "graph")
        bookkeeping = 0.0
        for stage in STAGES:
            with span(f"stage.{stage}"):
                t0 = time.perf_counter()
                res = Pipeline(self.spark, base, run_id="traced").run(
                    docs=docs, resume=True, stop_after=stage)
                bookkeeping += time.perf_counter() - t0 - sum(res.stage_seconds.values())
        self.spark.catalog.clearCache()
        t = {s: read_table(self.spark, f"{base}/tables/{s}") for s in STAGES}
        check_graph(t, truth)
        metrics = read_table(self.spark, f"{base}/metrics")
        cand = linking.entity_candidate_pairs(t["entities"], DEFAULT_CONFIG.linking).count()
        size, n_files = dir_bytes_files(base)
        tables_size, _ = dir_bytes_files(os.path.join(base, "tables"))
        self.info["output_bytes_per_input_byte"] = tables_size / self.input_bytes
        m = {
            "align.rows_out": t["aligned"].count(),
            "linking.candidate_pairs": cand,
            "linking.link_yield": t["links"].count() / cand if cand else 0.0,
            "canonicalize.rounds": metrics.where(F.col("metric").startswith("cc_changed_iter_")).count(),
            "sinks.bytes_written": size,
            "sinks.files_written": n_files,
            "pipeline.bookkeeping_s": bookkeeping,
        }
        m.update(self.trace_lookups(span, base, t["nodes"], t["edges"]))
        return m

    def trace_lookups(self, span, base, nodes, edges) -> dict:
        """Id-keyed lookups, keys skewed toward hub canonicals (weighted by
        total_freq) plus a share of ids in no table."""
        hubs = nodes.select("canonical_id", "total_freq").collect()
        rng = random.Random(self.seed)
        keys = rng.choices([r[0] for r in hubs], weights=[r[1] for r in hubs],
                           k=round(self.LOOKUPS * (1 - self.ABSENT_SHARE)))
        present = {r[0] for r in hubs}
        while len(keys) < self.LOOKUPS:
            k = rng.getrandbits(63) - (1 << 62)
            if k not in present:
                keys.append(k)
        # the oracle: per-key digests from one full scan of each table
        kdf = self.spark.createDataFrame([(k,) for k in set(keys)], "k long")
        expect = {k: [(0, 0), (0, 0)] for k in keys}
        for i, (tbl, col) in enumerate(((nodes, "canonical_id"), (edges, "dst"))):
            h = F.shiftright(F.xxhash64(*tbl.columns), 24)
            for r in (tbl.join(kdf, F.col(col) == F.col("k"), "left_semi")
                      .groupBy(col).agg(F.count(F.lit(1)), F.sum(h)).collect()):
                expect[r[0]][i] = (int(r[1]), int(r[2]))
        rows = files = 0
        walls = []
        for k in keys:
            with span("lookup"):
                t0 = time.perf_counter()
                got = [digest_and_files(read_nodes_for_canonical(self.spark, base, k)),
                       digest_and_files(read_edges_for_canonical(self.spark, base, k))]
                walls.append(time.perf_counter() - t0)
            files += sum(n for _, n in got)
            got = [d for d, _ in got]
            if got != expect[k]:
                raise CheckFailed(f"lookup {k}: {got} != full scan {expect[k]}")
            rows += got[0][0] + got[1][0]
        walls.sort()
        self.info.update(lookup_p50_ms=1e3 * walls[len(walls) // 2], lookup_max_ms=1e3 * walls[-1])
        return {"lookup.files_scanned": files / len(keys), "lookup.rows_returned": rows / len(keys)}


def check_graph(t, truth) -> None:
    """Checks that hold for any input: one `defines` triple per generated
    definition; every triple lands in exactly one edge (edge weights sum
    to the triple count); every entity in exactly one node."""
    check_defines(t["triples"], truth)
    n_triples = t["triples"].count()
    w = t["edges"].agg(F.sum("weight")).first()[0]
    if w != n_triples:
        raise CheckFailed(f"edge weights {w} != triples {n_triples}")
    n_alias = t["nodes"].agg(F.sum("n_aliases")).first()[0]
    if n_alias != t["entities"].count():
        raise CheckFailed(f"node aliases {n_alias} != entities")


class CorpusDedup(Workload):
    """MinHash-LSH near-duplicate pairs closed into clusters, plus SimHash
    pairs, over a corpus with injected edit chains."""

    params = gen.Params(n_docs=1200, neardup_share=0.3, chain_depth=4)
    warm_passes = 2
    MIN_RECALL = 0.9

    def prepare(self) -> None:
        docs, self.truth = self.write_docs("docs", self.seed, self.params)
        self.docs = docs.select("doc_id", F.col("content").alias("text"))

    def op(self) -> dict:
        # the previous op's caches go now, not after the op: the check of
        # the first op re-reads this op's cached intermediates
        self.spark.catalog.clearCache()
        pairs = dedup.minhash_lsh_pairs(self.docs)
        clusters = dedup.neardup_clusters(self.docs, pairs)
        sim = dedup.simhash_pairs(self.docs)
        self.last = (pairs, clusters, sim)
        return {"digest": digest(clusters) + digest(sim), "docs": self.params.n_docs}

    def check_semantics(self) -> None:
        """Against an independent reimplementation: every MinHash pair has
        exact word-3-gram Jaccard >= 0.6, clusters are the connected
        components of the pairs, most generated edit links are found, and
        SimHash pairs are within the hamming radius."""
        pairs, clusters, sim = (df.collect() for df in self.last)
        texts = dict(zip(self.pdf.doc_id, self.pdf.content))

        def shingles(t):
            w = re.sub(r"\s+", " ", t.lower()).strip().split(" ")
            return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)} if len(w) >= 3 else {" ".join(w)}

        sh = {k: shingles(t) for k, t in texts.items()}
        found = set()
        for p in pairs:
            a, b = sh[p.id_a], sh[p.id_b]
            j = round(len(a & b) / len(a | b), 4)
            if p.id_a >= p.id_b or j < 0.6 or abs(j - p.jaccard) > 1e-4:
                raise CheckFailed(f"minhash pair {p} has exact jaccard {j}")
            found.add((p.id_a, p.id_b))
        parent = {k: k for k in texts}

        def root(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x
        for a, b in found:
            ra, rb = root(a), root(b)
            parent[max(ra, rb)] = min(ra, rb)
        want = {k: root(k) for k in texts}
        if {r.doc_id: r.cluster_id for r in clusters} != want:
            raise CheckFailed("neardup clusters differ from the components of the pairs")
        links = self.truth["links"]
        recall = sum((min(a, b), max(a, b)) in found for a, b in links) / len(links)
        self.info["link_recall"] = recall
        if recall < self.MIN_RECALL:
            raise CheckFailed(f"edit-link recall {recall:.3f} < {self.MIN_RECALL}")
        if any(s.hamming > 7 or s.id_a >= s.id_b for s in sim):
            raise CheckFailed("simhash pair outside the hamming radius")

    def trace(self, span):
        """minhash_lsh_pairs, the connected components neardup_clusters
        runs (with a round counter) and simhash_pairs, each forced in
        turn."""
        self.spark.catalog.clearCache()
        cfg = dedup.DOC_DEDUP_CFG
        with span("dedup"):
            pairs = materialize(dedup.minhash_lsh_pairs(self.docs))
        rounds = []
        with span("canonicalize"):
            comps = cc.connected_components(
                self.docs.select(F.col("doc_id").alias("entity_id")).distinct(),
                pairs.select("id_a", "id_b"),
                CanonicalizeConfig(local_contract=True),
                on_iteration=lambda i, changed: rounds.append(i),
            )
        with span("dedup"):
            sim = digest(dedup.simhash_pairs(self.docs))
        traced_s = span.wall["dedup"] + span.wall["canonicalize"]
        clusters = comps.select(
            F.col("entity_id").alias("doc_id"), F.col("component").alias("cluster_id"),
            (F.col("entity_id") == F.col("component")).alias("is_representative"))
        if digest(clusters) + sim != self.reference:
            raise CheckFailed("traced dedup output differs from the reference")
        base = self.docs.select(F.col("doc_id").alias("id"), dedup.normalize_text(F.col("text")).alias("t"))
        cand = linking.candidate_id_pairs(
            linking.lsh_band_keys(base, "id", dedup.word_shingles(F.col("t"), cfg.shingle_size), cfg),
            cfg).count()
        m = {
            "dedup.candidate_pairs": cand,
            "dedup.verify_yield": pairs.count() / cand if cand else 0.0,
            "dedup.clusters": comps.groupBy("component").count().where(F.col("count") > 1).count(),
            "canonicalize.rounds": len(rounds),
        }
        self.spark.catalog.clearCache()

        def finish(ev, wall):
            m.update({
                "dedup.wall_s": wall["dedup"], "dedup.cpu_s": ev["dedup"]["cpu_s"],
                "dedup.jobs": ev["dedup"]["jobs"],
                "canonicalize.wall_s": wall["canonicalize"],
                "canonicalize.jobs": ev["canonicalize"]["jobs"],
            })
            return m
        return finish, traced_s


WORKLOADS = {"extract": Extract, "corpus_dedup": CorpusDedup}
