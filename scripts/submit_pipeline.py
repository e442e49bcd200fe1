#!/usr/bin/env python
"""Cluster entry point for the staged KG pipeline.

Launch (north_rule contract):

    spark-submit \
        --py-files ckg.zip \
        scripts/submit_pipeline.py \
        --base-dir s3://bucket/ckg --sf 0.1 [--no-resume] \
        [--docs-table <iceberg-or-parquet-path>]

where ``ckg.zip`` is a zip of corporate_knowledge_extractor_spark/
(``session.ship_package`` builds and attaches the same zip automatically
when running locally, so plain ``python scripts/submit_pipeline.py``
also works). On a cluster, size ``--shuffle-partitions`` to
executors x cores x 2.

``--preset`` picks one ``config.PRESETS`` EngineConfig (``prose_only``
turns frames off: the transcript-only plan); ``--sample-every-n-lines``
and ``--max-per-block`` override its mention knobs.

Emits one JSON line with run_id, per-stage seconds, reused stages, and
final table counts.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    # flag surface mirrors the reference CLI (scripts/run.py:105-165):
    # --preset (incl. the frames-disabled one), manual knob overrides on
    # top of the preset, a single-file override, plus the stage-checkpoint
    # controls the reference lacks but the north_rule requires
    from corporate_knowledge_extractor_spark.config import PRESETS

    ap = argparse.ArgumentParser()
    ap.add_argument("--base-dir", required=True, help="stage-table root (posix path in sandbox; object store on a cluster)")
    ap.add_argument("--sf", type=float, default=0.01, help="synthetic corpus scale (ignored when --docs-table given)")
    ap.add_argument("--docs-table", default=None, help="existing (repo,path,commit,lang,content) parquet/Iceberg path")
    ap.add_argument("--preset", choices=sorted(PRESETS), default=None,
                    help="named parameter set (reference --preset; prose_only = audio_only analogue)")
    ap.add_argument("--sample-every-n-lines", type=int, default=None,
                    help="manual sampler override on top of the preset (reference --sample-rate)")
    ap.add_argument("--max-per-block", type=int, default=None,
                    help="manual per-block mention cap override (reference --pixel-threshold's sensitivity axis)")
    ap.add_argument("--only-path", default=None,
                    help="process one document path only (reference --file, S2 single-file override)")
    ap.add_argument("--stop-after", default=None,
                    help="run the plan only through this stage (debug/backfill)")
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--master", default=None)
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    args = ap.parse_args()

    from dataclasses import replace

    from corporate_knowledge_extractor_spark.config import DEFAULT_CONFIG
    from corporate_knowledge_extractor_spark.plans.pipeline import Pipeline
    from corporate_knowledge_extractor_spark.session import get_spark

    spark = get_spark(
        app_name="ckg-pipeline",
        master=args.master,
        shuffle_partitions=args.shuffle_partitions,
    )
    docs = spark.read.parquet(args.docs_table) if args.docs_table else None
    if args.only_path is not None:
        if docs is None:
            from corporate_knowledge_extractor_spark.corpus import generate_corpus

            docs = generate_corpus(spark, sf=args.sf)
        docs = docs.where(docs.path == args.only_path)
        if docs.limit(1).count() == 0:
            # fail like the reference does ("Error: File not found"),
            # before an empty docs stage is checkpointed to disk
            sys.exit(f"error: --only-path matched no document: {args.only_path}")

    cfg = PRESETS[args.preset] if args.preset else DEFAULT_CONFIG
    mention_overrides = {
        k: v
        for k, v in {
            "sample_every_n_lines": args.sample_every_n_lines,
            "max_per_block": args.max_per_block,
        }.items()
        if v is not None
    }
    if mention_overrides:
        # manual knobs sit ON TOP of the preset, reference semantics
        # (run.py: explicit flags override the preset yaml)
        cfg = replace(cfg, mentions=replace(cfg.mentions, **mention_overrides))

    pipe = Pipeline(spark, args.base_dir, cfg=cfg)
    result = pipe.run(
        docs=docs, sf=args.sf, resume=not args.no_resume,
        stop_after=args.stop_after,
    )
    out = {
        "run_id": result.run_id,
        "reused_stages": result.reused_stages,
        "stage_seconds": {k: round(v, 2) for k, v in result.stage_seconds.items()},
        "counts": {
            name: result.tables[name].count()
            for name in ("triples", "nodes", "edges", "transcript")
            if name in result.tables
        },
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
