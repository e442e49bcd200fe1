"""Physical-plan audit: dump .explain("formatted") for headline queries
and grep the properties that matter at 100 TB.

Run: python -m corporate_knowledge_extractor_spark.plans.explain_report
Writes PLANS.md at the repo root — the reviewable evidence that filters
push down to the parquet scan, projections prune columns, small sides
broadcast, and the hot path stays inside WholeStageCodegen.
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

CHECKS = {
    "pushed_filters": re.compile(r"PushedFilters: \[(?!\])"),
    "broadcast_join": re.compile(r"BroadcastHashJoin|BroadcastExchange"),
    # codegen operators: '*'-prefixed tree nodes, or the formatted-mode
    # detail annotation ('[codegen id : N]'); under AQE both appear only
    # in the FINAL plan, so plan_text() executes the frame first
    "codegen": re.compile(r"^\s*[:+\-| ]*\* ?[A-Z]|\[codegen id :", re.M),
    "partition_pruning": re.compile(r"PartitionFilters: \[(?!\])"),
    # rows handed to Python workers (pandas/Arrow UDFs, mapInPandas)
    "python_eval": re.compile(
        r"ArrowEvalPython|BatchEvalPython|MapInPandas|MapInArrow|FlatMapGroupsInPandas"
    ),
}

AUDITED = [
    "pricing_summary",     # pushdown + agg
    "topk_per_group",      # window rank
    "interval_join",       # range join
    "asof_join",           # as-of via window argmax
    "semi_join_customers", # broadcast left-semi expected
    "category_argmax",     # wide expression, codegen
    "minhash_neardup",     # LSH self-join
    "simhash_neardup",     # native SimHash aggregate + chunk self-join
    "neardup_clusters",    # pairs -> iterative CC (final labels scan)
    "embedding_topk",      # broadcast crossJoin + window
    "embedding_ann",       # bucket equi-join + multiprobe explode
    "kg_triples",          # flagship extraction chain + mentions fan-out
]


def plan_text(df, execute: bool = True) -> str:
    """Formatted physical plan; executes the frame first by default so
    AQE's *final* plan (with whole-stage-codegen ids and runtime join
    selections) is what gets audited — the pre-execution plan hides both."""
    if execute:
        # collect (not a write/count, which spawn their OWN executions)
        # finalizes this frame's queryExecution; every audited query
        # returns a small aggregated/top-k result by construction
        df.collect()
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main(sf_dir: str = "/root/testdata/sf0.01", out_path: str | None = None) -> None:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))
    from corporate_knowledge_extractor_spark.plans.queries import REGISTRY
    from corporate_knowledge_extractor_spark.session import get_spark

    spark = get_spark(app_name="ckg-explain", master="local[8]", shuffle_partitions=8)
    # AQE wraps everything in AdaptiveSparkPlan, which suppresses the '*'
    # codegen annotations in explain output; render plans with AQE off so
    # codegen spans are visible (execution keeps AQE on — session default)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    lines = [
        "# PLANS — physical-plan audit of headline queries",
        "",
        f"`.explain(\"formatted\")` at `{sf_dir}`; generated by "
        "`plans/explain_report.py`. Checklist per plan: filter pushdown "
        "reaches the parquet scan, small sides broadcast, expressions stay "
        "in WholeStageCodegen ('*'-marked operators). Plans are rendered "
        "with AQE disabled so codegen annotations are visible; execution "
        "runs with AQE + skew-join enabled (session.py defaults).",
        "",
    ]
    for name in AUDITED:
        df = REGISTRY[name].fn(spark, sf_dir)
        text = plan_text(df)
        flags = {k: bool(rx.search(text)) for k, rx in CHECKS.items()}
        lines.append(f"## {name}")
        lines.append("")
        lines.append(
            "properties: "
            + ", ".join(f"{k}={'yes' if v else 'no'}" for k, v in flags.items())
        )
        lines.append("")
        lines.append("```")
        # keep reports reviewable: head of the plan only
        head = "\n".join(text.splitlines()[:60])
        lines.append(head)
        lines.append("```")
        lines.append("")
    out = out_path or os.path.join(
        os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
        "PLANS.md",
    )
    with open(out, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {out}")


if __name__ == "__main__":
    main(*sys.argv[1:])
