"""Triple synthesis: typed mentions -> (subj, pred, obj) rows.

Reference analogue: the LLM synthesis stage
(/root/reference/src/synthesize/gemini_backend.py:31-66) that turns
grouped, aligned records into structured slide_breakdown + qa_pair JSON.
BASELINE.json replaces the LLM with a deterministic rule extractor; each
rule below is one branch of a native CASE projection over the mention
table — the 1-group -> N-structured-rows shape the reference gets from
per-document chunking, here free of Python entirely.

Triple schema (FIXTURES.md §2): (repo, path, commit, subj, pred, obj,
frame_id, line_no, category added by postprocess).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from corporate_knowledge_extractor_spark.operators.segment import DOC_KEY


def _doc_key() -> F.Column:
    return F.concat_ws("/", F.col("repo"), F.col("path"))


def synthesize_triples(mentions: DataFrame) -> DataFrame:
    """Rules:
      R1  import mention          -> (doc, imports, module)
      R2  import_symbol mention   -> (doc, imports_symbol, symbol)
      R3  function_def mention    -> (doc, defines, fn)
      R4  call mention            -> (doc::enclosing_fn, calls, callee)
    The enclosing fn of a call is the block's first function_def — a
    per-(doc, block) equi-join, shuffle-free after the mention stage's
    doc-key partitioning (same keys, Catalyst reuses the exchange).

    Round-6 shape (guide §2.4 "remove shuffles outright"): ONE pass —
    every mention left-joins its block's first def and a CASE projection
    emits the right (subj, pred) per mention type, instead of the
    non-call/call branch union this replaces. Same triple set, but two
    structural wins: the mention table is scanned once, not twice, and
    the output keeps the hash(doc-key) partitioning the mention stage
    established (a Union erases partitioning info), so the downstream
    normalized dedup aggregates in place with NO exchange — at sf1.0
    that exchange moved 1.1 GB, the largest shuffle in the extract plan.
    """
    doc = _doc_key()
    frame_id = F.lpad(F.col("orig_idx").cast("string"), 3, "0")

    pred_map = {
        "import": "imports",
        "import_symbol": "imports_symbol",
        "function_def": "defines",
    }

    # Re-establish doc-key clustering explicitly: the mention table
    # arrives from a cache or a stage-table read, and both erase
    # partitioning info under AQE, which would force the defs join to
    # exchange BOTH sides by (doc, block). One exchange by the doc key
    # alone satisfies the join's clustering requirement on both sides
    # (ReuseExchange runs it once), and — because hash(doc) also
    # clusters every normalized-dedup group key — post_process's dedup
    # aggregate then runs in place with no further exchange.
    mentions = mentions.select(
        *DOC_KEY, "block_id", "line_no", "mention_type", "surface", "orig_idx"
    ).repartition(*DOC_KEY)

    # R4's lookup side: the block's first def (min line_no).
    defs_per_block = (
        mentions.where(F.col("mention_type") == "function_def")
        .groupBy(*DOC_KEY, "block_id")
        .agg(F.min_by("surface", "line_no").alias("enclosing_fn"))
    )
    # shuffle_hash, NOT broadcast: defs_per_block scales WITH the corpus
    # (one row per block holding a def), so it is never safely
    # broadcastable at scale — and the sandbox measured AQE picking a
    # 1.86M-row broadcast at 400k docs (just under the 64MB threshold)
    # whose serial driver-side build was the synthesis stage's scaling
    # floor: calls-join 5.65s -> 2.37s at 4 executors with the hint
    # (efficiency 0.36 -> 0.83, BENCH/stage_diagnose_r05.json probe).
    # Both sides are partitioned by the doc key already (defs_per_block
    # is a partial-agg over the same table), so the hinted join reuses
    # that partitioning instead of exchanging either side.
    is_call = F.col("mention_type") == "call"
    joined = mentions.join(
        defs_per_block.hint("shuffle_hash"), [*DOC_KEY, "block_id"], "left"
    )
    pred = F.when(is_call, F.lit("calls")).otherwise(
        F.coalesce(
            *[
                F.when(F.col("mention_type") == t, F.lit(p))
                for t, p in pred_map.items()
            ]
        )
    )
    subj = F.when(
        is_call, F.concat(doc, F.lit("::"), F.col("enclosing_fn"))
    ).otherwise(doc)
    return (
        joined.where(
            F.col("mention_type").isin(*pred_map)
            | (is_call & F.col("enclosing_fn").isNotNull())
        )
        .select(
            *DOC_KEY,
            subj.alias("subj"),
            pred.alias("pred"),
            F.col("surface").alias("obj"),
            frame_id.alias("frame_id"),
            F.col("line_no"),
        )
    )


def renumber_frames(triples: DataFrame) -> DataFrame:
    """W3: compute the zero-padded FRAME_ID *once* and carry it — the
    reference computes it independently in two places and documents the
    resulting mismatch bug class (/root/reference/CLAUDE.md:157-163,
    216-218); computing once is the fix SURVEY.md §2.5 prescribes."""
    w = W.partitionBy(*DOC_KEY).orderBy("line_no", "pred", "obj")
    return triples.withColumn(
        "frame_id", F.lpad(F.row_number().over(w).cast("string"), 3, "0")
    )
