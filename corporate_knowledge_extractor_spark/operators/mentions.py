"""Candidate mention detection: blocked lines -> typed mention rows.

Reference analogue: frame extraction with sampling, change detection,
rate caps and junk filtering (/root/reference/src/frames/extractor.py:29-201),
then OCR text (+text, src/ocr/reader.py:22-40) and tagging (+tags,
src/frames/tagger.py:10-54). For source code the detector is a bank of
regexes compiled into native `regexp_extract` columns — pure JVM
whole-stage codegen, no Python in the hot path.

Output schema (FIXTURES.md §2 `mentions`):
  (repo, path, commit, block_id, line_no, surface, mention_type,
   tags array<string>, orig_idx)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from corporate_knowledge_extractor_spark.config import MentionConfig
from corporate_knowledge_extractor_spark.functions import rules
from corporate_knowledge_extractor_spark.operators.segment import DOC_KEY


def detect_mentions(blocked_lines: DataFrame) -> DataFrame:
    """Single-scan rule bank: one pass over the lines builds an array of
    (type, surface) candidates per line, filters empties, explodes.

    The `from X import Y` line yields two mentions (module + symbol),
    mirroring the reference's UDTF-style 1-row->N-rows transcription shape
    (SURVEY.md §2.9). Deterministic within-line ordering comes from the
    fixed MENTION_TYPE_ORDER (first-seen-wins parity, SURVEY.md §7 risk).

    This was originally six filtered branches unioned together; that shape
    re-scans the input per rule (6x upstream work without an explicit
    materialization barrier) and anti-scaled under thread concurrency.
    The fused array+explode form is one WholeStageCodegen pass and needs
    no checkpoint at all.
    """
    base = blocked_lines.select(*DOC_KEY, "block_id", "line_no", "line")
    line = F.col("line")
    # necessary-condition prefix guards (same pattern as the redaction
    # guards): every rule regex is start-anchored, so a match implies
    # the literal prefix (or, for RE_CALL's ^\s+, a leading whitespace
    # char). Testing that with codegen startswith/substring skips the
    # regex engine on the vast majority of lines; a failed guard yields
    # '' exactly like a failed regexp_extract, so the empty-surface
    # filter below sees identical rows.
    ws_first = F.substring(line, 1, 1).isin(" ", "\t", "\x0b", "\f", "\r")
    rule_bank = [
        (rules.RE_IMPORT, 1, "import", line.startswith("import ")),
        (rules.RE_FROM_IMPORT, 1, "import", line.startswith("from ")),
        (rules.RE_FROM_IMPORT, 2, "import_symbol", line.startswith("from ")),
        (rules.RE_DEF, 1, "function_def", line.startswith("def ")),
        (rules.RE_CALL, 1, "call", ws_first),
        (rules.RE_PERSON_COMMENT, 1, "person", line.startswith("# Maintainer: ")),
    ]
    candidates = F.array(
        *[
            F.struct(
                F.when(guard, F.regexp_extract(line, pattern, group))
                .otherwise(F.lit(""))
                .alias("surface"),
                F.lit(mtype).alias("mention_type"),
            )
            for pattern, group, mtype, guard in rule_bank
        ]
    )
    # explode all candidates and filter the empties AFTER — Generate and
    # the surface<>'' predicate are both whole-stage codegen, while the
    # filter(array, lambda) form evaluated the lambda interpreted per
    # candidate (guide §4.1; ~25% less CPU on this stage at sf1.0,
    # identical rows)
    return (
        base.withColumn("_m", F.explode(candidates))
        .where(F.col("_m.surface") != "")
        .select(
            *DOC_KEY,
            "block_id",
            "line_no",
            F.col("_m.surface").alias("surface"),
            F.col("_m.mention_type").alias("mention_type"),
        )
    )


def tag_mentions(mentions: DataFrame) -> DataFrame:
    """Mention typing/tagging — the reference's Gemini tag stage
    (src/frames/tagger.py:33-53) replaced by a deterministic rule
    classifier, expressed as a single array expression."""
    return mentions.withColumn(
        "tags",
        F.filter(
            F.array(
                F.lit("code"),
                F.col("mention_type"),
                F.when(F.col("surface").endswith("_v2"), F.lit("versioned")),
                F.when(F.col("surface").contains("."), F.lit("dotted")),
            ),
            lambda t: t.isNotNull(),
        ),
    )


def _type_order() -> F.Column:
    """mention_type -> its fixed MENTION_TYPE_ORDER rank."""
    return F.coalesce(
        *[
            F.when(F.col("mention_type") == t, F.lit(i))
            for t, i in rules.MENTION_TYPE_ORDER.items()
        ]
    )


def cap_mentions(mentions: DataFrame, cfg: MentionConfig = MentionConfig()) -> DataFrame:
    """Rate caps: at most `max_per_block` mentions per block and
    `max_total` per document — the reference's max_per_minute / max_total
    frame caps (extractor.py:131-154). Doubles as the skew bound: a
    pathological document cannot explode downstream stages.

    Ordering inside a block is (line_no, type_order) — deterministic.

    The doc-level window leads its ordering with block_id so both window
    specs sort identically — block_id is a running count over line_no,
    so within a document ordering by (block_id, line_no, _torder) IS
    ordering by (line_no, _torder); spelling it out lets the planner
    satisfy the second window with the first window's sort (one sort
    pass instead of two over the full mention set, guide §2.4)."""
    m = mentions.withColumn("_torder", _type_order())
    w_block = W.partitionBy(*DOC_KEY, "block_id").orderBy("line_no", "_torder")
    w_doc = W.partitionBy(*DOC_KEY).orderBy("block_id", "line_no", "_torder")
    return (
        m.withColumn("_rb", F.row_number().over(w_block))
        .where(F.col("_rb") <= cfg.max_per_block)
        .withColumn("orig_idx", F.row_number().over(w_doc))
        .where(F.col("orig_idx") <= cfg.max_total)
        .drop("_rb", "_torder")
    )


def sample_lines(blocked_lines: DataFrame, cfg: MentionConfig = MentionConfig()) -> DataFrame:
    """F2 sampler: consider only every n-th line for mention detection —
    the reference's `sample_rate` (seconds between frame checks,
    extractor.py:109,140; presets vary it 1..15s). n=1 (default) is the
    check-everything PowerPoint behavior and a no-op predicate."""
    if cfg.sample_every_n_lines <= 1:
        return blocked_lines
    return blocked_lines.where(
        F.col("line_no") % cfg.sample_every_n_lines == 0
    )


def mention_stage(
    blocked_lines: DataFrame, cfg: MentionConfig = MentionConfig()
) -> DataFrame:
    """The full candidate-detection stage in reference order
    (extractor.py capture loop): sample -> detect -> adjacent text dedup
    (when the preset enables it, deduplication.similarity_threshold in
    presets/*.yaml) -> rate caps + numbering. Redaction/tagging stay with
    the caller (they need RedactionConfig)."""
    m = detect_mentions(sample_lines(blocked_lines, cfg))
    if cfg.dedup_jaccard is not None:
        from corporate_knowledge_extractor_spark.operators.changedetect import (
            dedup_vs_previous_kept,
        )

        # multiplier derived from the type table: any value strictly above
        # every type_order keeps (line_no, type) keys collision-free even
        # if new mention types are added
        ord_span = max(rules.MENTION_TYPE_ORDER.values()) + 1
        m = dedup_vs_previous_kept(
            m.withColumn("_ord", F.col("line_no") * ord_span + _type_order()),
            DOC_KEY,
            "_ord",
            "surface",
            cfg.dedup_jaccard,
        ).drop("_ord")
    return cap_mentions(m, cfg)


def junk_block_filter(blocked_lines: DataFrame) -> DataFrame:
    """Drop whole blocks containing junk markers *before* any downstream
    work — the reference filters junk frames before OCR/LLM precisely to
    cut expensive-stage input (extractor.py:369-396; ordering rationale
    SURVEY.md §4). Implemented as a windowed any() so it needs no join."""
    # plain codegen'd OR-chain of contains(); the exists(array, lambda)
    # form ran interpreted per pattern per line (guide §4.1)
    low = F.lower(F.col("line"))
    is_junk_line = F.lit(False)
    for p in rules.JUNK_BLOCK_PATTERNS:
        is_junk_line = is_junk_line | F.contains(low, F.lit(p))
    w = W.partitionBy(*DOC_KEY, "block_id")
    return (
        blocked_lines.withColumn("_junk", F.max(is_junk_line.cast("int")).over(w))
        .where(F.col("_junk") == 0)
        .drop("_junk")
    )
