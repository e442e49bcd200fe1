"""Post-processing: dedup, validation, categorization of raw triples.

Reference: /root/reference/src/output/post_processor.py:33-71 — clean ->
junk filter -> title-merge dedup -> categorize -> qa semi-join -> qa dedup.
The junk filter runs upstream on blocks (operators.mentions.junk_block_filter,
mirroring the reference's filter-before-expensive-stage ordering); the
remaining steps run here on the triples table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from corporate_knowledge_extractor_spark.functions import rules
from corporate_knowledge_extractor_spark.operators.segment import DOC_KEY


def dedup_triples(triples: DataFrame) -> DataFrame:
    """A3 normalized dedup with *first-seen-wins* tie-breaking
    (post_processor.py:204-219): normalize (lower + collapse whitespace +
    strip), keep the earliest original row per key. `dropDuplicates` alone
    would be nondeterministic; keeping the minimum over the carried
    original order reproduces Python list order exactly (SURVEY.md §7).

    Round-6 shape (guide §2.3 "aggregate before you shuffle"): the
    earliest row per key is min_by(payload, struct(line_no, frame_id)) —
    (line_no, frame_id) is unique within a document (frame_id is the
    per-doc mention index), so the minimum IS the row_number()=1 row of
    the window form this replaces. The struct-typed buffers plan as
    SortAggregate: the executed plan is one local Sort -> SortAggregate
    (partial) -> SortAggregate (final). The partial step runs map-side,
    so at most one candidate row per (input partition, key) crosses any
    exchange — and when the input already clusters by the doc key
    (synthesize_triples preserves it), the final step follows with no
    exchange and no second sort; the window form shuffled and sorted the
    full pre-dedup triple set (measured 1.1 GB at sf1.0)."""
    # whitespace-guarded normalization: trim(regexp_replace(lower(c),
    # '\s+', ' ')) is exactly lower(c) when the string contains no
    # whitespace (replace is a no-op, nothing to trim) — and triple
    # subjects/objects are overwhelmingly identifier-shaped, so the
    # rlike('\s') scan skips the regex-replace + rebuild for ~all rows
    # (same necessary-condition pattern as redact._guarded_replace)
    norm = lambda c: F.when(  # noqa: E731
        c.rlike(r"\s"), F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))
    ).otherwise(F.lower(c))
    first = F.min_by(
        F.struct("subj", "pred", "obj", "frame_id", "line_no"),
        F.struct("line_no", "frame_id"),
    ).alias("_w")
    return (
        triples.groupBy(
            *DOC_KEY,
            norm(F.col("subj")).alias("_k_subj"),
            norm(F.col("pred")).alias("_k_pred"),
            norm(F.col("obj")).alias("_k_obj"),
        )
        .agg(first)
        .select(
            *DOC_KEY,
            F.col("_w.subj").alias("subj"),
            F.col("_w.pred").alias("pred"),
            F.col("_w.obj").alias("obj"),
            F.col("_w.frame_id").alias("frame_id"),
            F.col("_w.line_no").alias("line_no"),
        )
    )


# broadcast the known-surfaces dim only when its MEASURED row count is
# below this (distinct identifiers are short strings; 1M rows is a few
# tens of MB framed — far under the session's 64 MB auto threshold and
# the executor budget)
KNOWN_BROADCAST_MAX_ROWS = 1_000_000


def validate_calls(
    triples: DataFrame,
    probe_known_size: bool = False,
    scratch: list | None = None,
) -> DataFrame:
    """J3 semi-join validation: keep `calls` edges only when the callee is
    defined or imported as a symbol *somewhere in the corpus* — the
    reference keeps qa_pairs only when their frame_id survived filtering
    (post_processor.py:62-63).

    Join strategy (guide §7.4 "check its real size"): a forced
    F.broadcast would OOM the driver at 10^12-file scale where the
    distinct-identifier set can exceed any broadcast budget, but leaving
    it to AQE is not free either — AQE only rewrites the sort-merge join
    AFTER both child exchanges ran as map stages, so the full triple
    table is still shuffle-WRITTEN by obj (1.2 GB / 9.2M rows at sf1.0)
    and only the cross-network read is elided. With
    ``probe_known_size=True`` (callers that hold `triples` materialized,
    so the probe is one cheap cache scan) the known dim is cached and
    counted first, and broadcast is hinted only under
    KNOWN_BROADCAST_MAX_ROWS — the statically-planned broadcast join
    never exchanges the triple side at all. Measured at sf1.0: 7.3-9.1k
    -> 3.9-6.1k CPU jiffies for the validate pass, same rows."""
    known = (
        triples.where(F.col("pred").isin("defines", "imports_symbol"))
        .select(F.col("obj").alias("_known"))
        .distinct()
    )
    if probe_known_size:
        from corporate_knowledge_extractor_spark.materialize import materialize

        known = materialize(known)  # eager: one scan builds dim + its count
        if scratch is not None:
            # precise-release contract (see post_process): every frame this
            # call materializes is handed back for the caller to release
            scratch.append(known)
        if known.count() <= KNOWN_BROADCAST_MAX_ROWS:
            known = F.broadcast(known)
    # single-pass form: a split/semi-join/union would scan the (expensive,
    # window-deduped) triples input twice more; the left join against the
    # distinct known set keeps multiplicity at 1 and one predicate keeps
    # exactly the rows the semi-join + union would
    return (
        triples.join(known, triples.obj == F.col("_known"), "left")
        .where((F.col("pred") != "calls") | F.col("_known").isNotNull())
        .drop("_known")
    )


def categorize(triples: DataFrame) -> DataFrame:
    """A5 keyword-count argmax (post_processor.py:178-201): score each
    category by substring-keyword hits on the object surface; strict-
    improvement scan order means ties go to the earliest category and a
    zero score stays "general". Expressed as array_max over
    (score, -order, name) structs — one expression, no join, no UDF."""
    # per-category score as a plain codegen'd sum of contains() casts —
    # the filter(array(keywords), ...) lambda form is interpreted
    # (guide §4.1); identical counts recorded in OPTIMIZATION_r06.md
    # "category_argmax"
    scored = F.array(
        *[
            F.struct(
                sum(
                    [F.contains(F.col("obj"), F.lit(k)).cast("int") for k in kws],
                    F.lit(0),
                ).alias("score"),
                F.lit(-i).alias("neg_order"),
                F.lit(cat).alias("name"),
            )
            for i, (cat, kws) in enumerate(rules.CATEGORY_KEYWORDS)
        ]
    )
    best = F.array_max(scored)
    return triples.withColumn(
        "category",
        F.when(best["score"] > 0, best["name"]).otherwise(F.lit(rules.DEFAULT_CATEGORY)),
    )


def post_process(
    triples: DataFrame, persist: bool = False, scratch: list | None = None
) -> DataFrame:
    """Full chain in reference order (post_processor.py:33-71).

    The deduped table is a fan-out point: validate_calls scans it twice
    (the known-surfaces subquery + the main join side), and Spark does
    NOT reuse the window exchange across the two branches — without
    materialization the whole upstream chain (mention scan + synthesis
    union + the dedup window sort) executes twice, measured ~1.5x on the
    staged triples stage at 100k docs. ``persist=True`` applies the
    repo materialization policy (eager serialized persist) at that
    fan-out. Release contract: query-shaped callers free it with
    clearCache (the bench does, per query); the staged pipeline passes
    ``scratch`` (a list the materialized frame is appended to) and
    releases it right after the stage write."""
    deduped = dedup_triples(triples)
    if persist:
        from corporate_knowledge_extractor_spark.materialize import materialize

        deduped = materialize(deduped)
        if scratch is not None:
            scratch.append(deduped)
    # probe_known_size only when deduped is materialized: the size probe
    # is then a single cache scan; unpersisted callers would pay a full
    # re-execution of the upstream chain for the count
    return categorize(
        validate_calls(deduped, probe_known_size=persist, scratch=scratch)
    )
