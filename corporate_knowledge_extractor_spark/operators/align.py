"""J1: the scored as-of/interval join — segments aligned to frames.

Reference semantics (/root/reference/src/align/aligner.py:4-110), exactly:

  1. per segment, the *closest* frame is the one with
     ``frame.ts <= seg.start + tolerance_before`` minimizing
     ``|frame.ts - seg.start|`` (first such frame on ties — strict `<` in
     the reference scan, aligner.py:45-50);
  2. candidates are frames within +-`window` *indices* of the closest
     frame that also satisfy ``frame.ts <= seg.end + tolerance_after``
     (aligner.py:52-57);
  3. each candidate is scored
     ``w_tags*tag_sim + w_text*text_sim + w_ts/(1+|dt|/divisor)``
     (aligner.py:58-73): tag_sim = fraction of tags sharing >=1 word with
     the speech (aligner.py:84-95); text_sim = |overlap| / |speech words|
     over words of length > 2 (aligner.py:98-110; its stop-word list is
     not applied);
  4. argmax wins, first candidate on ties (Python max keeps the first
     maximal element, aligner.py:80);
  5. no candidates -> fall back to the closest frame's text
     (aligner.py:77-78).

Spark form — built for the stage that dominates the pipeline wall
(round-3 stage decomposition: 59% of the staged run at 400k docs under
the previous theta-join form):

  * the closest-frame lookup is an **as-of join on a sorted union
    stream**: frames (reduced to one min-index representative per
    timestamp — the strict-< scan keeps the lowest index among equal
    timestamps) and segment probes are unioned, sorted once per doc, and
    the nearest frame on each side of ``seg.start`` is propagated with
    running ``last()`` windows. O((|segs|+|frames|) log ·) per doc
    instead of the |segs| x |frames| theta-join (previously ~550
    intermediate rows per doc, ~220M at 400k docs);
  * the candidate window is an **equi-join on (doc, frame index)** after
    exploding the 2*window+1 candidate indices — bounded fan-out, never
    a scan of the doc's full frame list;
  * word arrays (speech words, content words, tag word-splits) are
    computed **once per segment/frame row** and carried through the
    joins — the previous form re-ran the regex splits per candidate
    pair, 2*window+1 times each;
  * the per-timestamp representative frame is a lag() flag inside the
    same window that assigns frame indices (no extra groupBy shuffle),
    and the no-candidate fallback is a score -1 sentinel row resolved
    INSIDE the argmax window (no base-vs-best left join);
  * **no text string rides the hot path**: the union stream, both
    running as-of windows, the candidate join, and the argmax shuffle
    carry frame/segment *indices only* — `speech` and the winning
    frame's text are equi-joined back on (doc, seg_id) / (doc, f_idx)
    AFTER the argmax, when exactly one slim row per segment is left
    (round-4 decomposition: the aligned stage was 47% of staged wall
    and its sort payload was dominated by strings consumed only after
    the winner was picked).

Everything is per-document, so the sort, both windows, and the candidate
equi-join run under one hash partitioning on the doc key — no global
shuffle, no skew beyond the largest single document (SURVEY.md §2.3 J1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from corporate_knowledge_extractor_spark.config import AlignmentConfig

DOC = ["repo", "path", "commit"]


def _content_words(col: F.Column) -> F.Column:
    """Distinct lowercase words of length > 2 (aligner.py:103-104's
    length filter; no stop-word list is applied)."""
    return F.array_distinct(
        F.filter(F.split(F.lower(col), r"\s+"), lambda w: F.length(w) > 2)
    )


def align_segments_to_frames(
    segments: DataFrame,  # DOC + (seg_id, start, end, text)
    frames: DataFrame,  # DOC + (ts, text, tags array<string>)
    cfg: AlignmentConfig = AlignmentConfig(),
    persist: bool = False,
) -> DataFrame:
    """Returns DOC + (seg_id, start, end, speech, slide_text).

    ``persist=True`` materializes the indexed frame table (the row_number
    window + word-array projections) once — it has FOUR consumers (the
    as-of representative stream, the candidate join, the post-argmax
    text join, the frameless-doc anti-join), and without materialization
    each re-runs the per-doc frame sort; the post-argmax text join's
    recompute measured as the one anti-scaling phase of the stage
    (+17s@1 -> +20s@4 exec, BENCH/stage_diagnose_r05.json). Release
    contract (materialize.py): the enclosing `release_scope()` releases
    it — the staged pipeline's aligned stage runs in one — else the
    caller's clearCache.
    """
    f = frames.select(
        *DOC,
        F.col("ts").alias("f_ts"),
        F.col("text").alias("f_text"),
        F.col("tags").alias("f_tags"),
    )
    # frame index per doc by timestamp order (the reference's list index)
    w_doc = W.partitionBy(*DOC).orderBy("f_ts")
    f = f.withColumn("f_idx", F.row_number().over(w_doc) - 1)
    # per-frame word prep, computed once and carried through the candidate
    # join (not re-split per candidate pair)
    f = f.withColumn("f_words", _content_words(F.col("f_text"))).withColumn(
        "f_tag_words",
        F.transform(
            F.coalesce(F.col("f_tags"), F.array()),
            lambda t: F.split(F.lower(t), r"\s+"),
        ),
    )
    prev_ts0 = F.lag("f_ts").over(w_doc)
    f = f.withColumn("_ts_first", prev_ts0.isNull() | (prev_ts0 != F.col("f_ts")))
    if persist:
        from corporate_knowledge_extractor_spark.materialize import materialize

        f = materialize(f.drop("f_tags"))

    s = segments.select(
        *DOC,
        "seg_id",
        F.col("start").alias("s_start"),
        F.col("end").alias("s_end"),
        F.col("text").alias("speech"),
    )
    # word features for scoring, split off WITHOUT the speech string: the
    # candidate join and argmax only consume the arrays; the raw text is
    # joined back per winning segment at the end
    s_feat = (
        s.withColumn(
            "speech_words_all",
            F.array_distinct(F.split(F.lower(F.col("speech")), r"\s+")),
        )
        .withColumn("s_words", _content_words(F.col("speech")))
        .drop("speech")
    )

    # ---- step 1: closest eligible frame, as an as-of join --------------
    # one representative frame per (doc, ts): the strict-< scan keeps the
    # LOWEST index among equal timestamps = the FIRST row of each ts run
    # in the already-sorted doc window — the `_ts_first` lag() flag
    # computed with f_idx above (same WindowExec, no extra shuffle).
    # the union stream carries INDICES only (r_idx/r_ts) — the frame text
    # is not consulted until after the argmax, so it must not ride the
    # per-doc sort that dominates the stage's cost
    f_repr = f.where(F.col("_ts_first")).select(
        *DOC, "f_ts", F.col("f_idx").alias("r_idx")
    )
    seg_id_type = dict(s.dtypes)["seg_id"]
    ev_f = f_repr.select(
        *DOC,
        F.col("f_ts").alias("ev_ts"),
        F.lit(0).alias("kind"),
        F.col("r_idx"),
        F.col("f_ts").alias("r_ts"),
        F.lit(None).cast(seg_id_type).alias("seg_id"),
    )
    ev_s = s.select(
        *DOC,
        F.col("s_start").alias("ev_ts"),
        F.lit(1).alias("kind"),
        F.lit(None).cast("int").alias("r_idx"),
        F.lit(None).cast("double").alias("r_ts"),
        F.col("seg_id"),
    )
    ev = ev_f.unionByName(ev_s)

    # Both directions from ONE ascending sort (ev_ts, kind): Spark plans
    # every frame below over the same partitioning+ordering into a single
    # WindowExec, so the per-doc partition is sorted once. The previous
    # form used a second, descending window for the forward side —
    # a full extra sort of the union stream on the stage that dominates
    # staged wall (round-3 decomposition: aligned = 46% of level-1 wall).
    #
    # backward: nearest frame with ts <= s_start — running last() over
    # (unboundedPreceding, currentRow); frames sort BEFORE the probe at
    # equal ts (kind 0 < 1), matching eligibility ts <= start.
    # forward: nearest frame with ts > s_start — first() over
    # (currentRow, unboundedFollowing) on the SAME ordering; a same-ts
    # frame sorts before the probe, so it stays on the backward side
    # only, exactly like the old desc-window tie rule.
    order = W.partitionBy(*DOC).orderBy("ev_ts", "kind")
    w_bwd = order.rowsBetween(W.unboundedPreceding, W.currentRow)
    w_fwd = order.rowsBetween(W.currentRow, W.unboundedFollowing)
    probes = (
        ev.withColumn("b_idx", F.last("r_idx", ignorenulls=True).over(w_bwd))
        .withColumn("b_ts", F.last("r_ts", ignorenulls=True).over(w_bwd))
        .withColumn("a_idx", F.first("r_idx", ignorenulls=True).over(w_fwd))
        .withColumn("a_ts", F.first("r_ts", ignorenulls=True).over(w_fwd))
        .where(F.col("kind") == 1)
    )
    b_valid = F.col("b_ts").isNotNull()  # ts <= start is always eligible
    a_valid = F.col("a_ts").isNotNull() & (
        F.col("a_ts") <= F.col("ev_ts") + cfg.tolerance_before
    )
    # equal |diff| ties go to the lower index = the backward frame (frame
    # indices are timestamp-ordered), matching the reference's first-wins
    pick_b = b_valid & (
        ~a_valid
        | ((F.col("ev_ts") - F.col("b_ts")) <= (F.col("a_ts") - F.col("ev_ts")))
    )
    closest = probes.select(
        *DOC,
        "seg_id",
        F.when(pick_b, F.col("b_idx"))
        .when(a_valid, F.col("a_idx"))
        .alias("closest_idx"),
    )
    # segments with no eligible frame: the reference defaults closest_idx=0
    # (aligner.py:42-43 initial value survives when no frame qualifies) —
    # index only; any doc that HAS frames has a frame 0
    matched = closest.where(F.col("closest_idx").isNotNull())
    no_match = (
        closest.where(F.col("closest_idx").isNull())
        .select(*DOC, "seg_id")
        .join(f.select(*DOC).distinct(), DOC, "left_semi")
        .withColumn("closest_idx", F.lit(0))
    )
    closest_all = matched.unionByName(no_match)

    # ---- step 2: candidate window as a bounded equi-join ---------------
    base = s_feat.join(closest_all, [*DOC, "seg_id"])
    cand = (
        base.withColumn(
            "f_idx",
            F.explode(
                F.sequence(
                    F.col("closest_idx") - cfg.window,
                    F.col("closest_idx") + cfg.window,
                )
            ),
        )
        .join(
            f.select(*DOC, "f_idx", "f_ts", "f_words", "f_tag_words"),
            [*DOC, "f_idx"],
        )
        .where(F.col("f_ts") <= F.col("s_end") + cfg.tolerance_after)
    )

    # ---- step 3: the blended score (arrays precomputed upstream) -------
    tag_hits = F.size(
        F.filter(
            F.col("f_tag_words"),
            lambda tw: F.arrays_overlap(tw, F.col("speech_words_all")),
        )
    )
    n_tags = F.size(F.col("f_tag_words"))
    tag_sim = F.when(n_tags > 0, tag_hits / n_tags).otherwise(F.lit(0.0))

    overlap = F.size(F.array_intersect(F.col("s_words"), F.col("f_words")))
    text_sim = F.when(
        (F.size(F.col("s_words")) > 0) & (F.size(F.col("f_words")) > 0),
        overlap / F.size(F.col("s_words")),
    ).otherwise(F.lit(0.0))

    ts_score = 1.0 / (1.0 + F.abs(F.col("f_ts") - F.col("s_start")) / cfg.timestamp_divisor)
    score = (
        cfg.weight_tags * tag_sim + cfg.weight_text * text_sim + cfg.weight_timestamp * ts_score
    )

    # ---- steps 4+5 fused: argmax with the fallback IN the window -------
    # The reference's "no candidates -> closest frame's text" fallback
    # (aligner.py:77-78) is a sentinel candidate per segment: score -1
    # sits strictly below every real blended score (ts_score > 0 always),
    # so the argmax picks it only when the candidate set is empty. This
    # removes the former base-vs-best LEFT JOIN — a whole extra shuffle
    # of the segment table by (doc, seg_id) on the stage that dominates
    # the pipeline wall — and resolves the winner in the same window
    # shuffle the argmax already pays. Tie rule unchanged: first (lowest
    # f_idx) candidate wins; the sentinel never ties a real candidate
    # because its score is unique, and no two real candidates share an
    # f_idx (the candidate join is keyed on it), so the ordering is
    # total. The sentinel carries closest_idx as its f_idx, so ONE text
    # join below resolves both the winning candidate's text and the
    # fallback's closest-frame text.
    seg_keys = [*DOC, "seg_id"]
    real = cand.select(*seg_keys, "f_idx", score.alias("_score"))
    fallback = base.select(
        *seg_keys,
        F.col("closest_idx").alias("f_idx"),
        F.lit(-1.0).alias("_score"),
    )
    # the winner pick is a hash AGGREGATE, not a rank window: argmax by
    # (score desc, f_idx asc) == min_by over the struct (-score, f_idx)
    # (lexicographic struct order; the pair is unique within a segment —
    # f_idx is the candidate-join key and the sentinel's score is
    # unique — so the pick is total/deterministic). The round-4 form was
    # row_number() over (seg, score desc, f_idx): a full sort+shuffle of
    # every candidate row. The aggregate partial-combines map-side, so
    # only ONE slim row per segment crosses the shuffle instead of
    # 2*window+2 — measured phase-dominant in
    # BENCH/stage_diagnose_r05.json.
    winners = (
        real.unionByName(fallback)
        .groupBy(*seg_keys)
        .agg(
            F.min_by(
                "f_idx",
                F.struct(
                    (-F.col("_score")).alias("ns"), F.col("f_idx").alias("fi")
                ),
            ).alias("f_idx")
        )
    )
    # texts re-attached to the ONE winning row per segment: slide_text on
    # (doc, f_idx), speech/start/end on (doc, seg_id). The winners frame
    # leaves the argmax window already hash-partitioned by (doc, seg_id),
    # so the segment-side join reuses that partitioning; both joins move
    # one slim row per segment plus the id->text tables — instead of
    # every candidate row carrying both strings through the argmax sort.
    out = (
        winners.join(
            f.select(*DOC, "f_idx", F.col("f_text").alias("slide_text")),
            [*DOC, "f_idx"],
        )
        .join(
            s.select(
                *DOC,
                "seg_id",
                F.col("s_start").alias("start"),
                F.col("s_end").alias("end"),
                "speech",
            ),
            [*DOC, "seg_id"],
        )
        .select(*DOC, "seg_id", "start", "end", "speech", "slide_text")
    )
    # segments of docs with zero frames: empty slide_text (aligner.py:25-26)
    missing = s.join(f.select(*DOC).distinct(), DOC, "left_anti").select(
        *DOC,
        "seg_id",
        F.col("s_start").alias("start"),
        F.col("s_end").alias("end"),
        "speech",
        F.lit("").alias("slide_text"),
    )
    return out.unionByName(missing)
