"""Structured Streaming operators.

The reference is pure batch (SURVEY.md §2.8), but two of its patterns are
streaming-shaped and are provided here as true Structured Streaming jobs:

  * the per-minute tumbling/sliding frame-rate window that drives the
    adaptive mode switch (/root/reference/src/frames/extractor.py:245-299)
    -> watermarked windowed aggregation;
  * the adaptive parameter state machine itself
    (extractor.py:204-299: frames/min -> powerpoint|demo mode)
    -> applyInPandasWithState with one state row per document/user.

Incremental ingest (the reference ROADMAP's "skip re-processing",
ROADMAP.md:451-454) is the batch anti-join in plans/pipeline.py; its
streaming twin is `incremental_triples_stream`: dedup, the same
anti-join and batch extraction per micro-batch under
`Trigger.AvailableNow`.

Tests drive these with the memory sink + processAllAvailable (no live
source needed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def windowed_event_counts(
    events: DataFrame,
    window_len: str = "5 minutes",
    slide: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked (sliding) window counts per event_type.

    Works on both a streaming and a batch DataFrame (the window/watermark
    expressions are identical — Catalyst plans the stateful version only
    under readStream)."""
    w = F.window("ts", window_len, slide) if slide else F.window("ts", window_len)
    # parquet yields TIMESTAMP_NTZ; watermarks require session-TZ timestamps
    # (session is pinned to UTC so the cast is value-preserving)
    df = events.withColumn("ts", F.col("ts").cast("timestamp"))
    if df.isStreaming:
        df = df.withWatermark("ts", watermark)
    return df.groupBy(w.alias("win"), "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value").alias("total_value"),
    ).select(
        F.col("win.start").alias("window_start"),
        F.col("win.end").alias("window_end"),
        "event_type",
        "n",
        "total_value",
    )


# --- adaptive mode switch as stateful streaming ---------------------------

MODE_SCHEMA = (
    "user_id long, batch_events int, events_per_minute double, mode string, "
    "switched boolean"
)
STATE_SCHEMA = "mode string, total long"

# thresholds mirror the reference's hybrid preset
# (/root/reference/config/presets/hybrid.yaml:8-52 via extractor.py:262-275):
# high activity -> "demo" sampling profile, low -> "powerpoint"
HIGH_ACTIVITY_PER_MIN = 8.0
LOW_ACTIVITY_PER_MIN = 2.0


def _mode_update(key, pdfs, state):
    """applyInPandasWithState update fn: per-user activity state machine."""
    import pandas as pd

    (user_id,) = key
    old_mode, total = state.get() if state.exists else ("powerpoint", 0)
    n = 0
    t_min, t_max = None, None
    for pdf in pdfs:
        n += len(pdf)
        lo, hi = pdf["ts"].min(), pdf["ts"].max()
        t_min = lo if t_min is None else min(t_min, lo)
        t_max = hi if t_max is None else max(t_max, hi)
    span_min = max((t_max - t_min).total_seconds() / 60.0, 1.0) if n else 1.0
    per_min = n / span_min
    if per_min >= HIGH_ACTIVITY_PER_MIN:
        new_mode = "demo"
    elif per_min <= LOW_ACTIVITY_PER_MIN:
        new_mode = "powerpoint"
    else:
        new_mode = old_mode  # hysteresis: stay in mode between thresholds
    state.update((new_mode, total + n))
    yield pd.DataFrame(
        [
            {
                "user_id": user_id,
                "batch_events": n,
                "events_per_minute": round(per_min, 4),
                "mode": new_mode,
                "switched": new_mode != old_mode,
            }
        ]
    )


def adaptive_mode_stream(events: DataFrame) -> DataFrame:
    """Stateful per-user mode switching over a stream of events —
    the AdaptiveFrameTracker as applyInPandasWithState."""
    return events.groupBy("user_id").applyInPandasWithState(
        _mode_update,
        outputStructType=MODE_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf="NoTimeout",
    )


def dedup_stream(
    events: DataFrame,
    key_cols: list[str] = ("user_id", "event_id"),
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exactly-once dedup: drop rows whose key was already seen
    within the watermark horizon — the ingest guard a training-data
    pipeline puts in front of every at-least-once source (re-delivered
    docs must not re-enter extraction). Uses
    `dropDuplicatesWithinWatermark`, so the dedup state is *bounded* by
    the watermark instead of growing with the corpus — the only shape
    that survives an unbounded stream. Batch twin: plain dropDuplicates
    on the same keys (asserted equal in tests/test_streaming.py)."""
    df = events.withColumn("ts", F.col("ts").cast("timestamp"))
    if df.isStreaming:
        return df.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
            list(key_cols)
        )
    return df.dropDuplicates(list(key_cols))


def incremental_triples_stream(
    spark,
    docs_path: str,
    done_keys: DataFrame,
    out_path: str,
    checkpoint: str,
    watermark: str = "10 minutes",
):
    """The full streaming ingest front door, chained end-to-end: an
    at-least-once doc source (rows carry an ingest ``ts``) flows through
    exactly-once dedup (`dedup_stream` on the doc key, state bounded by
    the watermark), skips already-processed keys (the incremental
    anti-join), and each surviving micro-batch runs the batch extraction
    slice via ``foreachBatch`` into an idempotent batch-id-partitioned
    triples sink (``write_triples_batch``: a crash-retried batch
    overwrites its own partition instead of re-appending) —
    extraction is per-document, so micro-batch boundaries cannot change
    the result (asserted equal to the batch pipeline on the deduped set
    in tests/test_streaming.py). Returns the started StreamingQuery
    (AvailableNow: drains what exists, then stops — the resumable-ingest
    trigger a scheduled 10^12-file backfill uses)."""
    from corporate_knowledge_extractor_spark.corpus import CORPUS_SCHEMA

    schema = CORPUS_SCHEMA + ", ts timestamp"
    stream = spark.readStream.schema(schema).parquet(docs_path)
    deduped = dedup_stream(
        stream, key_cols=("repo", "path", "commit"), watermark=watermark
    )
    fresh = deduped.join(done_keys, ["repo", "path", "commit"], "left_anti")

    def _process(batch_df, batch_id):
        write_triples_batch(batch_df.drop("ts"), batch_id, out_path)

    return (
        fresh.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def write_triples_batch(batch_docs: DataFrame, batch_id: int, out_path: str) -> None:
    """Idempotent per-micro-batch triples sink for ``foreachBatch``.

    ``foreachBatch`` is at-least-once: if the job dies after the write
    but before the checkpoint commit, the SAME batch (same id, same
    rows — the source offsets were committed before the batch ran) is
    re-executed on restart. A blind append would re-append its triples.
    Writing into a ``_batch_id``-keyed partition with *dynamic* partition
    overwrite makes the retry replace its own previous output instead:
    exactly-once output from an at-least-once executor — the standard
    idempotent-sink form for non-transactional stores. (A transactional
    sink — Iceberg/Delta with the batch id recorded in the commit — is
    the cluster-grade variant; parquet is what the sandbox has.)
    Retry-idempotence is asserted in tests/test_streaming.py by running
    the same (batch, id) through twice.

    LAYOUT NOTE (breaking, round 4): the sink moved from flat appended
    parquet to ``_batch_id=N`` partition directories. A pre-round-4
    ``out_path`` mixes root-level part files with partition dirs, which
    Spark's partition discovery rejects (and the old rows lack
    ``_batch_id``) — resuming an old sink would fail confusingly mid-
    stream, so legacy layouts are detected up front and refused: point
    the stream at a fresh out_path (ADVICE r04)."""
    import os

    from corporate_knowledge_extractor_spark.plans.pipeline import extract_triples

    if os.path.isdir(out_path) and any(
        not name.startswith(("_batch_id=", "_", "."))
        for name in os.listdir(out_path)
    ):
        raise ValueError(
            f"write_triples_batch: {out_path!r} holds a legacy flat parquet "
            "layout (pre-_batch_id rows); the partitioned idempotent sink "
            "cannot be mixed with it — use a new out_path (and a new "
            "checkpoint dir)"
        )
    (
        extract_triples(batch_docs, persist=False)
        .withColumn("_batch_id", F.lit(int(batch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_batch_id")
        .parquet(out_path)
    )
