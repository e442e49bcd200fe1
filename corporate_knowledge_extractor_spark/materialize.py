"""The one materialization policy for fan-out points.

Several operators compute an intermediate once and scan it from multiple
downstream branches (LSH band tables, candidate pair sets, CC label
tables). Two rules, both measured in this sandbox (plans/pipeline.py
round-2 investigation, BENCH/BASELINE.md stage decomposition):

* **Eager**: a *lazy* persist hit by concurrent branches of one job
  races on uncached partitions (cache-lock contention + duplicated
  upstream work, observed in round 1), so `materialize` counts the frame
  before returning it.
* **Serialized persist, never localCheckpoint**: `localCheckpoint`
  stores deserialized blocks 3-5x larger, serializes through the one
  shared disk on every round, and its RDDs leak until GC —
  `spark.catalog.clearCache()` does not release checkpoint RDDs, and the
  accumulation measurably degraded repeated runs (the round-1 scaling
  drag: efficiency 0.82 -> 0.91 at 2->8 cores after the switch).
  `StorageLevel.MEMORY_AND_DISK` in PySpark is the serialized form
  (deserialized=False), spills instead of evicting, and releases fully
  via `unpersist()`/`clearCache()`.

Tradeoff owned here (measured both directions): serialized blocks pay a
per-scan deserialization that localCheckpoint's deserialized blocks did
not. Round 3's headline bench appeared to show that cost as a 1.8-3x
regression on minhash_neardup / dedup_exact_clusters; the round-4
steal-instrumented re-measurement (BENCH_r04, per-query /proc/stat
steal recorded) read 3.5s / 0.35s on the same code — at or below the
pre-switch times, so the apparent regression was host CPU steal, and
the deserialization cost of the serialized form is below measurement
noise for these fan-outs. The other direction (leaks, block size,
release-ability) is documented above.

Release contract, also owned here: a frame `materialize` persists
inside a ``release_scope()`` is released when that scope exits, so an
operator never takes a parameter for handing its persists back. The
staged Pipeline wraps each stage's build + write in one scope, so every
fan-out a stage persists dies with that stage. Outside a scope the
caller releases: `release(df)` for frames it holds, or
`spark.catalog.clearCache()` for query-shaped callers (extract_triples,
the bench, the queries). Frames that outlive any one unit of work (an
IVF index) are built outside a scope and carry their own `release`.

Second trade owned here: persist does NOT truncate lineage the way
localCheckpoint did. For the shallow iteration counts this engine runs
(alias-graph CC converges in a handful of rounds) the plan growth is
negligible; iterative callers that can run deep cut lineage explicitly
by round-tripping through parquet (see
canonicalize.connected_components' ``PLAN_COPY_BUDGET``), which is also
the crash-safe form a real cluster wants (reliable checkpoint, not
executor-local blocks).
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager
from contextvars import ContextVar

from pyspark import StorageLevel
from pyspark.sql import DataFrame

# the frames materialize() persisted in the innermost open release scope
# of this thread/task (None: no scope open)
_scope: ContextVar[list[DataFrame] | None] = ContextVar("release_scope", default=None)


def materialize(df: DataFrame) -> DataFrame:
    """Eagerly persist ``df`` serialized-in-memory-with-disk-spill and
    return it. Inside a `release_scope()` the frame is released when the
    innermost scope exits; outside one the caller owns release:
    `release(df)` when a bounded scope ends (iterative loops), or
    `spark.catalog.clearCache()` for query-shaped callers (the bench
    harness does this per query)."""
    out = df.persist(StorageLevel.MEMORY_AND_DISK)
    frames = _scope.get()
    if frames is not None:
        frames.append(out)
    out.count()
    return out


@contextmanager
def release_scope() -> Iterator[None]:
    """Release every frame `materialize` persists inside the block when
    the block exits (normally or by exception) — precise release for one
    unit of work (a staged-pipeline stage) without threading a list of
    frames through every operator, and without a session-wide clearCache
    that would drop caches the caller owns. Scopes nest; a frame belongs
    to the innermost open scope of the calling thread."""
    frames: list[DataFrame] = []
    token = _scope.set(frames)
    try:
        yield
    finally:
        _scope.reset(token)
        release(*frames)


def release(*dfs: DataFrame | None) -> None:
    """Blocking unpersist of each non-None frame — blocking so storage
    accounting (getRDDStorageInfo) is deterministic for the leak gate in
    tests/test_materialize.py."""
    for df in dfs:
        if df is not None:
            df.unpersist(blocking=True)
