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

Second trade owned here: persist does NOT truncate lineage the way
localCheckpoint did. For the shallow iteration counts this engine runs
(alias-graph CC converges in a handful of rounds) the plan growth is
negligible; iterative callers that can run deep cut lineage explicitly
by round-tripping through parquet (see
canonicalize.connected_components' ``LINEAGE_CUT_EVERY``), which is also
the crash-safe form a real cluster wants (reliable checkpoint, not
executor-local blocks).
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame


def materialize(df: DataFrame) -> DataFrame:
    """Eagerly persist ``df`` serialized-in-memory-with-disk-spill and
    return it. The caller owns release: `release(df)` when a bounded
    scope ends (iterative loops), or `spark.catalog.clearCache()` for
    query-shaped callers (the bench harness does this per query)."""
    out = df.persist(StorageLevel.MEMORY_AND_DISK)
    out.count()
    return out


def release(*dfs: DataFrame | None) -> None:
    """Blocking unpersist of each non-None frame — blocking so storage
    accounting (getRDDStorageInfo) is deterministic for the leak gate in
    tests/test_materialize.py."""
    for df in dfs:
        if df is not None:
            df.unpersist(blocking=True)
