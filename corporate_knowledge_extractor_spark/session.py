"""SparkSession factory.

One place to own the knobs that matter for this engine:

* AQE on (runtime re-plan, skew-join splitting, partition coalescing) —
  the scale story relies on it.
* Arrow on — every pandas UDF crosses the JVM/Python boundary in columnar
  batches, never per row (BASELINE.json input_hint: "no per-row Python").
* ``spark.sql.shuffle.partitions`` sized to cores, not the 200 default —
  at cluster scale this is raised proportionally to executor count; the
  bench harness overrides it per parallelism level so the local[8] vs
  local[32] scaling comparison is honest (SURVEY.md §6).
* Session timezone pinned to UTC so DuckDB-oracle comparisons of
  timestamps are stable.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory() -> str:
    """Driver heap when ``SPARK_GRAFT_DRIVER_MEM`` is unset: half the
    host's physical memory, capped at 48g. A flat 48g on a smaller host
    lets the heap grow until the kernel's OOM killer ends the JVM."""
    cap_mb = 48 * 1024
    try:
        total_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // (1024 * 1024)
    except (AttributeError, OSError, ValueError):  # no sysconf on this platform
        return f"{cap_mb // 1024}g"
    return f"{min(cap_mb, total_mb // 2)}m"


def default_shuffle_partitions(master: str) -> int:
    """Shuffle partitions when ``shuffle_partitions`` is omitted: N for
    ``local[N]`` and ``local[N,F]`` (F = task retries), the host's core
    count for every other master (``local[*]``, ``local-cluster[...]``,
    cluster URLs)."""
    if master.startswith("local[") and master.endswith("]"):
        threads = master[len("local["):-1].split(",")[0]
        if threads.isdigit():
            return int(threads)
    return os.cpu_count() or 8


def get_spark(
    app_name: str = "corporate_knowledge_extractor_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession configured for this engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32).
    The driver heap is ``$SPARK_GRAFT_DRIVER_MEM`` if set, else
    ``default_driver_memory()``.
    ``shuffle_partitions`` defaults to ``default_shuffle_partitions(master)``
    so small-scale runs are not over-parallelized; on a real cluster pass
    ``executors * cores_per_executor * 2``.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = default_shuffle_partitions(master)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Scan-split packing floor (guide §6). The default 4 MB
        # openCostInBytes floors maxSplitBytes at 4 MB, so a single
        # few-MB parquet file (the bench's documents table) scans as 1-2
        # tasks and every expression over it runs on 1-2 of the cores —
        # measured as the whole cost of the text-heavy queries. 128 KB
        # keeps tiny-file padding meaningful while letting a small
        # compute-heavy file fan out to the full parallelism; at real
        # scale bytesPerCore >> openCost so the value is inert there
        # (deployments where per-file open cost is genuinely high, e.g.
        # object stores, raise it through extra_conf).
        .config("spark.sql.files.openCostInBytes", str(128 * 1024))
        # Accept subset-key co-partitioning for joins (guide §2.4): the
        # extract pipeline clusters everything by the document key once
        # and every later join/aggregation keys on (doc, ...) supersets.
        # With the default (true), the defs-per-block join re-exchanged
        # BOTH sides by (doc, block) even though each side was already
        # hash(doc)-partitioned — at sf1.0 that plus the downstream
        # dedup exchange moved ~1.7 GB the relaxed planner doesn't move
        # at all. Subset co-partitioning is semantically exact; the
        # trade (fewer, larger partitions for the join) matches this
        # engine's doc-key layout by construction.
        .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ship_package(spark)
    return spark


def ship_package(spark: SparkSession) -> None:
    """Make this package importable on executor Python workers regardless
    of the driver's cwd — the runtime equivalent of `spark-submit
    --py-files` (north_rule launch contract). Without it, cloudpickled
    UDF closures raise ModuleNotFoundError on workers whenever the driver
    wasn't started from the repo root."""
    sc = spark.sparkContext
    if getattr(sc, "_ckg_shipped", False):
        return
    import shutil
    import tempfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    staging = tempfile.mkdtemp(prefix="ckg_pyfiles_")
    zip_path = shutil.make_archive(
        os.path.join(staging, "corporate_knowledge_extractor_spark"),
        "zip",
        root_dir=os.path.dirname(pkg_dir),
        base_dir=os.path.basename(pkg_dir),
    )
    sc.addPyFile(zip_path)
    sc._ckg_shipped = True
