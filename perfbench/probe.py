"""Measurement helpers that observe the engine from outside the library:
process-tree CPU and memory from /proc, host steal, order-independent
result digests, job-group spans and a Spark event-log reader."""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_TICK = os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict[int, tuple[int, list[str]]]:
    """pid -> (ppid, stat fields after the command name) for every process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        out[int(name)] = (int(fields[1]), fields)
    return out


def descendants(root: int) -> list[int]:
    table = _proc_table()
    children = defaultdict(list)
    for pid, (ppid, _) in table.items():
        children[ppid].append(pid)
    found, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            found.append(c)
            todo.append(c)
    return found


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, including reaped children) of every
    process below ``root``: the JVM, the Python worker daemon and its
    workers. Host steal does not count as CPU time here."""
    table = _proc_table()
    pids = set(descendants(root))
    ticks = 0
    for pid in pids:
        f = table.get(pid, (0, None))[1]
        if f is not None:
            ticks += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return ticks / _TICK


def heap_live_mb(spark) -> float:
    """JVM heap in use right after a full collection: what the program
    still holds, not the garbage the collector has yet to reclaim."""
    jvm = spark.sparkContext._jvm
    jvm.System.gc()
    return jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage().getUsed() / 2**20


def reset_peak_rss(root: int) -> None:
    """Restart the peak-resident-set count (VmHWM) of ``root`` and every
    process below it from their current resident sets."""
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass


def peak_rss_mb(root: int) -> dict[str, float]:
    """Peak resident set (VmHWM) of ``root`` and every process below it,
    summed per command name (the driver and the Python workers are
    ``python3``, the JVM ``java``)."""
    out: dict[str, float] = defaultdict(float)
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/comm") as f:
                name = f.read().strip()
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        out[name] += int(line.split()[1]) / 1024
                        break
        except OSError:
            pass
    return dict(out)


def nonheap_peak_mb(spark, reset: bool = False) -> float:
    """Peak used MB of the JVM's non-heap pools (metaspace, where the
    generated classes go, and the code cache) since the last reset; with
    ``reset``, restart the peaks instead."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    total = 0.0
    for pool in mf.getMemoryPoolMXBeans():
        if str(pool.getType()) != "Heap memory":
            if reset:
                pool.resetPeakUsage()
            else:
                total += pool.getPeakUsage().getUsed() / 2**20
    return total


def steal_jiffies() -> int:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def _digest_query(df: DataFrame) -> DataFrame:
    return df.select(
        F.count(F.lit(1)),
        F.coalesce(F.sum(F.shiftright(F.xxhash64(*df.columns), 24)), F.lit(0)),
    )


def digest(df: DataFrame) -> tuple[int, int]:
    """Order-independent digest over ALL columns: (row count, sum of
    xxhash64 of the row). Hashing every column keeps Catalyst from pruning
    work a bare count would skip; the shift keeps the sum inside a long."""
    row = _digest_query(df).collect()[0]
    return int(row[0]), int(row[1])


def _plan_nodes(plan):
    """Every node of an executed physical plan, through adaptive plans,
    query stages and reused exchanges."""
    todo = [plan]
    while todo:
        p = todo.pop()
        yield p
        name = p.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            todo.append(p.executedPlan())
        elif name.endswith("QueryStageExec"):
            todo.append(p.plan())
        elif name == "ReusedExchangeExec":
            todo.append(p.child())
        kids = p.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))


def digest_and_files(df: DataFrame) -> tuple[tuple[int, int], int]:
    """``digest(df)`` plus the number of files its file scans read, from
    the ``numFiles`` metric of the executed scans: the files left after
    partition pruning, not every file of the table."""
    q = _digest_query(df)
    row = q.collect()[0]
    files = 0
    for node in _plan_nodes(q._jdf.queryExecution().executedPlan()):
        m = node.metrics().get("numFiles")
        if node.nodeName().startswith("Scan") and m.isDefined():
            files += int(m.get().value())
    return (int(row[0]), int(row[1])), files


class Spans:
    """Wall-clock spans around calls into the engine. Each span labels its
    Spark jobs with a job group of the same name, so the event log can
    attribute executor time, shuffle and spill to it."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.wall: dict[str, float] = defaultdict(float)

    @contextmanager
    def __call__(self, name: str):
        self.sc.setJobGroup(name, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.wall[name] += time.perf_counter() - t0
            self.sc.setJobGroup("bench", "bench")


def read_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: jobs, executor run and CPU seconds, shuffle read and
    write bytes, bytes spilled to disk, summed over the task-end events of
    the Spark event log files under ``log_dir``."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    paths = sorted(os.path.join(d, n) for d, _, names in os.walk(log_dir)
                   for n in names if n.startswith(("events", "local-")))
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "none")
                    out[group]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics")
                    if not m:
                        continue
                    g = out[stage_group.get(ev["Stage ID"], "none")]
                    g["run_s"] += m.get("Executor Run Time", 0) / 1e3
                    g["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    r = m.get("Shuffle Read Metrics", {})
                    g["shuffle_read"] += r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0)
                    g["shuffle_write"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    g["spill"] += m.get("Disk Bytes Spilled", 0)
    return out
