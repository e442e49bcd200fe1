#!/usr/bin/env python3
"""Layered benchmark of the KG engine.

    python3 perfbench/run.py --workload extract --seed 1 --seconds 8 --trace 0

Runs one workload (see workloads.py and LAYERS.md) from the root of a
checkout: starts a local[nproc] session with a heap sized to the host,
generates the seeded inputs, warms up, then runs the workload's operation
closed-loop with one client for ``--seconds`` (at least once), checking
every output. The last stdout line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics of
BENCHMARK.json with ``--trace 0``, its per-layer metrics with ``--trace 1``.
The line before it carries the run's context and the workload-specific
figures (docs/s, triples/s, host steal and memory split per op, set-up
split).

``--pin`` records the run's checked reference digest in expected.json;
later runs with that seed must reproduce it.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PINS = os.path.join(HERE, "expected.json")


def host_heap_gb() -> int:
    """A quarter of the host's memory, between 1 and 4 GB: the library's
    48g default is larger than small hosts and gets OOM-killed."""
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    return max(1, min(4, total_kb // (4 * 1024 * 1024)))


def start_spark(work: str, nproc: int, heap_gb: int, trace: bool):
    from corporate_knowledge_extractor_spark.session import get_spark

    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # every JVM, the launcher's too: temp files in the checkout, and no
    # hsperfdata file, which HotSpot always writes under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tempfile.gettempdir()}"
    conf = {
        "spark.driver.memory": f"{heap_gb}g",
        # a fixed heap: a growing one is sized by G1's GC-time heuristics,
        # and the JVM's resident set then read 1.75 and 2.59 GB in two
        # corpus_dedup runs
        "spark.driver.extraJavaOptions": f"-Xms{heap_gb}g",
        # room for every generated class of a workload: at the default 100
        # entries, eviction made each pass recompile its stages, and JIT
        # churn left per-run CPU varying 2x between otherwise equal runs
        "spark.sql.codegen.cache.maxEntries": "2000",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(os.path.join(work, "events"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
        })
    return get_spark(master=f"local[{nproc}]", shuffle_partitions=nproc, extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session, close the JVM's stdin so it exits, and wait for
    the JVM and its Python workers to end."""
    import probe
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc
    # the Python workers outlive the JVM briefly, reparented away from us
    started = probe.descendants(os.getpid())
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 30
    while any(os.path.exists(f"/proc/{p}") for p in started) and time.time() < deadline:
        time.sleep(0.1)


def measure(wl, seconds: float, root_pid: int) -> list[dict]:
    """Closed loop, one client: run checked ops back to back until
    ``seconds`` have passed (at least one). Returns per-op records."""
    import probe

    ops = []
    end = time.perf_counter() + seconds
    while True:
        probe.reset_peak_rss(root_pid)
        probe.nonheap_peak_mb(wl.spark, reset=True)
        cpu0, steal0 = probe.tree_cpu_s(root_pid), probe.steal_jiffies()
        t0 = time.perf_counter()
        r = wl.attempt(wl.checked_op) or {"wall": time.perf_counter() - t0}
        r.update(cpu=probe.tree_cpu_s(root_pid) - cpu0, steal=probe.steal_jiffies() - steal0)
        # memory is read after the CPU, as the live-heap reading runs a GC
        rss = probe.peak_rss_mb(root_pid)
        r["mem"] = {"python": sum(v for k, v in rss.items() if k != "java"),
                    "jvm_nonheap": probe.nonheap_peak_mb(wl.spark),
                    "jvm_heap_live": probe.heap_live_mb(wl.spark)}
        ops.append(r)
        if time.perf_counter() >= end:
            return ops


def summarize(ops: list[dict], n_docs: int) -> tuple[dict, dict]:
    """(end-to-end metrics, workload-specific figures) of the ops. Wall
    time goes to the figures, not the bounded metrics: on a shared host a
    neighbour's CPU steal moves it by more than any usable bound."""
    med = lambda k: statistics.median(o[k] for o in ops)  # noqa: E731
    wall = med("wall")
    e2e = {"cpu_s": med("cpu"), "peak_rss_mb": statistics.median(sum(o["mem"].values()) for o in ops)}
    extra = {"ops": len(ops), "wall_s": wall, "op_wall_s": [o["wall"] for o in ops],
             "op_cpu_s": [o["cpu"] for o in ops], "steal_jiffies": [o["steal"] for o in ops],
             "op_mem_mb": [o["mem"] for o in ops], "docs_per_s": n_docs / wall}
    triples = [o["triples"] for o in ops if "triples" in o]
    if triples:
        extra["triples_per_s"] = triples[0] / wall
    return e2e, extra


def run(args, work: str) -> dict:
    import corporate_knowledge_extractor_spark  # noqa: F401  (fails outside a checkout)
    import probe
    from workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    nproc = len(os.sched_getaffinity(0))
    heap_gb = host_heap_gb()
    pid = os.getpid()

    t0 = time.perf_counter()
    spark = start_spark(work, nproc, heap_gb, bool(args.trace))
    setup = {"jvm_s": time.perf_counter() - t0}
    try:
        wl = WORKLOADS[args.workload](spark, args.seed, work)
        prep = []
        for _ in range(3):
            t0 = time.perf_counter()
            wl.prepare()
            prep.append(time.perf_counter() - t0)
        setup["prepare_s"] = statistics.median(prep)
        t0 = time.perf_counter()
        wl.warm_up()
        setup["warm_s"] = time.perf_counter() - t0
        setup_s = sum(setup.values())

        if not args.trace:
            ops = measure(wl, args.seconds, pid)
            metrics, extra = summarize(ops, wl.params.n_docs)
            metrics["setup_s"] = setup_s
        else:
            # the same operation untraced, then with every layer forced
            # and labelled; their difference is the tracing overhead
            spans = probe.Spans(spark)
            with spans("untraced"):
                wl.attempt(wl.checked_op)
            traced = wl.attempt(wl.trace, spans)
            extra = {"untraced_s": spans.wall["untraced"], "span_s": dict(spans.wall)}
    finally:
        stop_spark(spark)

    if args.trace:
        metrics = {}
        if traced is not None:
            finish, traced_s = traced
            metrics = finish(probe.read_event_log(os.path.join(work, "events")), spans.wall)
            metrics["trace.overhead_s"] = traced_s - spans.wall["untraced"]
            extra["traced_s"] = traced_s
    attempted, failed = wl.attempted, wl.failed

    pins = json.load(open(PINS)) if os.path.exists(PINS) else {}
    key = f"{args.workload}/{wl.params.key()}/{args.seed}"
    ref = None if wl.reference is None else list(wl.reference)
    if args.pin and ref is not None:
        pins[key] = ref
        with open(PINS, "w") as f:
            json.dump(pins, f, indent=1, sort_keys=True)
    elif ref is not None and key in pins and pins[key] != ref:
        print(f"reference {ref} != pinned {pins[key]}", file=sys.stderr)
        failed = attempted

    names = spec["per_layer" if args.trace else "end_to_end"]
    out = {m["name"]: {"value": float(metrics.get(m["name"], 0.0)), "unit": m["unit"]} for m in names}
    extra.update(workload=args.workload, seed=args.seed, nproc=nproc, heap_gb=heap_gb,
                 setup=setup, failed_ratio=failed / attempted, **wl.info)
    print(json.dumps({"context": extra}))
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": out}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True,
                    choices=["extract", "corpus_dedup"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--pin", action="store_true")
    args = ap.parse_args()

    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # keep every temporary file the engine or Spark writes inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    sys.path[:0] = [ROOT, HERE]
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
