#!/usr/bin/env python
"""Round-6 optimization measurement harness (bench.py is frozen for the
driver; everything exploratory lives here — guide §1).

Subcommands:
  --queries a,b,c [--reps N] [--sf-dir DIR]   noop-sink per-query timing
  --explain a,b,c [--tag before|after]        write plans/r06/<q>_<tag>.txt
  --kg-split [--sf SF]                        corpus-gen vs extract decomposition
  --all                                       full headline loop (same protocol
                                              as bench.py, for apples-to-apples)

Timing protocol matches bench.py: warm each plan shape at sf0.001 first,
then reps with steal-jiffy bookkeeping, best-of-reps.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import HEADLINE  # noqa: E402  (bench.py runs only under __main__)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _steal() -> int:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def _java_cpu() -> int:
    """utime+stime jiffies of the session's JVM (direct java child of this
    process) — a steal-robust work proxy: host contention inflates wall
    but not the CPU the JVM actually burned."""
    import subprocess

    out = subprocess.run(
        ["pgrep", "-P", str(os.getpid()), "java"], capture_output=True, text=True
    ).stdout.split()
    total = 0
    for pid in out:
        try:
            with open(f"/proc/{pid}/stat") as f:
                parts = f.read().rsplit(")", 1)[1].split()
            total += int(parts[11]) + int(parts[12])  # utime, stime
        except OSError:
            pass
    return total


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _get_spark():
    from corporate_knowledge_extractor_spark.session import get_spark

    return get_spark(
        app_name=f"ckg-bench-extra-{CPUS}", master=f"local[{CPUS}]",
        shuffle_partitions=CPUS,
    )


def time_queries(names: list[str], sf_dir: str, reps: int = 2) -> dict:
    from corporate_knowledge_extractor_spark.plans.queries import REGISTRY

    spark = _get_spark()
    warm_dir = "/root/testdata/sf0.001"
    for name in names:
        spark.sparkContext.setJobDescription(f"warm:{name}")
        _force(REGISTRY[name].fn(spark, warm_dir))
        spark.catalog.clearCache()
    out = {}
    for name in names:
        runs = []
        for r in range(reps):
            spark.sparkContext.setJobDescription(f"timed:{name}:rep{r}")
            s0, c0, t0 = _steal(), _java_cpu(), time.time()
            _force(REGISTRY[name].fn(spark, sf_dir))
            runs.append({"sec": round(time.time() - t0, 3),
                         "steal_jiffies": _steal() - s0,
                         "jvm_cpu_jiffies": _java_cpu() - c0})
            spark.catalog.clearCache()
        out[name] = {"best": min(x["sec"] for x in runs),
                     "cpu_min": min(x["jvm_cpu_jiffies"] for x in runs),
                     "runs": runs}
        print(json.dumps({name: out[name]}), flush=True)
    spark.stop()
    return out


def explain_queries(names: list[str], sf_dir: str, tag: str) -> None:
    from corporate_knowledge_extractor_spark.plans.queries import REGISTRY

    spark = _get_spark()
    os.makedirs("plans/r06", exist_ok=True)
    for name in names:
        df = REGISTRY[name].fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(f"plans/r06/{name}_{tag}.txt", "w") as f:
            f.write(plan)
        spark.catalog.clearCache()
        print(f"wrote plans/r06/{name}_{tag}.txt", flush=True)
    spark.stop()


def kg_split(sf: float, reps: int = 2) -> None:
    """Decompose kg_triples_e2e: corpus generation alone (noop-forced),
    then the full generate+extract+count as the bench times it."""
    from corporate_knowledge_extractor_spark.corpus import generate_corpus
    from corporate_knowledge_extractor_spark.plans.pipeline import extract_triples

    spark = _get_spark()
    extract_triples(generate_corpus(spark, n_docs=2000)).count()
    spark.catalog.clearCache()
    for r in range(reps):
        spark.sparkContext.setJobDescription(f"kg:gen-only:rep{r}")
        s0, t0 = _steal(), time.time()
        _force(generate_corpus(spark, sf=sf))
        gen = time.time() - t0
        gen_steal = _steal() - s0
        spark.sparkContext.setJobDescription(f"kg:e2e:rep{r}")
        s0, t0 = _steal(), time.time()
        n = extract_triples(generate_corpus(spark, sf=sf)).count()
        e2e = time.time() - t0
        print(json.dumps({
            "rep": r, "gen_only_sec": round(gen, 2),
            "gen_steal": gen_steal,
            "e2e_sec": round(e2e, 2), "e2e_steal": _steal() - s0,
            "triples": n,
        }), flush=True)
        spark.catalog.clearCache()
    spark.stop()


if __name__ == "__main__":
    args = sys.argv[1:]

    def _opt(flag: str, default=None):
        return args[args.index(flag) + 1] if flag in args else default

    sf_dir = _opt("--sf-dir", SF_DIR)
    reps = int(_opt("--reps", "2"))
    if "--queries" in args:
        names = _opt("--queries").split(",")
        if names == ["ALL"]:
            names = HEADLINE
        time_queries(names, sf_dir, reps)
    elif "--explain" in args:
        names = _opt("--explain").split(",")
        if names == ["ALL"]:
            names = HEADLINE
        explain_queries(names, sf_dir, _opt("--tag", "before"))
    elif "--kg-split" in args:
        kg_split(float(_opt("--sf", "1.0")), reps)
    else:
        print(__doc__)
