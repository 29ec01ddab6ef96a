#!/usr/bin/env python
"""Per-key isolated bench + plan capture (r11 optimization round).

Times the named conformance keys through the noop sink (guide §1.4) on a
tuned local[$SPARK_GRAFT_CPUS] session, min-of-N, after the same JVM/Arrow
warmup bench.py performs, and optionally writes .explain("formatted") to
``--plans-dir``. Repo root (first sys.path entry) comes from
``$BENCH_KEYS_REPO`` so the same script can measure a baseline worktree
and the working tree.

Usage:
  BENCH_KEYS_REPO=/root/repo python tools/bench_keys.py key1 key2 \
      [--sf /root/testdata/sf0.1] [--repeat 3] [--plans-dir plans/r11 \
       --plans-suffix after]
Prints one JSON line: ``timings`` {key: best_sec} and, over the same
timed repeats, ``codegen`` {key: {compiles, compile_ms}} — the Janino
compilations (``CodegenMetrics``) and their wall (``CodeGenerator``'s
compile-time accumulator) — and ``jobs`` {key: Spark jobs run}, counted
through one job group per key (a job a key submits from a Python thread
it starts is counted only if that thread inherits the group, as
``pyspark.InheritableThread`` does). A key that recompiles on every repeat is
missing the whole-stage codegen cache. ``leaked_rdds`` {key: n} is the
persistent RDDs each repeat's call left, summed over the repeats: an
operator that stores intermediates it never releases shows up there (a key
whose result reads a local checkpoint keeps one per repeat). Every repeat
is cold: the cache is cleared and every stored RDD unpersisted after it,
outside the timed region, so min-of-N never reads a warm cache an earlier
repeat left behind.
"""
from __future__ import annotations

import argparse
import json
import os
import sys
import time


def free_storage(spark) -> None:
    """Clear the cache and unpersist every stored RDD, local checkpoints
    included (``clearCache`` alone does not free those)."""
    spark.catalog.clearCache()
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in list(rdds.keySet()):
        rdds.get(rid).unpersist(True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("keys", nargs="+")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--repeat", type=int, default=3)
    ap.add_argument("--plans-dir", default=None)
    ap.add_argument("--plans-suffix", default="after")
    args = ap.parse_args()

    repo = os.environ.get("BENCH_KEYS_REPO", "/root/repo")
    sys.path.insert(0, repo)
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from data_engineering__spark.conformance import QUERIES
    from data_engineering__spark.session import get_spark
    spark = get_spark("bench-keys", master=f"local[{cpus}]")
    spark.range(1000).count()
    (spark.range(int(cpus) * 4).repartition(int(cpus))
     .mapInPandas(lambda it: it, "id long").count())

    jvm = spark._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME()
    codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen \
        .CodeGenerator

    sc = spark.sparkContext
    out: dict[str, float] = {}
    cg: dict[str, dict] = {}
    jobs: dict[str, int] = {}
    leaked: dict[str, int] = {}
    for name in args.keys:
        fn = QUERIES[name]
        best = None
        n0, ns0 = compiles.getCount(), codegen.compileTime()
        group = f"bench:{name}"
        sc.setJobGroup(group, group)
        leaked[name] = 0
        for _ in range(args.repeat):
            t0 = time.perf_counter()
            df = fn(spark, args.sf)
            df.write.format("noop").mode("overwrite").save()
            el = time.perf_counter() - t0
            best = el if best is None else min(best, el)
            leaked[name] += sc._jsc.getPersistentRDDs().size()
            free_storage(spark)
        out[name] = round(best, 3)
        cg[name] = {"compiles": compiles.getCount() - n0,
                    "compile_ms": round((codegen.compileTime() - ns0) / 1e6,
                                        1)}
        jobs[name] = len(sc.statusTracker().getJobIdsForGroup(group))
        sc.setJobGroup("bench:plans", "bench:plans")
        if args.plans_dir:
            os.makedirs(args.plans_dir, exist_ok=True)
            txt = fn(spark, args.sf)._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode
                .fromString("formatted"))
            with open(os.path.join(
                    args.plans_dir,
                    f"{name}_{args.plans_suffix}.txt"), "w") as fh:
                fh.write(txt)
            free_storage(spark)
    try:
        load = round(os.getloadavg()[0], 1)
    except OSError:
        load = None
    print(json.dumps({"timings": out, "codegen": cg, "jobs": jobs,
                      "leaked_rdds": leaked, "load_1m": load,
                      "repo": repo, "sf": args.sf}))


if __name__ == "__main__":
    main()
