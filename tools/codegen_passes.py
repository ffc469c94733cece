"""Per-pass codegen compiles and schema-inference jobs of a repeated query mix.

Runs a query mix several times in ONE session and prints, per pass, how
many generated classes Spark compiled (``CodegenMetrics``), how many jobs
the whole pass launched, its wall time, and the JVM's metaspace.  A warm
pass that recompiles nothing shows 0 compiles; a default-sized codegen
cache shows the whole mix recompiled on every pass.  Usage::

    python tools/codegen_passes.py --seed 31 --passes 4       # perfbench tabular mix
    python tools/codegen_passes.py --sf TESTDATA/sf0.01 --passes 2   # every query

The first form runs perfbench's ``tabular`` operations over that seed's
generated inputs (in perfbench's order); the second runs every registered
query, round robin, over one testdata directory.  Answers are not checked
here (perfbench and ``tools/check_oracle.py`` do that).  Prints one JSON
line per pass and a final summary line.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def metaspace_mb(spark) -> float:
    mf = spark._jvm.java.lang.management.ManagementFactory
    for pool in mf.getMemoryPoolMXBeans():
        if pool.getName() == "Metaspace":
            return pool.getUsage().getUsed() / 2**20
    return float("nan")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--seed", type=int, help="perfbench tabular seed")
    src.add_argument("--sf", help="testdata directory: run every registered query")
    ap.add_argument("--passes", type=int, default=3)
    args = ap.parse_args(argv)

    from perfbench import gen, run, workloads

    dirs = run.prepare_environment()
    wl = workloads.WORKLOADS["tabular"]
    if args.sf:
        data_dir, info = args.sf, {}
        wl = workloads.Workload("sweep", (), (), wl.runner_cls)  # reads no table at set-up
    else:
        data_dir, info, _ = gen.generate(wl.name, args.seed, dirs["data"])
    spark, entry, _, _ = run.setup(wl, data_dir, trace=False)
    runner = wl.runner(spark, entry, data_dir, info, args.seed or 0, dirs, None)
    if args.sf:
        runner.order = list(entry.queries())  # every query, registry order
    cg = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    sc = spark.sparkContext
    summary = {"mix": f"tabular seed {args.seed}" if args.seed is not None else args.sf,
               "operations": len(runner.order),
               "codegen_cache_max_entries": spark.conf.get("spark.sql.codegen.cache.maxEntries"),
               "passes": []}
    try:
        for k in range(args.passes):
            group = f"pass{k}"
            c0, t0 = cg.METRIC_COMPILATION_TIME().getCount(), time.perf_counter()
            runner.run_pass(group, traced=False)
            rec = {
                "pass": k,
                "compiles": cg.METRIC_COMPILATION_TIME().getCount() - c0,
                "jobs": len(sc.statusTracker().getJobIdsForGroup(group)),
                "wall_s": round(time.perf_counter() - t0, 3),
                "metaspace_mb": round(metaspace_mb(spark), 1),
                "failed": len(runner.failures),
            }
            summary["passes"].append(rec)
            print(json.dumps(rec), flush=True)
    finally:
        spark.stop()
        run.shutdown_jvm()
    print(json.dumps(summary), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
