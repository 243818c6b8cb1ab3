"""Per-query isolation timer (optimization guide §1): runs the named
queries through the noop sink K times on an otherwise-idle session,
after bench.py's warm-up, with a cache clear and both GCs between runs.
Per query it prints the per-run wall seconds plus the Spark job/stage
counts each run issued (statusTracker deltas) — the job count is the
action/collect audit, the stage count tracks exchanges — and the Janino
compiles each run made (codegen-cache misses; 0 once a query's classes
are cached).  A final JSON line carries every query's samples, min and
median with the host load average: the MIN is the contention-free
signal when re-measuring a bench mover.

Usage:
    python tools/qtime.py [sf_dir] q_name [q_name ...]
    SPARK_GRAFT_QTIME_RUNS=5 python tools/qtime.py ...
"""

from __future__ import annotations

import gc
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod
from bench import warm_session
from nyc_taxi_data_warehouse_spark.session import codegen_compiles, get_spark

RUNS = int(os.environ.get("SPARK_GRAFT_QTIME_RUNS", "3"))


def main() -> None:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.1"
    if args and not args[0].startswith("q_"):
        sf_dir = args.pop(0)
    qs = entry_mod.queries()
    spark = get_spark("qtime")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    warm_session(spark, sf_dir)

    tracker = sc.statusTracker()
    results = {}
    for name in args:
        fn = qs[name]
        samples = []
        for i in range(RUNS):
            sc.setJobGroup(f"qtime_{name}_{i}", name)
            c0 = codegen_compiles(spark)
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            dt = time.perf_counter() - t0
            ncomp = codegen_compiles(spark) - c0
            jobs = tracker.getJobIdsForGroup(f"qtime_{name}_{i}") or []
            nstages = 0
            for j in jobs:
                ji = tracker.getJobInfo(j)
                if ji is not None:
                    nstages += len(ji.stageIds)
            samples.append((dt, len(jobs), nstages, ncomp))
            spark.catalog.clearCache()
            gc.collect()
            sc._jvm.System.gc()
        ts = [round(s[0], 3) for s in samples]
        results[name] = {
            "samples": ts,
            "min": min(ts),
            "median": round(statistics.median(ts), 3),
        }
        print(
            f"{name}: min={min(ts):.2f} med={results[name]['median']:.2f} "
            f"runs={[f'{t:.2f}' for t in ts]} "
            f"jobs={[s[1] for s in samples]} "
            f"stages={[s[2] for s in samples]} "
            f"compiles={[s[3] for s in samples]}",
            flush=True,
        )
    print(json.dumps({"load_avg": os.getloadavg(), "sf_dir": sf_dir,
                      "runs": RUNS, "results": results}))


if __name__ == "__main__":
    main()
