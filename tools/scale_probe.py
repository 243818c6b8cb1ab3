"""Scale probe: time the real registry queries on m× grown copies of the
input tables and report wall-time growth.

For each multiple m > 1 the probe writes an m× copy of every table in
``plans.nyc_views.TABLES`` once, under ``<repo>/.probe_data/`` (keyed by
the source dir and ``GROWER_VERSION``, reused while both hold), then
runs each query through the noop sink at every multiple, exactly as
``__spark_entry__.queries()`` ships it.  The 1× run reads ``sf_dir``
itself.

Dimension tables (region, nation, customer, supplier, part) are copied
byte for byte.  Each fact table is replicated m times with one
content-shifting rule, so the copy grows in content, not just in row
count (pure duplication would make every distinct, sketch and near-dup
candidate set degenerate).  Replica ``rep`` in 0..m-1 gets:

- orders / lineitem: order key → key·m + rep, order/ship date + rep
  days.  Keys stay unique, every replica is a disjoint order population
  against the SAME dimension keys, so the join graph of the star grows
  the way a warehouse grows.
- documents: doc_id → doc_id·m + rep, text → text minus its first
  rep·7 characters, n_chars recomputed from that text; lang and source
  are carried.  Near-dup structure stays (replicas of a doc are
  suffix-shifted near-dups of each other), distinct hashes grow m×.
- embeddings: vec_id → vec_id·m + rep, first coordinate + rep·0.01 (as
  float), label carried: every vector is distinct, cells barely move.
- events: event_id and user_id → id·m + rep, ts + rep·40 days.  The
  source spans under 40 days, so each replica lives in its own era:
  the time axis and the key universe grow m× while every time window
  keeps its density.  Jittering ts by seconds instead would pack m×
  rows into the same windows on both sides of a temporal join and grow
  its match set m²-fold — that measures output explosion, not feed
  volume.  Stream queries stage their feeds keyed by sf_dir
  (``util.stream_feed``), so a grown dir re-stages them.

Column names, order and types match the source, so ``load_tables`` reads
a grown dir like any sf dir.

Each query gets one throwaway 1× run first (JIT, codegen, Python worker
and streaming start-up are not plan cost), then one timed run per
multiple, with the bench's cache/GC hygiene between runs.
A run past ``RUN_BUDGET_S`` is recorded as a runaway (its batch jobs
are cancelled at the budget); a query that fails or runs away skips its
larger multiples.  Queries that
memoize a per-dir build (index, codebook, store) pay that build in their
first grown run but not at 1×, which the warm-up already filled.

Usage:  python tools/scale_probe.py <sf_dir> [--mults=1,4,8] [query ...]
        (default queries: bench.HEADLINE)
Prints one ``PROBE`` line per query and a final JSON line
``{query: {"1": s, "4": s, "8": s, "growth_8x": r}}``; a failed or
runaway run shows as a string in place of its seconds.  Run on an idle
host.
"""

from __future__ import annotations

import gc
import hashlib
import json
import os
import shutil
import sys
import threading
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F

from nyc_taxi_data_warehouse_spark.plans.nyc_views import TABLES

PROBE_ROOT = os.path.join(REPO, ".probe_data")
# bump when a growth rule changes: grown dirs are keyed by it
GROWER_VERSION = 1
RUN_BUDGET_S = 300


def _orders(m, rep):
    return {
        "o_orderkey": F.col("o_orderkey") * m + rep,
        "o_orderdate": F.timestamp_add("DAY", rep, F.col("o_orderdate")),
    }


def _lineitem(m, rep):
    return {
        "l_orderkey": F.col("l_orderkey") * m + rep,
        "l_shipdate": F.timestamp_add("DAY", rep, F.col("l_shipdate")),
    }


def _documents(m, rep):
    text = F.expr("substring(text, rep * 7 + 1)")
    return {
        "doc_id": F.col("doc_id") * m + rep,
        "text": text,
        "n_chars": F.length(text).cast("long"),
    }


def _embeddings(m, rep):
    def shift_first(x, i):
        return F.when(i == 0, (x + rep * 0.01).cast("float")).otherwise(x)

    return {
        "vec_id": F.col("vec_id") * m + rep,
        "embedding": F.transform("embedding", shift_first),
    }


def _events(m, rep):
    return {
        "event_id": F.col("event_id") * m + rep,
        "user_id": F.col("user_id") * m + rep,
        "ts": F.col("ts") + F.make_interval(days=rep * 40),
    }


GROWERS = {
    "orders": _orders,
    "lineitem": _lineitem,
    "documents": _documents,
    "embeddings": _embeddings,
    "events": _events,
}


def _grown_dir(sf_dir: str, mult: int, root: str) -> str:
    src = os.path.realpath(sf_dir)
    tag = hashlib.md5(f"{src}|{GROWER_VERSION}".encode()).hexdigest()[:10]
    return os.path.join(root, f"{os.path.basename(src)}-{tag}", f"m{mult}")


def grow_dir(spark, sf_dir: str, mult: int, root: str = PROBE_ROOT) -> str:
    """The mult× copy of ``sf_dir`` (``sf_dir`` itself at 1×), written
    once under ``root`` and reused while its ``_COMPLETE`` marker
    stands."""
    if mult == 1:
        return sf_dir
    out = _grown_dir(sf_dir, mult, root)
    marker = os.path.join(out, "_COMPLETE")
    if os.path.exists(marker):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    reps = F.explode(F.sequence(F.lit(0), F.lit(mult - 1))).alias("rep")
    rep = F.col("rep")
    for t in TABLES:
        src = f"{sf_dir}/{t}.parquet"
        if t not in GROWERS:
            shutil.copy(src, f"{out}/{t}.parquet")
            continue
        df = spark.read.parquet(src)
        new = GROWERS[t](mult, rep)
        (
            df.select(reps, "*")
            .select(
                *[
                    new.get(c, F.col(c)).cast(df.schema[c].dataType).alias(c)
                    for c in df.columns
                ]
            )
            .write.parquet(f"{out}/{t}.parquet")
        )
    open(marker, "w").close()
    return out


def _run(spark, fn, sf_dir: str) -> float:
    """Wall seconds of one noop-sink run.  Its batch jobs are cancelled
    at RUN_BUDGET_S; any run past it raises TimeoutError."""
    sc = spark.sparkContext
    group = f"scale_probe_{time.monotonic_ns()}"
    sc.setJobGroup(group, group, interruptOnCancel=True)
    t0 = time.perf_counter()  # before the timer: a cancel implies t >= budget
    timer = threading.Timer(RUN_BUDGET_S, sc.cancelJobGroup, [group])
    timer.start()
    try:
        fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
        dt = time.perf_counter() - t0
    except Exception as e:
        if time.perf_counter() - t0 >= RUN_BUDGET_S:
            raise TimeoutError(f"runaway: cancelled after {RUN_BUDGET_S} s") from e
        raise
    finally:
        timer.cancel()
        # every run pays its own cache fills (bench.py hygiene)
        spark.catalog.clearCache()
        gc.collect()
        sc._jvm.System.gc()
    if dt >= RUN_BUDGET_S:  # stream drains run outside the job group
        raise TimeoutError(f"runaway: {dt:.0f} s, past the {RUN_BUDGET_S} s budget")
    return round(dt, 3)


def main() -> None:
    args = sys.argv[1:]
    mults = [1, 4, 8]
    for a in [a for a in args if a.startswith("--mults=")]:
        mults = [int(x) for x in a.split("=", 1)[1].split(",")]
        args.remove(a)
    if not args:
        raise SystemExit(__doc__)
    sf_dir, names = args[0], args[1:]
    if not names:
        from bench import HEADLINE

        names = HEADLINE

    import __spark_entry__ as entry_mod
    from nyc_taxi_data_warehouse_spark.session import get_spark

    qs = entry_mod.queries()
    unknown = [n for n in names if n not in qs]
    if unknown:
        raise SystemExit(f"unknown queries {unknown}")
    spark = get_spark("scale_probe")
    spark.sparkContext.setLogLevel("ERROR")

    dirs = {}
    for m in mults:
        t0 = time.perf_counter()
        dirs[m] = grow_dir(spark, sf_dir, m)
        print(f"GROW m={m} {dirs[m]} {time.perf_counter() - t0:.1f}s", flush=True)

    report: dict[str, dict] = {}
    for name in names:
        fn = qs[name]
        times: dict[str, object] = {}
        phase = "warmup"
        try:
            _run(spark, fn, sf_dir)  # throwaway 1× run
            for m in mults:
                phase = str(m)
                times[phase] = _run(spark, fn, dirs[m])
        except Exception as e:
            times[phase] = f"{type(e).__name__}: {' '.join(str(e).split())[:200]}"
        lo, hi = times.get(str(mults[0])), times.get(str(mults[-1]))
        if isinstance(lo, float) and isinstance(hi, float) and lo > 0:
            times[f"growth_{mults[-1]}x"] = round(hi / lo, 2)
        report[name] = times
        # incremental line so a later query's crash can't lose this result
        print(f"PROBE {name} {json.dumps(times)}", flush=True)
    print(json.dumps(report))


if __name__ == "__main__":
    main()
