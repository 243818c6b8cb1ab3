"""One engine process of a benchmark run.

Started by ``run.py`` with the repository root on ``sys.path`` and its
working directory in a per-run scratch directory.  It times the engine's
public entry points only: importing the registry, ``session.get_spark``,
each registry function, and the action on the frame it returns.  Results
go to the JSON file named by ``--out``.

Untraced (``--trace 0``): set-up, one cold pass, one warm-up pass, then
``--passes`` measured warm passes.  Traced (``--trace 1``): the same up to
the warm-up pass, then ``--passes // 2`` pairs of an untraced and a
traced pass, so the tracing overhead is a ratio of pass times taken at
the same point of the JIT's warm-up.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import statistics
import sys
import threading
import time
from collections import defaultdict

# summed over micro-batches; streaming.state_rows/_bytes are added per run
STREAM_SUMS = ("streaming.batches", "streaming.input_rows", "streaming.trigger_ms",
               "streaming.add_batch_ms", "streaming.query_planning_ms",
               "streaming.wal_commit_ms")


def process_tree(pid: int) -> list[int]:
    """``pid`` and all its live descendants."""
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        try:
            for tid in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{tid}/children") as fh:
                    todo.extend(int(c) for c in fh.read().split())
        except OSError:
            continue
    return out


class MemorySampler(threading.Thread):
    """Peak memory of this process and all its descendants (the JVM and its
    Python workers), sampled from ``/proc``.  Each process counts its
    proportional set size, so pages that forked Python workers share with
    their parent are counted once."""

    def __init__(self, period_s: float = 0.1):
        super().__init__(daemon=True)
        self.period_s = period_s
        self.peak_kb = 0
        self._halt = threading.Event()

    @staticmethod
    def _pss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def run(self):
        me = os.getpid()
        while not self._halt.is_set():
            kb = sum(self._pss_kb(p) for p in process_tree(me))
            self.peak_kb = max(self.peak_kb, kb)
            self._halt.wait(self.period_s)

    def stop(self) -> float:
        self._halt.set()
        self.join()
        return self.peak_kb / 1024.0


def make_stream_counter():
    from pyspark.sql.streaming import StreamingQueryListener

    class StreamCounter(StreamingQueryListener):
        """Sums micro-batch progress over every streaming query; state size
        is the last reported size of each stream run."""

        def __init__(self):
            self.lock = threading.Lock()
            self.sums = defaultdict(float)
            self.state: dict[str, tuple[int, int]] = {}

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            d = p.durationMs
            with self.lock:
                self.sums["streaming.batches"] += 1
                self.sums["streaming.input_rows"] += p.numInputRows
                self.sums["streaming.trigger_ms"] += d.get("triggerExecution", 0)
                self.sums["streaming.add_batch_ms"] += d.get("addBatch", 0)
                self.sums["streaming.query_planning_ms"] += d.get("queryPlanning", 0)
                self.sums["streaming.wal_commit_ms"] += d.get("walCommit", 0)
                self.state[str(p.runId)] = (
                    sum(s.numRowsTotal for s in p.stateOperators),
                    sum(s.memoryUsedBytes for s in p.stateOperators),
                )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def snapshot(self) -> tuple[dict, dict]:
            """(micro-batch sums, last (state rows, state bytes) by run id)."""
            with self.lock:
                return {k: self.sums.get(k, 0.0) for k in STREAM_SUMS}, dict(self.state)

    return StreamCounter()


def written(dirs: list[str], since_ns: int) -> tuple[int, int]:
    """(bytes, files) of regular files under ``dirs`` modified at or after
    ``since_ns``."""
    nbytes = nfiles = 0
    for d in dirs:
        for root, _, files in os.walk(d):
            for f in files:
                try:
                    st = os.stat(os.path.join(root, f))
                except OSError:
                    continue
                if st.st_mtime_ns >= since_ns:
                    nbytes += st.st_size
                    nfiles += 1
    return nbytes, nfiles


def result_digest(rows, cols, types) -> dict:
    import hashlib

    from check_correctness import canon

    lcols = [c.lower() for c in cols]
    body = repr(canon(rows, lcols)).encode()
    return {"rows": len(rows), "cols": sorted(lcols),
            "types": dict(sorted(zip(lcols, types))),
            "sha256": hashlib.sha256(body).hexdigest()}


class Runner:
    def __init__(self, spark, registry, data_dir, oracle, scratch_dirs):
        self.spark = spark
        self.registry = registry
        self.data_dir = data_dir
        self.oracle = oracle
        self.scratch_dirs = scratch_dirs
        self.attempted = 0
        self.failures: dict[str, str] = {}
        self.failed = 0

    def _check(self, name: str, df, rows) -> str | None:
        from check_correctness import canon_spark_type

        want = self.oracle.get(name)
        if want is None:
            return "no oracle digest"
        if "error" in want:
            return f"oracle error: {want['error']}"
        got = result_digest(rows, df.columns,
                            [canon_spark_type(f.dataType) for f in df.schema.fields])
        for key in ("cols", "types", "rows", "sha256"):
            if got[key] != want[key]:
                return f"{key} mismatch: spark={got[key]!r} oracle={want[key]!r}"
        return None

    def run_query(self, name: str, verify: bool, tracer=None, stats=None, layer=None):
        """Build and execute one registry query; returns its wall seconds
        (None when it failed).  With a tracer, splits it into build, plan
        and exec spans and fills ``layer`` with its counters."""
        fn = self.registry[name]
        self.attempted += 1
        err = None
        try:
            if tracer is None:
                t0 = time.perf_counter()
                df = fn(self.spark, self.data_dir)
                rows = df.collect()
                dt = time.perf_counter() - t0
            else:
                dt, df, rows, trace = self._traced(name, fn, tracer, stats)
            if verify:
                err = self._check(name, df, rows)
        except Exception as e:  # one failing query must not end the run
            err = f"{type(e).__name__}: {str(e).splitlines()[0] if str(e) else ''}"
        finally:
            # cache lifetime is the caller's job: a registry function
            # returns an unconsumed plan and cannot unpersist what it cached
            self.spark.catalog.clearCache()
        if err is not None:
            self.failed += 1
            self.failures.setdefault(name, err[:300])
            return None
        if tracer is not None:
            # outside the try: a fault in the counters is the benchmark's,
            # never a failure of the query
            layer.update(self._counters(tracer, stats, *trace))
        return dt

    def _traced(self, name, fn, tracer, stats):
        since_ns = time.time_ns()
        start = stats.mark()
        with tracer.span(name, "query") as q:
            with tracer.span("build", "build") as b:
                df = fn(self.spark, self.data_dir)
            built = stats.mark()
            with tracer.span("plan", "plan"):
                qe = df._jdf.queryExecution()
                qe.executedPlan()
            planned = stats.mark()
            with tracer.span("exec", "exec") as e:
                rows = df.collect()
        return q["t1"] - q["t0"], df, rows, (since_ns, qe, start, built, planned, b, e)

    def _counters(self, tracer, stats, since_ns, qe, start, built, planned, b, e) -> dict:
        jvm = self.spark.sparkContext._jvm
        phases = jvm.scala.jdk.javaapi.CollectionConverters.asJava(qe.tracker().phases())
        build_counts = stats.since(start, upto=built)
        exec_counts = stats.since(planned)
        total = stats.since(start, operators=True)
        wbytes, wfiles = written(self.scratch_dirs, since_ns)
        layer = {
            "queries.build_s": b["t1"] - b["t0"],
            "queries.build_self_s": tracer.self_times()[b["id"]][0],
            "queries.build_jobs": build_counts["exec.jobs"],
            "queries.build_stages": build_counts["exec.stages"],
            "queries.build_tasks": build_counts["exec.tasks"],
            "catalyst.analysis_ms": _phase_ms(phases, "analysis"),
            "catalyst.optimization_ms": _phase_ms(phases, "optimization"),
            "catalyst.planning_ms": _phase_ms(phases, "planning"),
            "exec.s": e["t1"] - e["t0"],
            "exec.jobs": exec_counts["exec.jobs"],
            "exec.stages": exec_counts["exec.stages"],
            "exec.tasks": exec_counts["exec.tasks"],
            "exec.failed_tasks": total["exec.failed_tasks"],
            "sources.write_bytes": wbytes,
            "sources.write_files": wfiles,
            "jvm.gc_s": total["jvm.gc_s"],
            "jvm.gc_count": total["jvm.gc_count"],
        }
        for k, v in total.items():
            layer.setdefault(k, v)
        return layer


def _phase_ms(phases, key: str) -> float:
    summary = phases.get(key)
    return float(summary.durationMs()) if summary is not None else 0.0


def run_pass(runner, order, verify, tracer=None, stats=None, stream=None):
    """One pass over ``order``; returns (pass seconds, per-query seconds,
    per-query layer counters)."""
    lat, layers = {}, {}
    if tracer is None:
        for name in order:
            dt = runner.run_query(name, verify)
            if dt is not None:
                lat[name] = dt
        return sum(lat.values()), lat, layers
    stats.drain()
    sums0, state0 = stream.snapshot()
    with tracer.span("pass", "pass") as p:
        for name in order:
            layers[name] = {}
            dt = runner.run_query(name, verify, tracer, stats, layers[name])
            if dt is not None:
                lat[name] = dt
    stats.drain()
    sums1, state1 = stream.snapshot()
    new_runs = [v for run, v in state1.items() if run not in state0]
    layers["_pass"] = {k: sums1[k] - sums0[k] for k in STREAM_SUMS}
    layers["_pass"]["streaming.state_rows"] = sum(rows for rows, _ in new_runs)
    layers["_pass"]["streaming.state_bytes"] = sum(nbytes for _, nbytes in new_runs)
    layers["_pass"]["span_id"] = p["id"]
    return sum(lat.values()), lat, layers


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", required=True, help="comma-separated registry names")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--passes", type=int, required=True,
                    help="measured warm passes (traced: pairs of passes)")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--data", required=True)
    ap.add_argument("--repo", required=True)
    ap.add_argument("--spawned-at", type=float, required=True,
                    help="wall-clock time at which the parent started this process")
    ap.add_argument("--setup-only", action="store_true")
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)

    sampler = MemorySampler()
    sampler.start()
    sys.path[:0] = [args.repo, os.path.join(args.repo, "tools")]
    import __spark_entry__ as entry_mod
    from nyc_taxi_data_warehouse_spark.session import get_spark

    registry = entry_mod.queries()
    t_session = time.time()
    spark = get_spark("perfbench")
    t_ready = time.time()
    out = {
        "setup_s": t_ready - args.spawned_at,
        "session.import_s": t_session - args.spawned_at,
        "session.start_s": t_ready - t_session,
    }
    rc = 0
    try:
        if not args.setup_only:
            import oracle

            spark.sparkContext.setLogLevel("ERROR")
            names = args.queries.split(",")
            expected = oracle.digests(names, args.data, entry_mod.oracle_sql())
            out.update(measure(spark, registry, expected, names, args))
    except Exception:
        import traceback

        traceback.print_exc()
        rc = 1
    out["peak_mem_mb"] = sampler.stop()
    with open(args.out, "w") as fh:
        json.dump(out, fh)
    # Everything is measured and written: leave without a graceful
    # SparkContext shutdown.  The JVM exits when its gateway pipe closes,
    # and the parent reaps the whole process group.
    sys.stdout.flush()
    sys.stderr.flush()
    os._exit(rc)


def measure(spark, registry, oracle, names, args) -> dict:
    rng = random.Random(args.seed)
    # where the engine writes: its scratch dirs, the JVM's temp dir (stream
    # checkpoints) and the table warehouse; shuffle and block files live in
    # the separate Spark local dir and are not counted
    scratch = [os.path.abspath(p) for p in ("tmp", "jtmp", "spark-warehouse")]
    runner = Runner(spark, registry, args.data, oracle, scratch)

    def order():
        o = list(names)
        rng.shuffle(o)
        return o

    # the cold pass keeps the workload's own order: which query pays the
    # process's first-job and first-stream costs is part of what it measures
    cold_s, cold_lat, _ = run_pass(runner, names, verify=True)
    res = {"cold_pass_s": cold_s, "cold_query_s": cold_lat}
    # one unreported warm-up pass: the first pass after the cold one is
    # still on the steep part of the JIT's warm-up; its outputs are checked
    run_pass(runner, order(), verify=True)
    if args.trace:
        res.update(traced_passes(spark, runner, order, max(1, args.passes // 2)))
    else:
        res.update(warm_passes(runner, order, args.passes))
    res.update({"attempted": runner.attempted, "failed": runner.failed,
                "failures": runner.failures})
    return res


def warm_passes(runner, order, n: int) -> dict:
    passes, lat = [], defaultdict(list)
    for _ in range(n):
        s, per_query, _ = run_pass(runner, order(), verify=False)
        passes.append(s)
        for k, v in per_query.items():
            lat[k].append(v)
    per_query = {k: statistics.median(v) for k, v in lat.items()}
    return {
        "warm_pass_s": statistics.median(passes),
        "warm_passes": passes,
        "warm_query_geomean_s": math.exp(statistics.fmean(
            math.log(v) for v in per_query.values())) if per_query else float("nan"),
        "warm_query_s": per_query,
    }


def traced_passes(spark, runner, order, pairs: int) -> dict:
    """``pairs`` pairs of one untraced and one traced warm pass.  Pairing
    puts both kinds at the same point of the JIT's warm-up, so their ratio
    is the tracing overhead."""
    from sparkstats import SparkStats
    from tracing import Tracer

    stats = SparkStats(spark)
    tracer = Tracer(stats.next_job_id)
    stream = make_stream_counter()
    spark.streams.addListener(stream)
    untraced, traced = [], []
    try:
        with tracer.span("workload", "workload"):
            for _ in range(pairs):
                untraced.append(run_pass(runner, order(), verify=False)[0])
                tracer.wrap_engine()
                try:
                    traced.append(run_pass(runner, order(), False, tracer, stats, stream))
                finally:
                    tracer.unwrap_engine()
    finally:
        spark.streams.removeListener(stream)
    return {"untraced_passes": untraced,
            "traced_passes": [p[0] for p in traced],
            "traced_query_s": [p[1] for p in traced],
            "traced_layers": [p[2] for p in traced],
            "modules": [tracer.module_table({p[2]["_pass"]["span_id"]}) for p in traced],
            "spans": tracer.spans}


if __name__ == "__main__":
    sys.exit(main())
