"""Closed-loop benchmark of the engine's registry queries.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  One client runs one registry query at a
time on ``local[<cores>]`` over tables generated by ``datagen.py``.  A run
is two fresh engine processes, one after the other: one that only sets up
(imports the registry and starts the session), and one that sets up, runs
a cold pass over the workload's queries, one warm-up pass and then as
many measured warm passes as fit ``--seconds`` at the workload's nominal
pass time.  The seed permutes the query order of every warm pass.  The
cold pass and the warm-up pass have their outputs checked against the
DuckDB oracle.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer ones, and writes the
spans to ``.perfbench_work/traces/``.  ``DESIGN.md`` says what each metric
is expected to move.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(REPO, ".perfbench_work")
SETUP_SAMPLES = 2
RUN_TIMEOUT_S = 170

# workload -> (queries in the order of the cold pass, nominal warm pass
# seconds).  Warm and traced passes run the queries in an order drawn from
# the seed.  The nominal pass time turns --seconds into a fixed number of
# measured passes, so every commit is timed at the same pass indices of
# the JIT's warm-up.  curate's is set below its ~6 s pass time so that a
# 12 s run still measures three passes and its median is not a mean.
WORKLOADS = {
    # scan -> shuffle join -> aggregate, planned by Catalyst: the marts'
    # weather join and the TPC-H star.  No eager jobs while the frame is
    # built, no writes, no streaming.
    "warehouse": (["q_trips_weather", "q_star_join", "q_tpch_q5", "q_tpch_q18"], 3.0),
    # near-duplicate curation and ingest: a driver-side loop that runs
    # eager jobs while the frame is built (MinHash LSH banding, then
    # connected components), a CDC merge, a Delta-protocol write + commit
    # + log-replay read, and an availableNow streaming drain.
    "curate": (["q_dedup_cluster", "q_cdc_apply", "q_delta_roundtrip", "q_stream_cusum"],
               4.0),
}

REQUIRED = ("__spark_entry__.py", "nyc_taxi_data_warehouse_spark/session.py",
            "tools/check_correctness.py")


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the host's CPUs so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7], sum(f[:8])


def fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def _become_subreaper() -> None:
    """Have orphaned descendants (the JVM once its Python parent exits)
    re-parented to this process, so it can reap them."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _group_alive(pgid: int) -> bool:
    """Whether a live (not yet exited) process remains in group ``pgid``."""
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] not in "ZX":
            return True
    return False


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def spawn(args: list[str], run_dir: str, env: dict, log: str, timeout: float) -> dict:
    """Start one worker process in its own process group, wait for it,
    then kill and reap everything left in the group.  Returns the
    worker's result record."""
    out = os.path.join(run_dir, f"result-{len(os.listdir(run_dir))}.json")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), *args,
           "--repo", REPO, "--out", out, "--spawned-at"]
    with open(log, "a") as fh:
        t0 = time.time()
        proc = subprocess.Popen(cmd + [repr(t0)], cwd=run_dir, env=env, stdout=fh,
                                stderr=subprocess.STDOUT, start_new_session=True)
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            pass
        finally:
            deadline = time.time() + 30
            while True:
                try:
                    os.killpg(proc.pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
                proc.wait()
                _reap()
                if not _group_alive(proc.pid) or time.time() > deadline:
                    break
                time.sleep(0.02)
    if proc.returncode != 0 and not os.path.exists(out):
        raise RuntimeError(f"worker exited with {proc.returncode}; see {log}")
    with open(out) as fh:
        return json.load(fh)


def summarize_trace(res: dict) -> dict:
    """Per-layer metrics: the median over traced passes of each per-pass
    total (queries summed, modules grouped by package and listed one by
    one), the spread (max - min) of the job and stage counts, and the
    tracing overhead."""
    from tracing import LAYERS

    passes = []
    for layers, modules in zip(res["traced_layers"], res["modules"]):
        tot: dict[str, float] = {}
        for name, rec in layers.items():
            for k, v in rec.items():
                if k != "span_id":
                    tot[k] = tot.get(k, 0.0) + v
        for pkg in LAYERS:
            for field in ("self_s", "calls", "jobs"):
                tot[f"{pkg}.{field}"] = sum(
                    row[field] for mod, row in modules.items() if mod.split(".")[0] == pkg)
        for mod, row in modules.items():
            for field in ("self_s", "calls", "jobs"):
                tot[f"{mod}.{field}"] = row[field]
        module_s = sum(row["self_s"] for row in modules.values())
        tot["trace.build_covered_share"] = (
            module_s / tot["queries.build_s"] if tot.get("queries.build_s") else 0.0)
        passes.append(tot)
    keys = sorted({k for p in passes for k in p})
    out = {k: statistics.median(p.get(k, 0.0) for p in passes) for k in keys}
    for k in ("exec.jobs", "exec.stages", "queries.build_jobs"):
        vals = [p.get(k, 0.0) for p in passes]
        out[f"{k}_spread"] = max(vals) - min(vals)
    out["sources.write_amp"] = (
        out["sources.write_bytes"] / out["exec.scan_bytes"] if out["exec.scan_bytes"] else 0.0)
    out["trace.overhead_share"] = (statistics.median(res["traced_passes"])
                                   / statistics.median(res["untraced_passes"]))
    out["trace.passes"] = len(passes)
    out["mem.peak_mb"] = res["peak_mem_mb"]
    out["session.import_s"] = res["session.import_s"]
    out["session.start_s"] = res["session.start_s"]
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(REPO, p))]
    if missing:
        return fail(f"not a checkout of the engine (missing {', '.join(missing)})")
    import datagen

    _become_subreaper()

    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names, nominal_s = WORKLOADS[args.workload]
    passes = max(2, math.ceil(args.seconds / nominal_s))
    data_dir = datagen.ensure(os.path.join(WORK, "data"))
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "local", "jtmp"):
        os.makedirs(os.path.join(run_dir, sub))
    log = os.path.join(WORK, f"last-{args.workload}.log")
    open(log, "w").close()
    try:
        cores = len(os.sched_getaffinity(0))
        env = dict(os.environ,
                   SPARK_GRAFT_CPUS=str(cores),
                   TMPDIR=os.path.join(run_dir, "tmp"),
                   SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
                   JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={run_dir}/jtmp -XX:-UsePerfData",
                   PYTHONPATH=os.pathsep.join([HERE, REPO, os.path.join(REPO, "tools")]))
        common = ["--queries", ",".join(names),
                  "--seed", str(args.seed), "--passes", str(passes),
                  "--trace", str(args.trace), "--data", data_dir]
        deadline = time.time() + RUN_TIMEOUT_S
        steal0 = cpu_ticks()
        setups = [spawn(common + ["--setup-only"], run_dir, env, log, 60)["setup_s"]
                  for _ in range(SETUP_SAMPLES - 1)]
        res = spawn(common, run_dir, env, log, deadline - time.time())
        setups.append(res["setup_s"])
        steal1 = cpu_ticks()
    except Exception as e:  # report why no result was printed
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        return fail(f"run failed: {e}")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    if "cold_pass_s" not in res:
        return fail(f"worker produced no measurement; see {log}")
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    e2e = {"setup_s": statistics.median(setups), "cold_pass_s": res["cold_pass_s"]}
    if not args.trace:
        e2e.update({k: res[k] for k in ("warm_pass_s", "warm_query_geomean_s")})
    warm = res["traced_passes" if args.trace else "warm_passes"]
    print(f"workload={args.workload} seed={args.seed} cores={cores} "
          f"queries={len(names)} setup_samples={len(setups)} cold_passes=1 "
          f"{'traced' if args.trace else 'warm'}_passes={len(warm)}")
    for k, v in e2e.items():
        print(f"  {k:<22} {v:12.4f} {units.get(k, '')}")
    steal = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
    print(f"  passes: {' '.join(f'{v:.3f}' for v in warm)} s; set-ups: "
          f"{' '.join(f'{v:.3f}' for v in setups)} s; "
          f"CPU time stolen by the hypervisor during the run: {steal:.1%}")
    print(f"  {'peak memory':<22} {res['peak_mem_mb']:12.1f} MB (per-layer mem.peak_mb)")
    print(f"  {'fail_share':<22} {res['failed'] / res['attempted']:12.4f} share "
          f"({res['failed']} of {res['attempted']} query runs)")
    nan = float("nan")
    for name in names:
        if args.trace:
            runs = [p[name] for p in res["traced_query_s"] if name in p]
            warm_q = statistics.median(runs) if runs else nan
        else:
            warm_q = res["warm_query_s"].get(name, nan)
        print(f"    {name:<28} cold {res['cold_query_s'].get(name, nan):8.3f} s"
              f"   {'traced' if args.trace else 'warm'} median {warm_q:8.3f} s")
    for name, err in sorted(res["failures"].items()):
        print(f"  FAILED {name}: {err}")
    if args.trace:
        layer = summarize_trace(res)
        trace_dir = os.path.join(WORK, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        with open(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json"), "w") as fh:
            json.dump({"workload": args.workload, "seed": args.seed, "cores": cores,
                       "queries": names, "end_to_end": e2e, "per_layer": layer,
                       "traced_passes": res["traced_passes"],
                       "modules": res["modules"], "layers": res["traced_layers"],
                       "spans": res["spans"]}, fh)
        metrics = {m["name"]: layer.get(m["name"], 0.0) for m in spec["per_layer"]}
    else:
        metrics = e2e
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
