"""Benchmark of the flagship parse → enrich → route → aggregate pipeline.

    python3 perfbench/run.py --workload export_plain --seed 1 \
        --seconds 8 --trace 0

Run from the repository root. One process runs one workload: it starts a
Spark session at local[<cores this process may use>], generates the
seed's input window of ROWS rows (perfbench/inputs.py), runs a first rep
and verifies its routed output against the DuckDB twin
(perfbench/twin.py), runs more warm-up reps, then runs the workload's job
back to back for ``--seconds``. Every later rep must reproduce the
verified per-sink counts and checksum, or it counts as failed. The
workloads are in perfbench/workloads.py.

The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` they are the per-layer
ones (perfbench/trace.py), and the spans go to
``.bench_build/perfbench/<workload>-trace.json``. Everything the run writes
stays under ``.bench_build/perfbench``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "omnition_opentelemetry_service_spark"

# Input rows. A benchmark round makes 48 runs in 3420 s, so one run has
# about a minute for session start, input generation, warm-up reps,
# verification and its timed reps. Most of a rep is Spark's fixed per-job
# cost: on 4 vCPUs a warm export_plain rep takes about 3.5 s at 50k rows,
# 3 s at 30k and 14 s at 1M. At 50k rows a run has room for the warm-up
# the JIT needs and still times several reps.
ROWS = 50_000
# Reps before timing starts, the first of them the verified one. A fresh
# JVM's reps keep getting faster for about eight reps (on export_plain from
# 6 s to 3 s, with the JIT compiler's share of the CPU time falling), and
# the verification's own queries slow the rep after them; so the other
# warm-up reps run after the verification, checked like timed reps. The
# traced run skips them: its first round of prefix timings and an
# unrecorded full rep warm it up.
WARMUP_REPS = 5
# A run times at least this many reps, even past --seconds.
MIN_REPS = 3


def setup(w, cores: int, trace: bool) -> tuple:
    """Session start, input generation, workload preparation and the first
    rep, whose result is returned for verification."""
    from pyspark.sql import functions as F

    from perfbench.workloads import start_spark

    t0 = time.perf_counter()
    spark = start_spark(w.work, cores, ui=trace)
    spark.range(1000).agg(F.sum("id")).collect()  # JVM and codegen warm-up
    session_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    w.materialise(spark)
    materialise_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    w.prepare(spark)
    w.before_rep()
    first = w.rep(spark)
    times = {"session_s": session_s, "materialise_s": materialise_s,
             "warmup_s": time.perf_counter() - t0}
    return spark, times, first


def warm_up(w, spark, expected: dict, times: dict) -> int:
    """The other WARMUP_REPS - 1 warm-up reps, run and checked as timed
    reps are. Adds their time to ``times`` and sets ``setup_s``: everything
    before the first timed rep except the verification. Returns how many
    of them failed."""
    from perfbench.workloads import log

    t0, failed = time.perf_counter(), 0
    for i in range(WARMUP_REPS - 1):
        _, _, _, problems = w.timed(spark, expected)
        if problems:
            failed += 1
            log(f"warm-up rep {i + 2} failed: {problems}")
    times["warmup_s"] += time.perf_counter() - t0
    times["setup_s"] = sum(times[k] for k in (
        "session_s", "materialise_s", "warmup_s"))
    return failed


def verify(w, spark, cores: int, r: dict) -> tuple[bool, dict]:
    """Checks the first rep ``r`` against the DuckDB twin. Returns
    whether it matched and the values every timed rep must reproduce."""
    from perfbench.workloads import checksum_agg, log, sink_table

    tmp = os.path.join(w.work, "tmp")
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "twin.py"),
         w.input_dir, str(cores), tmp],
        capture_output=True, text=True, timeout=170, cwd=ROOT)
    if proc.returncode != 0:
        raise RuntimeError(f"DuckDB twin failed:\n{proc.stderr}")
    twin = json.loads(proc.stdout.strip().splitlines()[-1])
    log("DuckDB twin done")
    rows = checksum_agg(r["routed"], md5=True).collect()
    spark_sinks = sink_table(rows, "n_rows", "sum_n_tok", "tok_md5")
    expected = {"sinks": sink_table(rows, "n_rows", "sum_n_tok"),
                "xx": sink_table(rows, "xx"),
                "received": twin["received"], "dropped": twin["dropped"]}
    r.setdefault("xx", expected["xx"])
    w.post(spark, r)
    problems = w.problems(r, expected)
    if spark_sinks != twin["sinks"]:
        problems.append(f"Spark {spark_sinks} != DuckDB twin {twin['sinks']}")
    for p in problems:
        log(f"verification: {p}")
    return not problems, expected


def timed_reps(w, spark, expected: dict, seconds: float) -> dict:
    """Closed loop: reps back to back until ``seconds`` have passed and
    MIN_REPS have run. A failed rep counts as attempted and adds no time."""
    from perfbench.procstat import tree_peak_rss_mb
    from perfbench.workloads import log

    walls, cpus, attempted, failed, routed = [], [], 0, 0, 0
    t_end = time.perf_counter() + seconds
    while attempted < MIN_REPS or time.perf_counter() < t_end:
        wall, cpu, r, problems = w.timed(spark, expected)
        attempted += 1
        if problems:
            failed += 1
            log(f"rep {attempted} failed: {problems}")
            continue
        walls.append(wall)
        cpus.append(cpu)
        routed = w.routed_rows(r)
    return {"walls": walls, "cpus": cpus, "attempted": attempted,
            "failed": failed, "peak_rss_mb": tree_peak_rss_mb(),
            "routed": routed}


def end_to_end(w, setup_times: dict, t: dict) -> dict:
    mrows = w.rows / 1e6
    return {
        "routed_rows_per_s": {"value": t["routed"] / statistics.median(
            t["walls"]), "unit": "1/s"},
        "cpu_s_per_mrow": {"value": statistics.median(t["cpus"]) / mrows,
                           "unit": "s/Mrow"},
        "setup_s": {"value": setup_times["setup_s"], "unit": "s"},
        "peak_rss_mb": {"value": t["peak_rss_mb"], "unit": "MB"},
        "ok_frac": {"value": (t["attempted"] - t["failed"]) / t["attempted"],
                    "unit": "ratio"},
    }


def wait_for_children(timeout_s: float = 60) -> None:
    """Block until every process this run started has exited."""
    from perfbench.procstat import tree_pids

    deadline = time.monotonic() + timeout_s
    while len(tree_pids()) > 1:
        if time.monotonic() > deadline:
            raise RuntimeError(f"processes still running: {tree_pids()[1:]}")
        time.sleep(0.2)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: {PACKAGE}/ not found under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import trace, workloads
    from perfbench.workloads import log

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"--workload must be one of {sorted(workloads.WORKLOADS)}")
    work = os.path.join(ROOT, ".bench_build", "perfbench", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    cores = workloads.host_cores()
    w = workloads.WORKLOADS[args.workload](work, args.seed, ROWS, cores)
    spark = None
    try:
        spark, setup_times, first = setup(w, cores, bool(args.trace))
        ok, expected = verify(w, spark, cores, first)
        log(f"verified: {ok}")
        if args.trace:
            spark, session = None, spark  # traced_run stops the session
            out = trace.traced_run(w, session, expected, setup_times, cores)
        else:
            ok = warm_up(w, spark, expected, setup_times) == 0 and ok
            log(f"set-up {setup_times}")
            t = timed_reps(w, spark, expected, args.seconds)
            log(f"walls {t['walls']} cpus {t['cpus']}")
            if not t["walls"]:
                print("perfbench: every timed rep failed", file=sys.stderr)
                return 1
            out = {"attempted": t["attempted"], "failed": t["failed"],
                   "metrics": end_to_end(w, setup_times, t)}
    finally:
        if spark is not None:
            workloads.stop_spark(spark)
        wait_for_children()
        shutil.rmtree(work, ignore_errors=True)
        log("stopped")
    print(json.dumps({"correct": ok and out["failed"] == 0,
                      "attempted": out["attempted"], "failed": out["failed"],
                      "metrics": out["metrics"]}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
