#!/usr/bin/env python3
"""Repository benchmark: builds the engine from source, runs one workload
in a fresh JVM, checks its outputs against DuckDB and prints one JSON
object as the last line of standard output.

    python3 perfbench/run.py --workload hospital_load --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --all --seed 1 --seconds 10

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
ones. `--all` runs every workload (dashboard included) and prints the
named metrics of each. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
from build import build, java, log, sources, spark_jars  # noqa: E402
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS_DIR = os.path.join(ROOT, ".bench_runs")

# BENCHMARK.json runs hospital_load and corpus_build; dashboard is extra
ALL_WORKLOADS = ["hospital_load", "dashboard", "corpus_build"]

END_TO_END = [("setup_s", "s"), ("op_p50_s", "s"), ("items_per_s", "1/s"),
              ("peak_rss_mb", "MB")]

EXT_FILES = ["Warc", "Curation", "MinHashLsh", "DedupClusters", "Sharding", "Budgeting",
             "Packing", "ExactDedup", "CorpusDiff", "Bm25", "Forget", "TextAnalysis",
             "other", "none"]
PER_LAYER = (
    [("aragon.hhs_self_s", "s"), ("aragon.quality_self_s", "s"),
     ("aragon.jobs_per_file", "count"), ("aragon.rows_in", "count"),
     ("aragon.rows_inserted", "count"), ("aragon.rows_duplicate", "count"),
     ("aragon.rows_invalid", "count"), ("aragon.rows_quarantined", "count"),
     ("sources.key_snapshot_s", "s"), ("sources.append_s", "s"),
     ("sources.append_bytes", "bytes"), ("sources.quarantine_s", "s"),
     ("sources.csv_bytes_read_per_file_byte", "ratio"),
     ("corpus.build_s", "s"), ("corpus.admit_s", "s"), ("corpus.maintain_s", "s"),
     ("corpus.jobs_per_chain", "count")] +
    [m for f in EXT_FILES for m in ((f"ext.{f}.in_job_s", "s"), (f"ext.{f}.jobs", "count"))] +
    [("spark.driver_gap_s", "s"), ("spark.in_job_s", "s"), ("spark.tasks", "count"),
     ("spark.shuffle_write_bytes", "bytes"), ("spark.shuffle_read_bytes", "bytes"),
     ("spark.spill_bytes", "bytes"), ("spark.gc_s", "s"),
     ("spark.peak_exec_mem_bytes", "bytes"), ("trace.overhead_frac", "ratio")])
# dashboard only: BENCHMARK.json does not list it
DASHBOARD_LAYER = (
    [("reporting.jobs_per_page", "count"), ("plans.plan_ms_per_page", "ms"),
     ("sources.scan_bytes_per_page", "bytes")] +
    [(f"reporting.{fn}_ms", "ms") for fn in (
        "weeklyRecords", "weeklyRecordsPrior", "bedSummaryAt", "bedSummaryRecent4",
        "ratingBedUse", "totalBedUsage", "emergencyTop20", "ownershipBedUse",
        "topBottomStates")])

RUN_LIMIT_S = 170  # the JVM is killed after this long; the build is not counted
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def heap_mb():
    """A fifth of the machine's memory, between 2 and 3 GiB. The heap is
    committed up front (-Xms = -Xmx), so the resident-set high-water mark
    does not depend on when the heap happened to grow."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    except (OSError, StopIteration):
        kb = 8 << 20
    return max(2048, min(3072, int(kb / 5 / 1024)))


def run_jvm(classes, workload, seed, seconds, trace, run_dir, deadline):
    scratch = os.path.join(run_dir, "scratch")
    os.makedirs(os.path.join(scratch, "tmp"))
    cmd = [java(), "-XX:-UsePerfData", f"-Xms{heap_mb()}m", f"-Xmx{heap_mb()}m"] + \
        [a for p in JDK_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
        f"-Djava.io.tmpdir={scratch}/tmp",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        # deep enough call sites to reach the issuing graft module
        "-Dspark.callstack.depth=64",
        f"-Dspark.sql.warehouse.dir={scratch}/spark-warehouse",
        "-cp", f"{classes}:{os.path.join(spark_jars(), '*')}",
        "perfbench.Main", "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", str(trace), "--run-dir", run_dir,
        "--cpus", str(os.cpu_count() or 1)]
    env = dict(os.environ, SPARK_GRAFT_SCRATCH=scratch)
    with open(os.path.join(run_dir, "jvm.out"), "w") as out, \
            open(os.path.join(run_dir, "jvm.err"), "w") as err:
        proc = subprocess.Popen(cmd, stdout=out, stderr=err, env=env, cwd=run_dir,
                                start_new_session=True)
        try:
            proc.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None, "timed out"
    path = os.path.join(run_dir, "result.json")
    if not os.path.exists(path):
        return None, f"no result (JVM exit {proc.returncode})"
    with open(path) as f:
        return json.load(f), None


def oracle(workload, result):
    """DuckDB checks; returns (failed operations, failure messages)."""
    import checks
    c = result.get("checks", {})
    fails, failed = [], 0
    if "warehouse" in c:
        wh = checks.warehouse(c["warehouse"], c["expected_tables"])
        fails += wh
        if wh:
            failed = result["attempted"]
    if workload == "dashboard":
        bad, msgs = checks.dashboard(c["warehouse"], c["results"])
        fails += msgs
        failed = max(failed, sum(1 for keys in c["pages"] if bad.intersection(keys)))
    if workload == "corpus_build":
        msgs = checks.corpus(c["documents"], c["gates"])
        fails += msgs
        if msgs:
            failed = result["attempted"]
    return failed, fails


def one_run(workload, seed, seconds, trace):
    started = time.time()
    classes = build()
    deadline = time.time() + RUN_LIMIT_S - 8
    run_dir = os.path.join(RUNS_DIR, f"{workload}-s{seed}-t{trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    result, error = run_jvm(classes, workload, seed, seconds, trace, run_dir, deadline)
    failures = []
    if result is not None and result.get("error"):
        error = result["error"]
    attempted = max(1, result["attempted"]) if result else 1
    failed = attempted if error else result["failed"]
    if result is not None and not error:
        t0 = time.time()
        oracle_failed, failures = oracle(workload, result)
        if failures:
            failed = min(attempted, max(failed, oracle_failed, 1))
        log(f"checks took {time.time() - t0:.1f} s")
        failures = result.get("failures", []) + failures
    result = result or {}
    measured = result.get("metrics", {})
    if trace:
        layer = result.get("layer", {})
        spec = PER_LAYER + (DASHBOARD_LAYER if workload == "dashboard" else [])
        metrics = {n: {"value": float(layer.get(n, 0.0)), "unit": u} for n, u in spec}
    else:
        metrics = {n: {"value": float(measured.get(n, 0.0)), "unit": u} for n, u in END_TO_END}
    out = {"correct": error is None and failed == 0, "attempted": attempted,
           "failed": failed, "metrics": metrics}
    named = dict(result.get("named", {}))
    named["timed_ops"] = {"value": len(result.get("op_walls_s", [])), "unit": "count"}
    named["setup_s"] = {"value": measured.get("setup_s", 0.0), "unit": "s"}
    named["failed_frac"] = {"value": failed / attempted, "unit": "ops failed / ops attempted"}
    named["peak_rss_mb"] = {"value": measured.get("peak_rss_mb", 0.0), "unit": "MB"}
    summary = dict(out, workload=workload, seed=seed, trace=trace, error=error,
                   failures=failures[:20], named=named,
                   wall_s=time.time() - started,
                   jvm_wall_s=result.get("jvm_wall_s"))
    # keep the artifacts, drop generated inputs and outputs
    for name in os.listdir(run_dir):
        p = os.path.join(run_dir, name)
        if os.path.isdir(p):
            shutil.rmtree(p, ignore_errors=True)
    with open(os.path.join(run_dir, "summary.json"), "w") as f:
        json.dump(summary, f, indent=1)
    if error:
        log(f"{workload} failed: {error}")
    for m in failures[:5]:
        log(f"check failed: {m}")
    return out, summary


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=ALL_WORKLOADS)
    ap.add_argument("--all", action="store_true", help="run every workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not a.all and not a.workload:
        ap.error("give --workload or --all")
    sources()  # exits non-zero when the engine is not in this checkout
    os.makedirs(RUNS_DIR, exist_ok=True)
    if a.all:
        results = {}
        for w in ALL_WORKLOADS:
            out, summary = one_run(w, a.seed, a.seconds, a.trace)
            results[w] = out
            print(f"== {w}")
            for name, m in summary["named"].items():
                print(f"   {name} = {m['value']:.6g} {m['unit']}")
        print(json.dumps(results))
        return 0 if all(r["correct"] for r in results.values()) else 1
    out, summary = one_run(a.workload, a.seed, a.seconds, a.trace)
    print(json.dumps(out))
    return 1 if summary["error"] else 0


if __name__ == "__main__":
    sys.exit(main())
