"""Repo benchmark: the lake's write path, read path and batch path.

Usage (from the repository root):

    python3 perfbench/run.py --workload lake_sync_search|corpus_prep|all \
        --seed N --seconds S --trace 0|1

One process, one ``local[nproc/2]`` session, one closed-loop client. The
last stdout line is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``: every end-to-end metric with ``--trace 0``, every
per-layer metric with ``--trace 1`` (metrics.py lists both). Inputs are
generated from ``--seed``; all files go to a scratch directory under
``.bench_work/`` in the current directory, removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _process_start() -> float:
    """perf_counter() value at which this process was created."""
    with open("/proc/self/stat") as fh:
        started = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.perf_counter() - (uptime - started / os.sysconf("SC_CLK_TCK"))


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _stop_jvm(spark) -> float:
    """Stop the session and its JVM, wait for the JVM to exit; returns
    the peak RSS (MB) of this process plus the JVM, read just before."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    peak = _vm_hwm_mb("self") + (_vm_hwm_mb(proc.pid) if proc else 0.0)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    return peak


def run_one(args, t_start: float) -> dict:
    import workloads

    # half the cores as task slots: the JVM's JIT compiler threads and
    # the Python UDF workers keep about as many cores again busy, so the
    # run stays within the machine instead of queueing on it
    cores = max(1, (os.cpu_count() or 1) // 2)
    work = os.path.abspath(os.path.join(".bench_work",
                                        f"{args.workload}-{os.getpid()}"))
    os.makedirs(work)
    os.environ.update({
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "TMPDIR": work,
    })
    tempfile.tempdir = work
    cwd = os.getcwd()
    os.chdir(work)  # stray session files (warehouse, logs) land here
    run = workloads.Run(args.seed, float(args.seconds), bool(args.trace),
                        work, t_start, cores)
    try:
        res = workloads.WORKLOADS[args.workload](run)
        if args.trace:
            run.tracer.write_jsonl(os.path.join(cwd, ".bench_work",
                                                f"spans-{args.workload}.jsonl"))
    finally:
        peak = _stop_jvm(run.spark) if run.spark is not None else 0.0
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
    if args.trace:
        import layers

        values = {**res["layers"], "trace_overhead_frac": layers.overhead(run),
                  "process.peak_rss_mb": peak,
                  "op_wall_ms": run.op_ms(cpu=False),
                  "setup_wall_s": run.setup_wall_s,
                  "throughput_per_s": res["throughput_per_s"]}
    else:
        values = {"setup_s": run.setup_s, "op_cpu_ms": run.op_ms(),
                  "throughput_per_cpu_s": res["throughput_per_cpu_s"]}
    print(json.dumps({"workload": args.workload, "ops": len(run.ops),
                      "timed_s": round(run.timed_s, 2),
                      "aside_s": round(run.aside_s, 2), **res["notes"]}),
          file=sys.stderr)
    return {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": format_metrics(values, bool(args.trace)),
    }


def format_metrics(values: dict, trace: bool) -> dict:
    """``{name: {"value", "unit"}}`` for every catalogued metric of the
    run kind; a per-layer metric the workload never entered reads 0."""
    import metrics

    if trace:
        units = {name: unit for name, unit, *_ in metrics.PER_LAYER}
    else:
        units = {name: unit for name, (unit, *_) in metrics.END_TO_END.items()}
    unknown = set(values) - set(units)
    if unknown:
        raise KeyError(f"uncatalogued metrics: {sorted(unknown)}")
    return {k: {"value": float(values.get(k, 0.0)), "unit": u}
            for k, u in units.items()}


def run_all(args) -> dict:
    """Every workload in turn, each in its own process."""
    import workloads

    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in workloads.WORKLOADS:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True, check=True)
        res = json.loads(proc.stdout.strip().splitlines()[-1])
        print(json.dumps({name: res}))
        merged["correct"] &= res["correct"]
        merged["attempted"] += res["attempted"]
        merged["failed"] += res["failed"]
        merged["metrics"].update(
            {f"{name}.{k}": v for k, v in res["metrics"].items()})
    return merged


def main() -> int:
    t_start = _process_start()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("lake_sync_search", "corpus_prep", "all"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    sys.path[:0] = [HERE, os.path.join(ROOT, "scripts"), ROOT]
    try:
        import __spark_entry__  # noqa: F401
        import selfcheck  # noqa: F401
        import sql_database_to_elastic_datalake_spark  # noqa: F401
    except ImportError as ex:
        print(f"perfbench: the program under test is missing: {ex}",
              file=sys.stderr)
        return 2
    res = run_all(args) if args.workload == "all" else run_one(args, t_start)
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
