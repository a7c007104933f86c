"""Benchmark runner for ratatool_spark.

    python3 perfbench/run.py --workload core_pipelines --seed 1 --seconds 5 --trace 0

Runs one workload closed-loop (one client, steps back to back) on
``local[nproc]`` and prints, as the last line of stdout, one JSON object
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer metrics of a traced pass.
See perfbench/README.md for the metric definitions.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
DRIVER_MEM = "2g"
# end-to-end figures of every workload's untraced passes, repeated in the
# traced run's per-layer record (0 where a workload has no such step)
PHASES = ("wall_s", "step_p50_s", "step_max_s", "sample_s", "diff_s", "generate_s",
          "pairs_s", "near_dedup_s", "commit_p50_s", "merge_s", "scan_s")


def process_age() -> float:
    """Seconds since this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - int(fields[19]) / os.sysconf("SC_CLK_TCK")


def pin_environment(run_dir: str) -> dict:
    """Fix what the library reads from the environment, before the JVM
    starts, and return it for the record."""
    cpus = len(os.sched_getaffinity(0))
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "PYSPARK_PYTHON": sys.executable,
        # temporary files of Python, the JVM and the workers stay in the run;
        # -UsePerfData stops the JVM writing /tmp/hsperfdata_<user>
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "PYSPARK_SUBMIT_ARGS": "--driver-java-options "
        f"'-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData' pyspark-shell",
        # Python workers import ratatool_spark for the pandas UDFs
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    }
    os.environ.update(env)
    os.makedirs(env["SPARK_LOCAL_DIRS"], exist_ok=True)
    os.makedirs(env["TMPDIR"], exist_ok=True)
    return env


def start_session():
    """get_spark plus one trivial JVM job and one trivial Arrow job.
    Returns (spark, seconds to JVM up, seconds of the Arrow job, setup_s),
    all measured from process start."""
    from ratatool_spark.session import get_spark

    spark = get_spark("perfbench")
    start_s = process_age()
    spark.range(8, numPartitions=1).count()
    import pandas as pd
    from pyspark.sql import functions as F

    def plus_one(s):
        return s + 1

    plus_one.__annotations__ = {"s": pd.Series, "return": pd.Series}
    plus_one = F.pandas_udf("long")(plus_one)
    t0 = time.perf_counter()
    spark.range(8, numPartitions=1).select(plus_one("id")).collect()
    boot_s = time.perf_counter() - t0
    return spark, start_s, boot_s, process_age()


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def peak_rss_mb(spark) -> float:
    """VmHWM of this process plus the JVM's."""
    pids = [os.getpid(), spark._jvm.java.lang.ProcessHandle.current().pid()]
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


def summarize(passes) -> dict[str, float]:
    """End-to-end figures over the timed passes: per-pass sums and maxima
    as the median over passes, step and commit latency as the median over
    every step of every pass."""
    steps = [s for res in passes for s in res.steps]
    fig = {
        "wall_s": statistics.median(res.wall_s for res in passes),
        "step_p50_s": statistics.median(s.seconds for s in steps),
        "step_max_s": statistics.median(max(s.seconds for s in res.steps) for res in passes),
    }
    for phase in sorted({s.phase for s in steps} - {"commit"}):
        fig[phase] = statistics.median(
            sum(s.seconds for s in res.steps if s.phase == phase) for res in passes)
    commits = [s.seconds for s in steps if s.phase == "commit"]
    if commits:
        fig["commit_p50_s"] = statistics.median(commits)
        fig["merge_s"] = statistics.median(
            sum(s.seconds for s in res.steps if s.name == "commit.merge_snapshot")
            for res in passes)
    return fig


def main() -> int:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    env = pin_environment(run_dir)
    spark = None
    try:
        spark, start_s, boot_s, setup_s = start_session()
        from perfbench import inputs
        from perfbench.trace import MODULES, NullTracer, Tracer, layer_metrics

        input_dir, truth, gen_s = inputs.ensure(
            args.workload, args.seed, os.path.join(WORK, "inputs"))

        wl = WORKLOADS[args.workload](spark, input_dir, truth, args.seed)
        wl.prepare()
        null = NullTracer()
        n = 0

        def one_pass(tr):
            nonlocal n
            n += 1
            res = wl.run_pass(tr, os.path.join(run_dir, f"pass-{n}"))
            wl.check_pass(res)
            return res

        warm = one_pass(null)                      # JIT, worker boot: not timed
        # Exactly one timed pass, the second in the process, however fast it
        # runs: the JIT keeps warming for several passes, so a pass count
        # that grew with speed would time a faster change on warmer passes.
        # --seconds is accepted and does not change the pass count.
        timed = [one_pass(null)]
        all_passes = [warm] + timed
        if args.trace:
            # untraced passes on both sides of the traced one, so the
            # overhead is not confused with the JIT still warming up
            tracer = Tracer(spark)
            traced = one_pass(tracer)
            timed.append(one_pass(null))
            all_passes += [traced, timed[-1]]
        steps = [s for p in all_passes for s in p.steps]
        failed = [s for s in steps if s.error]
        figures = summarize(timed)

        if args.trace:
            layer = layer_metrics(tracer)
            layer["session.start_s"] = start_s
            layer["session.python_boot_s"] = boot_s
            layer["trace.overhead_s"] = traced.wall_s - statistics.mean(
                p.wall_s for p in timed)
            for k in PHASES:
                layer[f"phase.{k}"] = figures.get(k, 0.0)
            # which layer bounds the workload: shares of the traced pass
            total = {g: sum(layer[f"{m}.{g}"] for m in MODULES)
                     for g in ("driver_gap_s", "critical_task_s", "run_s")}
            layer["trace.driver_gap_share"] = total["driver_gap_s"] / traced.wall_s
            layer["trace.critical_task_share"] = total["critical_task_s"] / traced.wall_s
            layer["trace.python_share"] = (
                layer["functions.python_s"] + layer["dedup.python_s"]) / traced.wall_s
            layer["trace.executor_busy"] = total["run_s"] / (
                int(env["SPARK_GRAFT_CPUS"]) * traced.wall_s)
            layer["memory.peak_rss_mb"] = peak_rss_mb(spark)
            metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(layer.items())}
        else:
            metrics = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "wall_s": {"value": figures["wall_s"], "unit": "s"},
                "step_p50_s": {"value": figures["step_p50_s"], "unit": "s"},
            }
        info = {
            "workload": args.workload, "seed": args.seed, "env": env,
            "input_gen_s": gen_s,
            "warm_pass_s": warm.wall_s,
            "timed_steps_s": [[s.seconds for s in p.steps] for p in timed],
            "phases": figures,
            "peak_rss_mb": peak_rss_mb(spark),
            "fail_ratio": len(failed) / len(steps),
            "failures": [f"{s.name}: {s.error}" for s in failed][:10],
        }
        print(json.dumps(info))
        print(json.dumps({
            "correct": not failed, "attempted": len(steps), "failed": len(failed),
            "metrics": metrics,
        }))
        wl.close()
        return 0
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


def unit_of(name: str) -> str:
    leaf = name.rsplit(".", 1)[1]
    if leaf.endswith("_s"):
        return "s"
    if "bytes" in leaf:
        return "bytes"
    if leaf.endswith("_mb"):
        return "MB"
    if leaf.endswith(("_share", "_busy")):
        return "ratio"
    if leaf in ("candidate_ratio", "pair_yield", "write_amp", "jobs_per_commit",
                "files_per_scan", "input_scans"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
