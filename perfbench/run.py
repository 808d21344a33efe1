"""Benchmark of the parquet_spark engine: one workload per process.

    python3 perfbench/run.py --workload {ingest_scan,mutate} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. The run pins its environment (local[nproc],
a fixed 2g driver heap, work and temp directories inside the checkout,
PYTHONPATH so Spark's Python workers import the engine), builds its
inputs from the seed, sets the workload up several times and takes the
median set-up time, runs every step once untimed as a warm-up, then runs
closed-loop cycles of the workload's step mix until --seconds have passed
(finishing the cycle in progress). Every step is checked against expected
output.

Standard output ends with two JSON lines: the run's description (seed,
versions, the workload's own named metrics with tails, and with --trace 1
the per-layer labels and every span), then the result
{"correct", "attempted", "failed", "metrics"} whose metrics are the
end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1).
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEMORY = "2g"
WORKLOAD_NAMES = ("ingest_scan", "mutate")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def vm_hwm_mb(pid) -> float:
    """Peak resident set size of a process, from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def start_spark(work: str):
    """A local[nproc] session whose scratch space lives under `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # no hsperfdata files in the system temp directory, from the launcher
    # JVM or the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    from pyspark.sql import SparkSession

    n = nproc()
    spark = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        # a fixed-size heap, so the driver's peak RSS does not depend on
        # when the collector chose to grow it
        .config("spark.driver.extraJavaOptions", f"-Xms{DRIVER_MEMORY} -XX:-UsePerfData -Djava.io.tmpdir={tmp}")
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(2 * n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "16384")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to exit."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def become_subreaper() -> None:
    """Have orphaned descendants (Spark's Python workers once the JVM is
    gone) reparented to this process, so that reap_children waits for them."""
    pr_set_child_subreaper = 36
    ctypes.CDLL(None, use_errno=True).prctl(pr_set_child_subreaper, 1, 0, 0, 0)


def children() -> list[int]:
    """Pids whose parent is this process."""
    me, out = os.getpid(), []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # it ended while we looked
        if int(stat.rsplit(")", 1)[1].split()[1]) == me:
            out.append(int(d))
    return out


def reap_children(timeout: float = 30.0) -> None:
    """Wait until every child has ended, killing any still running after
    `timeout` seconds."""
    deadline = time.monotonic() + timeout
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return  # no children left
        if pid:
            continue
        if time.monotonic() > deadline:
            for pid in children():
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def run_workload(spark, name: str, seed: int, seconds: float, trace: bool, scale, work: str) -> tuple[dict, dict]:
    """Set up, warm up, run and check one workload. Returns (description,
    result) as printed on the last two lines of output."""
    import layers
    from harness import Run
    from spans import Tracer
    from workloads import WORKLOADS

    tracer = Tracer(enabled=False)
    run = Run(spark, tracer)
    wl = WORKLOADS[name](spark, work, seed, scale, run)
    t0 = time.perf_counter()
    wl.make_inputs()
    inputs_s = time.perf_counter() - t0
    setup_s = []
    for rep in range(scale.setup_reps):
        t0 = time.perf_counter()
        wl.setup(rep)
        setup_s.append(time.perf_counter() - t0)
        if rep:
            shutil.rmtree(os.path.join(work, f"rep{rep - 1}"), ignore_errors=True)
    # warm-up: every step once, checked but not timed
    t0 = time.perf_counter()
    wl.warm_up()
    wl.cycles += 1
    warm_up_s = time.perf_counter() - t0
    run.samples.clear()

    tracer.enabled = trace
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < seconds or not run.cycle_s:
        run.cycle_s.append(wl.cycle())
        wl.cycles += 1
    measured_s = time.perf_counter() - t0
    tracer.enabled = False

    def cycle_seconds(steps: dict[str, int]) -> float:
        """One cycle's seconds in `steps`, each step at its median."""
        return sum(n * median(run.samples[op]) for op, n in steps.items())

    write_s, read_s = cycle_seconds(wl.write_steps()), cycle_seconds(wl.read_steps())
    t0 = time.perf_counter()
    wl.finish()
    finish_s = time.perf_counter() - t0
    description = {
        "workload": name, "seed": seed, "trace": int(trace), "nproc": nproc(),
        "driver_memory": DRIVER_MEMORY, "versions": versions(),
        "warm_up_s": warm_up_s, "inputs_s": inputs_s, "setup_reps_s": setup_s,
        "measured_s": measured_s, "finish_s": finish_s, "cycles": len(run.cycle_s), "cycle_engine_s": run.cycle_s,
        "ops": wl.info(),
    }
    if trace:
        values, labels, problems = layers.per_layer(wl, write_s + read_s)
        run.attempted += 1  # the kernel replay cross-check
        for msg in problems:
            print(f"check failed: {msg}", file=sys.stderr)
        run.failed += bool(problems)
        metrics = {k: {"value": v, "unit": layers.UNIT[k]} for k, v in values.items()}
        description["labels"] = labels
        description["spans"] = tracer.dump()
    else:
        rss = vm_hwm_mb("self")
        proc = getattr(spark.sparkContext._gateway, "proc", None)
        if proc is not None:
            rss += vm_hwm_mb(proc.pid)
        metrics = {
            "setup_s": {"value": median(setup_s), "unit": "s"},
            "write_s": {"value": write_s, "unit": "s"},
            "read_s": {"value": read_s, "unit": "s"},
            "peak_rss_mb": {"value": rss, "unit": "MB"},
            "bytes_per_token": {"value": wl.bytes_per_token(), "unit": "B/token"},
        }
    result = {"correct": run.failed == 0, "attempted": run.attempted, "failed": run.failed, "metrics": metrics}
    return description, result


def versions() -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {"python": sys.version.split()[0], "pyspark": pyspark.__version__,
            "pyarrow": pyarrow.__version__, "numpy": numpy.__version__}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "parquet_spark")):
        print(f"no parquet_spark package under {ROOT}: run from a checkout of the repository",
              file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    from workloads import FULL

    become_subreaper()

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(work)
        session_s = time.perf_counter() - t0
        description, result = run_workload(
            spark, args.workload, args.seed, args.seconds, bool(args.trace), FULL, work)
    finally:
        if spark is not None:
            stop_spark(spark)
        reap_children()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run is still using it
    description["session_start_s"] = session_s
    print(json.dumps(description))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
