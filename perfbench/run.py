#!/usr/bin/env python3
"""The repository benchmark: one seeded workload per run.

Usage (from the repository root)::

    python3 perfbench/run.py --workload deep_frontier --seed 1 --seconds 10 --trace 0

A run is a closed loop: one job in flight at a time, driven from this
single process against a ``local[<cores>]`` Spark session (cores = the CPUs
this process may use). It

1. sets up: starts the session, generates the seeded inputs and runs the
   workload's warm-up job untimed, so the JVM, the Python workers and the
   code caches are warm (``setup_s``);
2. repeats the job until ``--seconds`` have passed (at least once) and
   reports the median;
3. checks the outputs of the last job against the pure-Python references,
   outside the timed region;
4. with ``--trace 1``, runs the job once more with spans recorded around
   the calls into each layer and measures each layer on its own
   (``layers.py``); the per-layer metrics replace the end-to-end ones.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
Every file the run writes lives under ``perfbench/.work`` (removed at the
end) and, for traced runs, the span file under ``perfbench/out``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# (name, unit) of every end-to-end metric, printed by untraced runs
END_TO_END = [
    ("job_s", "s"),
    ("items_per_s", "1/s"),
    ("setup_s", "s"),
]

DRIVER_MEMORY = "4g"  # driver and executors share it in local mode


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_session(workdir: str):
    """A local Spark session whose scratch files stay under ``workdir``."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    n = cores()
    spark = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("markdown_lab_spark-perfbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.sql.shuffle.partitions", str(2 * n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8000")
        .config("spark.sql.files.maxPartitionBytes", str(2 << 20))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(workdir, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(workdir, "warehouse"))
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp}")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - last resort, then reap
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _descendants(pid: int) -> list:
    children: dict = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def peak_rss_mb() -> dict:
    """VmHWM (peak resident set) in MB, summed separately over the JVM and
    over the Python processes (this driver and the Spark Python workers)
    of the run that are still alive."""
    total = {"jvm": 0.0, "python": 0.0}
    for pid in _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                argv0 = f.read().split(b"\0", 1)[0]
            with open(f"/proc/{pid}/status") as f:
                hwm = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
        except (OSError, StopIteration):
            continue
        total["jvm" if argv0.endswith(b"java") else "python"] += hwm / 1024.0
    return total


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    from workloads import WORKLOADS

    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    sys.path.insert(0, HERE)
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import markdown_lab_spark  # noqa: F401 - the program under test
    except ImportError as exc:
        print(f"perfbench: cannot import the program: {exc}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload]
    workdir = os.path.join(HERE, ".work", f"{wl.name}-{args.seed}-{os.getpid()}")
    os.makedirs(workdir)
    # Python workers import the program from the checkout, and every
    # temporary file of the run stays inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(workdir)
        inputs = wl.prepare(spark, args.seed, workdir)
        wl.warmup().job(spark, inputs, workdir)
        setup_s = time.perf_counter() - t0

        times, items, failed, attempted = [], [], 0, 0
        res = None
        t_end = time.perf_counter() + args.seconds
        while attempted == 0 or time.perf_counter() < t_end:
            attempted += 1
            try:
                res = wl.job(spark, inputs, workdir)
            except Exception:  # noqa: BLE001 - a failed job is counted, not fatal
                traceback.print_exc()
                failed += 1
                continue
            times.append(res["job_s"])
            items.append(res["items"])
        if res is None:
            return 1
        failures = wl.check(spark, inputs, res, args.seed)
        if len(set(items)) > 1:
            failures.append(f"item counts differ between repetitions: {sorted(set(items))}")
        if failures:
            failed += 1
            for f in failures:
                print(f"perfbench: check failed: {f}", file=sys.stderr)

        job_s = statistics.median(times)
        if args.trace:
            import layers

            metrics = layers.traced_metrics(spark, wl, inputs, workdir, args.seed, job_s)
        else:
            values = {"job_s": job_s, "items_per_s": items[0] / job_s, "setup_s": setup_s}
            metrics = {n: {"value": values[n], "unit": u} for n, u in END_TO_END}
        print(
            f"perfbench: {wl.name} seed={args.seed} reps={len(times)} "
            f"job_s={[round(t, 3) for t in times]} setup_s={setup_s:.3f}",
            file=sys.stderr,
        )
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(workdir, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            os.rmdir(os.path.dirname(workdir))
    print(
        json.dumps(
            {
                "correct": not failures,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
