"""Benchmark command: ``python3 perfbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>``, run from the repository root.

One driver process, one client, closed loop: the next tick or query
starts only after the previous one returned. Inputs are generated from
``--seed`` into a work directory inside the checkout, which is removed
at the end. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``) named
in ``BENCHMARK.json`` (read from there, names and units). Lines before it are the human-readable report.
The exit code is 0 only when every correctness check passed.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import importlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "bigquery_cross_environment_etl_pipeline_spark"
DRIVER_MEM = "2g"
#: a run must end within this many seconds, whatever happens
DEADLINE_S = 170
#: workload name -> the module that runs it
WORKLOADS = {"etl_fanout": "etl", "catalog_mix": "catalog"}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def spark_cores() -> int:
    """Spark's task slots: half the cores, so that the JVM's JIT
    compiler and GC threads, the Python driver and the Python workers
    run beside the tasks instead of queueing behind them."""
    return max(1, nproc() // 2)


def prepare_env(work: str) -> None:
    """Point every file Spark, the package and Python write at ``work``
    (inside the checkout), and pin the host-dependent settings."""
    for sub in ("local", "tmp", "warehouse", "indexes"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ.update({
        "TZ": "UTC",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "SPARK_GRAFT_INDEX_DIR": os.path.join(work, "indexes"),
        "SPARK_GRAFT_CPUS": str(spark_cores()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        # every JVM (the launcher and the driver): temp files under work,
        # and no /tmp/hsperfdata_<user>
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    })
    # the pipeline's datetimes are naive UTC; PySpark converts through
    # the process's local zone
    time.tzset()


def start_spark(work: str):
    from bigquery_cross_environment_etl_pipeline_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark(
        app_name="perfbench",
        master=f"local[{spark_cores()}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Dderby.system.home={tmp}",
            # the status store must still hold every job of the run
            # when the counters are read back after the timed region
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def stop_spark(spark) -> None:
    """Stop the context, then the gateway JVM, and wait for it to exit
    (its Python workers exit with it)."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def proc_tree_peak_rss_mb() -> float:
    """Sum of the peak resident set (VmHWM) of this process and every
    live descendant: the driver, the JVM and the Python workers."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    total_kb, stack = 0, [os.getpid()]
    while stack:
        pid = stack.pop()
        stack.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def source_digest() -> str:
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, PACKAGE)
    for dirpath, dirnames, files in os.walk(pkg):
        dirnames.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(dirpath, f)
                h.update(os.path.relpath(p, pkg).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10, check=True)
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip()


def host_record(args, spark) -> dict:
    import pyspark

    return {
        "nproc": nproc(),
        "spark_cores": spark_cores(),
        "master": spark.sparkContext.master,
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "driver_memory": spark.conf.get("spark.driver.memory"),
        "pyspark": pyspark.__version__,
        "python": sys.version.split()[0],
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "git_commit": git_commit(),
        "source_digest": source_digest(),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    workload = importlib.import_module(WORKLOADS[args.workload])

    def on_deadline(signum, frame):
        raise TimeoutError(f"run exceeded {DEADLINE_S} s")

    signal.signal(signal.SIGALRM, on_deadline)
    signal.alarm(DEADLINE_S)

    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    prepare_env(work)
    spark = None
    phases = {}
    try:
        t0 = time.perf_counter()
        inputs = workload.prepare(args, work)
        t1 = time.perf_counter()
        spark = start_spark(work)
        t2 = time.perf_counter()
        result = workload.measure(inputs, spark, args, t2 - t1)
        result.host = host_record(args, spark)
        result.metrics["peak_rss_mb"] = proc_tree_peak_rss_mb()
        phases = {"prepare": t1 - t0, "session": t2 - t1, "measure": time.perf_counter() - t2}
    finally:
        t3 = time.perf_counter()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))  # only when no other run is using it
        signal.alarm(0)
    result.host["phases_s"] = {**phases, "stop": time.perf_counter() - t3}

    result_line = result.final(spec["per_layer" if args.trace else "end_to_end"], workload.NOT_RUN)
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    stem = os.path.join(HERE, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}")
    result.write(stem)
    for line in result.report_lines():
        print(line)
    print(json.dumps(result_line))
    return 0 if result.correct else 1


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:  # noqa: BLE001 — report and fail without a result line
        traceback.print_exc()
        sys.exit(2)
