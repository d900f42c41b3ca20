"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository. One process, one
closed-loop client: after set-up (Spark session, seeded inputs,
untimed warm-up ops) it runs ops one after another until ``--seconds`` of
op time have been measured, checks every op's output outside the timed
region, and prints one JSON object as the last line of standard output.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` is the
separate traced run: it interleaves traced and untraced ops and reports
per-layer metrics (see README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import subprocess
import sys
import tempfile
import time
import traceback


def _seconds_since_process_start() -> float:
    """Seconds from this process's start to now, from /proc (0 elsewhere)."""
    try:
        with open("/proc/self/stat") as f:
            start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
        return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))
    except (OSError, ValueError, IndexError):
        return 0.0


_T0 = time.perf_counter()
_BEFORE_T0 = _seconds_since_process_start()

PACKAGE = "etl_validator_github_spark"
ROOT = os.getcwd()


class Context:
    """What a workload needs from the run."""

    def __init__(self, seed: int, work: str, tracer) -> None:
        self.seed, self.work, self.tracer = seed, work, tracer
        self.spark = None


def _parse(argv):
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _isolate(work: str) -> None:
    """Keep every file the run writes inside ``work``, and make the package
    importable by Spark's Python workers."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = os.environ["TMPDIR"]
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def _start_spark(work: str, nproc: int):
    from etl_validator_github_spark.plans import session

    tmp = os.path.join(work, "tmp")
    spark = session.get_spark(
        app_name="perfbench",
        master=f"local[{nproc}]",
        shuffle_partitions=nproc,
        extra_conf={
            # Every workload fits in 2 GB; the default 8 GB is not needed.
            "spark.driver.memory": "2g",
            # No hsperfdata file: HotSpot writes it to /tmp whatever tmpdir is.
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _parallelism(spark, nproc: int) -> dict:
    sc = spark.sparkContext
    return {
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "nproc": nproc,
        "spark_version": spark.version,
        "load_avg_1m": os.getloadavg()[0],
    }


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._gateway.proc.pid  # noqa: SLF001
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway  # noqa: SLF001
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def main(argv=None) -> int:
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"run from the repository root: no {PACKAGE}/ in {ROOT}",
              file=sys.stderr)
        return 2
    sys.path[0] = ROOT  # not perfbench/: import the package by its name
    args = _parse(argv)

    # Everything but the result line goes to stderr, children included.
    result_fd = os.dup(1)
    os.dup2(2, 1)

    from perfbench import report, tracing
    from perfbench.workloads import WORKLOADS

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _isolate(work)

    tracer = tracing.Tracer()
    if args.trace:
        tracing.install(tracer)
        tracer.active = True  # set-up spans carry op None
    ctx = Context(args.seed, work, tracer)
    nproc = len(os.sched_getaffinity(0))
    spark = ctx.spark = _start_spark(work, nproc)
    info = _parallelism(spark, nproc)
    status = None
    if args.trace:
        tracing.count_py4j(tracer, spark)
        status = tracing.SparkStatus(spark)

    workload = WORKLOADS[args.workload](ctx)
    problems = list(workload.setup())
    for warm in range(-workload.warmup_ops, 0):
        try:
            workload.prepare(warm)
            problems += workload.check(warm, workload.run(warm)).problems
        except Exception:
            traceback.print_exc()
            problems.append(f"warm-up op {warm} failed")
    tracer.active = False
    setup_s = _BEFORE_T0 + time.perf_counter() - _T0

    ops = []  # one dict per attempted op
    measured = 0.0
    i = 0
    # A traced run needs at least one traced and one untraced op. Traced
    # ops follow T U U T, so the warm-up trend does not favour either side.
    while measured < args.seconds or (args.trace and i < 2):
        traced = bool(args.trace) and i % 4 in (0, 3)
        workload.prepare(i)
        if status is not None:
            status.delta()  # advance the frontier past untimed work
        tracer.op, tracer.active, tracer.py4j_calls = i, traced, 0
        t = time.perf_counter()
        try:
            result = workload.run(i)
            error = None
        except Exception as exc:
            result, error = None, exc
        dt = time.perf_counter() - t
        tracer.active = False
        measured += dt
        op = {"i": i, "s": dt, "traced": traced, "py4j_calls": tracer.py4j_calls}
        if error is not None:
            traceback.print_exception(error)
            op.update(ok=False, rows=0, problems=[repr(error)], layers={})
        else:
            if traced:
                op["spark"] = status.delta()
            try:
                out = workload.check(i, result)
                op.update(ok=not out.problems, rows=out.rows,
                          problems=out.problems, layers=out.layers)
            except Exception as exc:
                traceback.print_exc()
                op.update(ok=False, rows=0, problems=[repr(exc)], layers={})
        print(f"op {i}: {dt:.3f} s", file=sys.stderr)
        for p in op["problems"]:
            print(f"op {i}: {p}", file=sys.stderr)
        ops.append(op)
        i += 1

    rss_mb = (_jvm_peak_rss_mb(spark)
              + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024)
    _stop_spark(spark)
    info["load_avg_1m_end"] = os.getloadavg()[0]
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "parallelism": info, "setup_problems": problems}),
          file=sys.stderr)

    failed = sum(not op["ok"] for op in ops)
    if args.trace:
        metrics = report.per_layer(ops, tracer, rss_mb)
        spans_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(spans_dir, exist_ok=True)
        with open(os.path.join(
                spans_dir, f"spans-{args.workload}-seed{args.seed}.json"), "w") as f:
            json.dump({"ops": [{k: v for k, v in op.items() if k != "spark"}
                               for op in ops],
                       "spans": tracer.to_json()}, f)
    else:
        metrics = report.end_to_end(ops, setup_s)
    shutil.rmtree(work, ignore_errors=True)

    line = json.dumps({
        "correct": not problems and failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": metrics,
    })
    with os.fdopen(result_fd, "w") as out:
        out.write(line + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
