"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest_waves --seed 1 --seconds 20 --trace 0

Runs one workload of ``BENCHMARK.json`` against the package in this checkout
on ``local[<cores>]`` with one client on a closed loop, checks every output,
and prints one JSON object as the last line of stdout. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` reports the per-layer metrics from a
traced run (spans, Spark job groups and the Spark event log).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(ROOT, ".perfbench")
# every driver-side Spark process gets this much heap; the session factory's
# own default is sized for a 32-core host and exceeds small machines
DRIVER_MEM = "3g"
# every working set is a few MB, so each wave is bound by its jobs' fixed
# cost; on 4 cores, 2 shuffle partitions (instead of 8) take a producer-DAG
# wave from about 9.5 s to 6 s and an ingest wave from 5.5 s to 4.7 s
SHUFFLE_PARTITIONS = 2


def _parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=20.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "smoke"), default="full",
                   help="smoke: tiny inputs for the benchmark's own tests")
    return p.parse_args(argv)


def _pin_environment(work: str) -> None:
    """Make Spark's JVM and Python workers run the checkout's package and
    keep every file they write inside the checkout."""
    if not os.path.isfile(os.path.join(ROOT, "parquet_producers_spark",
                                       "__init__.py")):
        raise SystemExit(
            f"perfbench: no parquet_producers_spark package under {ROOT}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p])
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    sys.path.insert(0, ROOT)


def _start_spark(work: str, cores: int, event_log: str | None):
    from parquet_producers_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"
            " -XX:-UseDynamicNumberOfCompilerThreads",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.python.worker.reuse": "true",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + event_log,
                     "spark.eventLog.compress": "false"})
    return get_spark("perfbench", cores=cores,
                     shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf)


def _stop_spark(spark) -> None:
    """Stop Spark and wait until the JVM and the Python workers it forked
    have exited. The JVM exits when the pipe to its stdin closes."""
    from pyspark import SparkContext

    from perfbench.harness import process_tree, wait_gone

    proc = getattr(SparkContext._gateway, "proc", None)
    children = [p for p in process_tree(os.getpid()) if p != os.getpid()]
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    wait_gone(children)


def _assert_code_under_test(spark) -> str:
    """From one executor task, resolve the package the workers import."""
    where = spark.sparkContext.parallelize([0], 1).map(
        lambda _: __import__("parquet_producers_spark").__file__).collect()[0]
    real = os.path.realpath(where)
    if not real.startswith(os.path.realpath(ROOT) + os.sep) or ".zip" in real:
        raise SystemExit(f"perfbench: executors import {where}, "
                         f"not the checkout at {ROOT}")
    return real


def _environment(spark, cores: int, pkg: str) -> dict:
    import pyarrow
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {
        "cores": cores, "machine_mem_gb": round(mem_kb / 2**20, 1),
        "driver_mem": spark.conf.get("spark.driver.memory"),
        "master": spark.sparkContext.master,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__,
        "python": sys.version.split()[0], "package": pkg,
    }


def main(argv=None) -> int:
    args = _parse_args(argv)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    _pin_environment(run_dir)
    from perfbench import workloads
    from perfbench.harness import EventLog, RssSampler, Tracer

    if args.workload not in workloads.WORKLOADS:
        raise SystemExit(f"perfbench: unknown workload {args.workload!r}; "
                         f"choose from {sorted(workloads.WORKLOADS)}")
    cores = len(os.sched_getaffinity(0))
    event_log = os.path.join(run_dir, "eventlog") if args.trace else None

    t_start = time.perf_counter()
    try:
        with RssSampler() as rss:
            spark = _start_spark(run_dir, cores, event_log)
            t_session = time.perf_counter() - t_start
            try:
                pkg = _assert_code_under_test(spark)
                env = _environment(spark, cores, pkg)
                tracer = Tracer(spark.sparkContext, args.workload,
                                enabled=bool(args.trace))
                wl = workloads.WORKLOADS[args.workload](
                    spark, os.path.join(run_dir, "data"), args.seed,
                    args.size, tracer)
                result = wl.execute(args.seconds)
            finally:
                _stop_spark(spark)
        named = {**wl.named_e2e(), "peak_rss_mb": rss.peak / 2**20}
        if args.trace:
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            tracer.dump(os.path.join(
                WORK, "traces", f"{args.workload}-s{args.seed}.jsonl"))
            metrics = wl.layer_metrics(EventLog.parse(event_log), named)
        else:
            metrics = wl.bounded_e2e()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    for line in wl.report_lines(env, named):
        print(line)
    print(f"# wall {time.perf_counter() - t_start:.1f}s "
          f"(session start {t_session:.1f}s)")
    attempted, failed = result["attempted"], result["failed"]
    print(json.dumps({
        "correct": failed == 0 and result["checks_ok"],
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in sorted(metrics.items())},
    }))
    return 0


if __name__ == "__main__":
    with contextlib.suppress(BrokenPipeError):
        sys.exit(main())
