"""The engine session a run measures.

A set-up is ``get_spark`` plus a small warm-up job, timed as the first
session of a fresh process, so it includes the JVM launch and the cold
warm-up a user pays for.  A run sets up once: a second cold set-up, in a
fresh process of its own, differed from the first by a median 5% while the
host moved both by up to 2x between runs, and its 5-10 s a run do not fit
the benchmark's time budget.
"""

from __future__ import annotations

import os
import time


def cores() -> int:
    """Spark's task slots: half the CPUs the process may run on.  The
    other half runs the JVM's own threads (GC, JIT, scheduler, RPC), the
    Python driver and the Python workers, so no more threads are runnable
    than there are CPUs.  On a shared host that takes CPU time away at
    random, a stage ends with its slowest task: on a 4-vCPU VM a fixed
    SHA-256 job split over 4 processes spread twice as much between
    repetitions (quartiles 12% of the median apart) as over 1 or 2."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def session_conf(scratch: str) -> dict[str, str]:
    """Everything the engine writes goes under ``scratch`` (the JVM's
    perf-data file would go to ``/tmp``, so it is off); the JVM runs with
    the heap sizing ``get_spark`` ships with."""
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        "spark.local.dir": os.path.join(scratch, "local"),
        "spark.driver.extraJavaOptions":
            "-XX:-UsePerfData -Djava.io.tmpdir="
            + os.path.join(scratch, "tmp"),
    }


def cold_setup(scratch: str):
    """Start the session; returns it with its session and warm-up times.
    Must be the first session of the process."""
    from mu_swarm_logger_service_spark import get_spark
    from pyspark import SparkContext

    if SparkContext._gateway is not None:
        raise RuntimeError("cold_setup: the JVM is already running")
    os.makedirs(os.path.join(scratch, "tmp"), exist_ok=True)
    n = cores()
    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=session_conf(scratch))
    t1 = time.perf_counter()
    # one small job through a shuffle
    spark.range(0, 100_000, 1, n).selectExpr("id % 13 AS k").groupBy(
        "k").count().collect()
    t2 = time.perf_counter()
    return spark, t1 - t0, t2 - t1


def stop(spark) -> None:
    """Stop the session, shut the py4j gateway JVM down and wait for every
    child process."""
    from pyspark import SparkContext

    from perfbench import host

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    deadline = time.time() + 30
    while len(host.tree_pids()) > 1 and time.time() < deadline:
        time.sleep(0.1)
