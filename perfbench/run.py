"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout.  Inputs are generated from the seed into a
scratch directory under ``.perfbench/`` (generation is not timed).  The
engine session is set up cold (see ``perfbench/session.py``); the workload
then runs on ``local[<cores>]`` from one client thread, warming up and
then measuring warm passes for about ``S`` seconds.  A fixed single-thread
control job is timed before and after the workload, and a run whose
control drifted beyond ``host.CONTROL_DRIFT_BOUND`` is flagged.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``, which holds the end-to-end metrics with
``--trace 0`` and the per-layer metrics with ``--trace 1``:

- ``setup_s``: engine session start (JVM launch included) plus a small
  warm-up job;
- ``peak_rss_mb``: summed peak resident memory of the process tree;
- ``op_typical_s`` and ``pass_s``: see ``perfbench/workloads.py``.

Every operation's output is checked (``failed`` counts wrong outputs and
errors).  Per-run detail goes to stderr as a ``# detail`` line and, when
tracing, the spans and per-layer sums to
``.perfbench/trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import host, session  # noqa: E402
E2E_UNITS = {"setup_s": "s", "peak_rss_mb": "MB", "op_typical_s": "s",
             "pass_s": "s"}


def _left_behind(spark, tmp: str) -> tuple[int, int]:
    views = sum(1 for t in spark.catalog.listTables() if t.isTemporary)
    ckpts = sum(1 for n in os.listdir(tmp) if "ckpt" in n)
    return views, ckpts


def run(args) -> dict:
    if not os.path.isdir(os.path.join(ROOT, "mu_swarm_logger_service_spark")):
        raise SystemExit("perfbench: engine package not found next to "
                         "perfbench/; run from the root of a checkout")
    cores = session.cores()
    marks = {"start": time.perf_counter()}
    work = os.path.join(ROOT, ".perfbench")
    os.makedirs(work, exist_ok=True)
    scratch = tempfile.mkdtemp(prefix=f"run-{args.workload}-", dir=work)
    data = os.path.join(scratch, "data")
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp)
    subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), data,
                    "--seed", str(args.seed), "--workload", args.workload,
                    "--seconds", str(args.seconds)],
                   check=True)

    marks["generated"] = time.perf_counter()
    # Everything the engine, the JVMs and the Python workers write goes under
    # the run's scratch directory; spark-submit's launcher JVM would write
    # its perf-data file to /tmp.
    os.environ.update(TMPDIR=tmp, SPARK_GRAFT_CPUS=str(cores),
                      SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
                      SPARK_LOCAL_DIRS=os.path.join(scratch, "local"),
                      PYTHONPATH=os.pathsep.join(
                          p for p in (ROOT, os.environ.get("PYTHONPATH"))
                          if p))
    tempfile.tempdir = None

    from perfbench.trace import Tracer, per_layer_names
    from perfbench.workloads import WORKLOADS, Run

    spark = None
    try:
        marks["imported"] = time.perf_counter()
        spark, session_s, warmup_s = session.cold_setup(scratch)
        marks["set_up"] = time.perf_counter()
        control_before = host.control_job()
        tracer = Tracer(bool(args.trace), cores)
        tracer.attach(spark)
        r = Run(spark, tracer, data, scratch, args.seed, args.seconds)
        t0 = time.perf_counter()
        with tracer.span(args.workload):
            e2e = WORKLOADS[args.workload](r)
        wall = time.perf_counter() - t0
        marks["measured"] = time.perf_counter()
        tracer.detach(spark)
        control_after = host.control_job()
        views, ckpts = _left_behind(spark, tmp)
        e2e["setup_s"] = session_s + warmup_s
        e2e["peak_rss_mb"] = host.peak_rss_mb()
        drift = control_after / control_before - 1.0
        detail = {
            "workload": args.workload, "seed": args.seed, "cores": cores,
            "wall_s": wall,
            "control_before_s": control_before,
            "control_after_s": control_after,
            "host_drift": drift,
            "host_drift_flag": abs(drift) > host.CONTROL_DRIFT_BOUND,
            "error_ratio": r.outcomes.error_ratio,
            "failures": r.outcomes.failures[:20],
            "e2e": e2e, **r.detail,
            "phases_s": {k: round(v - marks["start"], 2)
                         for k, v in marks.items()},
        }
        if args.trace:
            layer = tracer.layer_metrics(spark)
            layer.update(r.layer_extra)
            layer.update({
                "core.setup.session_s": session_s,
                "core.setup.warmup_s": warmup_s,
                "core.temp_views_left": views,
                "core.ckpt_dirs_left": ckpts,
                "host.control_s": statistics.median(
                    [control_before, control_after]),
            })
            for name in per_layer_names():
                layer.setdefault(name, 0.0)
            timed = sum(v for k, v in layer.items()
                        if k.endswith((".construct_s", ".action_s")))
            detail["reconcile"] = {
                "layer_construct_plus_action_s": timed,
                "workload_wall_s": wall,
                "gap_s": wall - timed,
                "gap_share": (wall - timed) / wall,
            }
            tracer.write(os.path.join(
                work, f"trace-{args.workload}-{args.seed}.json"),
                {"detail": detail, "layers": layer})
            metrics = {k: {"value": float(layer[k]), "unit": _unit(k)}
                       for k in per_layer_names()}
        else:
            metrics = {k: {"value": float(e2e[k]), "unit": u}
                       for k, u in E2E_UNITS.items()}
        print("# detail " + json.dumps(detail, default=str), file=sys.stderr)
        return {"correct": r.outcomes.failed == 0,
                "attempted": r.outcomes.attempted,
                "failed": r.outcomes.failed, "metrics": metrics}
    finally:
        session.stop(spark)
        shutil.rmtree(scratch, ignore_errors=True)


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    return "count"


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description="engine benchmark")
    ap.add_argument("--workload", required=True,
                    choices=("ingest", "analytics", "llm_pipeline"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    result = run(ap.parse_args(argv))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
