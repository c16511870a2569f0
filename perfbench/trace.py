"""Timing of calls into the engine, and the traced run's per-layer numbers.

Every timed call goes through ``Tracer.call``: the query function is called
(construction) and then its action runs, each timed.  With tracing off that
is all it does.  With tracing on it also

- tags the construction and the action with their own ``setJobGroup``;
- records spans (name, start, end, parent, run id) in memory;
- registers a ``StreamingQueryListener``: streams run their jobs under the
  stream's run id, so a stream is attributed to the call that started it,
  and its trigger progress (phase durations, state rows and partitions) is
  summed;
- pulls jobs and stages from the local UI REST API after the workload.

The layer of a call is the engine module that defines the called function.
"""

from __future__ import annotations

import json
import os
import threading
import time
import urllib.request
import uuid
from collections import defaultdict
from contextlib import contextmanager
from datetime import datetime

LAYERS = ("operators", "sources", "streaming", "llm.dedup",
          "llm.similarity", "llm.clustering", "llm.text")
LAYER_SUFFIXES = (
    "calls", "construct_s", "action_s", "jobs_construct", "jobs_action",
    "tasks", "executor_run_s", "gc_s", "idle_core_s", "input_bytes",
    "shuffle_write_bytes", "shuffle_write_records", "shuffle_read_bytes",
    "spill_bytes", "failed_tasks")
STREAM_PHASES = {"addBatch": "add_batch_s", "getBatch": "get_batch_s",
                 "queryPlanning": "query_planning_s",
                 "walCommit": "wal_commit_s",
                 "commitOffsets": "commit_offsets_s"}
STREAM_KEYS = ("batches", *STREAM_PHASES.values(), "state_rows",
               "state_partitions")
OTHER_KEYS = ("ingest.sink_write_s", "ingest.backlog_files_max",
              "ingest.generator_late_s", "core.setup.session_s",
              "core.setup.warmup_s", "core.temp_views_left",
              "core.ckpt_dirs_left", "host.control_s")
PACKAGE = "mu_swarm_logger_service_spark."


def per_layer_names() -> list[str]:
    return ([f"{layer}.{s}" for layer in LAYERS for s in LAYER_SUFFIXES]
            + [f"streaming.{k}" for k in STREAM_KEYS] + list(OTHER_KEYS))


def layer_of(module: str) -> str:
    """``mu_swarm_logger_service_spark.llm.dedup`` → ``llm.dedup``;
    ``...operators.joins`` → ``operators``."""
    parts = module.removeprefix(PACKAGE).split(".")
    if parts[0] == "llm" and len(parts) > 1:
        return f"llm.{parts[1]}"
    return parts[0]


class _Call:
    __slots__ = ("name", "layer", "run_id", "t0", "t1", "t2", "w0", "w1",
                 "w2")

    def __init__(self, name: str, layer: str) -> None:
        self.name, self.layer = name, layer
        self.run_id = uuid.uuid4().hex[:12]
        self.t0 = self.t1 = self.t2 = 0.0      # perf_counter
        self.w0 = self.w1 = self.w2 = 0.0      # wall clock, for streams


def _make_listener(tracer: "Tracer"):
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            tracer._progress(event.progress)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Listener()


class Tracer:
    def __init__(self, enabled: bool, cores: int) -> None:
        self.enabled = enabled
        self.cores = cores
        self.calls: list[_Call] = []
        self.spans: list[dict] = []
        self.stream: dict[str, float] = defaultdict(float)
        self._lock = threading.Lock()
        self._stream_first: dict[str, float] = {}   # run id -> first trigger
        self._stack: list[str] = []
        self._listener = None

    # -- spans --------------------------------------------------------------
    @contextmanager
    def span(self, name: str, run_id: str | None = None):
        if not self.enabled:
            yield
            return
        sid = uuid.uuid4().hex[:12]
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        t0 = time.time()
        try:
            yield
        finally:
            self._stack.pop()
            self.spans.append({"id": sid, "name": name, "start": t0,
                               "end": time.time(), "parent": parent,
                               "run_id": run_id or sid})

    # -- calls --------------------------------------------------------------
    def attach(self, spark) -> None:
        """Register the streaming listener on the measured session."""
        if self.enabled and self._listener is None:
            self._listener = _make_listener(self)
            spark.streams.addListener(self._listener)

    def detach(self, spark) -> None:
        if self._listener is not None:
            spark.streams.removeListener(self._listener)
            self._listener = None

    def call(self, spark, name: str, layer: str, build, action):
        """Run ``action(build())``; returns ``(result, construct_s,
        action_s)``.  Exceptions propagate after the call is recorded."""
        c = _Call(name, layer)
        sc = spark.sparkContext
        with self.span(name, c.run_id):
            if self.enabled:
                sc.setJobGroup(f"{c.run_id}.c", name, False)
            c.w0, c.t0 = time.time(), time.perf_counter()
            try:
                with self.span(name + ".construct", c.run_id):
                    obj = build()
                c.w1, c.t1 = time.time(), time.perf_counter()
                if self.enabled:
                    sc.setJobGroup(f"{c.run_id}.a", name, False)
                with self.span(name + ".action", c.run_id):
                    out = action(obj)
                c.w2, c.t2 = time.time(), time.perf_counter()
            finally:
                if not c.t1:
                    c.w1, c.t1 = time.time(), time.perf_counter()
                if not c.t2:
                    c.w2, c.t2 = time.time(), time.perf_counter()
                if self.enabled:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
                self.calls.append(c)
        return out, c.t1 - c.t0, c.t2 - c.t1

    # -- listener callbacks (listener-bus thread) ---------------------------
    def _progress(self, p) -> None:
        trigger = datetime.fromisoformat(
            p.timestamp.replace("Z", "+00:00")).timestamp()
        with self._lock:
            rid = str(p.runId)
            self._stream_first[rid] = min(
                trigger, self._stream_first.get(rid, trigger))
            self.stream["batches"] += 1
            for k, key in STREAM_PHASES.items():
                self.stream[key] += (p.durationMs or {}).get(k, 0) / 1000.0
            for op in p.stateOperators or []:
                self.stream["state_rows"] += op.numRowsTotal
                self.stream["state_partitions"] += op.numShufflePartitions

    # -- report -------------------------------------------------------------
    def layer_metrics(self, spark) -> dict[str, float]:
        """Per-layer sums over every recorded call."""
        out = {f"{layer}.{s}": 0.0 for layer in LAYERS
               for s in LAYER_SUFFIXES}
        for k in STREAM_KEYS:
            out[f"streaming.{k}"] = float(self.stream.get(k, 0.0))
        jobs, stages = _rest_jobs_stages(spark)
        by_group: dict[str, list[dict]] = defaultdict(list)
        for j in jobs:
            if j.get("jobGroup"):
                by_group[j["jobGroup"]].append(j)
        streams: dict[str, list[str]] = defaultdict(list)
        for rid, t in self._stream_first.items():
            for c in self.calls:
                if c.w0 <= t <= c.w2:
                    streams[c.run_id + (".c" if t < c.w1 else ".a")].append(
                        rid)
                    break
        for c in self.calls:
            if c.layer not in LAYERS:
                continue
            pre = f"{c.layer}."
            wall = c.t2 - c.t0
            out[pre + "calls"] += 1
            out[pre + "construct_s"] += c.t1 - c.t0
            out[pre + "action_s"] += c.t2 - c.t1
            mine = {"c": list(by_group.get(f"{c.run_id}.c", [])),
                    "a": list(by_group.get(f"{c.run_id}.a", []))}
            for phase in "ca":
                for rid in streams.get(f"{c.run_id}.{phase}", []):
                    mine[phase] += by_group.get(rid, [])
            out[pre + "jobs_construct"] += len(mine["c"])
            out[pre + "jobs_action"] += len(mine["a"])
            run_s = 0.0
            for sid in {s for j in mine["c"] + mine["a"]
                        for s in j.get("stageIds", [])}:
                for st in stages.get(sid, []):
                    out[pre + "tasks"] += st.get("numCompleteTasks", 0)
                    run_s += st.get("executorRunTime", 0) / 1000.0
                    out[pre + "gc_s"] += st.get("jvmGcTime", 0) / 1000.0
                    out[pre + "input_bytes"] += st.get("inputBytes", 0)
                    out[pre + "shuffle_write_bytes"] += st.get(
                        "shuffleWriteBytes", 0)
                    out[pre + "shuffle_write_records"] += st.get(
                        "shuffleWriteRecords", 0)
                    out[pre + "shuffle_read_bytes"] += st.get(
                        "shuffleReadBytes", 0)
                    out[pre + "spill_bytes"] += st.get(
                        "memoryBytesSpilled", 0)
                    out[pre + "failed_tasks"] += st.get("numFailedTasks", 0)
            out[pre + "executor_run_s"] += run_s
            out[pre + "idle_core_s"] += self.cores * wall - run_s
        return out

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f)


def _rest_jobs_stages(spark) -> tuple[list[dict], dict[int, list[dict]]]:
    sc = spark.sparkContext
    url = sc.uiWebUrl
    if not url:
        return [], {}
    base = f"{url}/api/v1/applications/{sc.applicationId}"
    with urllib.request.urlopen(f"{base}/jobs", timeout=60) as r:
        jobs = json.load(r)
    with urllib.request.urlopen(f"{base}/stages", timeout=60) as r:
        raw = json.load(r)
    stages: dict[int, list[dict]] = defaultdict(list)
    for st in raw:
        if st.get("status") != "SKIPPED":
            stages[st["stageId"]].append(st)
    return jobs, stages
