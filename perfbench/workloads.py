"""The benchmark's workloads.

Each workload drives the engine from one client thread, first through one
cold pass over its fixed unit of work (every query once; every pipeline
step once; one backlog drain), then through untimed warm-up passes (the
JIT keeps speeding the engine up over the first passes after the cold
one), then through measured warm passes, and returns its end-to-end
figures:

- ``pass_s``: the median wall of the measured warm passes;
- ``op_typical_s``: the typical latency of one operation in the measured
  passes.

An operation is a query call (query function plus ``toPandas``) for
``analytics`` and ``llm_pipeline``, and a landed file for ``ingest``.  The
query workloads run ``WARMUP_PASSES``, then repeat measured passes, at
least ``MIN_WARM_PASSES``, while another pass fits in the run's seconds;
their ``op_typical_s`` is the geometric mean over the queries of each
query's median warm call (the summary TPC-H's power test uses): every
query weighs the same however long it runs, and one slow call or the
order a pass ran in hardly moves it.  At the run length ``BENCHMARK.json``
sets, a run measures two passes.  ``ingest`` drains the backlog
``INGEST_WARMUP_DRAINS`` times untimed and ``INGEST_WARM_DRAINS`` times
measured, then runs an open loop for the run's seconds; its
``op_typical_s`` is the median time from when a file was due to land to
the commit of the micro-batch that read it, over the files due after the
stream's first ``OPEN_WARMUP_S``.  ``op_typical_s``
is led by the typical operation and ``pass_s`` by the heaviest ones.
Tail percentiles of the operation latencies, and the cold pass, go to the
run's detail.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import threading
import time

import duckdb
import pyarrow.parquet as pq

from . import canon, ckptlog, gen
from .stats import Outcomes, summarize
from .trace import Tracer, layer_of

ANALYTICS = (
    # operators: the flagship aggregate, a sort-merge join, TPC-H Q2 shape
    "q_agg_groupby", "q_join_sortmerge", "q_analytics_min_cost_supplier",
    # sources: SPARQL property path (a BFS fixpoint), docker-event decoder
    "q_sparql_path", "q_source_docker_events",
    # streaming replay: runs an availableNow stream with watermark state
    "q_stream_watermark",
)
LLM_STEPS = (
    "q_llm_exact_dedup", "q_llm_near_dedup", "q_llm_dedup_groups",
    "q_llm_tfidf_keywords", "q_llm_cosine_topk", "q_llm_pagerank",
)
WARMUP_PASSES = 1
MIN_WARM_PASSES = 2
INGEST_WARMUP_DRAINS = 1
INGEST_WARM_DRAINS = 3
OPEN_WARMUP_S = 1.0
COMMIT_WAIT_S = 60.0


class Run:
    """One workload run against one session."""

    def __init__(self, spark, tracer: Tracer, data_dir: str, scratch: str,
                 seed: int, seconds: float) -> None:
        self.spark = spark
        self.tracer = tracer
        self.data_dir = data_dir
        self.scratch = scratch
        self.seed = seed
        self.seconds = seconds
        self.outcomes = Outcomes()
        self.detail: dict = {}
        self.layer_extra: dict[str, float] = {}


# -- query workloads ----------------------------------------------------------

def _duck(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(data_dir, f)}')")
    return con


def _query_pass(run: Run, names, queries, results: dict
                ) -> list[tuple[str, float]]:
    """Call each query once; returns ``(name, call time)`` of the calls
    that returned.  ``results[name]`` collects ``(frame or None, error)`` and
    ``run.detail["calls"][name]`` the call times."""
    times = []
    per_query = run.detail.setdefault("calls", {})
    for name in names:
        fn = queries[name]
        try:
            pdf, cs, as_ = run.tracer.call(
                run.spark, name, layer_of(fn.__module__),
                lambda fn=fn: fn(run.spark, run.data_dir),
                lambda df: df.toPandas())
        except Exception as e:  # a failed call is counted, not fatal
            results.setdefault(name, []).append((None, repr(e)[:300]))
            continue
        times.append((name, cs + as_))
        per_query.setdefault(name, []).append(round(cs + as_, 4))
        results.setdefault(name, []).append((pdf, None))
    return times


def check_calls(outcomes: Outcomes, results: dict, oracle: dict[str, str],
                con: duckdb.DuckDBPyConnection) -> None:
    """Count every call once.  A call fails when it raised; the first call
    that returned fails, for a query with an oracle, when its frame differs
    from the oracle run by DuckDB; every later call fails when its value
    hash differs from that first call's."""
    for name, calls in results.items():
        first_hash = None
        for pdf, err in calls:
            if err is not None:
                outcomes.record(name, False, err)
                continue
            h = canon.value_hash(pdf)
            if first_hash is None and name in oracle:
                try:
                    why = canon.compare(pdf, con.execute(oracle[name]).fetchdf())
                except duckdb.Error as e:
                    why = f"oracle: {e}"[:300]
                outcomes.record(name, why is None, why or "")
            elif first_hash is not None:
                outcomes.record(name, h == first_hash,
                                "value hash differs from first call")
            else:
                outcomes.record(name, True)
            if first_hash is None:
                first_hash = h


def _passes(run: Run, names, shuffle: bool) -> dict:
    from mu_swarm_logger_service_spark import all_queries, all_oracle_sql

    queries = all_queries()
    order = random.Random(run.seed)
    results: dict = {}

    def one_pass(label: str, shuffled: bool = shuffle
                 ) -> list[tuple[str, float]]:
        seq = list(names)
        if shuffled:
            order.shuffle(seq)
        with run.tracer.span(label):
            return _query_pass(run, seq, queries, results)

    first = [t for _, t in one_pass("cold", shuffled=False)]
    for i in range(WARMUP_PASSES):
        one_pass(f"warmup{i}")
    warm: dict[str, list[float]] = {}
    warm_passes = []
    t0 = time.perf_counter()
    while True:
        calls = one_pass(f"pass{len(warm_passes)}")
        for name, t in calls:
            warm.setdefault(name, []).append(t)
        warm_passes.append(sum(t for _, t in calls))
        spent = time.perf_counter() - t0
        if (len(warm_passes) >= MIN_WARM_PASSES
                and spent + statistics.median(warm_passes) > run.seconds):
            break
    con = _duck(run.data_dir)
    try:
        check_calls(run.outcomes, results, all_oracle_sql(), con)
    finally:
        con.close()
    run.detail.update(
        first_pass_s=sum(first), first_calls=summarize(first),
        warm_calls=summarize([t for ts in warm.values() for t in ts]),
        warm_passes=warm_passes)
    return {"op_typical_s": statistics.geometric_mean(
                statistics.median(ts) for ts in warm.values()),
            "pass_s": statistics.median(warm_passes)}


def analytics(run: Run) -> dict:
    """Closed loop, one client: every query once cold in list order, then
    warm-up and measured passes, each in a seeded order."""
    return _passes(run, ANALYTICS, shuffle=True)


def llm_pipeline(run: Run) -> dict:
    """Batch, one client: the pipeline steps in order, once cold, then in
    warm-up and measured passes."""
    return _passes(run, LLM_STEPS, shuffle=False)


# -- ingest -------------------------------------------------------------------

_SINK_AGG = """
SELECT p, COUNT(*) AS n, COUNT(DISTINCT s) AS n_subjects,
       MIN(o) AS min_o, MAX(o) AS max_o
FROM read_parquet('{sink}/*/*.parquet', hive_partitioning = false)
GROUP BY p
"""


class _Stream:
    """One ``events → triples → foreachBatch parquet`` stream over its own
    landing directory, checkpoint and sink."""

    def __init__(self, run: Run, name: str) -> None:
        self.run = run
        self.name = name
        base = os.path.join(run.scratch, "ingest", name)
        self.landing = os.path.join(base, "landing")
        self.ckpt = os.path.join(base, "ckpt")
        self.sink = os.path.join(base, "sink")
        os.makedirs(self.landing)
        self.sink_s = 0.0
        self.due: dict[str, float] = {}
        self.landed: dict[str, float] = {}
        self.sources: list[str] = []

    def land(self, src: str, due: float | None = None) -> None:
        """Copy under a hidden name, then rename: the file source never
        lists a partial file."""
        name = os.path.basename(src)
        hidden = os.path.join(self.landing, "." + name)
        shutil.copyfile(src, hidden)
        os.rename(hidden, os.path.join(self.landing, name))
        now = time.time()
        self.landed[name] = now
        self.due[name] = now if due is None else due
        self.sources.append(src)

    def _write(self, bdf, batch_id: int) -> None:
        t0 = time.perf_counter()
        bdf.write.mode("overwrite").parquet(
            os.path.join(self.sink, f"batch={batch_id}"))
        self.sink_s += time.perf_counter() - t0

    def build(self, max_files: int | None = None):
        from mu_swarm_logger_service_spark.sources.triples import (
            events_to_triples)

        spark = self.run.spark
        schema = spark.read.parquet(
            os.path.join(self.run.data_dir, "schema")).schema
        reader = spark.readStream.schema(schema)
        if max_files is not None:
            reader = reader.option("maxFilesPerTrigger", max_files)
        return events_to_triples(reader.parquet(self.landing))

    def start(self, df, available_now: bool):
        w = (df.writeStream.foreachBatch(self._write)
             .option("checkpointLocation", self.ckpt))
        if available_now:
            w = w.trigger(availableNow=True)
        return w.start()

    def committed(self) -> bool:
        if not os.path.isdir(os.path.join(self.ckpt, "commits")):
            return False
        batches = ckptlog.file_batches(self.ckpt)
        commits = ckptlog.commit_times(self.ckpt)
        return all(f in batches and batches[f] in commits for f in self.due)

    def check(self, con: duckdb.DuckDBPyConnection, oracle_sql: str
              ) -> str | None:
        files = ", ".join(f"'{p}'" for p in self.sources)
        con.execute("CREATE OR REPLACE VIEW events AS SELECT * FROM "
                    f"read_parquet([{files}])")
        expected = con.execute(oracle_sql).fetchdf()
        actual = con.execute(_SINK_AGG.format(sink=self.sink)).fetchdf()
        return canon.compare(actual, expected)


def _files(run: Run, kind: str) -> list[str]:
    d = os.path.join(run.data_dir, kind)
    return [os.path.join(d, f) for f in sorted(os.listdir(d))]


def _drain(run: Run, name: str) -> tuple[_Stream, float]:
    """Land the whole backlog, then drain it with ``availableNow``, one
    file per trigger.  Returns the stream and the drain's wall."""
    s = _Stream(run, name)
    for f in _files(run, "backlog"):
        s.land(f)

    def action(df):
        q = s.start(df, available_now=True)
        q.awaitTermination()
        return q

    _, _, wall = run.tracer.call(run.spark, "ingest." + name, "sources",
                                 lambda: s.build(max_files=1), action)
    return s, wall


def _open_loop(run: Run) -> tuple[_Stream, float]:
    """Land one file every ``gen.INGEST_INTERVAL_S`` for the run's seconds
    from one generator thread, into a running stream whose every trigger
    takes all files landed so far."""
    s = _Stream(run, "open")
    files = _files(run, "open")
    late = []

    def generate(t0: float) -> None:
        for i, f in enumerate(files):
            due = t0 + i * gen.INGEST_INTERVAL_S
            time.sleep(max(0.0, due - time.time()))
            s.land(f, due)
            late.append(s.landed[os.path.basename(f)] - due)

    def action(df):
        q = s.start(df, available_now=False)
        try:
            lander = threading.Thread(target=generate,
                                      args=(time.time() + 0.5,))
            lander.start()
            lander.join()
            deadline = time.time() + COMMIT_WAIT_S
            while not s.committed() and time.time() < deadline:
                time.sleep(0.05)
        finally:
            q.stop()
        return q

    run.tracer.call(run.spark, "ingest.open", "sources", s.build, action)
    return s, max(late) if late else 0.0


def ingest(run: Run) -> dict:
    """A cold backlog drain, warm-up and measured drains, then the open
    loop.  Every stream's sink is read back and checked against the oracle
    over the files it was given."""
    from mu_swarm_logger_service_spark import all_oracle_sql

    streams = []
    cold, first = _drain(run, "drain0")
    streams.append(cold)
    warm = []
    for i in range(INGEST_WARMUP_DRAINS + INGEST_WARM_DRAINS):
        s, wall = _drain(run, f"drain{i + 1}")
        streams.append(s)
        if i >= INGEST_WARMUP_DRAINS:
            warm.append(wall)
    opened, late = _open_loop(run)
    streams.append(opened)

    start = min(opened.due.values()) + OPEN_WARMUP_S
    lags = list(ckptlog.file_lags(
        opened.ckpt,
        {f: t for f, t in opened.due.items() if t >= start}).values())
    oracle = all_oracle_sql()["q_sink_triples"]
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    try:
        for s in streams:
            batches = ckptlog.file_batches(s.ckpt)
            commits = ckptlog.commit_times(s.ckpt)
            why = s.check(con, oracle)
            for f in s.due:
                ok = why is None and f in batches and batches[f] in commits
                run.outcomes.record(f"{s.name}/{f}", ok,
                                    why or "never committed")
    finally:
        con.close()
    events = sum(_rows(f) for f in _files(run, "backlog"))
    run.detail.update(
        first_pass_s=first, lag=summarize(lags), drain_events=events,
        warm_drains_s=warm, events_per_s=events / statistics.median(warm),
        open_files=len(opened.due))
    run.layer_extra = {
        "ingest.sink_write_s": sum(s.sink_s for s in streams),
        "ingest.backlog_files_max": ckptlog.backlog_max(opened.landed,
                                                        opened.ckpt),
        "ingest.generator_late_s": late,
    }
    return {"op_typical_s": statistics.median(lags),
            "pass_s": statistics.median(warm)}


def _rows(path: str) -> int:
    return pq.ParquetFile(path).metadata.num_rows


WORKLOADS = {"ingest": ingest, "analytics": analytics,
             "llm_pipeline": llm_pipeline}
