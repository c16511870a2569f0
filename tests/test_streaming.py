"""Streaming replay harness (SURVEY.md §5.2.4, rows 60-64, 66).

Every pure transform must produce the SAME final state under batch and
under multi-micro-batch replay (files delivered in order, one per trigger).
Watermark/late-data semantics — invisible to the batch oracle — are pinned
here with hand-built file sequences.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import threading
import uuid

import pytest
from pyspark.sql import functions as F

from mu_swarm_logger_service_spark.core.registry import QUERIES
from mu_swarm_logger_service_spark.core.tables import load
from mu_swarm_logger_service_spark.streaming import transforms as X
from mu_swarm_logger_service_spark.streaming.stateful import (
    running_user_counters_stateful,
)


def _replay_dir(spark, sf_dir, n_files=4):
    """Split events (ts-ordered) into n parquet files for ordered replay."""
    out = tempfile.mkdtemp(prefix="replay_src_")
    ev = load(spark, sf_dir, "events").orderBy("ts", "event_id")
    rows = ev.count()
    per = rows // n_files + 1
    pdf = ev.toPandas()
    import time
    for i in range(n_files):
        chunk = pdf.iloc[i * per:(i + 1) * per]
        if len(chunk):
            spark.createDataFrame(chunk, schema=ev.schema).coalesce(1).write.mode(
                "overwrite"
            ).parquet(os.path.join(out, f"f{i:03d}"))
            time.sleep(1.05)  # file source orders batches by modification time
    return out


def _read_replay(spark, src, schema):
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src, "f*"))
    )


def _run_stream(df, mode="append", ckpt_prefix="ckpt_"):
    name = f"t_{uuid.uuid4().hex[:12]}"
    ckpt = tempfile.mkdtemp(prefix=ckpt_prefix)
    q = (
        df.writeStream.format("memory").queryName(name).outputMode(mode)
        .option("checkpointLocation", ckpt).trigger(availableNow=True).start()
    )
    q.awaitTermination()
    out = df.sparkSession.table(name).localCheckpoint(eager=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    return out


@pytest.fixture(scope="module")
def replay(spark, sf_dir):
    src = _replay_dir(spark, sf_dir)
    schema = load(spark, sf_dir, "events").schema
    yield src, schema
    shutil.rmtree(src, ignore_errors=True)


@pytest.fixture
def replayed(spark, replay, monkeypatch):
    """Registered streaming queries read the 4-file ordered replay (one
    file per trigger) instead of the one-file events stream."""
    src, schema = replay
    monkeypatch.setattr(X, "stream_events",
                        lambda *args, **kwargs: _read_replay(
                            spark, src, schema))


def _run_counting_batches(spark, run):
    """``run()``'s result and the number of distinct micro-batches the
    stream it starts executed, counted by a StreamingQueryListener.  The
    listener bus is asynchronous, so wait for the termination event: the
    bus delivers it after all of the query's progress events."""
    from pyspark.sql.streaming import StreamingQueryListener

    batches, terminated = set(), threading.Event()

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            batches.add(event.progress.batchId)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            terminated.set()

    listener = _Listener()
    spark.streams.addListener(listener)
    try:
        out = run()
        assert terminated.wait(60), "no termination event from the stream"
    finally:
        spark.streams.removeListener(listener)
    return out, len(batches)


def _canon(df):
    return sorted(tuple(r) for r in df.collect())


def test_session_native_equals_gaps_and_islands(spark, sf_dir):
    """session_window (native) ≡ lag+cumsum sessionization on (user, start,
    n_events); native end = last_ts + gap."""
    ev = load(spark, sf_dir, "events")
    native = X.session_windows(ev).select(
        "user_id", "session_start", "n_events", "session_value"
    )
    gai = X.sessionize_batch(ev).select(
        "user_id", "session_start", "n_events", "session_value"
    )
    assert _canon(native) == _canon(gai)


def test_tumbling_stream_equals_batch(spark, sf_dir, replay):
    src, schema = replay
    stream = _read_replay(spark, src, schema)
    got = _run_stream(X.tumbling_counts(stream), "complete")
    want = X.tumbling_counts(load(spark, sf_dir, "events"))
    assert _canon(got) == _canon(want)


def test_session_stream_equals_batch(spark, sf_dir, replay):
    """Session windows under multi-batch replay with watermark: all data is
    on time (ordered replay), so final state == batch sessionization.

    Append mode only emits sessions the watermark has passed, so a
    far-future sentinel event (user_id = -1) is appended as a final file to
    flush all real sessions out of the state store."""
    src, schema = replay
    ev = load(spark, sf_dir, "events")
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    import datetime as dt
    sentinel = spark.createDataFrame(
        [(-1, max_ts + dt.timedelta(hours=2), -1, "view", 0.0, "{}")],
        schema,
    )
    sentinel.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(src, "f999")
    )
    try:
        stream = _read_replay(spark, src, schema).withWatermark("ts", "1 minute")
        got = _run_stream(X.session_windows(stream), "append").filter(
            F.col("user_id") >= 0
        )
        want = X.session_windows(ev)
        assert _canon(got) == _canon(want)
    finally:
        shutil.rmtree(os.path.join(src, "f999"), ignore_errors=True)


def test_dedup_within_watermark_stream(spark, sf_dir, replay):
    """At-least-once replay (each file delivered, then its duplicate in the
    same batch) → dropDuplicatesWithinWatermark restores exactly-once."""
    src, schema = replay
    stream = _read_replay(spark, src, schema).withWatermark("ts", "10 minutes")
    doubled = stream.unionByName(stream)  # duplicate within every batch
    got = _run_stream(doubled.dropDuplicatesWithinWatermark(["event_id"]))
    n_events = load(spark, sf_dir, "events").count()
    assert got.count() == n_events
    assert got.select("event_id").distinct().count() == n_events


def test_stateful_counters_stream_equals_batch(spark, sf_dir, replay):
    """applyInPandasWithState across 4 triggers ≡ batch cumulative window:
    state must carry across micro-batches."""
    src, schema = replay
    stream = _read_replay(spark, src, schema)
    # The counter state-schema version rides the checkpoint path
    # (stateful.COUNTER_CKPT_PREFIX) — the BURST_STATE_VERSION upgrade
    # contract, applied to this operator's lineage (r11 ADVICE).
    from mu_swarm_logger_service_spark.streaming.stateful import (
        COUNTER_CKPT_PREFIX,
    )
    got = _run_stream(running_user_counters_stateful(stream),
                      ckpt_prefix=COUNTER_CKPT_PREFIX).toPandas()
    want = X.running_user_counters(load(spark, sf_dir, "events")).toPandas()
    g = got.sort_values(["user_id", "event_id"]).reset_index(drop=True)
    w = want.sort_values(["user_id", "event_id"]).reset_index(drop=True)
    assert len(g) == len(w)
    assert (g["n_so_far"] == w["n_so_far"]).all()
    assert (g["value_so_far"] - w["value_so_far"]).abs().max() < 1e-6


def test_state_versions_ride_checkpoint_paths():
    """Upgrade contract for long-lived deployments (r10 + r11 ADVICE):
    every applyInPandasWithState schema with a registered checkpoint
    lineage embeds its version in the path prefix, and the (version,
    schema) pairs are pinned here — widening a state schema without
    bumping its version is exactly the silent checkpoint-killer this
    contract exists to prevent."""
    from mu_swarm_logger_service_spark.streaming.stateful import (
        BURST_STATE_SCHEMA,
        BURST_STATE_VERSION,
        COUNTER_CKPT_PREFIX,
        COUNTER_STATE_VERSION,
        STATE_SCHEMA,
    )
    assert f"v{COUNTER_STATE_VERSION}_" in COUNTER_CKPT_PREFIX
    assert (COUNTER_STATE_VERSION, STATE_SCHEMA) == (
        2, "n long, total double, has_total integer")
    assert (BURST_STATE_VERSION, BURST_STATE_SCHEMA) == (
        2, "last_us long, last_eid long, n_gaps long, "
           "s1 long, s2 string, has_last integer")


def test_stream_stream_join_equals_batch(spark, sf_dir, replay):
    """Watermarked stream-stream interval join ≡ batch attribution join."""
    src, schema = replay
    raw = _read_replay(spark, src, schema)
    p = (
        raw.filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "2 hours")
        .select(F.col("event_id").alias("p_id"), F.col("user_id").alias("p_uid"),
                F.col("ts").alias("p_ts"))
    )
    c = (
        raw.filter(F.col("event_type") == "click")
        .withWatermark("ts", "2 hours")
        .select(F.col("event_id").alias("c_id"), F.col("user_id").alias("c_uid"),
                F.col("ts").alias("c_ts"))
    )
    joined = p.join(
        c,
        (F.col("p_uid") == F.col("c_uid"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") < F.col("p_ts")),
    ).select("p_id", "c_id", F.col("p_uid").alias("user_id"))
    got = _run_stream(joined)
    want = X.purchase_click_attribution(load(spark, sf_dir, "events"))
    assert _canon(got) == _canon(
        want.select(F.col("purchase_id").alias("p_id"),
                    F.col("click_id").alias("c_id"), "user_id")
    )


def test_watermark_drops_late_rows(spark):
    """Hand-built sequence: batch 1 advances the watermark far ahead; batch
    2 delivers a row older than the watermark → it must NOT appear."""
    src = tempfile.mkdtemp(prefix="late_src_")
    schema = "event_id long, ts timestamp, event_type string"

    def write(i, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(src, f"f{i:03d}"))

    import datetime as dt
    import time
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    h = dt.timedelta(hours=1)
    # Spark's two-watermark scheme (late-event filtering uses the PREVIOUS
    # batch's watermark) means a row is only dropped when it arrives ≥2
    # batches after the watermark passed its window:
    # batch 0: t0 and t0+5h → watermark (after) = 4:50
    write(0, [(1, t0, "click"), (2, t0 + 5 * h, "click")])
    time.sleep(1.05)  # file-source ordering is by modification time
    # batch 1: fresh row → late-filter watermark for batch 2 becomes 4:50
    write(1, [(4, t0 + 6 * h, "click")])
    time.sleep(1.05)
    # batch 2: late row at t0+1h (window end 2:00 < 4:50) → DROPPED
    write(2, [(3, t0 + 1 * h, "click"), (5, t0 + 7 * h, "click")])
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src, "f*"))
        .withWatermark("ts", "10 minutes")
    )
    agg = (
        stream.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    got = {(r.ws, r.n) for r in _run_stream(agg, "append").collect()}
    shutil.rmtree(src, ignore_errors=True)
    # the [t0+1h] window was late → dropped; [t0] window emitted with n=1
    assert (t0, 1) in got
    assert not any(ws == t0 + 1 * h for ws, _ in got)


def test_update_mode_emits_revisions(spark):
    """Output-mode matrix (row 66): update mode re-emits a group when a
    later batch revises it; the memory sink then holds both versions."""
    src = tempfile.mkdtemp(prefix="upd_src_")
    schema = "event_id long, ts timestamp, event_type string"
    import datetime as dt
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    m = dt.timedelta(minutes=5)
    spark.createDataFrame([(1, t0, "a")], schema).coalesce(1).write.mode(
        "overwrite").parquet(os.path.join(src, "f000"))
    spark.createDataFrame([(2, t0 + m, "a")], schema).coalesce(1).write.mode(
        "overwrite").parquet(os.path.join(src, "f001"))
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1).parquet(os.path.join(src, "f*"))
    agg = stream.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    got = sorted(r.n for r in _run_stream(agg, "update").collect())
    shutil.rmtree(src, ignore_errors=True)
    assert got == [1, 2]  # first emission n=1, revised emission n=2


def test_checkpoint_resume_processes_only_new_files(spark, sf_dir):
    """Fault tolerance the reference lacks (SURVEY.md §4.1: events missed
    while down are lost): stop, add data, restart from the SAME checkpoint
    → only the new file is processed, sink stays exactly-once."""
    import datetime as dt
    src = tempfile.mkdtemp(prefix="resume_src_")
    sink = tempfile.mkdtemp(prefix="resume_sink_")
    ckpt = tempfile.mkdtemp(prefix="resume_ckpt_")
    schema = "event_id long, ts timestamp, event_type string"
    t0 = dt.datetime(2024, 1, 1)

    def write_src(i, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite").parquet(os.path.join(src, f"f{i:03d}"))

    def run_once():
        batches = []

        def sink_batch(bdf, bid):
            bdf.write.mode("overwrite").parquet(os.path.join(sink, f"b={bid}"))
            batches.append(bid)

        q = (
            spark.readStream.schema(schema).parquet(os.path.join(src, "f*"))
            .writeStream.foreachBatch(sink_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()
        return batches

    write_src(0, [(1, t0, "a"), (2, t0, "b")])
    run_once()
    import time
    time.sleep(1.05)
    write_src(1, [(3, t0, "c")])
    second = run_once()
    got = spark.read.parquet(os.path.join(sink, "b=*"))
    assert got.count() == 3  # no reprocessing of file 0
    assert {r.event_id for r in got.collect()} == {1, 2, 3}
    assert len(second) >= 1  # restart picked up exactly the new data
    for d in (src, sink, ckpt):
        shutil.rmtree(d, ignore_errors=True)


def test_rate_source_soak(spark):
    """Unbounded synthetic source (rate) through the tumbling transform —
    the soak-test harness shape from SURVEY.md row 3."""
    from mu_swarm_logger_service_spark.streaming.transforms import tumbling_counts
    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 500).load()
        .select(
            F.col("value").alias("event_id"),
            F.col("timestamp").alias("ts"),
            (F.col("value") % 7).alias("user_id"),
            F.when(F.col("value") % 2 == 0, "click").otherwise("view")
            .alias("event_type"),
            (F.col("value") % 100).cast("double").alias("value"),
            F.lit("{}").alias("props"),
        )
    )
    name = f"t_{uuid.uuid4().hex[:10]}"
    q = (
        tumbling_counts(stream)
        .writeStream.format("memory").queryName(name).outputMode("complete")
        .trigger(processingTime="1 second").start()
    )
    try:
        import time
        deadline = time.time() + 20
        total = 0
        while time.time() < deadline:
            time.sleep(1)
            rows = spark.table(name).collect()
            total = sum(r.n for r in rows)
            if total >= 500:
                break
        assert total >= 500, f"only {total} rows flowed through the rate soak"
    finally:
        q.stop()


def test_rollup_upsert_is_idempotent_under_retry(spark, sf_dir):
    """The batch-provenance upsert must converge when a batch is replayed
    (foreachBatch retries re-deliver the SAME batch_id): applying batch 0
    twice then batch 1 equals applying each once."""
    from mu_swarm_logger_service_spark.streaming.queries import rollup_upsert

    store = os.path.join(
        tempfile.gettempdir(), f"rollup_retry_{uuid.uuid4().hex[:8]}")
    ev = load(spark, sf_dir, "events")
    b0 = ev.filter(F.col("event_id") % 2 == 0)
    b1 = ev.filter(F.col("event_id") % 2 == 1)
    up = rollup_upsert(spark, store)
    up(b0, 0)
    up(b0, 0)  # simulated retry of the same micro-batch
    up(b1, 1)
    got = {
        (r.hour, r.event_type): r.n
        for r in spark.read.parquet(store)
        .groupBy("hour", "event_type").agg(F.sum("n").alias("n")).collect()
    }
    want = {
        (r.hour, r.event_type): r.n
        for r in ev.groupBy(
            F.date_trunc("hour", "ts").alias("hour"), "event_type"
        ).agg(F.count(F.lit(1)).alias("n")).collect()
    }
    shutil.rmtree(store, ignore_errors=True)
    assert got == want


def test_rollup_upsert_keeps_untouched_days_on_static_session(spark, sf_dir):
    """The upsert pins dynamic partition overwrite on its own writer, so a
    session left in static mode must not let a batch that touches ONE day
    wipe the others: every row batch 0 wrote for the untouched days
    survives batch 1's overwrite."""
    from mu_swarm_logger_service_spark.streaming.queries import (
        ROLLUP_STORE_SCHEMA, rollup_upsert)

    store = os.path.join(
        tempfile.gettempdir(), f"rollup_static_{uuid.uuid4().hex[:8]}")
    key = "spark.sql.sources.partitionOverwriteMode"
    prior = spark.conf.get(key, "static")
    spark.conf.set(key, "static")
    ev = load(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    day = F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd")
    want = {r.event_date: r.n for r in ev.groupBy(day.alias("event_date"))
            .agg(F.count(F.lit(1)).alias("n")).collect()}
    one_day = min(want)
    try:
        up = rollup_upsert(spark, store)
        up(ev, 0)
        up(ev.filter(day == one_day), 1)
        got = spark.read.schema(ROLLUP_STORE_SCHEMA).parquet(store)

        def per_day(batch_id):
            return {r.event_date: r.n for r in
                    got.filter(F.col("batch_id") == batch_id)
                    .groupBy("event_date").agg(F.sum("n").alias("n"))
                    .collect()}

        assert len(want) > 1
        assert per_day(0) == want   # untouched days survived
        assert per_day(1) == {one_day: want[one_day]}
    finally:
        spark.conf.set(key, prior)
        shutil.rmtree(store, ignore_errors=True)


def test_failed_stream_leaks_nothing(spark, sf_dir, monkeypatch):
    """A micro-batch that raises must leave the session as it found it —
    shuffle partitions restored, no memory-sink view left registered, no
    temp sink or checkpoint dir left behind — on the memory-sink path
    (q_stream_watermark) and the foreachBatch path
    (q_stream_heavy_hitters)."""
    from pyspark.errors import StreamingQueryException

    real = X.stream_events
    real(spark, sf_dir)  # stage the source dir before the snapshot

    def poisoned(*args, **kwargs):
        return real(*args, **kwargs).withColumn(
            "ts", F.raise_error(F.lit("injected fault")).cast("timestamp"))

    monkeypatch.setattr(X, "stream_events", poisoned)

    def session_state():
        return (
            spark.conf.get("spark.sql.shuffle.partitions"),
            sorted(t.name for t in spark.catalog.listTables()
                   if t.isTemporary),
            sorted(n for n in os.listdir(tempfile.gettempdir())
                   if n.startswith("spark_graft_")),
        )

    before = session_state()
    for key in ("q_stream_watermark", "q_stream_heavy_hitters"):
        with pytest.raises(StreamingQueryException, match="injected fault"):
            QUERIES[key](spark, sf_dir)
        assert session_state() == before, key


def test_observe_metrics_surface_in_streaming_progress(spark, sf_dir):
    """q_agg_observed claims the identical df.observe(...) call works on a
    streaming DataFrame with the metrics surfacing per micro-batch in
    QueryProgress.observedMetrics — prove it: the streamed metrics over
    the full events table must equal the batch aggregates exactly."""
    import tempfile

    from mu_swarm_logger_service_spark.core.tables import load
    from mu_swarm_logger_service_spark.streaming.transforms import stream_events

    ev = load(spark, sf_dir, "events")
    expected = ev.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("event_type") == "purchase", 1))
        .alias("n_purchase"),
    ).first()

    observed = stream_events(spark, sf_dir).observe(
        "dq",
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("event_type") == "purchase", 1))
        .alias("n_purchase"),
    )
    name = f"t_{uuid.uuid4().hex[:10]}"
    q = (
        observed.writeStream.format("memory").queryName(name)
        .outputMode("append")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="obs_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    totals = {"n_rows": 0, "n_purchase": 0}
    for prog in q.recentProgress:
        m = prog["observedMetrics"].get("dq") if prog["observedMetrics"] else None
        if m:
            totals["n_rows"] += m["n_rows"]
            totals["n_purchase"] += m["n_purchase"]
    assert totals["n_rows"] == expected["n_rows"]
    assert totals["n_purchase"] == expected["n_purchase"]


def test_fingerprint_merge_across_batches_equals_batch(
        spark, sf_dir, replayed):
    """The incremental fingerprint's core claim, exercised with REAL
    multi-batch replay (the registered q_stream_fingerprint sees one
    micro-batch at small SF because events is one file): per-batch
    (count, hash-sum) partials from 4 ordered micro-batches, merged by
    decimal addition, must equal the one-shot batch fingerprint exactly
    — associativity/commutativity of the decimal sum is what makes the
    checksum maintainable at micro-batch cost."""
    from mu_swarm_logger_service_spark.operators.analytics import (
        event_row_fingerprint,
    )

    merged, n_batches = _run_counting_batches(
        spark, lambda: QUERIES["q_stream_fingerprint"](spark, sf_dir))
    assert n_batches >= 4   # genuinely incremental

    batch = (
        load(spark, sf_dir, "events")
        .select(F.date_format("ts", "yyyy-MM-dd").alias("day"),
                event_row_fingerprint().alias("rh"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("n_rows"),
             F.sum(F.col("rh").cast("decimal(38,0)")).cast("decimal(38,0)")
             .cast("string").alias("fingerprint"))
    )
    assert _canon(merged) == _canon(batch)


def test_heavy_hitters_state_across_batches(spark, sf_dir, replayed):
    """Streaming Misra-Gries with REAL multi-batch replay: the per-shard
    counter state must carry across 4 ordered micro-batches and the final
    merged result must equal the batch sketch EXACTLY — the replay is
    ts-ordered, so each shard folds the same item sequence either way."""
    got, n_batches = _run_counting_batches(
        spark, lambda: QUERIES["q_stream_heavy_hitters"](spark, sf_dir))
    assert n_batches >= 4   # state really crossed triggers
    want = QUERIES["q_sketch_heavy_hitters"](spark, sf_dir)
    assert _canon(got) == _canon(want)


def test_holt_state_across_batches_equals_batch(spark, sf_dir, replayed):
    """Streaming Holt's core claim under REAL multi-batch replay (the
    registered q_stream_holt sees one micro-batch at small SF because
    events is one file): per-type (l, b, pending-hour) state carried
    across 4 event-time-ordered micro-batches — hours straddling batch
    boundaries stay pending and keep accumulating — then the read-time
    close of the final hour must equal the one-shot batch fold
    (q_ts_holt_trend) bit-for-bit."""
    streamed, n_batches = _run_counting_batches(
        spark, lambda: QUERIES["q_stream_holt"](spark, sf_dir))
    assert n_batches >= 4   # genuinely incremental
    batch = QUERIES["q_ts_holt_trend"](spark, sf_dir)
    assert _canon(streamed) == _canon(batch)   # bit-exact double equality


def test_kmv_merge_across_batches_equals_batch(spark, sf_dir, replayed):
    """The streaming KMV's core claim with REAL multi-batch replay (the
    registered q_stream_kmv sees one micro-batch at small SF): per-batch
    bottom-K partials from 4 ordered micro-batches, merged by one more
    kmv_bottomk pass, must equal the one-shot sketch over all events
    EXACTLY — no state store, because the bottom-K set is closed under
    union-merge.  The bitmap partials must likewise OR-merge to the exact
    distinct count."""
    from mu_swarm_logger_service_spark.operators.sketches import (
        kmv_bottomk,
        kmv_finalize,
        kmv_priority,
    )

    merged, n_batches = _run_counting_batches(
        spark, lambda: QUERIES["q_stream_kmv"](spark, sf_dir))
    assert n_batches >= 4   # genuinely incremental

    ev = load(spark, sf_dir, "events")
    oneshot = kmv_finalize(
        kmv_bottomk(ev.select("event_type", kmv_priority().alias("pri")),
                    ["event_type"]),
        ev.groupBy("event_type")
        .agg(F.count_distinct("event_id").alias("n_distinct_exact")),
    )
    assert _canon(merged) == _canon(oneshot)


def test_cdc_apply_across_batches_equals_batch(spark, sf_dir, replay):
    """Streaming CDC materialization under REAL multi-batch replay (the
    registered q_stream_cdc_apply sees one micro-batch at small SF):
    per-key (version, tombstone) state merged across 4 ordered
    micro-batches by the foreachBatch MERGE loop must equal the one-shot
    latest-state window over the full changelog — including deletes that
    arrive in a LATER batch than the upsert they supersede (exercised:
    the fixture interleaves types across batches)."""
    from mu_swarm_logger_service_spark.streaming.queries import _run_cdc_apply

    from pyspark.sql import Window

    src, schema = replay
    state = tempfile.mkdtemp(prefix="cdc_apply_state_")
    ckpt = tempfile.mkdtemp(prefix="cdc_apply_ckpt_")
    batch_ids = []
    got = _run_cdc_apply(
        spark, _read_replay(spark, src, schema), state, ckpt, batch_ids
    ).localCheckpoint(eager=True)
    assert len(set(batch_ids)) >= 4   # genuinely incremental

    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc())
    want = (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .filter(F.col("event_type") != "error")
        .select("user_id", F.col("event_id").alias("last_event_id"),
                F.col("value").alias("latest_value"))
    )
    assert _canon(got) == _canon(want)
    shutil.rmtree(state, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)


def test_holt_winters_state_across_batches_equals_batch(
        spark, sf_dir, replayed):
    """Streaming Holt-Winters' core claim under REAL multi-batch replay:
    per-type (l, b, 7-slot seasonal list, init buffer, pending-day)
    state across 4 event-time-ordered micro-batches — the init fires
    mid-stream once 2m days close, days straddling batch boundaries
    stay pending — then the read-time close of the final day must equal
    the one-shot batch fold (q_ts_holt_winters) bit-for-bit."""
    streamed, n_batches = _run_counting_batches(
        spark, lambda: QUERIES["q_stream_holt_winters"](spark, sf_dir))
    assert n_batches >= 4   # genuinely incremental
    batch = QUERIES["q_ts_holt_winters"](spark, sf_dir)
    assert _canon(streamed) == _canon(batch)   # bit-exact double equality


def test_pattern_state_across_batches_equals_batch(spark, sf_dir, replayed):
    """Streaming CEP's core claim under REAL multi-batch replay: the
    four-integer per-user state (latest view, view-at-latest-click,
    counters) carried across 4 event-time-ordered micro-batches must
    reproduce the batch window rewrite (q_ts_pattern_match) exactly —
    patterns STRADDLING batch boundaries are the point (a view in batch
    1, its click in batch 2, the purchase in batch 4)."""
    streamed, n_batches = _run_counting_batches(
        spark, lambda: QUERIES["q_stream_pattern_match"](spark, sf_dir))
    assert n_batches >= 4
    batch = QUERIES["q_ts_pattern_match"](spark, sf_dir)
    assert _canon(streamed) == _canon(batch)


def test_burstiness_state_across_batches_equals_batch(
        spark, sf_dir, replayed):
    """Arrival-moment state under REAL multi-batch replay: gaps that
    STRADDLE batch boundaries (last event of batch k → first event of
    batch k+1) must be accumulated exactly, including the Σgap²
    decimal-string carry — the merged latest snapshots must reproduce
    q_ts_burstiness bit-for-bit."""
    streamed, n_batches = _run_counting_batches(
        spark, lambda: QUERIES["q_stream_burstiness"](spark, sf_dir))
    assert n_batches >= 4
    batch = QUERIES["q_ts_burstiness"](spark, sf_dir)
    assert _canon(streamed) == _canon(batch)
    # a user with >= 2 gaps must exist and Σgap² must have left int64
    # somewhere at least at the decimal-string carry level
    assert streamed.count() > 0
