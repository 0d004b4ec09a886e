"""Structured Streaming: window semantics anchored to batch, dedup,
checkpointed kill-and-resume ingest, custom stateful operator."""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from collections import Counter

import pytest
from pyspark.sql import functions as F

from collect_mobile_devices_datalake_spark.ingest import manifest
from collect_mobile_devices_datalake_spark.ingest.pipeline import (
    device_specs_view,
    ingest_source,
)
from collect_mobile_devices_datalake_spark.session import load_table
from collect_mobile_devices_datalake_spark.sources.fixtures import spec_pages
from collect_mobile_devices_datalake_spark.streaming.pipeline import (
    _upsert_batch,
    start_ingest_stream,
)
from collect_mobile_devices_datalake_spark.streaming.windows import (
    EVENTS_SCHEMA,
    dedup_stream,
    dedup_within_watermark_stream,
    tumbling_counts_stream,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def tmp():
    d = tempfile.mkdtemp(prefix="stream_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _events_dir(spark, tmp, n_chunks=3):
    """Write events (micros ts) as n parquet chunk-files: the file stream."""
    ev = load_table(spark, "events", SF).select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    d = os.path.join(tmp, "events_in")
    for i in range(n_chunks):
        ev.filter(F.col("event_id") % n_chunks == i).coalesce(1).write.mode(
            "append"
        ).parquet(d)
    return d, ev


def _run_to_memory(df, name, mode):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_tumbling_stream_matches_batch(spark, tmp):
    d, ev = _events_dir(spark, tmp)
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(d)
    name = f"t_{uuid.uuid4().hex[:8]}"
    _run_to_memory(tumbling_counts_stream(stream), name, "complete")

    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in spark.table(name).collect()
    }
    # batch twin: the same builder on the static frame (whose semantics the
    # DuckDB oracle already hash-checks via events_tumbling_hourly)
    want = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in tumbling_counts_stream(ev).collect()
    }
    assert got == want and len(got) > 0


def test_streaming_dedup(spark, tmp):
    d, ev = _events_dir(spark, tmp)
    # duplicate one chunk wholesale
    ev.filter(F.col("event_id") % 3 == 0).coalesce(1).write.mode("append").parquet(d)
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(d)
    name = f"d_{uuid.uuid4().hex[:8]}"
    _run_to_memory(dedup_stream(stream), name, "append")
    assert spark.table(name).count() == ev.count()


def test_streaming_dedup_within_watermark_drops_jittered_replays(spark, tmp):
    # re-delivery with a JITTERED timestamp: (event_id, ts) dedup keeps the
    # replica, dropDuplicatesWithinWatermark on event_id alone drops it
    d, ev = _events_dir(spark, tmp)
    jittered = ev.filter(F.col("event_id") % 3 == 0).withColumn(
        "ts", F.col("ts") + F.expr("INTERVAL 7 SECONDS")
    )
    jittered.coalesce(1).write.mode("append").parquet(d)
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(d)
    name = f"w_{uuid.uuid4().hex[:8]}"
    _run_to_memory(dedup_within_watermark_stream(stream), name, "append")
    assert spark.table(name).count() == ev.count()
    # per-key uniqueness, not just totals
    ids = [r["event_id"] for r in spark.table(name).select("event_id").collect()]
    assert len(ids) == len(set(ids))


def test_ingest_stream_kill_and_resume(spark, tmp):
    part = load_table(spark, "part", SF)
    pages = spec_pages(part, "productz")
    pages_dir = os.path.join(tmp, "pages")
    lake = os.path.join(tmp, "lake")
    ckpt = os.path.join(tmp, "ckpt")

    first = pages.filter(F.col("p_partkey") < 100)
    first.coalesce(1).write.mode("append").parquet(pages_dir)

    def committed():
        return manifest.read_committed(spark, lake, "device_specs/productz")

    q1 = start_ingest_stream(spark, pages_dir, lake, "productz", ckpt)
    q1.awaitTermination(120)
    assert committed().count() == first.count()

    # "kill": query already stopped (availableNow). Restart with the SAME
    # checkpoint after more pages land — only the delta is processed, and
    # re-delivery cannot duplicate (resume anti-join on the saved_list).
    pages.filter(F.col("p_partkey") >= 100).coalesce(1).write.mode("append").parquet(pages_dir)
    q2 = start_ingest_stream(spark, pages_dir, lake, "productz", ckpt)
    q2.awaitTermination(120)
    df = committed()
    assert df.count() == pages.count()
    assert df.select("src_url").distinct().count() == pages.count()

    # third run with nothing new: checkpoint says all files done → no-op
    q3 = start_ingest_stream(spark, pages_dir, lake, "productz", ckpt)
    q3.awaitTermination(120)
    assert committed().count() == pages.count()


def test_upsert_batch_replay_idempotent(spark, tmp):
    """Forced batch replay (SURVEY §2.7 exactly-once vs the reference's
    at-least-once, app.js:449-453): foreachBatch may re-deliver a batch id
    after a crash between the sink write and the checkpoint commit. Calling
    the batch body twice with the SAME batch must leave the lake exactly
    as one delivery would — the committed txn gate returns before any
    work, and the resume anti-join guards an overlapping later batch."""
    part = load_table(spark, "part", SF)
    pages = spec_pages(part, "productz").filter(F.col("p_partkey") < 200)
    lake = os.path.join(tmp, "lake")
    fn = _upsert_batch(lake, "productz")

    def committed():
        return manifest.read_committed(spark, lake, "device_specs/productz")

    fn(pages, 0)  # normal delivery
    n1 = committed().count()
    assert n1 == pages.count()
    n_manifests = len(manifest.manifest_paths(lake))

    fn(pages, 0)  # replay of the same batch id after a simulated crash
    assert len(manifest.manifest_paths(lake)) == n_manifests
    replayed = committed()
    assert replayed.count() == n1
    assert replayed.select("src_url").distinct().count() == n1

    # overlapping later batch: only genuinely-new urls land
    overlap = spec_pages(part, "productz").filter(F.col("p_partkey") < 300)
    fn(overlap, 1)
    assert committed().count() == overlap.count()
    assert committed().select("src_url").distinct().count() == overlap.count()


def test_upsert_batch_read_error_fails_batch(spark, tmp):
    """A transient/corrupt read of the committed saved_list — what the
    resume anti-join reads — must FAIL the batch (so checkpoint replay
    retries), not silently disable the resume and append duplicates."""
    part = load_table(spark, "part", SF)
    pages = spec_pages(part, "productz").filter(F.col("p_partkey") < 50)
    lake = os.path.join(tmp, "lake")
    fn = _upsert_batch(lake, "productz")
    fn(pages, 0)

    # corrupt every committed saved_list file's footer in place
    saved = manifest.committed_files(lake, "saved_list/productz")
    assert saved
    for path in saved:
        with open(path, "wb") as f:
            f.write(b"not a parquet file")
    with pytest.raises(Exception):
        fn(pages, 1)


def test_stateful_running_totals(spark, tmp):
    from collect_mobile_devices_datalake_spark.streaming.stateful import (
        running_user_totals,
    )

    d, ev = _events_dir(spark, tmp)
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(d)
    name = f"s_{uuid.uuid4().hex[:8]}"
    _run_to_memory(running_user_totals(stream), name, "update")
    # last update per user must equal the batch totals
    got = spark.table(name)
    w_latest = got.groupBy("user_id").agg(F.max("n_events").alias("n_events"))
    want = ev.groupBy("user_id").agg(F.count("*").alias("n_events"))
    assert {tuple(r) for r in w_latest.collect()} == {tuple(r) for r in want.collect()}


def test_stream_stream_interval_join(spark, tmp):
    from collect_mobile_devices_datalake_spark.streaming.windows import (
        purchase_click_join_stream,
    )

    d, ev = _events_dir(spark, tmp)
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(d)
    name = f"j_{uuid.uuid4().hex[:8]}"
    _run_to_memory(purchase_click_join_stream(stream), name, "append")
    got = {(r["p_id"], r["c_id"]) for r in spark.table(name).collect()}
    want = {(r["p_id"], r["c_id"]) for r in purchase_click_join_stream(ev).collect()}
    # append-mode emits joined rows up to the watermark; every emitted row
    # must be correct, and the bulk of the batch result must be present
    assert got <= want
    assert len(got) >= len(want) * 0.8
    assert len(want) > 0


def test_ingest_stream_rate_limited_batches(spark, tmp):
    # maxFilesPerTrigger=1 -> one micro-batch per file (the reference's
    # chunk-of-5 pacing, app.js:498-506, as declarative backpressure)
    part = load_table(spark, "part", SF)
    pages = spec_pages(part, "versus")
    pages_dir = os.path.join(tmp, "pages")
    for i in range(3):
        pages.filter(F.col("p_partkey") % 3 == i).coalesce(1).write.mode("append").parquet(pages_dir)
    lake, ckpt = os.path.join(tmp, "lake"), os.path.join(tmp, "ckpt")
    q = start_ingest_stream(spark, pages_dir, lake, "versus", ckpt, max_files_per_trigger=1)
    q.awaitTermination(120)
    batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(batches) == 3
    committed = manifest.read_committed(spark, lake, "device_specs/versus")
    assert committed.count() == part.count()


def test_stream_and_batch_crawl_commit_the_same_lake(spark, tmp):
    """One crawl core: an availableNow stream over a frontier split into
    three files commits the same device_specs, saved_list and dead_letter
    rows as a batch crawl of that frontier (non-200 pages skipped, the
    broken page quarantined), and a batch crawl after the stream finds
    nothing left to ingest."""
    part = load_table(spark, "part", SF)
    broken = F.col("url").endswith("/p_5")
    pages = spec_pages(part, "geekbench").withColumn(
        "html",
        F.when(broken, F.concat("html", F.lit('<span class="score">1</span>'))).otherwise(
            F.col("html")
        ),
    )
    pages_dir = os.path.join(tmp, "pages")
    for i in range(3):
        pages.filter(F.col("p_partkey") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(pages_dir)
    streamed, batched = os.path.join(tmp, "lake_s"), os.path.join(tmp, "lake_b")
    q = start_ingest_stream(
        spark, pages_dir, streamed, "geekbench", os.path.join(tmp, "ckpt"),
        max_files_per_trigger=1,
    )
    q.awaitTermination(180)
    n_batch = ingest_source(spark, pages, batched, "geekbench")

    def rows(lake, table):
        df = manifest.read_committed(spark, lake, f"{table}/geekbench")
        return Counter(
            tuple(tuple(sorted(v.items())) if isinstance(v, dict) else v for v in r)
            for r in df.drop("crawled_at").collect()
        )

    for table in ("device_specs", "saved_list", "dead_letter"):
        assert rows(streamed, table) == rows(batched, table), table
    n_bad = part.filter(F.col("p_partkey") % 29 == 3).count()
    assert n_batch == part.count() - n_bad - 1
    assert sum(rows(streamed, "dead_letter").values()) == 1
    assert device_specs_view(spark, streamed).count() == n_batch
    assert ingest_source(spark, pages, streamed, "geekbench") == 0


def test_watermark_drops_late_data(spark, tmp):
    """Run 1 advances the watermark past t0; run 2 delivers an event older
    than watermark-gap behind — the late row must NOT create/patch a window
    in append-mode output."""
    import datetime as dt

    d = os.path.join(tmp, "late_in")
    ckpt = os.path.join(tmp, "late_ckpt")
    out_dir = os.path.join(tmp, "late_out")

    def mk(rows):
        return spark.createDataFrame(rows, EVENTS_SCHEMA)

    base = dt.datetime(2024, 6, 1, 12, 0, 0)
    # batch 1: events up to 14:00 -> watermark advances to 13:30 (30 min gap)
    mk([(1, base, 10, "click", 1.0, "{}"),
        (2, base + dt.timedelta(hours=2), 10, "click", 1.0, "{}")]
       ).coalesce(1).write.mode("append").parquet(d)

    def run():
        q = (
            tumbling_counts_stream(spark.readStream.schema(EVENTS_SCHEMA).parquet(d))
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    # batch 2: an event at 12:05 — far behind the 13:30 watermark
    mk([(3, base + dt.timedelta(minutes=5), 10, "click", 1.0, "{}")]
       ).coalesce(1).write.mode("append").parquet(d)
    # plus a fresh event to push processing forward
    mk([(4, base + dt.timedelta(hours=3), 10, "click", 1.0, "{}")]
       ).coalesce(1).write.mode("append").parquet(d)
    run()

    res = spark.read.parquet(out_dir)
    noon = {r["n_events"] for r in res.filter(F.col("window_start") == base.replace(minute=0)).collect()}
    # the 12:00 window was finalized with ONLY event 1; late event 3 dropped
    assert noon == {1}, res.orderBy("window_start").collect()


def test_session_window_append_finalizes_sessions(spark, tmp):
    """Session windows in append mode: sessions split across micro-batches
    must merge in state, and every session finalizes once the watermark
    passes it. Two far-future 'flush' files advance the watermark (first
    one passes it, second gives Spark a batch in which to emit)."""
    import datetime as dt

    from collect_mobile_devices_datalake_spark.streaming.windows import (
        sessionized_stream,
    )

    # chunk files by TIME RANGE (not id): each batch moves event time
    # forward, so the stepping watermark never marks real data late
    ev = load_table(spark, "events", SF).select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    d = os.path.join(tmp, "events_in")
    tmin, tmax = ev.agg(F.min("ts"), F.max("ts")).first()
    span = (tmax - tmin) / 3
    lo, hi = tmin + span, tmin + 2 * span
    for cond in [F.col("ts") < lo, (F.col("ts") >= lo) & (F.col("ts") < hi), F.col("ts") >= hi]:
        ev.filter(cond).coalesce(1).write.mode("append").parquet(d)
    future = dt.datetime(2100, 1, 1)
    for i in range(2):
        spark.createDataFrame(
            [(10_000_000 + i, future + dt.timedelta(days=i), -1, "click", 0.0, "{}")],
            EVENTS_SCHEMA,
        ).coalesce(1).write.mode("append").parquet(d)

    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)  # one batch per file → watermark steps
        .parquet(d)
    )
    name = f"sw_{uuid.uuid4().hex[:8]}"
    _run_to_memory(sessionized_stream(stream), name, "append")

    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in spark.table(name).filter(F.col("user_id") >= 0).collect()
    }
    want = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in sessionized_stream(ev).collect()
    }
    assert got == want and len(got) > 0


def test_event_time_timeout_closes_idle_sessions(spark, tmp):
    """EventTimeTimeout eviction: sessions emit exactly once, only after the
    watermark passes last-event + 30-min gap; still-open sessions emit
    nothing. Three files -> three micro-batches (maxFilesPerTrigger=1),
    each 2h apart, so earlier users' state deterministically expires."""
    from collect_mobile_devices_datalake_spark.streaming.stateful import (
        idle_closed_sessions,
    )

    from datetime import datetime as DT

    d = os.path.join(tmp, "sess_in")
    schema = "ts timestamp, user_id bigint, value double"

    def write_chunk(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(d)

    write_chunk([(DT(2024, 1, 1, 0, 0), 1, 1.0), (DT(2024, 1, 1, 0, 5), 1, 2.0),
                 (DT(2024, 1, 1, 0, 1), 2, 10.0)])
    write_chunk([(DT(2024, 1, 1, 2, 0), 3, 5.0)])
    write_chunk([(DT(2024, 1, 1, 4, 0), 4, 7.0)])

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(d)
    )
    name = f"c_{uuid.uuid4().hex[:8]}"
    _run_to_memory(idle_closed_sessions(stream), name, "append")
    got = {r["user_id"]: (r["n_events"], r["total_value"]) for r in spark.table(name).collect()}
    # users 1 and 2: last event + 30min far behind the batch-2/3 watermark
    assert got[1] == (2, 3.0)
    assert got[2] == (1, 10.0)
    # user 4's session saw no later watermark advance past its deadline
    assert 4 not in got


def test_rate_source_soak_monotonic_progress(spark):
    """Rate source soak: continuous micro-batches under a processing-time
    trigger make monotonic progress (rows flow, batch ids advance, no
    batch fails) and the windowed aggregate stays consistent with the
    source's value=timestamp contract (value k has timestamp t0+k/rate)."""
    stream = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 200)
        .option("numPartitions", 2)
        .load()
        .groupBy(F.window("timestamp", "1 second"))
        .agg(F.count("*").alias("n"), F.min("value").alias("lo"), F.max("value").alias("hi"))
    )
    name = f"r_{uuid.uuid4().hex[:8]}"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        import time

        # generous deadline: the trigger is 500 ms, but under a loaded
        # box (full-suite runs share 32 cores with concurrent sessions)
        # micro-batches can be starved for tens of seconds — the soak
        # asserts monotonic PROGRESS, not latency, so waiting longer
        # does not weaken it (r13: flaked once at 15 s under a
        # concurrent parity run, passed standalone in 16 s)
        deadline = time.time() + 60
        while time.time() < deadline:
            if any(p["numInputRows"] > 0 for p in q.recentProgress) and len(q.recentProgress) >= 3:
                break
            time.sleep(0.5)
        progress = q.recentProgress
        assert len(progress) >= 3
        assert sum(p["numInputRows"] for p in progress) > 0
        batch_ids = [p["batchId"] for p in progress]
        assert batch_ids == sorted(batch_ids)
        rows = spark.table(name).collect()
        assert rows
        # within each full 1s window the rate contract gives exactly 200
        # values spanning a contiguous range
        for r in rows:
            assert r["hi"] - r["lo"] + 1 >= r["n"]
    finally:
        q.stop()


def test_session_window_rejects_update_mode(spark, tmp):
    """Pin the engine limitation: ``session_window`` aggregations support
    append/complete only — UPDATE mode raises STREAMING_OUTPUT_MODE
    (merging sessions would have to retract previously-emitted rows).
    The update-mode sessionization path in this repo is the
    applyInPandasWithState operator (streaming/stateful.py), which owns
    its emit timing instead."""
    from pyspark.errors.exceptions.captured import AnalysisException

    from collect_mobile_devices_datalake_spark.streaming.windows import (
        sessionized_stream,
    )

    d, _ = _events_dir(spark, tmp)
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(d)
    with pytest.raises(AnalysisException, match="STREAMING_OUTPUT_MODE"):
        (
            sessionized_stream(stream)
            .writeStream.format("memory")
            .queryName(f"swu_{uuid.uuid4().hex[:8]}")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )


def test_tumbling_update_mode_converges(spark, tmp):
    """UPDATE mode emits a window's latest state in every batch the window
    changes — no watermark flush needed to observe results. Folding the
    emissions (last write per window/type key wins) must reconstruct the
    batch result exactly, and only CHANGED windows may re-emit (strictly
    fewer emissions than complete mode's n_batches x n_windows)."""
    ev = load_table(spark, "events", SF).select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    d = os.path.join(tmp, "events_in")
    # chunk by time range so most windows change in exactly one batch
    tmin, tmax = ev.agg(F.min("ts"), F.max("ts")).first()
    span = (tmax - tmin) / 3
    lo, hi = tmin + span, tmin + 2 * span
    for cond in [F.col("ts") < lo, (F.col("ts") >= lo) & (F.col("ts") < hi), F.col("ts") >= hi]:
        ev.filter(cond).coalesce(1).write.mode("append").parquet(d)

    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    captured: list[tuple[int, list]] = []
    q = (
        tumbling_counts_stream(stream)
        .writeStream.outputMode("update")
        .foreachBatch(lambda df, bid: captured.append((bid, df.collect())))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    n_emitted = sum(len(rows) for _, rows in captured)
    final: dict = {}
    for _, rows in sorted(captured, key=lambda t: t[0]):
        for r in rows:
            final[(r["window_start"], r["event_type"])] = (
                r["n_events"],
                r["total_value"],
            )
    got = {(k[0], k[1], v[0], v[1]) for k, v in final.items()}
    want = {
        (r["window_start"], r["event_type"], r["n_events"], r["total_value"])
        for r in tumbling_counts_stream(ev).collect()
    }
    assert got == want and len(want) > 0
    n_batches = len(captured)
    assert n_batches >= 3
    assert n_emitted < n_batches * len(want)


def test_stream_static_enrichment_join(spark, tmp):
    """Stream-static join: each micro-batch joins against the static dim
    (customer segment) with NO state — the dim is re-planned per batch,
    which is why a 100 TB stream can join a dimension table without
    watermarks. Result must equal the batch join exactly."""
    d, ev = _events_dir(spark, tmp)
    dim = load_table(spark, "customer", SF).select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(d)
    enriched = (
        stream.join(dim, "user_id")  # static side: no watermark needed
        .groupBy("c_mktsegment", "event_type")
        .agg(F.count("*").alias("n"))
    )
    name = f"ss_{uuid.uuid4().hex[:8]}"
    _run_to_memory(enriched, name, "complete")
    got = {
        (r["c_mktsegment"], r["event_type"], r["n"])
        for r in spark.table(name).collect()
    }
    want = {
        (r["c_mktsegment"], r["event_type"], r["n"])
        for r in ev.join(dim, "user_id")
        .groupBy("c_mktsegment", "event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == want and len(want) > 0


def test_rocksdb_state_store_context_restores_conf(spark):
    """The provider override must apply inside the context and be fully
    restored after — both from the unset default and from an explicit
    previous value. (The context exists for transformWithStateInPandas
    queries, which this environment cannot run — see the documented-
    unsupported note in streaming/stateful.py — but the conf scoping is
    environment-independent and guards any future TWS port.)"""
    from collect_mobile_devices_datalake_spark.streaming.stateful import (
        _PROVIDER_KEY,
        _ROCKSDB_PROVIDER,
        rocksdb_state_store,
    )

    before = spark.conf.get(_PROVIDER_KEY, None)
    with rocksdb_state_store(spark):
        assert spark.conf.get(_PROVIDER_KEY) == _ROCKSDB_PROVIDER
    assert spark.conf.get(_PROVIDER_KEY, None) == before

    spark.conf.set(_PROVIDER_KEY, "com.example.CustomProvider")
    try:
        with rocksdb_state_store(spark):
            assert spark.conf.get(_PROVIDER_KEY) == _ROCKSDB_PROVIDER
        assert spark.conf.get(_PROVIDER_KEY) == "com.example.CustomProvider"
    finally:
        if before is None:
            spark.conf.unset(_PROVIDER_KEY)
        else:
            spark.conf.set(_PROVIDER_KEY, before)


def _state(spark, fam, state_dir):
    """The family's read state as a multiset of row tuples."""
    from collect_mobile_devices_datalake_spark.streaming import lattice

    return Counter(
        tuple(r) for r in lattice.read_state(spark, fam, state_dir).collect()
    )


def _run_family_stream(spark, fam, src, state_dir, ckpt):
    from collect_mobile_devices_datalake_spark.streaming import lattice

    q = lattice.start_maintenance_stream(spark, fam, src, state_dir, ckpt)
    assert q.awaitTermination(120)


def test_graph_maintenance_stream_matches_batch_delta(spark, tmp):
    """The NSW-edges family's stream must hold EXACTLY the edges the
    batch delta operator computes, each once, across chunked arrivals, a
    restart on the same checkpoint, a wholesale re-delivery of old files
    and a compaction."""
    from collect_mobile_devices_datalake_spark.operators.similarity import (
        DELTA_MOD,
        DELTA_REM,
        nsw_edges_family,
    )
    from collect_mobile_devices_datalake_spark.registry import REGISTRY
    from collect_mobile_devices_datalake_spark.streaming import lattice

    fam = nsw_edges_family(SF)
    arrivals = (
        load_table(spark, "embeddings", SF)
        .filter(F.col("vec_id") % DELTA_MOD == DELTA_REM)
        .select("vec_id", "embedding")
    )
    vec_dir = os.path.join(tmp, "vectors_in")
    graph_dir = os.path.join(tmp, "graph")
    ckpt = os.path.join(tmp, "ckpt")

    first = arrivals.filter(F.col("vec_id") < 250)
    first.coalesce(1).write.mode("append").parquet(vec_dir)
    _run_family_stream(spark, fam, vec_dir, graph_dir, ckpt)

    # second chunk lands; restart with the SAME checkpoint → only the delta
    arrivals.filter(F.col("vec_id") >= 250).coalesce(1).write.mode("append").parquet(vec_dir)
    _run_family_stream(spark, fam, vec_dir, graph_dir, ckpt)

    want = Counter(
        tuple(r) for r in REGISTRY["nsw_graph_delta"].spark(spark, SF).collect()
    )
    assert set(want.values()) == {1}
    assert _state(spark, fam, graph_dir) == want

    # re-delivery: an old file under a new name lands in a fresh batch;
    # its edges are identical rows, absorbed by the distinct fold
    first.coalesce(1).write.mode("append").parquet(vec_dir)
    _run_family_stream(spark, fam, vec_dir, graph_dir, ckpt)
    assert _state(spark, fam, graph_dir) == want
    lattice.compact_state(spark, fam, graph_dir)
    assert _state(spark, fam, graph_dir) == want


def test_graph_maintenance_replay_repairs_partial_commit(spark, tmp):
    """Checkpoint replay of a PARTIALLY-committed batch must repair it —
    recompute every edge and overwrite the batch's partition wholesale —
    not freeze the partial state."""
    from collect_mobile_devices_datalake_spark.operators.similarity import (
        DELTA_MOD,
        DELTA_REM,
        nsw_edges_family,
    )
    from collect_mobile_devices_datalake_spark.streaming import lattice

    fam = nsw_edges_family(SF)
    batch = (
        load_table(spark, "embeddings", SF)
        .filter(F.col("vec_id") % DELTA_MOD == DELTA_REM)
        .select("vec_id", "embedding")
    )
    graph_dir = os.path.join(tmp, "graph")
    fn = lattice.maintain_batch(fam, graph_dir)

    fn(batch, 0)
    bdir = os.path.join(graph_dir, "batch=0")
    want = _state(spark, fam, graph_dir)
    assert want

    # simulate a partial commit: drop committed part files (all of them
    # when the batch wrote a single part — the lost-write extreme)
    parts = [n for n in os.listdir(bdir) if n.endswith(".parquet")]
    removed = parts[: max(1, len(parts) // 2)]
    for n in removed:
        os.remove(os.path.join(bdir, n))
    assert _state(spark, fam, graph_dir) != want

    # checkpoint replay re-invokes the SAME batch id → wholesale repair
    fn(batch, 0)
    assert _state(spark, fam, graph_dir) == want


def test_dedup_maintenance_stream_matches_batch(spark, tmp):
    """The dedup-matches family's stream must hold EXACTLY the matches
    the batch R×S PPJoin computes for the full arrival set, each once,
    across chunked arrivals, a checkpoint restart, a wholesale
    re-delivery of old files and a compaction."""
    from collect_mobile_devices_datalake_spark.operators.dedup import (
        dedup_matches_family,
        incremental_matches_for_batch,
    )
    from collect_mobile_devices_datalake_spark.streaming import lattice

    fam = dedup_matches_family(SF)
    arrivals = (
        load_table(spark, "documents", SF)
        .filter(F.col("doc_id") % 10 == 3)
        .select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    )
    docs_dir = os.path.join(tmp, "docs_in")
    matches_dir = os.path.join(tmp, "matches")
    ckpt = os.path.join(tmp, "ckpt")

    first = arrivals.filter(F.col("doc_id") < 1_000_025)
    first.coalesce(1).write.mode("append").parquet(docs_dir)
    _run_family_stream(spark, fam, docs_dir, matches_dir, ckpt)

    arrivals.filter(F.col("doc_id") >= 1_000_025).coalesce(1).write.mode(
        "append"
    ).parquet(docs_dir)
    _run_family_stream(spark, fam, docs_dir, matches_dir, ckpt)

    want = Counter(
        tuple(r) for r in incremental_matches_for_batch(spark, SF, arrivals).collect()
    )
    assert set(want.values()) == {1}
    got = _state(spark, fam, matches_dir)
    assert got == want
    # every re-idded doc matches its original verbatim twin at jaccard 1.0
    assert {(d - 1_000_000 == o) for d, o, j in got if j == 1.0} == {True}

    # re-delivery: the first file set under a new name lands in a fresh
    # batch; its matches are identical rows, absorbed by the distinct fold
    first.coalesce(1).write.mode("append").parquet(docs_dir)
    _run_family_stream(spark, fam, docs_dir, matches_dir, ckpt)
    assert _state(spark, fam, matches_dir) == want
    lattice.compact_state(spark, fam, matches_dir)
    assert _state(spark, fam, matches_dir) == want


def test_dedup_maintenance_replay_repairs_partial_commit(spark, tmp):
    """Checkpoint replay of a partially-committed batch rewrites the
    batch partition wholesale — repair, not freeze."""
    from collect_mobile_devices_datalake_spark.operators.dedup import (
        dedup_matches_family,
    )
    from collect_mobile_devices_datalake_spark.streaming import lattice

    fam = dedup_matches_family(SF)
    batch = (
        load_table(spark, "documents", SF)
        .filter(F.col("doc_id") % 10 == 3)
        .select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    )
    matches_dir = os.path.join(tmp, "matches")
    fn = lattice.maintain_batch(fam, matches_dir)

    fn(batch, 0)
    bdir = os.path.join(matches_dir, "batch=0")
    want = _state(spark, fam, matches_dir)
    assert want

    parts = [n for n in os.listdir(bdir) if n.endswith(".parquet")]
    for n in parts[: max(1, len(parts) // 2)]:
        os.remove(os.path.join(bdir, n))
    assert _state(spark, fam, matches_dir) != want

    fn(batch, 0)
    assert _state(spark, fam, matches_dir) == want


def test_rollup_maintenance_finalizes_windows_exactly_once(spark, tmp):
    from collect_mobile_devices_datalake_spark.streaming.rollup_maintenance import (
        start_rollup_maintenance_stream,
    )

    d, ev = _events_dir(spark, tmp)
    rollup = os.path.join(tmp, "rollup")
    ckpt = os.path.join(tmp, "rollup_ckpt")

    def run():
        q = start_rollup_maintenance_stream(spark, d, rollup, ckpt, EVENTS_SCHEMA)
        q.awaitTermination(180)

    run()  # ingest the real chunks; their windows are still open

    # sentinel 3h past the end advances the watermark in the NEXT batch,
    # finalizing every real window
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    sentinel = spark.createDataFrame(
        [(10**9, max_ts, 0, "sentinel", 0.0, "{}")],
        EVENTS_SCHEMA,
    ).withColumn("ts", F.col("ts") + F.expr("INTERVAL 3 HOURS"))
    sentinel.coalesce(1).write.mode("append").parquet(d)
    run()

    got_df = spark.read.parquet(rollup).filter(F.col("event_type") != "sentinel")
    got = {
        (r["bucket_start"], r["event_type"]): (r["n_events"], round(r["total_value"], 4))
        for r in got_df.collect()
    }
    want = {
        (r["bucket_start"], r["event_type"]): (r["n_events"], round(r["total_value"], 4))
        for r in ev.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("window.start").alias("bucket_start"),
            "event_type",
            "n_events",
            "total_value",
        )
        .collect()
    }
    assert got == want and len(got) > 0

    # producer re-delivery with jittered timestamps: every replayed event
    # is behind the watermark (dropped) or deduped on event_id — the
    # finalized totals must not change, and no window may be re-stated
    ev.filter(F.col("event_id") % 3 == 0).withColumn(
        "ts", F.col("ts") + F.expr("INTERVAL 7 SECONDS")
    ).coalesce(1).write.mode("append").parquet(d)
    run()
    again = {
        (r["bucket_start"], r["event_type"]): (r["n_events"], round(r["total_value"], 4))
        for r in spark.read.parquet(rollup)
        .filter(F.col("event_type") != "sentinel")
        .collect()
    }
    assert again == want


def test_rollup_hierarchy_stream_matches_batch_all_grains(spark, tmp):
    """The streaming continuous-aggregate CHAIN: hourly (append-once
    stream sink) -> day -> month, derived from finalized partials via the
    manifest protocol. Across restarts (same checkpoint), every grain
    must equal the batch re-aggregation of the raw events for CLOSED
    buckets, and re-running with no new data must change nothing
    (exactly-once per window row at every grain)."""
    from collect_mobile_devices_datalake_spark.streaming.rollup_maintenance import (
        read_grain,
        start_rollup_maintenance_stream,
    )

    d, ev = _events_dir(spark, tmp)
    rollup = os.path.join(tmp, "rollup_h")
    derived = os.path.join(tmp, "rollup_dm")
    ckpt = os.path.join(tmp, "rollup_h_ckpt")

    def run():
        q = start_rollup_maintenance_stream(
            spark, d, rollup, ckpt, EVENTS_SCHEMA, derived_dir=derived
        )
        q.awaitTermination(180)

    run()  # ingest the real chunks (kill: availableNow stops the query)

    # sentinel #1: 40 days past the end — finalizes every REAL hour, and
    # (once ITS hour finalizes) closes every real day and month
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    s1 = spark.createDataFrame([(10**9, max_ts, 0, "sentinel", 0.0, "{}")], EVENTS_SCHEMA)
    s1.withColumn("ts", F.col("ts") + F.expr("INTERVAL 960 HOURS")).coalesce(
        1
    ).write.mode("append").parquet(d)
    run()  # restart with the same checkpoint
    # sentinel #2 finalizes sentinel #1's hour, advancing the derived
    # frontier past every real bucket
    s1.withColumn("ts", F.col("ts") + F.expr("INTERVAL 1920 HOURS")).coalesce(
        1
    ).write.mode("append").parquet(d)
    run()  # second restart

    def grain_rows(grain):
        return {
            (r["bucket_start"], r["event_type"]): (
                r["n_events"],
                round(r["total_value"], 4),
            )
            for r in read_grain(spark, rollup, derived, grain)
            .filter(F.col("event_type") != "sentinel")
            .collect()
        }

    dec = F.col("value").cast("decimal(18,4)")
    hourly_batch = ev.groupBy(
        F.date_trunc("hour", "ts").alias("bucket_start"), "event_type"
    ).agg(F.count("*").alias("n_events"), F.sum(dec).alias("v"))

    def batch_rows(df):
        return {
            (r["bucket_start"], r["event_type"]): (
                r["n_events"],
                round(r["total_value"], 4),
            )
            for r in df.select(
                "bucket_start",
                "event_type",
                F.col("n_events").cast("long").alias("n_events"),
                F.col("v").cast("double").alias("total_value"),
            ).collect()
        }

    want_hour = batch_rows(hourly_batch)
    daily_batch = hourly_batch.groupBy(
        F.date_trunc("day", "bucket_start").alias("bucket_start"), "event_type"
    ).agg(F.sum("n_events").alias("n_events"), F.sum("v").alias("v"))
    want_day = batch_rows(daily_batch)
    want_month = batch_rows(
        daily_batch.groupBy(
            F.date_trunc("month", "bucket_start").alias("bucket_start"), "event_type"
        ).agg(F.sum("n_events").alias("n_events"), F.sum("v").alias("v"))
    )

    assert grain_rows("hour") == want_hour and len(want_hour) > 0
    assert grain_rows("day") == want_day and len(want_day) > 0
    assert grain_rows("month") == want_month and len(want_month) > 0

    # exactly-once: a further restart with NO new input changes no grain
    run()
    assert grain_rows("hour") == want_hour
    assert grain_rows("day") == want_day
    assert grain_rows("month") == want_month


def test_survivorship_stream_matches_batch_and_redelivery(spark, tmp):
    """Streaming entity resolution: chunked streamed arrivals converge
    to the batch golden records; producer RE-DELIVERY leaves every
    argmax/max column unchanged (idempotent lattice) while n_events
    double-counts exactly (the documented sum caveat); checkpoint
    replay of a batch id repairs wholesale; compaction folds to one
    partition with state intact."""
    from collect_mobile_devices_datalake_spark.operators.advanced import (
        survivorship_golden,
        survivorship_keyed,
    )
    from collect_mobile_devices_datalake_spark.streaming import lattice
    from collect_mobile_devices_datalake_spark.streaming.survivorship_maintenance import (
        SURVIVORSHIP,
    )

    sf = "/root/testdata/sf0.001"
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    events = load_table(spark, "events", sf).select(*cols)
    ev_dir = os.path.join(tmp, "events_in")
    st_dir = os.path.join(tmp, "surv")
    ckpt = os.path.join(tmp, "ckpt")

    first = events.filter(F.col("event_id") % 2 == 0)
    second = events.filter(F.col("event_id") % 2 == 1)
    first.coalesce(1).write.mode("append").parquet(ev_dir)
    lattice.start_maintenance_stream(spark, SURVIVORSHIP, ev_dir, st_dir, ckpt).awaitTermination(120)
    second.coalesce(1).write.mode("append").parquet(ev_dir)
    lattice.start_maintenance_stream(spark, SURVIVORSHIP, ev_dir, st_dir, ckpt).awaitTermination(120)

    def gold(df):
        return {
            r.user_id: (r.golden_k, r.golden_event_id, r.golden_type, r.last_ts)
            for r in df.collect()
        }

    def counts(df):
        return {r.user_id: r.n_events for r in df.collect()}

    want_df = survivorship_golden(survivorship_keyed(events))
    want_gold, want_counts = gold(want_df), counts(want_df)
    got = lattice.read_state(spark, SURVIVORSHIP, st_dir)
    assert gold(got) == want_gold and len(want_gold) > 0
    assert counts(got) == want_counts

    # checkpoint replay (same batch id): wholesale overwrite, no drift
    lattice.maintain_batch(SURVIVORSHIP, st_dir)(first, 0)
    got = lattice.read_state(spark, SURVIVORSHIP, st_dir)
    assert gold(got) == want_gold and counts(got) == want_counts

    # re-delivery under a FRESH batch id: argmax legs immune, counts
    # double-count exactly the re-delivered rows
    lattice.maintain_batch(SURVIVORSHIP, st_dir)(first, 99)
    got = lattice.read_state(spark, SURVIVORSHIP, st_dir)
    assert gold(got) == want_gold
    dup = {r.user_id: r.n for r in first.groupBy("user_id").agg(F.count("*").alias("n")).collect()}
    assert counts(got) == {
        u: want_counts[u] + dup.get(u, 0) for u in want_counts
    }

    # compaction folds to one partition; state (incl. the double-count)
    # is preserved exactly
    before_gold, before_counts = gold(got), counts(got)
    lattice.compact_state(spark, SURVIVORSHIP, st_dir)
    got = lattice.read_state(spark, SURVIVORSHIP, st_dir)
    assert gold(got) == before_gold and counts(got) == before_counts
    parts = [d for d in os.listdir(st_dir) if d.startswith("batch=")]
    assert parts == ["batch=compacted"]


def test_priority_sample_state_idempotent_merge(spark, tmp_path):
    """The k-extreme lattice guarantee: re-absorbing a partial that was
    already merged (wholesale producer re-delivery under a fresh batch
    id) cannot move the sample — priorities are pure functions of the
    row, so duplicates collapse in the doc_id dedup. Also pins the
    boundedness of partials (K+1 rows each) and that the fold of
    partial tranches equals the one-shot sample over the union."""
    import shutil

    from collect_mobile_devices_datalake_spark.operators.selection import _PRI_K
    from collect_mobile_devices_datalake_spark.session import load_table
    from collect_mobile_devices_datalake_spark.streaming import lattice
    from collect_mobile_devices_datalake_spark.streaming.sample_maintenance import (
        SAMPLE,
        priority_partial,
    )

    d = load_table(spark, "documents", "/root/testdata/sf0.001").select(
        "doc_id", "source", "n_chars"
    )
    state = str(tmp_path / "state")
    # two disjoint tranches -> two bounded partials
    for i, tranche in enumerate(
        (d.filter(F.col("doc_id") % 2 == 0), d.filter(F.col("doc_id") % 2 == 1))
    ):
        p = priority_partial(tranche)
        assert p.count() <= _PRI_K + 1
        p.write.mode("overwrite").parquet(f"{state}/batch={i}")
    merged_once = {
        (r.doc_id, r.pri) for r in lattice.read_state(spark, SAMPLE, state).collect()
    }
    # one-shot over the whole corpus must equal the fold of the tranches
    one_shot = {
        (r.doc_id, r.pri) for r in priority_partial(d).collect()
    }
    assert merged_once == one_shot
    # wholesale re-delivery: copy batch=0 under a fresh id -> no change
    shutil.copytree(f"{state}/batch=0", f"{state}/batch=99")
    merged_again = {
        (r.doc_id, r.pri) for r in lattice.read_state(spark, SAMPLE, state).collect()
    }
    assert merged_again == merged_once
    # compaction folds to one partition and preserves the sample
    lattice.compact_state(spark, SAMPLE, state)
    import os

    assert sorted(
        d for d in os.listdir(state) if d.startswith("batch=")
    ) == ["batch=compacted"]
    assert {
        (r.doc_id, r.pri) for r in lattice.read_state(spark, SAMPLE, state).collect()
    } == merged_once


def test_profile_state_minmax_lattice_idempotence(spark, tmp_path):
    """The ninth family's lattice guarantees, pinned at the protocol
    level: the fold of tranche partials equals the one-shot batch
    profile, checkpoint replay (same batch id) and wholesale
    re-delivery (fresh batch id) are both absorbed by the min/max
    merge, and compaction sweeps to one partition with state intact."""
    import os

    from collect_mobile_devices_datalake_spark.streaming.profile_maintenance import (
        PROFILE,
        profile_partial,
    )
    from collect_mobile_devices_datalake_spark.streaming import lattice

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, "documents", sf).select("doc_id", "text", "source")
    st = str(tmp_path / "profile")
    fn = lattice.maintain_batch(PROFILE, st)
    first = docs.filter(F.col("doc_id") % 2 == 0)
    second = docs.filter(F.col("doc_id") % 2 == 1)
    fn(first, 0)
    fn(second, 1)

    def snap(df):
        return {tuple(r) for r in df.collect()}

    want = snap(profile_partial(docs))  # one-shot profile == folded state
    assert snap(lattice.read_state(spark, PROFILE, st)) == want and len(want) > 0
    # partials are bounded: one row per source per batch
    n_sources = docs.select("source").distinct().count()
    assert profile_partial(first).count() <= n_sources

    fn(first, 0)  # checkpoint replay: wholesale overwrite, no drift
    assert snap(lattice.read_state(spark, PROFILE, st)) == want
    fn(first, 99)  # re-delivery under a fresh batch id: absorbed by min/max
    assert snap(lattice.read_state(spark, PROFILE, st)) == want

    lattice.compact_state(spark, PROFILE, st)
    assert snap(lattice.read_state(spark, PROFILE, st)) == want
    parts = [d for d in os.listdir(st) if d.startswith("batch=")]
    assert parts == ["batch=compacted"]


def test_topk_state_mg_guarantee_under_planted_skew(spark, tmp_path):
    """The tenth family's heavy-hitter guarantee, pinned at the protocol
    level with a workload that FORCES truncation (per-batch vocabulary
    400 >> K_CAND=64): after partials + fold, for every surfaced item
    cnt_min <= true <= cnt_max (the Misra-Gries mergeable-summaries
    bound), every item with true count > err_total survives the
    reduction, and the planted heavy hitters rank first. Checkpoint
    replay (same batch id) is absorbed wholesale; the state stays
    bounded at <= K_CAND+1 rows per batch."""
    import dataclasses
    import os

    from collect_mobile_devices_datalake_spark.streaming import lattice
    from collect_mobile_devices_datalake_spark.streaming.topk_maintenance import (
        K_CAND,
        TOPK,
        topk_partial,
    )

    # planted skew: words w0..w9 are heavy (count ~ 2000 - 100*i), the
    # 390-word tail is light — a batch vocabulary of 400 words against
    # a 64-counter budget, so every batch's c* > 0
    rows = []
    doc_id = 0
    for i in range(10):
        for _ in range(2000 - 100 * i):
            rows.append((doc_id, f"w{i}", "hot"))
            doc_id += 1
    for j in range(390):
        for _ in range(1 + j % 3):
            rows.append((doc_id, f"tail{j}", "cold"))
            doc_id += 1
    docs = spark.createDataFrame(rows, "doc_id bigint, text string, source string")
    true_counts = {
        r["word"]: r["cnt"]
        for r in docs.select(F.explode(F.split(F.trim("text"), "\\s+")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }

    st = str(tmp_path / "topk")
    fn = lattice.maintain_batch(TOPK, st)
    # the raw folded state (counter + marker rows): the MG guarantee is
    # asserted over EVERY counter, not just the surfaced top K_OUT
    counters_family = dataclasses.replace(TOPK, read_post=None)
    first = docs.filter(F.col("doc_id") % 2 == 0)
    second = docs.filter(F.col("doc_id") % 2 == 1)
    fn(first, 0)
    fn(second, 1)

    # bounded partials, and truncation really happened
    p0 = topk_partial(first).collect()
    assert len(p0) <= K_CAND + 1
    err0 = [r["err"] for r in p0 if r["word"] is None]
    assert err0 and err0[0] > 0, "planted skew failed to force c* > 0"

    counters = lattice.read_state(spark, counters_family, st).collect()
    err_total = sum(r["err"] for r in counters if r["word"] is None)
    assert err_total > 0
    for r in counters:
        if r["word"] is None:
            continue
        true = true_counts[r["word"]]
        assert r["cnt"] <= true <= r["cnt"] + err_total, (r["word"], r["cnt"], true)
    # completeness: anything heavier than the summed error is present
    surfaced = {r["word"] for r in counters if r["word"] is not None}
    for w, true in true_counts.items():
        if true > err_total:
            assert w in surfaced, (w, true, err_total)

    # the surfaced top-k leads with the planted heavy hitters, in order
    top = lattice.read_state(spark, TOPK, st).orderBy("rk").collect()
    assert [r["word"] for r in top[:5]] == [f"w{i}" for i in range(5)]
    for r in top:
        assert r["cnt_min"] <= true_counts[r["word"]] <= r["cnt_max"]

    # checkpoint replay: wholesale overwrite of the same batch partition
    before = {(r["word"], r["cnt"], r["err"]) for r in counters}
    fn(first, 0)
    after = {
        (r["word"], r["cnt"], r["err"])
        for r in lattice.read_state(spark, counters_family, st).collect()
    }
    assert after == before
    parts = [d for d in os.listdir(st) if d.startswith("batch=")]
    assert len(parts) == 2


def test_lshindex_state_equals_batch_index_and_absorbs_redelivery(spark, tmp_path):
    """The eleventh family's contract: the streamed LSH-index state is
    row-for-row the batch bucket_index relation (at the driver fixture
    the adaptive plane count floors to the stream's pinned count), the
    DISTINCT-union merge absorbs both checkpoint replay and wholesale
    re-delivery, and compaction sweeps to one partition with the index
    intact."""
    import os

    from collect_mobile_devices_datalake_spark.operators.similarity import (
        bucket_index,
    )
    from collect_mobile_devices_datalake_spark.streaming import lattice
    from collect_mobile_devices_datalake_spark.streaming.lshindex_maintenance import (
        LSHINDEX,
    )

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, "embeddings", sf).select("vec_id", "embedding", "label")
    st = str(tmp_path / "lshidx")
    fn = lattice.maintain_batch(LSHINDEX, st)
    first = emb.filter(F.col("vec_id") % 2 == 0)
    second = emb.filter(F.col("vec_id") % 2 == 1)
    fn(first, 0)
    fn(second, 1)

    def snap(df):
        return {tuple(r) for r in df.collect()}

    want = snap(bucket_index(spark, sf))  # the persisted batch index
    assert snap(lattice.read_state(spark, LSHINDEX, st)) == want and len(want) > 0

    fn(first, 0)  # checkpoint replay: wholesale partition overwrite
    assert snap(lattice.read_state(spark, LSHINDEX, st)) == want
    fn(first, 99)  # wholesale re-delivery: absorbed by the G-set distinct
    assert snap(lattice.read_state(spark, LSHINDEX, st)) == want

    lattice.compact_state(spark, LSHINDEX, st)
    assert snap(lattice.read_state(spark, LSHINDEX, st)) == want
    parts = [d for d in os.listdir(st) if d.startswith("batch=")]
    assert parts == ["batch=compacted"]


# family constant (or the function that builds it over a corpus dir)
# -> the SF table its source_schema is drawn from
_LATTICE_FAMILIES = [
    ("streaming.sketch_maintenance", "KMV", "documents"),
    ("streaming.sketch_maintenance", "DAU", "events"),
    ("streaming.sketch_maintenance", "CMS", "documents"),
    ("streaming.sketch_maintenance", "LOGBIN", "orders"),
    ("streaming.sketch_maintenance", "HLL", "documents"),
    ("streaming.sketch_maintenance", "BLOOM", "orders"),
    ("streaming.sample_maintenance", "SAMPLE", "documents"),
    ("streaming.survivorship_maintenance", "SURVIVORSHIP", "events"),
    ("streaming.profile_maintenance", "PROFILE", "documents"),
    ("streaming.topk_maintenance", "TOPK", "documents"),
    ("streaming.lshindex_maintenance", "LSHINDEX", "embeddings"),
    ("operators.similarity", "nsw_edges_family", "embeddings"),
    ("operators.dedup", "dedup_matches_family", "documents"),
]


@pytest.mark.parametrize(
    "module,family,table", _LATTICE_FAMILIES, ids=[f for _, f, _ in _LATTICE_FAMILIES]
)
def test_lattice_family_laws(spark, tmp_path, module, family, table):
    """The two protocol laws every lattice family must keep, whatever its
    lattice class: replaying a batch id (checkpoint replay) rewrites that
    partition wholesale and leaves the read state unchanged, and
    compaction leaves the read state unchanged."""
    import importlib

    from collect_mobile_devices_datalake_spark.streaming import lattice

    fam = getattr(
        importlib.import_module(f"collect_mobile_devices_datalake_spark.{module}"),
        family,
    )
    if not isinstance(fam, lattice.LatticeFamily):
        fam = fam(SF)
    schema = spark.createDataFrame([], fam.source_schema).schema
    rows = load_table(spark, table, SF).select(
        *[F.col(f.name).cast(f.dataType) for f in schema.fields]
    )
    key = F.col(schema.fields[0].name) % 2
    st = str(tmp_path / fam.name)
    fn = lattice.maintain_batch(fam, st)
    fn(rows.filter(key == 0), 0)
    fn(rows.filter(key == 1), 1)

    def state():
        return Counter(
            tuple(tuple(v) if isinstance(v, list) else v for v in r)
            for r in lattice.read_state(spark, fam, st).collect()
        )

    want = state()
    assert sum(want.values()) > 0
    fn(rows.filter(key == 0), 0)  # checkpoint replay of batch 0
    assert state() == want
    lattice.compact_state(spark, fam, st)
    assert state() == want
