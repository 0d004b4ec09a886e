"""Streaming continuous-aggregate maintenance: the hourly rollup kept
fresh by a watermark-finalized stream.

The batch operator ``rollup_reuse_hierarchy`` derives day/month levels
from hourly partials; this module is the operational loop that MAINTAINS
the hourly level as events arrive. Three Spark capabilities compose:

1. ``dropDuplicatesWithinWatermark("event_id")`` — producer
   re-deliveries (even with jittered timestamps) collapse before they
   can double-count; state is evicted as the watermark advances.
2. a 1-hour tumbling window aggregate in APPEND output mode — a window
   row is emitted exactly once, when the watermark passes its end and
   the count/sum can no longer change (finalization, not re-statement:
   downstream consumers never see a partial total revised).
3. chained stateful operators (dedup → windowed agg) in one query —
   supported for append-mode event-time pipelines since Spark 3.5.

The foreachBatch sink writes each micro-batch's finalized rows into its
own ``batch=<id>`` partition with mode=overwrite, so a checkpoint replay
of a partially-committed batch rewrites the partition wholesale — the
same replay-repair contract as the ingest stream and the lattice
families. At 100 TB the emitted rows number |closed hours x types| per
trigger — the fact stream is aggregated before anything is written.

Late data beyond the watermark is dropped by the engine (the standard
contract); the test drives finalization explicitly with a sentinel event
that advances the watermark past the window under test.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..session import parquet_rows, read_parquet

WATERMARK = "1 hour"


def finalized_hourly_stream(events: DataFrame) -> DataFrame:
    """Dedup → tumbling 1h aggregate, shaped for APPEND-mode emission."""
    deduped = events.withWatermark("ts", WATERMARK).dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    return (
        deduped.groupBy(F.window("ts", "1 hour"), "event_type")
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
    )


DERIVED_SCHEMA = (
    "bucket_start timestamp, event_type string, n_events bigint, total_value double"
)


def _maintain_derived_grains(spark: SparkSession, rollup_dir: str, derived_dir: str, batch_id: int) -> None:
    """Extend the continuous-aggregate chain to streaming: day and month
    grains derived from the streaming hourly sink's FINALIZED partials —
    the batch ``rollup_reuse_hierarchy`` reuse rule, run incrementally.

    Closure rule (conservative, provably safe): an emitted hourly row at
    bucket F implies the watermark passed F + 1h, so every bucket whose
    LAST hour is <= the sink's max emitted hour ("frontier") can no
    longer change. A closed day aggregates hourly partials; a closed
    month aggregates the committed day partials — the fact stream is
    never rescanned, and each coarser row is computed from finalized
    inputs exactly once. Liveness note: closure advances only when a
    LATER hour finalizes (absence of data is indistinguishable from
    lateness); under continuous arrivals this is the standard
    high-watermark-from-data lag of one bucket.

    Exactly-once per window row: new rows anti-join against the
    committed table and publish through the atomic manifest protocol
    (ingest/manifest.py) with a per-(grain, batch) txn id — a checkpoint
    replay is a committed no-op, a crash between stage and publish
    leaves the previous snapshot, and a reader never sees a partial set.
    """
    from ..ingest import manifest

    hourly = read_parquet(spark, rollup_dir)
    frontier = hourly.agg(F.max("bucket_start")).collect()[0][0]
    if frontier is None:
        return

    # closed days: D + 23h <= frontier  ==>  watermark >= D + 24h
    day_rows = (
        hourly.groupBy(
            F.date_trunc("day", "bucket_start").alias("bucket_start"), "event_type"
        )
        .agg(
            F.sum("n_events").cast("long").alias("n_events"),
            # re-aggregate as decimal like the batch operator (hourly sink
            # doubles are exact decimal(18,4) multiples below 2^53/1e4)
            F.sum(F.col("total_value").cast("decimal(18,4)"))
            .cast("double")
            .alias("total_value"),
        )
        .filter(F.col("bucket_start") + F.expr("INTERVAL 23 HOURS") <= F.lit(frontier))
    )
    have_day = manifest.read_committed(spark, derived_dir, "day", schema=DERIVED_SCHEMA)
    new_day = day_rows.join(
        have_day.select("bucket_start", "event_type"),
        ["bucket_start", "event_type"],
        "left_anti",
    )
    manifest.commit_tables(derived_dir, [("day", new_day)], txn_id=f"day-{batch_id}")

    # closed months: last hour of M <= frontier; aggregate committed day
    # partials (all of a closed month's days are closed by the same rule)
    days = manifest.read_committed(spark, derived_dir, "day", schema=DERIVED_SCHEMA)
    month_rows = (
        days.groupBy(
            F.date_trunc("month", "bucket_start").alias("bucket_start"), "event_type"
        )
        .agg(
            F.sum("n_events").cast("long").alias("n_events"),
            F.sum(F.col("total_value").cast("decimal(18,4)"))
            .cast("double")
            .alias("total_value"),
        )
        .filter(
            F.add_months(F.col("bucket_start"), 1) - F.expr("INTERVAL 1 HOUR")
            <= F.lit(frontier)
        )
    )
    have_month = manifest.read_committed(spark, derived_dir, "month", schema=DERIVED_SCHEMA)
    new_month = month_rows.join(
        have_month.select("bucket_start", "event_type"),
        ["bucket_start", "event_type"],
        "left_anti",
    )
    manifest.commit_tables(derived_dir, [("month", new_month)], txn_id=f"month-{batch_id}")


def _write_finalized(rollup_dir: str, derived_dir: str | None = None):
    def fn(batch: DataFrame, batch_id: int) -> None:
        # append-mode rows are final; the per-batch partition + overwrite
        # makes checkpoint replays repair partial commits
        part = os.path.join(rollup_dir, f"batch={batch_id}")
        batch.write.mode("overwrite").parquet(part)
        if derived_dir is not None:
            # r15: a batch that FINALIZED nothing (the pre-watermark data
            # batch; a re-delivery batch fully deduped/dropped) cannot
            # move the day/month frontier — every derived row aggregates
            # emitted hourly rows, so the maintenance pass over an empty
            # emission is a ~6-job no-op. Probe the JUST-WRITTEN partition
            # (its footers' row counts, no job) instead of batch.isEmpty(),
            # which would re-execute the stateful plan a second time.
            if parquet_rows(batch.sparkSession, part) == 0:
                return
            _maintain_derived_grains(batch.sparkSession, rollup_dir, derived_dir, batch_id)

    return fn


def read_grain(spark: SparkSession, rollup_dir: str, derived_dir: str, grain: str) -> DataFrame:
    """Snapshot of one grain of the streaming hierarchy: hourly rows come
    from the append-once stream sink; day/month from the committed
    derived tables (closed buckets only)."""
    from ..ingest import manifest

    if grain == "hour":
        return read_parquet(spark, rollup_dir)
    return manifest.read_committed(spark, derived_dir, grain, schema=DERIVED_SCHEMA)


def start_rollup_maintenance_stream(
    spark: SparkSession,
    events_dir: str,
    rollup_dir: str,
    checkpoint_dir: str,
    schema: str,
    max_files_per_trigger: int = 10,
    derived_dir: str | None = None,
) -> StreamingQuery:
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(events_dir)
    )
    return (
        finalized_hourly_stream(stream)
        .writeStream.foreachBatch(_write_finalized(rollup_dir, derived_dir))
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
