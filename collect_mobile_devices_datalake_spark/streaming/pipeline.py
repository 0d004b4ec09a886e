"""Streaming ingest: file-source frontier → foreachBatch idempotent upsert.

This is ``crawl`` as a continuous pipeline (SURVEY §2.7): new page files
landing in a directory are the frontier; each micro-batch parses,
normalizes and MERGEs into the lake keyed on ``src_url``; the streaming
checkpoint replaces the ``saved_list`` table — kill the query and
restart with the same checkpoint dir and processing resumes exactly
where it stopped (the semantics ``crawl_resume`` app.js:457-482
approximates with at-least-once delivery; the checkpoint + idempotent
upsert make it effectively-once).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..session import read_parquet

EVENTS_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, "
    "value double, props string"
)

PAGES_SCHEMA = "url string, source string, status int, html string"


def _upsert_batch(lake_dir: str, source: str) -> Callable[[DataFrame, int], None]:
    from ..ingest.pipeline import normalize_records
    from ..sources.parse import PARSERS

    def fn(batch: DataFrame, batch_id: int) -> None:
        from ..ingest import manifest

        # deterministic txn id per (source, batch id): a batch that crashed
        # AFTER its manifest published replays as a committed no-op —
        # exactly-once without even reading the lake.
        txn = f"stream-{source}-{batch_id}"
        if manifest.committed(lake_dir, txn):
            return
        ok = batch.filter(F.col("status") == 200)
        parsed = PARSERS[source](ok).filter(F.col("entries").isNotNull())
        records = normalize_records(parsed, source)
        table = f"device_specs_stream/{source}"
        # append-only MERGE emulation: anti-join against the COMMITTED
        # snapshot makes overlapping batches a no-op, and the manifest
        # publish makes the write itself atomic (a batch that crashed
        # between staging and publish left only invisible orphans).
        # Transient read failures (corrupt footer, IO error) must fail the
        # batch so the checkpoint retries it — a swallowed error here would
        # silently downgrade effectively-once to at-least-once.
        files = manifest.committed_files(lake_dir, table)
        if files:
            existing = read_parquet(batch.sparkSession, *files).select("src_url")
            fresh = records.join(existing, "src_url", "left_anti")
        else:
            fresh = records
        names = manifest.stage_write(fresh, lake_dir, table, txn)
        if names:
            manifest.publish(lake_dir, txn, {table: names})

    return fn


def start_ingest_stream(
    spark: SparkSession,
    pages_dir: str,
    lake_dir: str,
    source: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 10,
) -> StreamingQuery:
    stream = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(pages_dir)
    )
    return (
        stream.writeStream.foreachBatch(_upsert_batch(lake_dir, source))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
