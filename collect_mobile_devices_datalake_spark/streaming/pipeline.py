"""Streaming ingest: file-source frontier → the batch crawl's commit path.

This is ``crawl`` as a continuous pipeline (SURVEY §2.7): new page files
landing in a directory are the frontier, and each micro-batch runs the
ONE crawl core, ``ingest.pipeline.ingest_source``: the resume against
the committed ``saved_list``, the extraction, the dead-letter
quarantine, and one manifest transaction for ``device_specs``,
``saved_list`` and ``dead_letter`` (``crawl_resume`` +
``save_data_to_mysql``, app.js:441-482). A stream and a batch crawl of
one frontier therefore commit the same lake, and either resumes where
the other stopped.

Exactly-once: each micro-batch commits under the deterministic txn id
``stream-<source>-<batch id>``. A batch whose manifest is already in
the log replays as a `committed` no-op without reading the lake; one
that crashed before its commit re-runs under the same txn id. A
re-delivery of committed pages under a NEW batch id (e.g. a fresh
checkpoint) passes through the resume and ingests nothing.

Concurrency: the stream and a batch crawl are meant to run one after
the other. Two crawls of one source running at the same time can both
pass the resume before either commits; both then commit the same
pages, and the keep-first ``device_specs_view`` collapses the duplicate
rows. Exclusive commit-sequence claims and conflict checks are not part
of the manifest protocol yet.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..ingest import manifest
from ..ingest.pipeline import ingest_source

PAGES_SCHEMA = "url string, source string, status int, html string"


def _upsert_batch(lake_dir: str, source: str) -> Callable[[DataFrame, int], None]:
    def fn(batch: DataFrame, batch_id: int) -> None:
        txn = f"stream-{source}-{batch_id}"
        if manifest.committed(lake_dir, txn):
            return
        ingest_source(batch.sparkSession, batch, lake_dir, source, txn_id=txn)

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
