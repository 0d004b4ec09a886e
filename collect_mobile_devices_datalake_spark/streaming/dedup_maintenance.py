"""Streaming corpus ingestion with incremental near-dup detection.

The batch operator ``dedup_incremental`` run as a continuous pipeline:
document files landing in a directory are the arrivals; each micro-batch
shingle-hashes the new docs and runs the R×S PPJoin (batch prefix ×
corpus) to find each new doc's best existing match at Jaccard ≥ 0.5,
appending the matches to a decisions table. This is the dedup loop a
deployed ingest pipeline runs at 100 TB: the corpus-side prefix index is
persisted between runs; arrivals only ever pay (batch × corpus-prefix),
never corpus × corpus.

Delivery semantics mirror graph_maintenance.py exactly:
- checkpoint replay of a partially-committed batch rewrites the batch's
  own partition wholesale (repair, not freeze);
- producer re-delivery (same docs as new files → new batch id) is
  dropped by the new_doc anti-join against PRIOR batch partitions.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..session import read_parquet
from .fsutil import dir_has_parquet, list_batch_dirs

DOCS_SCHEMA = "doc_id bigint, text string"


def incremental_matches_for_batch(
    spark: SparkSession, sf_dir: str, batch: DataFrame
) -> DataFrame:
    """(new_doc, dup_of, jaccard) for a batch of arriving documents
    against the persisted corpus — per-new-doc independent, so any
    chunking of the arrivals yields the same union of matches."""
    from ..operators.dedup import ordered_shingle_hashes, ppjoin_best_match
    from ..session import load_table

    corpus = ordered_shingle_hashes(load_table(spark, "documents", sf_dir))
    return ppjoin_best_match(ordered_shingle_hashes(batch), corpus)


def _maintain_batch(matches_dir: str, sf_dir: str):
    """foreachBatch body, exposed for direct testing."""

    def fn(batch: DataFrame, batch_id: int) -> None:
        spark_b = batch.sparkSession
        matches = incremental_matches_for_batch(spark_b, sf_dir, batch)
        others = [
            os.path.join(matches_dir, d)
            for d in list_batch_dirs(spark_b, matches_dir)
            if d != f"batch={batch_id}"
            and dir_has_parquet(spark_b, os.path.join(matches_dir, d))
        ]
        if others:
            existing = read_parquet(spark_b, *others).select(
                "new_doc"
            ).distinct()
            matches = matches.join(existing, "new_doc", "left_anti")
        matches.write.mode("overwrite").parquet(
            os.path.join(matches_dir, f"batch={batch_id}")
        )

    return fn


def start_dedup_maintenance_stream(
    spark: SparkSession,
    docs_dir: str,
    matches_dir: str,
    sf_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 10,
) -> StreamingQuery:
    stream = (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(docs_dir)
    )
    return (
        stream.writeStream.foreachBatch(_maintain_batch(matches_dir, sf_dir))
        .option("checkpointLocation", os.path.join(checkpoint_dir, "dedup_maint"))
        .trigger(availableNow=True)
        .start()
    )
