"""Streaming ANN-index maintenance: new vectors → neighbor-graph edges.

The batch operator ``nsw_graph_delta`` shown as a continuous pipeline:
vector files landing in a directory are the arrivals; each micro-batch
hashes the new vectors with the index's deterministic hyperplanes,
probes the PERSISTED bucket index for candidates, computes exact-cosine
top-M edges, and appends them to the graph table. The checkpoint makes
restarts incremental and the src-level anti-join makes re-delivered
batches a no-op (effectively-once, same shape as the ingest stream's
``src_url`` MERGE guard in pipeline.py). This is the operational loop a
deployed graph index runs at 100 TB: index builds are one-time,
arrivals are per-batch edge computations.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..session import read_parquet
from .fsutil import dir_has_parquet, list_batch_dirs

VECTORS_SCHEMA = "vec_id bigint, embedding array<float>"


def _maintain_batch(graph_dir: str, sf_dir: str):
    """foreachBatch body, exposed for direct testing (the pipeline.py
    ``_upsert_batch`` pattern) — replay-repair semantics are pinned by
    ``test_graph_maintenance_replay_repairs_partial_commit``."""
    from ..operators.similarity import nsw_edges_for_batch

    def fn(batch: DataFrame, batch_id: int) -> None:
        spark_b = batch.sparkSession
        edges = nsw_edges_for_batch(spark_b, sf_dir, batch)
        # Idempotency is two separate mechanisms, matched to two failure
        # modes:
        # 1. CHECKPOINT REPLAY of a partially-committed batch: each batch
        #    owns its partition dir and replay rewrites it WHOLESALE
        #    (mode=overwrite) — a partial commit is repaired, never
        #    frozen. The current batch's dir is therefore EXCLUDED from
        #    the dedup guard below.
        # 2. PRODUCER RE-DELIVERY (the same vectors land again as new
        #    files → a new batch id): srcs already owned by a PRIOR
        #    batch partition are dropped. The guard reads only the
        #    pruned src column of prior partitions; at 100 TB it becomes
        #    a bloom filter / processed-src side table (O(1) per probe)
        #    instead of this scan.
        others = [
            os.path.join(graph_dir, d)
            for d in list_batch_dirs(spark_b, graph_dir)
            if d != f"batch={batch_id}"
            and dir_has_parquet(spark_b, os.path.join(graph_dir, d))
        ]
        if others:
            existing = read_parquet(spark_b, *others).select("src").distinct()
            edges = edges.join(existing, "src", "left_anti")
        edges.write.mode("overwrite").parquet(
            os.path.join(graph_dir, f"batch={batch_id}")
        )

    return fn


def start_graph_maintenance_stream(
    spark: SparkSession,
    vectors_dir: str,
    graph_dir: str,
    sf_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 10,
) -> StreamingQuery:
    stream = (
        spark.readStream.schema(VECTORS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(vectors_dir)
    )
    return (
        stream.writeStream.foreachBatch(_maintain_batch(graph_dir, sf_dir))
        .option("checkpointLocation", os.path.join(checkpoint_dir, "graph_maint"))
        .trigger(availableNow=True)
        .start()
    )
