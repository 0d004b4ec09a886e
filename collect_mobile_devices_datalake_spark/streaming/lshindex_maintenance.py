"""Streaming maintenance of the multi-table LSH bucket index: the
ELEVENTH lattice family — the piece that closes the incremental-ANN
loop for a continuously ingesting lake.

``knn_lsh_incremental`` (operators/similarity.py) showed that an append
updates the persisted bucket index with an O(|delta|) shard; this
family shows the index itself can be MAINTAINED AS STREAMING STATE:
each micro-batch of newly landed vectors contributes its own bucket
rows (vec_id, t, bucket) — exactly the relation ``bucket_index`` builds
batch-side — and the folded state is, row for row, the full index.
Bucket rows are facts about individual vectors, so the merge is a
DISTINCT union: an idempotent G-set (the KMV class), which makes
producer re-delivery a no-op and compaction the sweep protocol.

The hyperplane count is PINNED (``STREAM_PLANES`` = the
planes_for_count floor): a stream cannot know the final corpus size,
and re-planing rewrites every row — by definition a rebuild, scheduled
out-of-band exactly like knn_lsh_incremental's re-plane note. At the
driver fixtures planes_for_count floors to the same value, so the
streamed state equals the batch ``bucket_index`` bit for bit (pinned by
tests/test_streaming.py) and the registered key is value-oracled
against the same deterministic-hyperplane SQL as every LSH key.

Per-batch partial size: N_TABLES rows per newly landed vector — the
index grows with the corpus because it IS the index; what stays bounded
is the per-batch work and the maintenance cost of an append (O(|batch|
x N_TABLES) rows, never a corpus rescan).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.similarity import PLANES_PER_TABLE, _multitable_buckets
from .lattice import LatticeFamily

EMB_SCHEMA = "vec_id bigint, embedding array<float>, label int"

# pinned plane count: the planes_for_count floor (re-planing = rebuild)
STREAM_PLANES = PLANES_PER_TABLE

_STATE_SCHEMA = "vec_id bigint, t int, bucket bigint"


def lshindex_partial(batch: DataFrame) -> DataFrame:
    """This batch's index rows: N_TABLES (t, bucket) keys per vector."""
    return batch.select(
        "vec_id",
        F.posexplode(
            _multitable_buckets(F.col("embedding"), STREAM_PLANES)
        ).alias("t", "bucket"),
    )


# (vec_id, t, bucket): the live index — the same relation
# ``operators.similarity.bucket_index`` persists batch-side
LSHINDEX = LatticeFamily(
    name="lshidx",
    source_schema=EMB_SCHEMA,
    partial_fn=lshindex_partial,
    fold_fn=lambda u: u.distinct(),  # G-set: re-delivery is absorbed
    empty_schema=_STATE_SCHEMA,
)
