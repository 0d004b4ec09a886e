"""Streaming per-source ingest profile: the live data-profiler a lake
keeps alongside its tables — doc-id and document-length extrema per
source, maintained as files land.

The NINTH lattice family, and deliberately the smallest: written
against ``streaming/lattice.py`` to demonstrate (and pin, via the
registered driver key) that a new family is just a declaration — a
bounded batch→partial projection (one row per source per batch), a
min/max fold, and the idempotent lattice class. MIN and MAX are
join-semilattice operations, so re-delivered partials are absorbed
with no anti-join and compaction is the sweep protocol; every protocol
property (replay repair, reading-is-merging, crash-safe compaction) is
inherited, not re-implemented.

At 100 TB this is the profile an ingest keeps live to answer "what id
range / document sizes has source X shipped so far?" without scanning
the lake — the streaming counterpart of a catalog's column statistics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .lattice import LatticeFamily

DOCS_SCHEMA = "doc_id bigint, text string, source string"


def profile_partial(batch: DataFrame) -> DataFrame:
    """This batch's bounded partial: one extrema row per source seen."""
    return batch.groupBy("source").agg(
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
        F.min(F.length("text")).cast("bigint").alias("min_chars"),
        F.max(F.length("text")).cast("bigint").alias("max_chars"),
    )


def profile_fold(u: DataFrame) -> DataFrame:
    """Per-source min/max over every partial."""
    return u.groupBy("source").agg(
        F.min("min_doc_id").alias("min_doc_id"),
        F.max("max_doc_id").alias("max_doc_id"),
        F.min("min_chars").alias("min_chars"),
        F.max("max_chars").alias("max_chars"),
    )


# (source, min/max doc_id, min/max chars): fold of every partial
PROFILE = LatticeFamily(
    name="profile",
    source_schema=DOCS_SCHEMA,
    partial_fn=profile_partial,
    fold_fn=profile_fold,
    empty_schema=(
        "source string, min_doc_id bigint, max_doc_id bigint, "
        "min_chars bigint, max_chars bigint"
    ),
)
