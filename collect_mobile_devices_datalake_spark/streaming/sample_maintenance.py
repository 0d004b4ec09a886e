"""Streaming priority-sample maintenance: the global top-K weighted
sample (Duffield-Lund-Thorup priority sampling, operators/selection.py)
kept current as document files land — a ``LatticeFamily`` over the
shared batch-partition protocol (``streaming/lattice.py``), in the
bounded-order-statistic class: keep the K+1 LARGEST priorities.

A document's priority q = (w * M) div u is a pure function of
(doc_id, n_chars), so the merge — union of partials, dedup by doc_id,
keep the K+1 largest (priority desc, doc_id asc) — is associative,
commutative, AND idempotent: a re-delivered partial collapses in the
dedup and cannot move the sample (the KMV guarantee, not the CMS
caveat; compaction is the idempotent sweep).

Correctness of the bounded per-batch partial: priorities are fixed per
document, so any document in the GLOBAL top-(K+1) ranks at least as
high inside its own batch and survives into that batch's top-(K+1)
partial. The union of partials thus contains the global top-(K+1)
exactly, and reading-is-merging reconstructs it — including tau, the
(K+1)-th priority that prices the unbiased estimator. State is
O((K+1) * batches-since-compaction) rows, independent of corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.selection import _PRI_K, _PRI_MOD, _PRI_U_SQL
from .lattice import LatticeFamily

DOCS_SCHEMA = "doc_id bigint, source string, n_chars bigint"

_STATE_SCHEMA = "doc_id bigint, source string, w bigint, pri bigint"


def _scored(batch: DataFrame) -> DataFrame:
    """Scan-local (doc_id, source, w, pri) projection — the identical
    arithmetic to the batch kernel (shared _PRI_U_SQL fragment)."""
    return batch.select(
        "doc_id",
        "source",
        (F.col("n_chars") + F.lit(1)).cast("long").alias("w"),
        F.expr(f"(CAST(n_chars + 1 AS BIGINT) * {_PRI_MOD}) div ({_PRI_U_SQL})")
        .cast("long")
        .alias("pri"),
    )


def priority_partial(batch: DataFrame) -> DataFrame:
    """This batch's bounded partial: its local top-(K+1) by priority.
    TakeOrderedAndProject per batch — the partial is K+1 rows no matter
    how large the batch."""
    return _scored(batch).orderBy(F.desc("pri"), "doc_id").limit(_PRI_K + 1)


# The current global top-(K+1): streaming weighted sampling, the live
# counterpart of priority_sample_topk. The fold is union, dedup by doc_id
# (priorities are pure functions of the row, so duplicates are
# identical), re-rank, cut; compaction leaves one K+1-row partition.
SAMPLE = LatticeFamily(
    name="psamp",
    source_schema=DOCS_SCHEMA,
    partial_fn=priority_partial,
    fold_fn=lambda u: (
        u.dropDuplicates(["doc_id"])
        .orderBy(F.desc("pri"), "doc_id")
        .limit(_PRI_K + 1)
    ),
    empty_schema=_STATE_SCHEMA,
)
