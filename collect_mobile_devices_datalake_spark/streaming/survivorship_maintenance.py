"""Streaming golden-record survivorship: the per-user conflict-resolved
profile kept current as event files land — a ``LatticeFamily`` over the
shared batch-partition protocol (``streaming/lattice.py``) with the
argmax merge class.

The argmax-by-okey merge (okey totally orders events: priority, then
recency, then event_id — operators/advanced.py::survivorship_keyed) is
associative, commutative, AND idempotent: re-merging a batch partial
that was already absorbed cannot move any user's golden record, so
producer re-delivery under a fresh batch id is harmless for every
argmax/max column — the KMV delivery guarantee, compacted by the
idempotent sweep. The one non-idempotent leg, ``n_events`` (a SUM),
inherits the CMS caveat instead: checkpoint replay repairs in place (a
batch id overwrites its own partition wholesale), wholesale re-delivery
double-counts it. The tests pin both behaviors separately — the split
is the point: a deployment that needs exact counts under re-delivery
keeps them in the deduplicated lake, not in a sum lattice.

The family's read fold differs from its compaction fold in one column:
the surfaced state drops ``okey`` (consumers see golden values only),
while the compacted partition must KEEP the max okey per user so later
batch partials keep comparing correctly — expressed as the family's
``read_fold_fn`` / ``fold_fn`` pair.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.advanced import survivorship_keyed
from .lattice import LatticeFamily
from .windows import EVENTS_SCHEMA


def survivorship_partial(batch: DataFrame) -> DataFrame:
    """This batch's bounded per-user partial: one golden-record row per
    user seen in the batch (argmax fields + okey so later merges can
    compare, n_events + last_ts legs)."""
    keyed = survivorship_keyed(batch)
    return keyed.groupBy("user_id").agg(
        F.max("okey").alias("okey"),
        F.max_by("k", "okey").alias("golden_k"),
        F.max_by("event_id", "okey").alias("golden_event_id"),
        F.max_by("event_type", "okey").alias("golden_type"),
        F.count("*").alias("n_events"),
        F.max("ts").alias("last_ts"),
    )


def _golden_aggs() -> list:
    return [
        F.max_by("golden_k", "okey").alias("golden_k"),
        F.max_by("golden_event_id", "okey").alias("golden_event_id"),
        F.max_by("golden_type", "okey").alias("golden_type"),
        F.sum("n_events").alias("n_events"),
        F.max("last_ts").alias("last_ts"),
    ]


# The current golden records — streaming entity resolution, the live
# counterpart of golden_record_survivorship: argmax-by-okey across
# partials per user, n_events sums (idempotent sweep for the argmax
# legs; n_events carries the documented sum caveat).
SURVIVORSHIP = LatticeFamily(
    name="surv",
    source_schema=EVENTS_SCHEMA,
    partial_fn=survivorship_partial,
    # compaction keeps okey (the merge key) for later comparisons...
    fold_fn=lambda u: u.groupBy("user_id").agg(
        F.max("okey").alias("okey"), *_golden_aggs()
    ),
    # ...the surfaced read drops it
    read_fold_fn=lambda u: u.groupBy("user_id").agg(*_golden_aggs()),
    empty_schema=(
        "user_id bigint, golden_k bigint, golden_event_id bigint, "
        "golden_type string, n_events bigint, last_ts timestamp"
    ),
)
